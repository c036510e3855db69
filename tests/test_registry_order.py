"""Registry ordering contract: the driver correctness harness checks a
bounded prefix of ``queries()`` (50 entries observed in round 1), so the
priority prefix must (a) reference only registered names, (b) actually
lead the returned dict, and (c) put every query owed a driver
CORRECTNESS row inside the first 50 slots."""

from __future__ import annotations

from cs_5542_lab_6_spark import registry
from cs_5542_lab_6_spark.registry import all_oracles, all_queries

DRIVER_WINDOW = 50

# The window rotates across rounds (VERDICT r4 item 4; r5 item 1; r6
# item 1; r7 item 4) so every family gets a driver CORRECTNESS row at
# least once; rotated-out queries stay verified by test_oracle_parity.py
# and the sf0.1 scale canary. After round 7 cumulative driver coverage
# is 100%, so the contract from round 8 on is FRESHNESS: (a) every
# query registered or semantically changed in a round gets its first driver check the same round it
# lands, and (b) the window refreshes the stalest driver rows (r1/r4
# vintage) plus the permanent regression-guard core.
REFERENCE_PARITY = [
    # changed in round 17 (optimization round 2): restructured or
    # knob-changed query paths get a fresh driver hash the same round
    "dedup_method_eval",
    "stream_scd2_apply",
    "stream_dedup_admission",
    "embedding_kmeans",
    "semantic_dedup",
    "contamination_semantic_scan",
    "corpus_temperature_mixing",
    "mmr_diversified_topk",
    # changed in round 16 but missed by the r16 window (r16 VERDICT
    # item 2 orders exactly this re-verification)
    "kg_map_build",
    "kg_nodes_build",
    "kg_two_hop",
    "eval_rag_comparison",
    "ann_recall_eval",
    "ann_pq_recall_eval",
    "doc_winnowing_overlap",
    "quality_calibration_bins",
    "orders_scd2_incremental",
    # r12-remainder sample pins (the full 25-row set is in registry.py;
    # these four spot-check the cohort is actually in the window)
    "dedup_rate_by_source",
    "nation_market_share",
    "sole_late_supplier_orders",
    "user_click_purchase_cogroup",
    # stalest-r13 fill
    "active_customer_keys",
    "agent_chunk_context",
    # regression guards that must stay in every window
    "chunks_build",
    "kg_edges_build",
    "vector_topk",
    "eval_metrics_log",
    "stream_tumbling_daily",
]

# Since r14 NO query is registered without an oracle: the driver has no
# rows-only mode (an oracle-less entry returns err: "no_oracle" and is
# never verified — disproven assumption, CORRECTNESS_r13). The two
# sketch queries now emit exact-derivable anchors + envelope-boolean
# decisions with literal-TRUE oracles (operators/skew.py).
ROWS_ONLY_ALLOWED: set[str] = set()


def test_priority_names_all_registered():
    names = set(all_queries())
    missing = [n for n in registry._PRIORITY if n not in names]
    assert not missing, f"_PRIORITY references unregistered queries: {missing}"
    assert len(set(registry._PRIORITY)) == len(registry._PRIORITY)


def test_priority_prefix_leads_registry():
    ordered = list(all_queries())
    assert ordered[: len(registry._PRIORITY)] == list(registry._PRIORITY)


def test_priority_fills_the_window():
    """The driver checks exactly DRIVER_WINDOW slots; an underfull
    prefix would hand slots to arbitrary module-import order."""
    assert len(registry._PRIORITY) == DRIVER_WINDOW


def test_reference_parity_inside_driver_window():
    window = list(all_queries())[:DRIVER_WINDOW]
    outside = [n for n in REFERENCE_PARITY if n not in window]
    assert not outside, f"rotation-debt queries outside window: {outside}"


def test_window_queries_are_oracle_backed():
    """EVERY registered query carries a DuckDB oracle (not just the
    window): the driver has no rows-only fallback, so an oracle-less
    registration can never earn a green CORRECTNESS row."""
    oracles = all_oracles()
    missing = [n for n in all_queries() if n not in oracles and n not in ROWS_ONLY_ALLOWED]
    assert not missing, f"registered queries without oracles: {missing}"

