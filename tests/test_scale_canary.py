"""Registry-scale canary (VERDICT r5 item 6): the full oracle-parity
sweep replayed at the LARGEST local fixture, catching cliffs the
sf0.001 default can't — skew, spill, broadcast-threshold crossings,
scale-dependent double→decimal rounding.

Nightly-style and opt-in (pytest.ini deselects it by default):

    python -m pytest tests/ -m scale -q

Fixture resolution: ``SPARK_GRAFT_SCALE_SF_DIR`` if set, else the
largest ``/root/testdata/sf*`` present (sf1 when the driver generates
it, sf0.1 today). Measured wall time at sf0.1 on local[8]: see
README.md ("Scale canary").
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import duckdb
import pytest

from cs_5542_lab_6_spark.registry import all_oracles, all_queries
from cs_5542_lab_6_spark.sources import TABLE_NAMES

from test_oracle_parity import _canon_rows  # rootdir tests/ on sys.path

pytestmark = pytest.mark.scale


def _largest_sf_dir() -> str:
    env = os.environ.get("SPARK_GRAFT_SCALE_SF_DIR")
    if env:
        return env
    dirs = glob.glob("/root/testdata/sf*")
    if not dirs:
        pytest.skip("no /root/testdata fixtures present")
    return max(dirs, key=lambda d: float(os.path.basename(d)[2:]))


@pytest.fixture(scope="module")
def scale_sf_dir() -> str:
    return _largest_sf_dir()


@pytest.fixture(scope="module")
def scale_oracle(scale_sf_dir):
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{scale_sf_dir}/{name}.parquet'"
        )
    yield con
    con.close()


_NAMES = sorted(all_oracles())


def test_canary_sweeps_every_registered_oracle():
    """The parametrized sweep below must cover the WHOLE registry —
    this pins the documented canary count to len(all_oracles()) so the
    README claim can't silently drift as queries are added (VERDICT r6
    item 4: the doc said 139 while the registry had grown to 143)."""
    assert len(_NAMES) == len(all_oracles())
    # since r14 every registered query carries an oracle (the driver has
    # no rows-only mode — r13 verdict item 5)
    rows_only = set(all_queries()) - set(all_oracles())
    assert rows_only == set()


def test_warehouse_build_time_bound(spark, scale_sf_dir, tmp_path):
    """Build-time canary (r12 verdict item 5): the 6-stage warehouse
    build runs as a dependency DAG on FAIR per-stage pools and has
    measured 13.9-26.4s cold at sf0.1 across rounds; the serialized
    pre-DAG build measured ~59s. Pin the ceiling at 45s min-of-3 —
    comfortably above the observed single-run worst (26.4s) plus this
    VM's documented noise band, comfortably below the serialized cost —
    so a regression that re-serializes the stage DAG or drops the FAIR
    pools fails CI instead of surfacing as a silent bench drift, without
    flaking on a loaded machine. min-of-runs per the bench-noise
    protocol: single runs here swing in multi-minute windows."""
    from cs_5542_lab_6_spark.pipeline.ingest import build_corpus
    from cs_5542_lab_6_spark.session import clear_caches

    best = float("inf")
    try:
        for i in range(3):
            out = str(tmp_path / f"wh{i}")
            t0 = time.perf_counter()
            report = build_corpus(spark, sf_dir=scale_sf_dir, out_dir=out, resume=False)
            best = min(best, time.perf_counter() - t0)
            assert all(v["status"] == "OK" for v in report.values())
            clear_caches(spark)
            shutil.rmtree(out, ignore_errors=True)
    finally:
        clear_caches(spark)
    assert best < 45.0, f"cold warehouse build min-of-3 regressed: {best:.1f}s"


def _timed_min_of_2(spark, query, sf_dir) -> tuple[float, list[float]]:
    """Min of two cold runs (caches cleared after each) plus the raw runs:
    a multi-minute noise window can swallow both slow runs while sparing
    the fast ones, and only the run list makes that visible."""
    from cs_5542_lab_6_spark.session import clear_caches

    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        # noop sink: every row and column materialized on the executors
        # with no driver-transfer cost
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 4))
        clear_caches(spark)
    return min(runs), runs


def _replicate_documents(spark, docs, factor: int, stride: int, out_dir: str) -> None:
    """Write ``docs`` ``factor`` times with doc_ids shifted by ``stride``
    per replica (identical text) as ``out_dir/documents.parquet``."""
    from pyspark.sql import functions as F

    replicas = spark.range(factor).select(F.col("id").alias("replica"))
    (
        docs.crossJoin(F.broadcast(replicas))
        .withColumn("doc_id", F.col("doc_id") + F.col("replica") * F.lit(stride))
        .drop("replica")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )


def _scale_stress(spark, queries, sf_dir: str, scale_factor: int, work_dir: str) -> dict:
    """Cold kg_edges_build and dedup_minhash_lsh on 1x and
    ``scale_factor`` x documents (distinct shifted doc_ids, identical
    text), each derived from scratch in ``work_dir`` so the full chunk ->
    NER -> co-occurrence derivation is timed cold-to-cold; plus the
    duplicate-dense LSH pair (500 docs replicated 10x vs 50x)."""
    from pyspark.sql import functions as F

    from cs_5542_lab_6_spark.sources.tables import load_table

    out: dict = {"scale_factor": scale_factor}
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    for factor in (1, scale_factor):
        scaled_dir = os.path.join(work_dir, f"scale{factor}")
        _replicate_documents(spark, docs, factor, n_docs, scaled_dir)
        for qname in ("kg_edges_build", "dedup_minhash_lsh"):
            best, runs = _timed_min_of_2(spark, queries[qname], scaled_dir)
            out[f"{qname}_cold_{factor}x"] = best
            out[f"{qname}_cold_{factor}x_runs"] = runs
        shutil.rmtree(scaled_dir, ignore_errors=True)
    out["ratio"] = round(
        out[f"kg_edges_build_cold_{scale_factor}x"] / out["kg_edges_build_cold_1x"], 2
    )
    # the banded-LSH pair: candidate generation must stay band-join-bounded
    # under replication, never drift toward the all-pairs quadratic (a 10x
    # corpus with 10x the dup groups has ~10x the TRUE pairs, so a healthy
    # ratio sits near the data growth, nowhere near 100x)
    out["dedup_ratio"] = round(
        out[f"dedup_minhash_lsh_cold_{scale_factor}x"]
        / out["dedup_minhash_lsh_cold_1x"],
        2,
    )

    # duplicate-dense pair (r10 verdict item 2): 500 docs replicated 10x
    # vs 50x — identical text, so every (band, sig) bucket's membership
    # multiplies with the factor. The 10x run sits just UNDER
    # LSH_BUCKET_CAP (buckets of 10-30 -> ~93k pairwise candidates, the
    # quadratic regime at its allowed maximum); at 50x every bucket is
    # over the cap and emission short-circuits to star contraction
    # (~98k linear candidates vs the ~2.5M an uncapped join would emit —
    # dedup_lsh_bucket_audit reports exactly these counts). Candidate
    # volume is therefore nearly EQUAL across the pair, and a healthy
    # dense_ratio sits near 1x despite 5x the data; ~25x means the cap
    # stopped binding (quadratic blow-up is back).
    base = docs.where(F.col("doc_id") < 500)
    for factor in (10, 50):
        dense_dir = os.path.join(work_dir, f"dense{factor}")
        _replicate_documents(spark, base, factor, 10000, dense_dir)
        best, runs = _timed_min_of_2(spark, queries["dedup_minhash_lsh"], dense_dir)
        out[f"dedup_minhash_lsh_dense_{factor}x"] = best
        out[f"dedup_minhash_lsh_dense_{factor}x_runs"] = runs
        shutil.rmtree(dense_dir, ignore_errors=True)
    out["dense_ratio"] = round(
        out["dedup_minhash_lsh_dense_50x"] / out["dedup_minhash_lsh_dense_10x"], 2
    )
    return out


def test_scale_stress_ratio_bounds(spark, scale_sf_dir, tmp_path):
    """Scale-stress ratios as CI bounds (r13 verdict item 6): kg_edges_build
    cold 10x→~4x and dense-replication 50x/10x →~1.05 (bucket cap
    binding) must not drift back to quadratic. Bounds are generous
    multiples of the healthy observations (kg 4.13, dedup 3.77, dense
    1.05 in r13) so host noise can't flake them, while a quadratic
    blow-up (100x-shaped ratios) fails loudly. Ratios are min-of-2 over
    min-of-2, per the bench-noise protocol."""
    from cs_5542_lab_6_spark.registry import all_queries

    out = _scale_stress(spark, all_queries(), scale_sf_dir, 10, str(tmp_path))
    assert out["ratio"] < 8, f"kg_edges_build 10x cold ratio quadratic-drifted: {out}"
    assert out["dedup_ratio"] < 8, f"dedup_minhash_lsh 10x cold ratio drifted: {out}"
    assert out["dense_ratio"] < 3, f"LSH bucket cap stopped binding: {out}"


@pytest.mark.parametrize("name", _NAMES)
def test_scale_query_matches_oracle(spark, scale_sf_dir, scale_oracle, name):
    sdf = all_queries()[name](spark, scale_sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = [c.lower() for c in sdf.columns]

    rel = scale_oracle.sql(all_oracles()[name])
    duck_cols = [c.lower() for c in rel.columns]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _canon_rows(spark_cols, spark_rows)
    b = _canon_rows(duck_cols, duck_rows)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first value mismatch: {mismatches[0]}"
