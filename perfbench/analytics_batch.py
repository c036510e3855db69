"""analytics_batch: a batch job in a fresh process — build the warehouse
cold, then run a set of registry queries over it.

The timed work is one cold ``build_corpus`` into a fresh directory
(``build_s``) followed by ``PASSES`` passes over the query set, each query
collected with ``clear_caches`` between queries (``op_*`` metrics). The
cold build and the passes outlast a run's seconds, so the pass count is
fixed. The order is fixed: a query's first run in a process pays its own
warm-up, and a fixed order keeps that cost the same in every run.
Outside the timing, the build is checked (see warehouse.py) and every
collected result of every pass must equal its DuckDB oracle from
``__spark_entry__.oracle_sql()`` under the repository's driver simulator
canonicalization (columns by name, cells as strings, rows sorted).
"""

from __future__ import annotations

import time

import common
import warehouse
from common import JobLedger, host_metrics, median, percentile

# One query from each of these six modules; each is a second or more of
# scan, shuffle, join and aggregation work at this input size.
QUERIES = (
    "pricing_summary",  # operators.relational
    "top3_orders_per_customer",  # operators.windows
    "ann_ivf_topk",  # operators.similarity
    "dedup_minhash_lsh",  # operators.dedup
    "kg_two_hop",  # pipeline.corpus graph
    "stream_tumbling_daily",  # streaming.stream
)
# Interleaved passes over the query set; each query's time is its median
# over the passes. One pass is ~10 s on a 4-core VM, so a single pass
# moved with every short slow spell of the host.
PASSES = 2


def _oracle_matches(sf_dir: str, results: list[tuple[str, tuple | None]]) -> list[bool]:
    import duckdb

    import __spark_entry__
    from cs_5542_lab_6_spark.sources import TABLE_NAMES
    from tools.sim_driver import canon  # the driver simulator's comparison

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = []
    for name, got in results:
        if got is None:
            out.append(False)
            continue
        rel = con.sql(oracles[name])
        out.append(canon(*got) == canon(rel.fetchall(), [d[0] for d in rel.description]))
    return out


def run(ctx) -> dict:
    from cs_5542_lab_6_spark.registry import all_queries
    from cs_5542_lab_6_spark.session import clear_caches

    queries = all_queries()
    spark = ctx.start_spark()
    sc = spark.sparkContext
    ledger = JobLedger(spark) if ctx.trace else None
    setup_s = time.perf_counter() - ctx.t0

    before = ledger.group_jobs(None) if ledger else set()
    b = warehouse.build(ctx, spark, resume=False)
    if ledger:
        # build stages run on the ingest scheduler's threads, outside any group
        ledger.add("build", ledger.group_jobs(None) - before)

    times: dict[str, list[float]] = {n: [] for n in QUERIES}
    results: list[tuple[str, tuple | None]] = []
    for _ in range(PASSES):
        for name in QUERIES:
            group = f"batch-{name}-{len(results)}"
            if ledger:
                sc.setJobGroup(group, "benchmark query")
            t = time.perf_counter()
            try:
                df = queries[name](spark, ctx.sf_dir)
                got = ([tuple(r) for r in df.collect()], df.columns)
            except Exception:  # noqa: BLE001 — counted, the run goes on
                got = None
            times[name].append(time.perf_counter() - t)
            results.append((name, got))
            if ledger:
                sc.setLocalProperty("spark.jobGroup.id", None)
                ledger.add("query", ledger.group_jobs(group))
            clear_caches(spark)

    warehouse.verify(ctx, spark, b)
    per_layer: dict[str, float] = {}
    if ledger:
        per_layer.update(ledger.metrics(units=1))
        per_layer.update(host_metrics(spark, ctx.run_dir))
    memory = common.stop_spark(spark)

    build_ok = warehouse.check(ctx, b)
    matches = _oracle_matches(ctx.sf_dir, results)
    failed = matches.count(False) + (not build_ok)
    attempted = len(results) + 1  # the query runs and the build
    medians = {n: median(ts) for n, ts in times.items()}
    sweep_s = sum(medians.values())

    end_to_end = {
        "setup_s": setup_s,
        "build_s": b["wall"],
        "op_p50_ms": sweep_s * 1000.0,
        "op_p95_ms": percentile(medians.values(), 95) * 1000.0,
        "ops_per_s": matches.count(True) / sum(map(sum, times.values())),
        "peak_rss_mb": memory.pop("peak_rss_mb"),
        "warehouse_bytes_per_input_byte": warehouse.bytes_ratio(ctx, b),
    }
    per_layer.update(warehouse.layer_metrics(b, build_ok))
    per_layer.update(memory)
    per_layer["batch_error_frac"] = failed / attempted
    per_layer.update({f"batch.{n}_s": s for n, s in medians.items()})
    return {
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "attempted": attempted,
        "failed": failed,
        "aliases": {
            "build_s": (b["wall"], "s"),
            "batch_sweep_s": (sweep_s, "s"),
            "warehouse_bytes_per_input_byte": (end_to_end["warehouse_bytes_per_input_byte"], "ratio"),
            "build_error_frac": (per_layer["build_error_frac"], "ratio"),
            "batch_error_frac": (per_layer["batch_error_frac"], "ratio"),
        },
        "notes": {
            n: " ".join(f"{t:.3f}" for t in times[n])
            + f" s, {sum(ok for (q, _), ok in zip(results, matches) if q == n)} of {PASSES} ok"
            for n in QUERIES
        }
        | {"build": f"{'ok' if build_ok else 'FAILED'} {b['wall']:.3f} s"},
    }
