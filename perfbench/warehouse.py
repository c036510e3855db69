"""The warehouse the workloads read: one ``build_corpus`` call per run,
its checks and its per-stage metrics.

analytics_batch builds cold (``resume=False``) into a fresh directory;
rag_serve calls ``build_corpus(resume=True)`` over the cached warehouse,
as a server start-up would, and every stage is skipped. A build passes
its checks when ``verify_corpus`` finds no orphans (for a build that
skipped every stage, the cached reference build's check), every stage's row
count equals the cached reference build, and the chunk and paper counts
equal DuckDB's counts over the raw tables.
"""

from __future__ import annotations

import os
import time

from common import dir_bytes


def build(ctx, spark, resume: bool) -> dict:
    from cs_5542_lab_6_spark.pipeline import corpus
    from cs_5542_lab_6_spark.pipeline.ingest import build_corpus

    root = ctx.warehouse_root if resume else os.path.join(ctx.run_dir, "warehouse")
    # dependent stages read their upstream checkpoints, and the queries
    # read the warehouse, through this variable
    os.environ[corpus.WAREHOUSE_ENV] = root
    out = corpus.warehouse_dir(ctx.sf_dir)
    t = time.perf_counter()
    try:
        report, error = build_corpus(spark, ctx.sf_dir, out, resume=resume), None
    except Exception as e:  # noqa: BLE001 — a failed build is counted, not fatal
        report, error = {}, repr(e)
    return {"out": out, "wall": time.perf_counter() - t, "report": report, "error": error}


def verify(ctx, spark, b: dict) -> None:
    """The Spark-side checks; run after the timed work, before the session
    stops. A build that skipped every stage wrote nothing, so the cached
    reference build's orphan counts are its own."""
    from cs_5542_lab_6_spark.pipeline.ingest import STAGES, verify_corpus

    if b["error"] is None:
        if all(r["skipped"] for r in b["report"].values()):
            b["orphans"] = ctx.reference()["orphans"]
        else:
            b["orphans"] = verify_corpus(spark, b["out"])
        b["bytes"] = {n: dir_bytes(os.path.join(b["out"], n)) for n, _, _ in STAGES}


def check(ctx, b: dict) -> bool:
    import duckdb

    from cs_5542_lab_6_spark.pipeline.corpus import _DEFAULT_CHUNKS_SQL

    if b["error"] is not None:
        return False
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{ctx.sf_dir}/documents.parquet'")
    duck = {
        "chunks": con.sql(f"WITH {_DEFAULT_CHUNKS_SQL} SELECT count(*) FROM chunks").fetchone()[0],
        "papers": con.sql("SELECT count(*) FROM documents").fetchone()[0],
    }
    rows = {n: r["rows"] for n, r in b["report"].items()}
    return (
        rows == ctx.reference()["rows"]
        and all(v == 0 for v in b["orphans"].values())
        and all(rows[n] == duck[n] for n in duck)
    )


def layer_metrics(b: dict, ok: bool) -> dict[str, float]:
    out = {"build_error_frac": 0.0 if ok else 1.0}
    if ok:
        for name, r in b["report"].items():
            out[f"ingest.{name}_s"] = r["seconds"]
            out[f"ingest.{name}_bytes"] = float(b["bytes"][name])
        out["ingest.build_s"] = b["wall"]
        out["ingest.overlap"] = sum(r["seconds"] for r in b["report"].values()) / b["wall"]
    return out


def bytes_ratio(ctx, b: dict) -> float:
    """Bytes of the warehouse on disk / bytes of the input tables."""
    return sum(b["bytes"].values()) / dir_bytes(ctx.sf_dir) if "bytes" in b else 0.0
