"""Checkout-local state: the environment every benchmark process runs
with, and the cached input tables and reference warehouse.

The cache lives in ``.perfbench_state/cache/<key>/`` at the checkout
root, keyed by a digest of the package sources and of the files here
that decide its contents; a changed key builds a new one, and the most
recently used older one is kept, so two source trees measured in turn
in one checkout do not rebuild each other's. The build runs in a
separate process (``python3 perfbench/state.py CACHE_DIR``), so every
measuring process starts from a cold JVM.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench_state")
PACKAGE = "cs_5542_lab_6_spark"
FIXTURE_SEED = 42
SF_NAME = "sf0.01"


def configure_env(run_dir: str, warehouse_root: str, trace: bool) -> None:
    """Environment read by the engine's session factory and by the Python
    workers Spark forks; set before pyspark is imported."""
    from common import DRIVER_MEM, cpus

    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # real-model seams, LLM endpoint, stale knobs
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus()),
            # the heap grows on demand (no pre-touch), so the JVM's peak
            # resident set follows what the program allocates
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_UI": "true" if trace else "false",
            "SPARK_GRAFT_WAREHOUSE": warehouse_root,
            # the pandas UDF workers import the package by name
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": os.path.join(run_dir, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        }
    )
    tempfile.tempdir = None


def source_key() -> str:
    h = hashlib.sha256(f"{FIXTURE_SEED}/{SF_NAME}".encode())
    files = [os.path.join(HERE, f) for f in ("fixture.py", "state.py", "common.py")]
    for d, _, fs in os.walk(os.path.join(ROOT, PACKAGE)):
        files += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def prepare(cache_dir: str) -> None:
    """Generate the tables and build the reference warehouse into
    ``cache_dir`` (body of the cache-building process)."""
    import common
    import fixture

    sf_dir = os.path.join(cache_dir, SF_NAME)
    warehouse_root = os.path.join(cache_dir, "warehouse")
    scratch = os.path.join(cache_dir, "scratch")
    configure_env(scratch, warehouse_root, trace=False)
    fixture.write(sf_dir, FIXTURE_SEED)

    from cs_5542_lab_6_spark.pipeline import corpus
    from cs_5542_lab_6_spark.pipeline.ingest import build_corpus, verify_corpus

    spark = common.start_spark("perfbench-prepare", scratch, trace=False)
    out = corpus.warehouse_dir(sf_dir)
    report = build_corpus(spark, sf_dir, out, resume=False)
    # rag_serve's start-up build skips every stage and writes nothing, so
    # its orphan check is this one, made once
    orphans = verify_corpus(spark, out)
    common.stop_spark(spark)
    with open(os.path.join(cache_dir, "reference.json"), "w") as f:
        json.dump({"rows": {n: r["rows"] for n, r in report.items()}, "orphans": orphans}, f)
    shutil.rmtree(scratch)


def ensure_cache() -> str:
    """The current cache directory, built first if missing."""
    caches = os.path.join(STATE, "cache")
    os.makedirs(caches, exist_ok=True)
    cache_dir = os.path.join(caches, source_key())
    with open(os.path.join(STATE, "cache.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(cache_dir):
            old = sorted(
                (os.path.join(caches, d) for d in os.listdir(caches)),
                key=os.path.getmtime,
            )
            # keep the most recently used complete cache; drop the rest
            # and any build an earlier run left unfinished
            keep = [d for d in old if not d.endswith(".tmp")][-1:]
            for d in old:
                if d not in keep:
                    shutil.rmtree(d)
            tmp = cache_dir + ".tmp"
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), tmp],
                stdout=sys.stderr,
                timeout=800,
                check=True,
            )
            os.rename(tmp, cache_dir)
        os.utime(cache_dir)  # marks it used
    return cache_dir


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    prepare(sys.argv[1])
