"""Benchmark entry point.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 12 --trace 0

Runs one workload (``rag_serve`` or ``analytics_batch``) against the
package in the enclosing checkout, checks its outputs against independent
DuckDB oracles, prints a readable summary and, as the last line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. See
perfbench/README.md.

The input tables are generated once per checkout from a fixed seed, and
the warehouse built from them is cached beside them (see state.py).
``--seed`` drives each workload's generated inputs.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import common  # noqa: E402
from state import PACKAGE, ROOT, SF_NAME, STATE, configure_env, ensure_cache  # noqa: E402

WORKLOADS = ("rag_serve", "analytics_batch")


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, t0: float, cache_dir: str, run_dir: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.t0 = t0
        self.run_dir = run_dir
        self.sf_dir = os.path.join(cache_dir, SF_NAME)
        self.warehouse_root = os.path.join(cache_dir, "warehouse")
        self.cache_dir = cache_dir
        self.workload = args.workload

    def start_spark(self):
        return common.start_spark(f"perfbench-{self.workload}", self.run_dir, self.trace)

    def reference(self) -> dict:
        """The cached reference build's per-stage row counts ("rows") and
        its ``verify_corpus`` orphan counts ("orphans")."""
        with open(os.path.join(self.cache_dir, "reference.json")) as f:
            return json.load(f)

    def trace_path(self, name: str) -> str:
        d = os.path.join(STATE, "traces")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{name}-seed{self.seed}-{os.getpid()}.jsonl")


def emit(result: dict, trace: bool) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    print(f"# {'per-layer' if trace else 'end-to-end'} metrics")
    if trace:
        # a layer the workload does not exercise did no work: 0
        metrics = {
            m["name"]: {"value": float(result["per_layer"].get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(result["end_to_end"][m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    for name, m in metrics.items():
        print(f"{name:<44} {m['value']:>16.6g} {m['unit']}")
    for name, (value, unit) in result["aliases"].items():
        print(f"{name:<44} {value:>16.6g} {unit}  (workload metric)")
    for name, note in result.get("notes", {}).items():
        print(f"note {name}: {note}")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "BENCHMARK.json")
    ):
        print(f"error: {PACKAGE} or BENCHMARK.json not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    t = time.perf_counter()
    cache_dir = ensure_cache()
    # set-up time leaves out the checkout's one-time cache build
    t0 = T0 + (time.perf_counter() - t)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=STATE)
    configure_env(run_dir, os.path.join(cache_dir, "warehouse"), bool(args.trace))
    try:
        module = importlib.import_module(args.workload)
        result = module.run(Context(args, t0, cache_dir, run_dir))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    emit(result, bool(args.trace))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — no result line on any failure
        traceback.print_exc()
        sys.exit(1)
