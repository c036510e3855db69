"""rag_serve: one closed-loop client against the HTTP app over a warm
warehouse.

The app is the program's own ``server.create_app`` around a
``ResearchAgent`` whose LLM policy is a replay of the tool plan drawn for
each question, served by ``wsgiref`` on 127.0.0.1 from one server
thread. The client sends its next request only after the previous reply.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from wsgiref.simple_server import WSGIRequestHandler, make_server

import numpy as np

import common
import warehouse
from common import JobLedger, host_metrics, median, percentile
from fixture import VOCAB
from tracing import Tracer, duration, self_times

# --- generated traffic ------------------------------------------------------
# ASSUMED, NOT MEASURED: no request log or evaluation set of this system
# exists, so every value below is a chosen stand-in (reasons beside each).
# A change that wins only because of one of these values is not a serving
# gain; see perfbench/README.md, "Traffic assumptions".
#
# Distinct questions: at 20-40 timed requests per run most are new, while
# the most popular ones repeat within a run and so share work.
POOL_SIZE = 48
# Repeat skew, weight of the k-th question 1 / k**ZIPF_S: Zipf-like
# popularity is the shape reported for web-search query logs; the exponent
# is not fitted to any log of this system.
ZIPF_S = 1.1
# Share of questions carrying a word the corpus never uses, so some
# questions match the corpus only in part and name an entity the knowledge
# graph lacks.
OOV_SHARE = 0.3
# A UI-sized page (the server's own default, 1000, is a bulk dump).
PAGE_LIMIT = 20
# Requests come in shuffled blocks with these exact counts, so every run of
# any length sees the same mix: 10% page reads, 60% vector-only plans, 15%
# plans adding a knowledge-graph search, 15% adding a paper lookup. Only
# the order (mostly vector, some KG, some details, few page reads) is
# intended; the shares themselves are picked, not observed.
BLOCK = {"papers": 2, "vector": 12, "kg": 3, "details": 3}
PLANS = {
    "vector": ("search_papers", "summarize_context"),
    "kg": ("search_papers", "search_knowledge_graph", "summarize_context"),
    "details": ("search_papers", "get_paper_details", "summarize_context"),
}
OOV = (
    "quantum zebra lattice protein galaxy violin glacier enzyme "
    "sonnet tundra"
).split()
TOP_K = 5
# Warm-up before timing: one whole block, so the timed loop starts on a
# fresh block. The start-up build before it has already run the parquet
# read paths; a longer warm-up would take time from the timed loop.
WARMUP_REQUESTS = sum(BLOCK.values())


def question_pool(rng: np.random.Generator) -> list[str]:
    pool: dict[str, None] = {}
    while len(pool) < POOL_SIZE:
        words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(2, 5))]
        if rng.random() < OOV_SHARE:
            words[int(rng.integers(0, len(words)))] = OOV[int(rng.integers(0, len(OOV)))]
        pool[" ".join(words)] = None
    return list(pool)


class Traffic:
    """Seeded request stream of (kind, argument, plan): ('papers', offset,
    None) or ('query', question, plan)."""

    def __init__(self, seed: int, n_papers: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.pool = question_pool(self.rng)
        w = 1.0 / np.arange(1, POOL_SIZE + 1) ** ZIPF_S
        self.weights = w / w.sum()
        self.max_page = max(0, (n_papers - PAGE_LIMIT) // PAGE_LIMIT)
        self.block: list[str] = []

    def next(self) -> tuple[str, object, str | None]:
        if not self.block:
            self.block = [k for k, n in BLOCK.items() for _ in range(n)]
            self.rng.shuffle(self.block)
        kind = self.block.pop()
        if kind == "papers":
            return "papers", int(self.rng.integers(0, self.max_page + 1)) * PAGE_LIMIT, None
        return "query", self.pool[int(self.rng.choice(POOL_SIZE, p=self.weights))], kind


class ReplayPolicy:
    """Stands in for the chat model: replays the tool plan the generator
    drew for the current request, then answers with the last tool's
    output. The client sets ``plan`` before sending each request (one
    client, one server thread, so requests never overlap)."""

    def __init__(self) -> None:
        self.plan = "vector"

    def __call__(self, messages: list[dict]) -> dict:
        turn = max(i for i, m in enumerate(messages) if m["role"] == "user")
        question = messages[turn]["content"]
        called = [
            tc["name"]
            for m in messages[turn + 1 :]
            if m["role"] == "assistant"
            for tc in m.get("tool_calls", ())
        ]
        tool_out = [m["content"] for m in messages[turn + 1 :] if m["role"] == "tool"]
        plan = PLANS[self.plan]
        if len(called) >= len(plan):
            return {"content": json.loads(tool_out[-1]) if tool_out else ""}
        name = plan[len(called)]
        if name == "search_papers":
            args = {"query": question, "top_k": TOP_K}
        elif name == "search_knowledge_graph":
            args = {"entities": question.split(), "top_k": 10}
        elif name == "get_paper_details":
            hits = json.loads(tool_out[0]) if tool_out else []
            args = {"paper_id": hits[0]["paper_id"] if hits else ""}
        else:
            args = {"question": question}
        return {"tool_calls": [{"name": name, "arguments": args}]}


class _QuietHandler(WSGIRequestHandler):
    def log_message(self, *args) -> None:  # no per-request stderr line
        pass


def _request(port: int, kind: str, arg, headers: dict) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        if kind == "query":
            body = json.dumps({"question": arg}).encode()
            conn.request(
                "POST", "/query", body, {"Content-Type": "application/json", **headers}
            )
        else:
            conn.request("GET", f"/papers?limit={PAGE_LIMIT}&offset={arg}", headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _timed(port: int, kind: str, arg, headers: dict) -> tuple[int, bytes, float]:
    t = time.perf_counter()
    try:
        status, body = _request(port, kind, arg, headers)
    except (OSError, http.client.HTTPException):
        status, body = 0, b""
    return status, body, (time.perf_counter() - t) * 1000.0


def _send(tracer: Tracer, port: int, kind: str, arg, rid: str, traced: bool):
    """One request, timed by the client; a traced one carries its request
    id and client span id so the server thread can attach its spans."""
    if not traced:
        return _timed(port, kind, arg, {})
    tracer.begin(rid)
    try:
        with tracer.span("client.request", kind=kind) as span:
            hdrs = {"X-Bench-Rid": rid, "X-Bench-Parent": str(span["id"])}
            return _timed(port, kind, arg, hdrs)
    finally:
        tracer.end()


def _traced_app(app, spark, tracer: Tracer):
    """WSGI wrapper: sets the Spark job group and opens the server span in
    the server thread, for requests the client marked as traced."""
    sc = spark.sparkContext

    def wrapped(environ, start_response):
        rid = environ.get("HTTP_X_BENCH_RID")
        if rid is None:
            return app(environ, start_response)
        sc.setJobGroup(f"rag-{rid}", "benchmark request")
        tracer.begin(rid, int(environ["HTTP_X_BENCH_PARENT"]))
        try:
            with tracer.span("server.app"):
                return app(environ, start_response)
        finally:
            tracer.end()
            sc.setLocalProperty("spark.jobGroup.id", None)

    return wrapped


def _install_wrappers(tracer: Tracer) -> None:
    from cs_5542_lab_6_spark import agent_api, agent_loop, server
    from cs_5542_lab_6_spark.pipeline import corpus

    tool = lambda a, k: a[1]  # noqa: E731 — ResearchAgent._call_tool(self, name, args)
    tracer.wrap(agent_loop.ResearchAgent, "run", "agent_loop.run")
    tracer.wrap(agent_loop.ResearchAgent, "_call_tool", "agent_loop.call_tool", key=tool)
    for fn in ("search_papers", "get_paper_details", "search_knowledge_graph"):
        tracer.wrap(agent_api, fn, f"agent_api.plan.{fn}")
    tracer.wrap(agent_api, "summarize_context", "agent_api.summarize_context")
    tracer.wrap(agent_api, "embed_query", "functions.embed_query")
    tracer.wrap(agent_api, "chunks_source", "corpus.chunks_source")
    tracer.wrap(agent_api, "papers_build", "corpus.papers_build")
    tracer.wrap(agent_api, "kg_neighborhood_for", "corpus.kg_neighborhood_for")
    tracer.wrap(server, "papers_build", "corpus.papers_build")
    tracer.wrap(server, "save_to_history", "server.save_to_history")
    tracer.wrap(corpus, "read_stage", "corpus.read_stage")


# --- output checks ------------------------------------------------------------


class Oracle:
    """Independent DuckDB answers: top-k chunk citations by the SQL twin of
    the embedder, and paper pages ordered by paper_id."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        from cs_5542_lab_6_spark.functions.embedding import duck_embedding_cte
        from cs_5542_lab_6_spark.pipeline.corpus import _DEFAULT_CHUNKS_SQL
        from cs_5542_lab_6_spark.sources import TABLE_NAMES

        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        # materialized once: embedding every chunk in SQL is the slow part
        self.con.sql(
            f"CREATE TABLE chunk_emb AS WITH {_DEFAULT_CHUNKS_SQL}, "
            f"{duck_embedding_cte()} SELECT chunk_id, embedding FROM emb"
        )
        self._cites: dict[str, list[tuple[str, float]]] = {}

    def citations(self, question: str) -> list[tuple[str, float]]:
        from cs_5542_lab_6_spark.functions.embedding import duck_qvec_sql

        if question not in self._cites:
            self._cites[question] = self.con.sql(
                f"SELECT chunk_id, round(list_dot_product(embedding::DOUBLE[], "
                f"{duck_qvec_sql(question)}), 4) AS score FROM chunk_emb "
                f"ORDER BY score DESC, chunk_id LIMIT {TOP_K}"
            ).fetchall()
        return self._cites[question]

    def page(self, offset: int) -> list[str]:
        return [
            r[0]
            for r in self.con.sql(
                f"SELECT 'doc_' || doc_id AS paper_id FROM documents "
                f"ORDER BY paper_id LIMIT {PAGE_LIMIT} OFFSET {offset}"
            ).fetchall()
        ]


def check(oracle: Oracle, r: dict) -> bool:
    kind, arg, status, body = r["kind"], r["arg"], r["status"], r["body"]
    if status != 200:
        return False
    try:
        out = json.loads(body)
    except ValueError:
        return False
    if kind == "papers":
        return [p.get("paper_id") for p in out] == oracle.page(arg)
    got = [(c.get("chunk_id"), round(float(c.get("score", 0.0)), 4)) for c in out.get("citations", [])]
    want = [(cid, round(float(s), 4)) for cid, s in oracle.citations(arg)]
    return (
        got == want
        and bool(out.get("answer"))
        and tuple(out.get("tools_used", ())) == PLANS[r["plan"]]
    )


# --- the run --------------------------------------------------------------------


def run(ctx) -> dict:
    from cs_5542_lab_6_spark.agent_loop import ResearchAgent
    from cs_5542_lab_6_spark.server import create_app

    import pyarrow.parquet as pq

    sf_dir = ctx.sf_dir
    n_papers = pq.ParquetFile(os.path.join(sf_dir, "documents.parquet")).metadata.num_rows
    traffic = Traffic(ctx.seed, n_papers)
    spark = ctx.start_spark()
    t_session = time.perf_counter()
    # a server start-up makes sure the warehouse exists: every stage is
    # skipped, and the JVM warms up
    b = warehouse.build(ctx, spark, resume=True)
    t_builds = time.perf_counter()

    tracer = Tracer()
    history = os.path.join(ctx.run_dir, "history.json")
    policy = ReplayPolicy()
    agent = ResearchAgent(spark, sf_dir, policy=policy)
    app = create_app(spark, sf_dir, agent=agent, history_path=history)
    if ctx.trace:
        _install_wrappers(tracer)
        app = _traced_app(app, spark, tracer)
    httpd = make_server("127.0.0.1", 0, app, handler_class=_QuietHandler)
    port = httpd.server_address[1]
    server_thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    server_thread.start()

    records: list[dict] = []
    try:
        for _ in range(WARMUP_REQUESTS):
            kind, arg, policy.plan = traffic.next()
            _request(port, kind, arg, {})
        t_ready = time.perf_counter()
        setup_s = t_ready - ctx.t0

        t_start = time.perf_counter()
        seen: dict[str | None, int] = {}
        # run whole blocks: every run then times the same mix of request
        # kinds, whose latencies differ by 2x or more
        while time.perf_counter() - t_start < ctx.seconds or traffic.block:
            kind, arg, plan = traffic.next()
            policy.plan = plan
            # traced runs alternate traced and untraced requests of each
            # kind, so the tracing overhead is measured within one run on
            # the same mix, and every kind that occurs is traced
            seen[plan] = seen.get(plan, 0) + 1
            traced = ctx.trace and seen[plan] % 2 == 1
            rid = str(len(records))
            status, body, ms = _send(tracer, port, kind, arg, rid, traced)
            records.append(
                {"rid": rid, "kind": kind, "arg": arg, "plan": plan, "status": status,
                 "body": body, "ms": ms, "traced": traced}
            )
        wall = time.perf_counter() - t_start
    finally:
        httpd.shutdown()
        httpd.server_close()
        server_thread.join(timeout=60)
        tracer.unwrap_all()

    per_layer: dict[str, float] = {}
    if ctx.trace:
        ledger = JobLedger(spark)
        traced = [r for r in records if r["traced"]]
        for r in traced:
            ledger.add("request", ledger.group_jobs(f"rag-{r['rid']}"))
        per_layer.update(ledger.metrics(units=len(traced)))
        per_layer.update(host_metrics(spark, ctx.run_dir))
    warehouse.verify(ctx, spark, b)
    memory = common.stop_spark(spark)

    build_ok = warehouse.check(ctx, b)
    oracle = Oracle(sf_dir)
    for r in records:
        r["ok"] = check(oracle, r)
    ok = [r for r in records if r["ok"]]
    failed = len(records) - len(ok) + (not build_ok)
    lat = [r["ms"] for r in ok]
    p95 = percentile(lat, 95)
    steps = [json.loads(r["body"]).get("steps_taken", 0) for r in ok if r["kind"] == "query"]

    end_to_end = {
        "setup_s": setup_s,
        "build_s": b["wall"],
        "op_p50_ms": percentile(lat, 50),
        "op_p95_ms": p95,
        "ops_per_s": len(ok) / wall,
        "peak_rss_mb": memory.pop("peak_rss_mb"),
        "warehouse_bytes_per_input_byte": warehouse.bytes_ratio(ctx, b),
    }
    per_layer.update(warehouse.layer_metrics(b, build_ok))
    per_layer.update(memory)
    per_layer.update(
        {
            "rag_error_frac": (len(records) - len(ok)) / max(1, len(records)),
            "rag.requests": float(len(records)),
            "rag.samples_beyond_p95": float(sum(1 for x in lat if x > p95)),
            "agent_loop.steps_per_request": sum(steps) / max(1, len(steps)),
            "server.history_bytes": float(os.path.getsize(history)),
        }
    )
    if ctx.trace:
        per_layer.update(_span_metrics(tracer, records))
        tracer.dump(ctx.trace_path("rag_serve"))
    return {
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "attempted": len(records) + 1,
        "failed": failed,
        "aliases": {
            "rag_p50_ms": (end_to_end["op_p50_ms"], "ms"),
            "rag_p95_ms": (p95, "ms"),
            "rag_qps": (end_to_end["ops_per_s"], "req/s"),
            "rag_error_frac": (per_layer["rag_error_frac"], "ratio"),
        },
        "notes": {
            "setup": f"session {t_session - ctx.t0:.1f} s, resume build "
            f"{t_builds - t_session:.1f} s, server and warm-up {t_ready - t_builds:.1f} s",
            "requests": f"{len(ok)} ok of {len(records)}",
        },
    }


def _span_metrics(tracer: Tracer, records: list[dict]) -> dict[str, float]:
    spans = tracer.spans
    selfs = self_times(spans)
    by_rid: dict[str, list[dict]] = {}
    for s in spans:
        by_rid.setdefault(s["rid"], []).append(s)
    by_id = {s["id"]: s for s in spans}

    def named(name, key=None):
        return [s for s in spans if s["name"] == name and (key is None or s.get("key") == key)]

    def ms(xs):
        return median(x * 1000.0 for x in xs)

    server_self, page_ms, plan_ms, exec_ms, within = [], [], [], [], []
    for rid, ss in by_rid.items():
        root = next((s for s in ss if s["name"] == "client.request"), None)
        app = next((s for s in ss if s["name"] == "server.app"), None)
        if root is None or app is None:
            continue
        within.append(sum(selfs[s["id"]] for s in ss) <= duration(root) + 1e-9)
        if root["kind"] == "papers":
            page_ms.append(duration(app))
            continue
        server_self.append(selfs[app["id"]])
        plans = [s for s in ss if s["name"].startswith("agent_api.plan.")]
        plan_ms.append(sum(duration(s) for s in plans))
        calls = {s["id"]: s for s in ss if s["name"] == "agent_loop.call_tool"
                 and s["key"] != "summarize_context"}
        exec_ms.append(
            sum(duration(c) for c in calls.values())
            - sum(duration(p) for p in plans if p["parent"] in calls)
        )

    history = sorted(named("server.save_to_history"), key=lambda s: s["start"])
    tail = history[-max(1, len(history) // 10):] if history else []
    sources = named("corpus.chunks_source")
    warm_reads = [
        s for s in named("corpus.read_stage")
        if s["parent"] in by_id and by_id[s["parent"]]["name"] == "corpus.chunks_source"
    ]
    runs = named("agent_loop.run")
    traced_ms = [r["ms"] for r in records if r["traced"] and r["kind"] == "query"]
    plain_ms = [r["ms"] for r in records if not r["traced"] and r["kind"] == "query"]
    return {
        "server.self_ms": ms(server_self),
        "server.history_write_ms": ms(duration(s) for s in history),
        "server.history_write_last_decile_ms": ms(duration(s) for s in tail),
        "server.papers_page_ms": ms(page_ms),
        "agent_loop.run_ms": ms(duration(s) for s in runs),
        "agent_loop.self_ms": ms(selfs[s["id"]] for s in runs),
        "agent_api.search_papers_ms": ms(duration(s) for s in named("agent_loop.call_tool", "search_papers")),
        "agent_api.search_knowledge_graph_ms": ms(
            duration(s) for s in named("agent_loop.call_tool", "search_knowledge_graph")
        ),
        "agent_api.get_paper_details_ms": ms(
            duration(s) for s in named("agent_loop.call_tool", "get_paper_details")
        ),
        "agent_api.summarize_context_ms": ms(
            duration(s) for s in named("agent_loop.call_tool", "summarize_context")
        ),
        "agent_api.plan_ms": ms(plan_ms),
        "agent_api.execute_ms": ms(exec_ms),
        "functions.embed_query_ms": ms(duration(s) for s in named("functions.embed_query")),
        "corpus.chunks_source_ms": ms(duration(s) for s in sources),
        "corpus.papers_build_ms": ms(duration(s) for s in named("corpus.papers_build")),
        "corpus.kg_neighborhood_for_ms": ms(duration(s) for s in named("corpus.kg_neighborhood_for")),
        "corpus.warm_hit_ratio": len(warm_reads) / max(1, len(sources)),
        "trace.overhead_ms": median(traced_ms) - median(plain_ms),
        "trace.self_within_wall_frac": sum(within) / max(1, len(within)),
    }
