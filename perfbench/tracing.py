"""In-memory span recorder for traced runs.

A span is (id, name, start, end, parent, request id). Spans are opened
around calls into the program's layers by patching the names the program
looks them up by (``Tracer.wrap``); nothing inside the program changes.
Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- per-thread state: which request is being traced, current parent --

    def begin(self, rid: str, parent: int | None = None) -> None:
        """Trace calls made by this thread on behalf of request ``rid``."""
        self._local.rid = rid
        self._local.stack = [parent] if parent is not None else []

    def end(self) -> None:
        self._local.rid = None
        self._local.stack = []

    def active(self) -> bool:
        return getattr(self._local, "rid", None) is not None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active():
            yield None
            return
        stack = self._local.stack
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "rid": self._local.rid,
            **attrs,
        }
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner: object, attr: str, name: str, key=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around
        each call; ``key(args, kwargs)`` adds a ``key`` attribute."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            attrs = {"key": key(args, kwargs)} if key else {}
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval covered by
    its children (children clipped to the parent, overlaps merged)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = duration(s) - covered
    return out
