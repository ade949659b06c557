"""Spans for the benchmark's traced pass, recorded from outside the engine.

The wrappers go around the public calls into each layer (FtIndex methods,
the wand kernels where ``ftidx.index`` looks them up by name, TermList
decoding, maintenance.upsert_docs, build_index, the HTTP handler, and the
Spark calls ``DataFrame.collect`` / ``DataFrameWriter.parquet``).  Each span
has a name, layer, start, end, parent and request id; spans stay in memory
and are dumped as JSON when the process ends its pass.

Self time is computed by a sweep over one request's spans: each instant of
the request's root span goes to the deepest spans open at that instant,
split equally when several run at once (the build's parallel explode jobs).
Self times therefore add up to the root's duration exactly; the share left
on the root itself is the unattributed time.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path

RID_HEADER = "X-Bench-Rid"


class Tracer:
    def __init__(self, process: str) -> None:
        self.process = process
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on threads the engine starts itself
        # (build_index runs its explode jobs on a thread pool): the
        # innermost open build/maintenance span
        self._ambient: list[dict] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, rid: str | None = None,
             ambient: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._ambient[-1] if self._ambient else None)
        sp = {
            "id": f"{self.process}:{next(self._ids)}",
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            "name": name, "layer": layer,
            "thread": threading.current_thread().name,
            "t0": time.monotonic(), "t1": None, **attrs,
        }
        stack.append(sp)
        if ambient:
            with self._lock:
                self._ambient.append(sp)
        try:
            yield sp
        finally:
            sp["t1"] = time.monotonic()
            stack.pop()
            with self._lock:
                if ambient:
                    self._ambient.remove(sp)
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, layer: str,
             ambient: bool = False, tag=None) -> None:
        """Replace ``owner.attr`` with a traced twin.  ``tag(args,
        kwargs, result)`` returns extra span attributes."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer, ambient=ambient) as sp:
                out = fn(*args, **kwargs)
                if tag is not None:
                    sp.update(tag(args, kwargs, out))
                return out

        setattr(owner, attr, traced)

    def dump(self, path: Path) -> None:
        with self._lock:
            spans = [s for s in self.spans if s["t1"] is not None]
        path.write_text(json.dumps(spans))


def _write_target(args, kwargs, _out):
    path = kwargs.get("path", args[1] if len(args) > 1 else "")
    return {"target": Path(str(path)).name}


def _rebuilt(_args, _kwargs, out):
    return {"buckets_rebuilt": len(out.get("buckets_rebuilt", []))}


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point the benchmark attributes time to."""
    import ftidx.index as fi
    import ftidx.maintenance as fm
    import ftidx.wand as fw
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    tracer.wrap(fi, "build_index", "build.build_index", "build", ambient=True)
    tracer.wrap(fm, "upsert_docs", "maintenance.upsert_docs", "maintenance",
                ambient=True, tag=_rebuilt)
    for meth in ("topk", "refresh", "delete"):
        tracer.wrap(fi.FtIndex, meth, f"index.{meth}", "index")
    for kern in ("score_block_max", "score_boolean", "score_exhaustive"):
        tracer.wrap(fi, kern, "wand.score", "wand")
    for meth in ("decode_all", "decode_blocks"):
        tracer.wrap(fw.TermList, meth, "wand.decode", "wand")
    tracer.wrap(DataFrame, "collect", "spark.collect", "spark")
    tracer.wrap(DataFrameWriter, "parquet", "spark.write", "spark",
                tag=_write_target)


def install_server(tracer: Tracer) -> None:
    """Root a server-side span per HTTP request around the handler class
    FtServer builds: from the handler's start (request parsing, lock
    wait, JSON, the response write), keyed by the client's request id
    header once it has been parsed."""
    import ftidx.server as fs

    make = fs._make_handler

    def traced_make(*args, **kwargs):
        cls = make(*args, **kwargs)
        handle = cls.handle

        def traced_handle(self):
            if not tracer.enabled:
                return handle(self)
            with tracer.span("server.request", "server") as sp:
                self._bench_span = sp
                return handle(self)

        cls.handle = traced_handle
        for meth in ("do_GET", "do_POST"):
            fn = getattr(cls, meth)

            def traced(self, _fn=fn):
                sp = getattr(self, "_bench_span", None)
                if sp is not None:
                    sp["rid"] = self.headers.get(RID_HEADER)
                    sp["path"] = self.path.split("?")[0]
                return _fn(self)

            setattr(cls, meth, traced)
        return cls

    fs._make_handler = traced_make


# -- attribution -----------------------------------------------------------

def self_times(spans: list[dict], root: dict) -> dict[str, float]:
    """Split ``root``'s interval over one request's ``spans`` (see the
    module docstring).  A span whose parent is not among them counts as
    a child of ``root``.  Returns span id -> attributed seconds."""
    members = [s for s in spans if s is not root
               and s["t1"] > root["t0"] and s["t0"] < root["t1"]]
    ids = {s["id"] for s in members}
    children: dict[str, list[dict]] = {}
    for s in members:
        parent = s["parent"] if s["parent"] in ids else root["id"]
        children.setdefault(parent, []).append(s)
    cuts = sorted({root["t0"], root["t1"]}
                  | {min(max(t, root["t0"]), root["t1"])
                     for s in members for t in (s["t0"], s["t1"])})
    out = {s["id"]: 0.0 for s in members}
    out[root["id"]] = 0.0
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        leaves = [s for s in members if s["t0"] <= mid < s["t1"]
                  and not any(c["t0"] <= mid < c["t1"]
                              for c in children.get(s["id"], ()))]
        for s in leaves or [root]:
            out[s["id"]] += (b - a) / max(len(leaves), 1)
    return out


def ancestors(span: dict, by_id: dict[str, dict]):
    p = by_id.get(span["parent"])
    while p is not None:
        yield p
        p = by_id.get(p["parent"])
