"""ftidx benchmark: one workload per run, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

The engine runs in its own process (``engine.py``); this process is the
load generator and the checker and never starts Spark.  The last stdout
line is the result ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (from a traced pass; see README.md for how each workload
measures the tracing overhead).  The ``ENV`` line before
it records the host and versions, the ``METRICS`` line every metric with
its unit and sample count.  ``--workload all`` runs every workload and
prints one table.  README.md describes the workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import itertools
import json
import os
import queue
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path
from urllib.parse import quote_plus

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from corpus import (Oracle, QueryDeck, corpus_rows, dir_bytes,  # noqa: E402
                    query_url, read_doc_ids, same_page,
                    sha_invariant_failures, source_bytes)
from spans import RID_HEADER, Tracer, ancestors, self_times  # noqa: E402

N_FILES = 10_000
# query vocabulary: terms in at least this share of the live docs; the
# rarer terms are the never-queried-before terms of the cold queries
VOCAB_MIN_SHARE = 0.02
# mixed_rw: open-loop query rate, about half of what two closed-loop
# clients reach on a warm 10k-file index on a 4-core host (about 120/s)
MIXED_QPS = 60.0
# the writes start this far into the window, so nearly every read of the
# window is due while a write holds the server's exclusive lock: the read
# percentiles measure reads beside writes.  The HTTP read path with no
# write in flight is timed only in traced runs (server.read_p50_ms): its
# median moved 20-40% from run to run with the host's CPU steal, beyond
# any bound an end-to-end metric may have.
WRITES_START_S = 0.5
MARKER = re.compile(r"uniquemarker\d+")
FINAL_PAGES = 20
# traced runs only: warm /search calls made before each pass, untraced and
# traced, whose median difference is the tracing overhead
PROBE_READS = 200

END_TO_END = {
    "setup_s": "s", "build_files_per_s": "files/s",
    "index_bytes_per_source_byte": "ratio", "query_p50_ms": "ms",
    "query_p99_ms": "ms", "query_qps": "1/s", "write_p50_s": "s",
    "ok_op_ratio": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.jvm_peak_rss_mb": "MB",
    "build.postings_job_s": "s", "build.explode_jobs_s": "s",
    "build.stats_s": "s", "build.driver_other_s": "s",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.jobs": "count",
    "tokenize.cpu_ms_per_kfile": "ms/kfile",
    "codec.encode_cpu_ms_per_kfile": "ms/kfile",
    "index.postings_bytes": "bytes", "index.docs_bytes": "bytes",
    "index.doclen_bytes": "bytes",
    "spark.fetch_ms": "ms", "spark.fetch_jobs": "count",
    "wand.score_ms": "ms", "wand.decode_ms": "ms",
    "index.topk_self_ms": "ms", "index.result_cache_hit_ratio": "ratio",
    "index.term_cache_hit_ratio": "ratio", "server.self_ms": "ms",
    "server.read_p50_ms": "ms",
    "maintenance.upsert_docs_s": "s",
    "maintenance.buckets_rebuilt_per_update": "count",
    "maintenance.write_bytes_per_doc_byte": "ratio",
    "index.refresh_ms": "ms", "index.delete_ms": "ms",
    "gen.lateness_p99_ms": "ms",
    "layer.build_s": "s", "layer.index_s": "s", "layer.wand_s": "s",
    "layer.spark_s": "s", "layer.maintenance_s": "s", "layer.server_s": "s",
    "trace.e2e_s": "s", "trace.unattributed_s": "s",
    "trace.unattributed_share": "ratio", "trace.overhead_ms_per_op": "ms",
}


def pctl(values: list[float], q: float) -> float:
    """Linearly interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# -- processes ---------------------------------------------------------------

def _stat(pid: str) -> tuple[str, list[str]] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _processes() -> list[tuple[int, str, list[str]]]:
    out = []
    for d in Path("/proc").iterdir():
        if d.name.isdigit() and (st := _stat(d.name)) is not None:
            out.append((int(d.name), *st))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def record_rss(run: "Run", pid: int) -> None:
    """VmHWM of the engine's Python process (end-to-end) and of its JVM
    (per layer: it follows the garbage collector's timing and spreads 10-35%
    across seeds, too wide for a bounded metric)."""
    run.e2e["peak_rss_mb"] = _vm_hwm_kb(pid) / 1024
    run.layers["session.jvm_peak_rss_mb"] = sum(
        _vm_hwm_kb(p) for p, comm, f in _processes()
        if comm == "java" and int(f[1]) == pid) / 1024


class Engine:
    """An ``engine.py`` process in a session of its own; a reader thread
    collects its stdout lines with their arrival times."""

    def __init__(self, run: "Run", mode: str) -> None:
        cmd = [sys.executable, str(HERE / "engine.py"), mode,
               "--work", str(run.work), "--seed", str(run.seed),
               "--files", str(N_FILES), "--cores", str(run.cores),
               "--seconds", str(run.seconds), "--trace", str(int(run.trace))]
        self.mode = mode
        # a traced run needs Spark stopped cleanly, to complete its event
        # log; otherwise the engine's processes are simply killed
        self.graceful = run.trace
        self.log = open(run.work / f"engine-{mode}.log", "wb")
        # keep Spark's and Python's temporary files inside the checkout
        env = {**os.environ, "PYTHONUNBUFFERED": "1",
               "TMPDIR": str(run.work / "tmp"),
               "SPARK_LOCAL_DIRS": str(run.work / "spark-local")}
        (run.work / "tmp").mkdir()
        self.proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, start_new_session=True, text=True)
        self.lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.lines.put((time.monotonic(), line.rstrip("\n")))
        self.lines.put((time.monotonic(), None))

    def expect(self, prefix: str, timeout: float = 170) -> tuple[float, str]:
        end = time.monotonic() + timeout
        while True:
            try:
                t, line = self.lines.get(timeout=max(end - time.monotonic(), 0.01))
            except queue.Empty:
                raise RuntimeError(f"engine printed no {prefix!r} line in {timeout} s")
            if line is None:
                raise RuntimeError(f"engine exited before {prefix!r}: "
                                   + Path(self.log.name).read_text()[-2000:])
            if line.startswith(prefix):
                return t, line[len(prefix):].strip()

    def send(self, obj) -> None:
        self.proc.stdin.write(json.dumps(obj) + "\n")
        self.proc.stdin.flush()

    def stop(self) -> None:
        """Stop the engine — gracefully, the server ends on SIGINT and the
        bulk loop when its stdin closes — and wait until every process of
        its session (its JVM and Spark's Python workers too) has ended."""
        if self.proc.poll() is None and self.graceful:
            if self.mode == "serve":
                self.proc.send_signal(signal.SIGINT)
            else:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        end = time.monotonic() + 30
        while time.monotonic() < end:
            alive = [p for p, _, f in _processes()
                     if int(f[2]) == self.proc.pid and f[0] != "Z"]
            if not alive:
                break
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        self.proc.wait()
        self._reader.join(timeout=5)
        self.log.close()


# -- HTTP --------------------------------------------------------------------

class Client:
    def __init__(self, port: int) -> None:
        self.port = port

    def call(self, method: str, url: str, body=None, rid: str | None = None) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            headers = {RID_HEADER: rid} if rid else {}
            data = None
            if body is not None:
                data = json.dumps(body).encode()
                headers["Content-Type"] = "application/json"
            conn.request(method, url, body=data, headers=headers)
            resp = conn.getresponse()
            payload = json.loads(resp.read() or b"{}")
        finally:
            conn.close()
        if resp.status != 200:
            raise RuntimeError(f"{method} {url} -> {resp.status}: {payload}")
        return payload

    def page(self, q: dict, rid: str | None = None) -> list[tuple[int, float]]:
        return [(h["doc_id"], h["score"])
                for h in self.call("GET", query_url(q), rid=rid)["hits"]]

    def keys(self, term: str, rid: str | None = None) -> dict:
        """(repo, path) -> doc id of every doc matching ``term``."""
        hits = self.call("GET", f"/search?q={quote_plus(term)}&k=50&fl=repo,path",
                         rid=rid)["hits"]
        return {(h["repo"], h["path"]): h["doc_id"] for h in hits}


# -- one run -----------------------------------------------------------------

class Run:
    def __init__(self, args) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
        self.work.mkdir(parents=True)
        self.tracer = Tracer("client")
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

    def check(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def timing(self, name: str, value: float, n: int) -> None:
        self.e2e[name] = value
        self.samples[name] = n

    def query_metrics(self, lats: list[float], seconds: float) -> None:
        self.timing("query_p50_ms", pctl(lats, 50) * 1000, len(lats))
        self.timing("query_p99_ms", pctl(lats, 99) * 1000, len(lats))
        self.timing("query_qps", len(lats) / seconds, len(lats))

    def build_metrics(self, index: Path, rows: list[dict], build_s: list[float]) -> None:
        self.timing("build_files_per_s", N_FILES / statistics.median(build_s),
                    len(build_s))
        self.timing("index_bytes_per_source_byte",
                    dir_bytes(index) / source_bytes(rows), 1)
        for part in ("postings", "docs", "doclen"):
            self.layers[f"index.{part}_bytes"] = dir_bytes(index / part)


def vocab_split(oracle, rows: list[dict]) -> tuple[list[str], list[str]]:
    """(query vocabulary, rarer terms for cold queries)."""
    live = sum(1 for r in rows if not r["deleted"])
    min_df = max(2, int(VOCAB_MIN_SHARE * live))
    return oracle.vocab(min_df), oracle.rare(min_df - 1)


def kernel_cpu(rows: list[dict]) -> tuple[float, float]:
    """Build-kernel CPU ms per 1000 files, split by calling the kernel's
    two stages directly on the same corpus: ``tokenize.tokenize_tf_batch``
    and ``codec.encode_many``.  The build runs them inside Spark's Python
    workers, where the benchmark's wrappers cannot reach."""
    import numpy as np
    import pandas as pd

    from ftidx.codec import encode_many
    from ftidx.tokenize import tokenize_tf_batch

    live = pd.DataFrame([r for r in rows if not r["deleted"]])
    live.insert(0, "doc_id", np.arange(len(live), dtype=np.int64))
    cols = ["doc_id", "content", "lang", "repo", "path"]
    c0 = time.process_time()
    tf = pd.concat([tokenize_tf_batch(live.iloc[i:i + 10_000][cols])
                    for i in range(0, len(live), 10_000)], ignore_index=True)
    c1 = time.process_time()
    tf = tf.sort_values(["field", "term", "doc_id"], ignore_index=True)
    key = tf["field"] + "\x00" + tf["term"]
    starts = np.flatnonzero((key != key.shift()).to_numpy())
    ends = np.concatenate([starts[1:], [len(tf)]])
    c2 = time.process_time()
    encode_many(tf["doc_id"].to_numpy(np.uint64), tf["tf"].to_numpy(np.uint64),
                tf["dl"].to_numpy(np.uint64), starts, ends)
    c3 = time.process_time()
    kfiles = len(live) / 1000
    return (c1 - c0) * 1000 / kfiles, (c3 - c2) * 1000 / kfiles


# -- trace analysis ----------------------------------------------------------

def _category(s: dict, by_id: dict) -> str:
    """The per-layer bucket a span's self time goes to."""
    up = {a["name"] for a in ancestors(s, by_id)}
    if s["layer"] == "spark":
        if "index.topk" in up:
            return "spark.fetch"
        if "build.build_index" in up:
            if s.get("target") == "postings":
                return "build.postings_job"
            # build_index runs its explode jobs and the metrics collect
            # on a thread pool; the stats collect runs on its own thread
            if s["name"] == "spark.collect" and not s["thread"].startswith(
                    "ThreadPoolExecutor"):
                return "build.stats"
            return "build.explode_jobs"
        return "spark.other"
    if s["name"] == "build.build_index":
        return "build.driver_other"
    return s["name"]


def attribute(run: Run, n_queries: int, n_writes: int) -> None:
    """Per-layer self times over the traced pass's requests."""
    spans = list(run.tracer.spans)
    f = run.work / "spans_engine.json"
    if f.exists():
        spans += json.loads(f.read_text())
    roots = [s for s in spans if s["layer"] == "root"]
    rids = {r["rid"] for r in roots}
    spans = [s for s in spans if s["rid"] in rids]
    by_id = {s["id"]: s for s in spans}
    by_rid: dict[str, list[dict]] = {}
    for s in spans:
        by_rid.setdefault(s["rid"], []).append(s)
    cat: dict[str, float] = {}
    unattributed = 0.0
    for root in roots:
        for sid, sec in self_times(by_rid[root["rid"]], root).items():
            if sid == root["id"]:
                unattributed += sec
            else:
                c = _category(by_id[sid], by_id)
                cat[c] = cat.get(c, 0.0) + sec
    e2e = sum(r["t1"] - r["t0"] for r in roots)
    L = run.layers
    L["trace.e2e_s"] = e2e
    L["trace.unattributed_s"] = unattributed
    L["trace.unattributed_share"] = unattributed / e2e if e2e else 0.0
    for layer in ("build", "index", "wand", "spark", "maintenance", "server"):
        L[f"layer.{layer}_s"] = sum(v for c, v in cat.items()
                                    if c.split(".")[0] == layer)

    def named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    if builds := len(named("build.build_index")):
        for c in ("postings_job", "explode_jobs", "stats", "driver_other"):
            L[f"build.{c}_s"] = cat.get(f"build.{c}", 0.0) / builds
    if n_queries:
        L["spark.fetch_ms"] = cat.get("spark.fetch", 0.0) * 1000 / n_queries
        L["spark.fetch_jobs"] = sum(
            _category(s, by_id) == "spark.fetch" for s in spans) / n_queries
        for name, key in (("wand.score", "wand.score_ms"),
                          ("wand.decode", "wand.decode_ms"),
                          ("index.topk", "index.topk_self_ms")):
            L[key] = cat.get(name, 0.0) * 1000 / n_queries
    if requests := len(named("server.request")):
        L["server.self_ms"] = cat.get("server.request", 0.0) * 1000 / requests
    if n_writes:
        upserts = named("maintenance.upsert_docs")
        L["maintenance.upsert_docs_s"] = sum(
            s["t1"] - s["t0"] for s in upserts) / n_writes
        if upserts:
            L["maintenance.buckets_rebuilt_per_update"] = statistics.fmean(
                s.get("buckets_rebuilt", 0) for s in upserts)
        for name in ("refresh", "delete"):
            L[f"index.{name}_ms"] = sum(
                s["t1"] - s["t0"] for s in named(f"index.{name}")) * 1000 / n_writes


def eventlog_metrics(run: Run, wall: tuple[float, float], ops: int) -> None:
    """Executor task metrics of every Spark job submitted during the traced
    pass, from Spark's event log, per op of the workload."""
    logs = sorted((run.work / "eventlog").rglob("events_*"))
    if not logs or not ops:
        return
    stage_job: dict[int, int] = {}
    jobs = set()
    tot = dict.fromkeys(("cpu", "run", "gc", "shuffle", "spill"), 0.0)
    tasks = []
    for log in logs:
        with open(log) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if wall[0] * 1000 <= ev["Submission Time"] <= wall[1] * 1000:
                        jobs.add(ev["Job ID"])
                        for sid in ev["Stage IDs"]:
                            stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.append((ev["Stage ID"], ev["Task Metrics"]))
    for sid, m in tasks:
        if sid in stage_job:
            tot["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            tot["run"] += m.get("Executor Run Time", 0) / 1e3
            tot["gc"] += m.get("JVM GC Time", 0) / 1e3
            tot["shuffle"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            tot["spill"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
    L = run.layers
    L["spark.executor_cpu_s"] = tot["cpu"] / ops
    L["spark.executor_run_s"] = tot["run"] / ops
    L["spark.gc_s"] = tot["gc"] / ops
    L["spark.shuffle_write_bytes"] = tot["shuffle"] / ops
    L["spark.spill_bytes"] = tot["spill"] / ops
    L["spark.jobs"] = len(jobs) / ops


def overhead(run: Run, untraced: list[float], traced: list[float]) -> None:
    if untraced and traced:
        run.layers["trace.overhead_ms_per_op"] = (
            statistics.median(traced) - statistics.median(untraced)) * 1000


# -- workloads ---------------------------------------------------------------

def bulk_build(run: Run) -> None:
    """Repeated full builds over the seeded corpus (written to parquet in
    set-up), each followed by cold top-k queries on the fresh index."""
    eng = Engine(run, "bulk")
    try:
        rows = corpus_rows(run.seed, N_FILES)
        oracle = Oracle(rows)
        setup = json.loads(eng.expect("SETUP")[1])
        vocab, cold = vocab_split(oracle, rows)
        random.Random(run.seed).shuffle(cold)
        eng.send([vocab, cold])
        passes = [json.loads(eng.expect("PASS")[1]) for _ in range(1 + run.trace)]
        record_rss(run, eng.proc.pid)
    finally:
        eng.stop()
    run.timing("setup_s", setup["setup_s"], 1)
    run.layers["session.start_s"] = setup["session_s"]
    p0 = passes[0]
    build_s = [b["s"] for b in p0["builds"]]
    last = Path(p0["builds"][-1]["index"])
    run.build_metrics(last, rows, build_s)
    run.timing("write_p50_s", statistics.median(build_s), len(build_s))
    lats = [q["s"] for q in p0["queries"]]
    run.query_metrics(lats, sum(lats))
    # build ids are a pure function of the corpus: one binding serves all
    run.check(oracle.bind(read_doc_ids(last)) == 0)
    # ops are the checked answers: each build's sha invariant and the pages
    # the engine kept (every cold query, every HOT_CHECK_EVERY-th warm one)
    for p in passes:
        for b in p["builds"]:
            run.check(sha_invariant_failures(Path(b["index"]), rows) == 0)
        for q in p["queries"]:
            if q["hits"] is not None:
                got = [(int(d), float(s)) for d, s in q["hits"]]
                run.check(same_page(got, oracle.page(q["q"])))
    if run.trace:
        p1 = passes[1]
        attribute(run, len(p1["queries"]), 0)
        eventlog_metrics(run, p1["wall"], len(p1["builds"]))
        for c in ("term", "result"):
            h, m = p1["cache"][c]
            run.layers[f"index.{c}_cache_hit_ratio"] = h / (h + m) if h + m else 0.0
        (run.layers["tokenize.cpu_ms_per_kfile"],
         run.layers["codec.encode_cpu_ms_per_kfile"]) = kernel_cpu(rows)
        overhead(run, lats, [q["s"] for q in p1["queries"]])


class Server:
    """The ``serve`` engine: set-up timing, the oracle and the warmed query
    vocabulary."""

    def __init__(self, run: Run) -> None:
        self.run = run
        t0 = time.monotonic()
        self.eng = Engine(run, "serve")
        self.rows = corpus_rows(run.seed, N_FILES)
        self.oracle = Oracle(self.rows)
        self.build = json.loads(self.eng.expect("BUILD")[1])
        self.index = run.work / "index"
        run.check(self.oracle.bind(read_doc_ids(self.index)) == 0)
        t_up, line = self.eng.expect("ftidx serving")
        self.http = Client(int(re.search(r":(\d+) ", line).group(1)))
        self.vocab, _ = vocab_split(self.oracle, self.rows)
        # load the query vocabulary into the term cache
        w0 = time.monotonic()
        for i in range(0, len(self.vocab), 40):
            self.http.call("GET", "/search?q=" + "+".join(
                quote_plus(t) for t in self.vocab[i:i + 40]))
        run.timing("setup_s", t_up - t0 + time.monotonic() - w0, 1)
        run.build_metrics(self.index, self.rows, [self.build["build_s"]])
        run.layers["session.start_s"] = self.build["session_s"]

    def probe(self, deck_seed: int) -> list[float]:
        deck = QueryDeck(self.run.seed * 100 + deck_seed, self.vocab)
        lats = []
        for _ in range(PROBE_READS):
            t = time.monotonic()
            self.http.page(deck.next())
            lats.append(time.monotonic() - t)
        return lats

    def cache_counts(self) -> dict:
        m = self.http.call("GET", "/metrics")
        return {c: (m[f"{c}_cache"]["hits"], m[f"{c}_cache"]["misses"])
                for c in ("term", "result")}

    def query(self, q: dict, rid: str, due: float):
        """One /search, timed from its due time; returns (latency s,
        lateness s, hits), hits None on error."""
        with self.run.tracer.span("bench.request", "root", rid=rid):
            sent = time.monotonic()
            try:
                hits = self.http.page(q, rid=rid)
            except (OSError, RuntimeError, ValueError):
                hits = None
            return time.monotonic() - due, sent - due, hits


class Writer:
    """mixed_rw's writer: two /update calls in a seeded order: an add
    carrying a replacement of an existing doc and a new doc, both with a
    fresh marker term, and a delete by id of another existing doc, the id
    resolved just before sending (bucket rebuilds re-rank ids).  After each
    write it checks that every earlier write is still visible, or still
    deleted."""

    def __init__(self, srv: Server) -> None:
        self.srv = srv
        self.rng = random.Random(srv.run.seed * 13 + 5)
        self.by_key = {(r["repo"], r["path"]): r for r in srv.rows}
        self.added: list[dict] = []
        self.deleted: set[tuple[str, str]] = set()
        self.expect: list[tuple[str, tuple[str, str], bool]] = []
        live = [k for k, r in self.by_key.items() if not r["deleted"]]
        self.rng.shuffle(live)
        self.replace_keys = live
        # delete targets carry a corpus-unique term to find them by
        self.delete_keys = [k for k in live if MARKER.search(self.by_key[k]["content"])]
        self.picked: set[tuple[str, str]] = set()
        self.new_rows = iter(corpus_rows(srv.run.seed + 500, 64))
        self.n = 0

    def _pick(self, pool: list) -> tuple[str, str]:
        """The next key of ``pool`` that no write names yet (both pools
        are orders of the same live docs)."""
        while (k := pool.pop()) in self.picked:
            pass
        self.picked.add(k)
        return k

    def _fresh(self, row: dict) -> tuple[dict, str]:
        self.n += 1
        marker = f"benchw{self.srv.run.seed}x{self.n}"
        return {**row, "deleted": False, "content": row["content"] + "\n" + marker,
                "commit": hashlib.sha1(marker.encode()).hexdigest()}, marker

    def writes(self, rid: str) -> list:
        """The writes; each entry is (send-to-visible s, bytes
        written, doc bytes, checks passed), or None for a write that
        failed or never became visible."""
        replaced = self.by_key[self._pick(self.replace_keys)]
        docs = [self._fresh(replaced), self._fresh(next(self.new_rows))]
        gone = self._pick(self.delete_keys)
        ops = [("add", docs), ("delete", gone)]
        self.rng.shuffle(ops)
        return [self._write(op, arg, f"{rid}{op}") for op, arg in ops]

    def _write(self, op: str, arg, rid: str):
        http = self.srv.http
        if op == "add":
            body = {"add": [{**d, "modified": d["modified"].isoformat()} for d, _ in arg]}
            wants = [(m, (d["repo"], d["path"]), True) for d, m in arg]
            doc_bytes = sum(len(d["content"].encode()) for d, _ in arg)
        else:
            marker = MARKER.search(self.by_key[arg]["content"]).group(0)
            wants = [(marker, arg, False)]
            doc_bytes = len(self.by_key[arg]["content"].encode())
        wall0 = time.time()
        with self.srv.run.tracer.span("bench.write", "root", rid=rid):
            t0 = time.monotonic()
            try:
                if op == "delete":
                    body = {"delete": {"ids": [http.keys(marker, rid=rid)[arg]]}}
                http.call("POST", "/update", body, rid=rid)
                for m, key, present in wants:
                    while (key in http.keys(m, rid=rid)) != present:
                        if time.monotonic() - t0 > 120:
                            return None
                        time.sleep(0.02)
            except (OSError, RuntimeError, ValueError, KeyError):
                return None
            latency = time.monotonic() - t0
        written = sum(f.stat().st_size for f in self.srv.index.rglob("*")
                      if f.is_file() and f.stat().st_mtime >= wall0)
        if op == "add":
            self.added += [d for d, _ in arg]
        else:
            self.deleted.add(arg)
        self.expect += wants
        ok = all((k in http.keys(m)) == present for m, k, present in self.expect)
        return latency, written, doc_bytes, ok


def mixed_rw(run: Run) -> None:
    """Open-loop /search at a fixed rate, each read timed from its due
    time, while the writer's /update calls hold the server's exclusive
    lock.  The index is built with store_content=True, which /update adds
    need; its query vocabulary is loaded into the term cache in set-up.  A
    traced run first times warm /search calls with server tracing off and
    then on: the first median is the HTTP read path with no write in
    flight, the difference of the two the tracing overhead."""
    srv = Server(run)
    writer = Writer(srv)
    deck = QueryDeck(run.seed * 100, srv.vocab)
    lock = threading.Lock()
    reads: list[tuple[float, float, float]] = []  # (latency, lateness, done)
    writes: list = []
    try:
        if run.trace:
            untraced = srv.probe(7)
            run.layers["server.read_p50_ms"] = statistics.median(untraced) * 1000
            srv.eng.proc.send_signal(signal.SIGUSR1)
            time.sleep(1.0)  # the server's main thread polls every 0.5 s
            overhead(run, untraced, srv.probe(8))
            before = srv.cache_counts()
            run.tracer.enabled = True
            wall0 = time.time()
        start = time.monotonic()
        deadline = start + run.seconds
        due_n = itertools.count()

        def reader() -> None:
            for i in due_n:
                due = start + i / MIXED_QPS
                if due >= deadline:
                    return
                time.sleep(max(0.0, due - time.monotonic()))
                with lock:
                    q = deck.next()
                dt, late, hits = srv.query(q, f"q{i}", due)
                with lock:
                    if hits is None:
                        run.check(False)
                    else:
                        reads.append((dt, late, due + dt))

        def write() -> None:
            time.sleep(max(0.0, start + WRITES_START_S - time.monotonic()))
            for w in writer.writes("w"):
                with lock:
                    run.check(w is not None and w[3])
                    if w is not None:
                        writes.append(w)

        threads = [threading.Thread(target=reader) for _ in range(max(1, run.cores - 1))]
        threads.append(threading.Thread(target=write))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if run.trace:
            wall = (wall0, time.time())
            run.tracer.enabled = False
            after = srv.cache_counts()
            for c in ("term", "result"):
                h, m = (after[c][i] - before[c][i] for i in (0, 1))
                run.layers[f"index.{c}_cache_hit_ratio"] = h / (h + m) if h + m else 0.0
        record_rss(run, srv.eng.proc.pid)
        # pages against an oracle over the rows the writes left behind
        oracle = srv.oracle
        oracle.update(writer.added)
        run.check(oracle.bind(read_doc_ids(srv.index), writer.deleted) == 0)
        final = QueryDeck(run.seed * 100 + 99, srv.vocab)
        for i in range(FINAL_PAGES):
            q = final.next()
            hits = srv.query(q, f"final{i}", time.monotonic())[2]
            run.check(hits is not None and same_page(hits, oracle.page(q)))
    finally:
        srv.eng.stop()
    run.query_metrics([r[0] for r in reads], max(r[2] for r in reads) - start)
    run.timing("write_p50_s", statistics.median(w[0] for w in writes or [(0.0,)]),
               len(writes))
    if run.trace:
        if writes:
            run.layers["maintenance.write_bytes_per_doc_byte"] = (
                sum(w[1] for w in writes) / sum(w[2] for w in writes))
        run.layers["gen.lateness_p99_ms"] = pctl([r[1] for r in reads], 99) * 1000
        attribute(run, len(reads), len(writes))
        eventlog_metrics(run, wall, len(writes))
        (run.layers["tokenize.cpu_ms_per_kfile"],
         run.layers["codec.encode_cpu_ms_per_kfile"]) = kernel_cpu(srv.rows)


WORKLOADS = {"bulk_build": bulk_build, "mixed_rw": mixed_rw}


# -- environment and output ---------------------------------------------------

def _cpu_counters() -> list[int]:
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def env_record(cpu0: list[int]) -> dict:
    import pyarrow
    import pyspark

    d = [b - a for a, b in zip(cpu0, _cpu_counters())]
    commit = None
    if (ROOT / ".git").exists():
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True).stdout.strip()
    src = hashlib.sha256()
    for f in sorted((ROOT / "ftidx").glob("*.py")):
        src.update(f.read_bytes())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "steal_pct": 100.0 * d[7] / max(sum(d[:8]), 1),
        "loadavg": Path("/proc/loadavg").read_text().split()[:3],
        "git_commit": commit, "ftidx_sha256": src.hexdigest(),
        "python": sys.version.split()[0], "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def run_all(args) -> None:
    """Every workload, one subprocess each; one table of every metric."""
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=True).stdout
        lines = out.strip().splitlines()
        table = json.loads(next(ln for ln in lines if ln.startswith("METRICS "))[8:])
        result = json.loads(lines[-1])
        print(f"== {name}: correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}")
        for metric, m in table.items():
            print(f"  {metric:36s} {m['value']:>16.6g} {m['unit']:8s} "
                  f"n={m['samples']}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the engine
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        run_all(args)
        return
    cpu0 = _cpu_counters()
    run = Run(args)
    try:
        WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            run.work.parent.rmdir()
        except OSError:
            pass
    run.e2e["ok_op_ratio"] = 1 - run.failed / max(run.attempted, 1)
    print("ENV " + json.dumps(env_record(cpu0)))
    chosen = PER_LAYER if run.trace else END_TO_END
    values = run.layers if run.trace else run.e2e
    print("METRICS " + json.dumps({
        k: {"value": values[k], "unit": u,
            "samples": run.samples.get(k, 1) if not run.trace else 1}
        for k, u in chosen.items()}))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in chosen.items()},
    }))


if __name__ == "__main__":
    main()
