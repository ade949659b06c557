"""The engine process: everything that runs Spark lives here.

``run.py`` (the load generator and checker) starts one of these per run,
so the engine's memory and the client's GIL stay apart.

- ``serve``: build the seeded corpus's index with ``ftidx.index.build_index``
  (``store_content=True``, which ``/update`` adds need), then hand over to
  ``ftidx.server.main`` — the entry point behind ``python -m ftidx.server
  <index> --cores N`` — in the same process, so the build and the server
  share one JVM start.  Prints ``BUILD {json}`` once
  the index is written; the server then prints its ``serving ... on
  http://host:port`` line.  SIGUSR1 turns span recording on; SIGINT stops.
- ``bulk``: write the corpus to parquet and make a small warm-up build
  (set-up), then per pass: rounds of one ``build_index`` call followed by
  ``FtIndex.topk`` queries on the fresh index, cold ones first.  Prints
  ``SETUP`` and ``PASS`` lines, then waits for stdin to close.

With ``--trace 1`` the span wrappers are installed and Spark's event log is
written to ``<work>/eventlog``; spans go to ``<work>/spans_engine.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import ftidx.index as fi  # noqa: E402
from corpus import QueryDeck, corpus_rows, source_frame  # noqa: E402
from ftidx.schema import SOURCE_SCHEMA  # noqa: E402
from ftidx.session import get_spark  # noqa: E402
from spans import Tracer, install, install_server  # noqa: E402

# queries after each timed build: cold ones, each naming a term no earlier
# query named, then warm ones once the query vocabulary is loaded.  Cold
# queries are 2% of the stream, so its p99 falls among them, near their
# median: with 12 cold queries it moved 25% from run to run.  1200 warm
# ones are twenty whole cycles of the deck's shapes.
COLD_PER_ROUND = 24
HOT_PER_ROUND = 1200
HOT_CHECK_EVERY = 20
WARMUP_FILES = 500


def emit(tag: str, payload: dict) -> None:
    print(f"{tag} {json.dumps(payload)}", flush=True)


def start_spark(args, tracer: Tracer):
    # the JVM's temp files and perf data go under the run's directory too
    extra = {"spark.driver.extraJavaOptions":
             f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"}
    if args.trace:
        install(tracer)
        (Path(args.work) / "eventlog").mkdir(parents=True, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": str(Path(args.work) / "eventlog")})
    t0 = time.monotonic()
    spark = get_spark(cores=args.cores, app_name=f"perfbench-{args.mode}",
                      extra_conf=extra)
    return spark, time.monotonic() - t0


def serve(args, tracer: Tracer) -> None:
    import ftidx.server

    # SIGINT stops the server (ftidx.server.main ends on KeyboardInterrupt),
    # also when this process was started with SIGINT ignored
    signal.signal(signal.SIGINT, signal.default_int_handler)
    # stdin is a pipe from the benchmark: when it closes, the benchmark is
    # gone, and so should this process group be
    threading.Thread(target=lambda: (sys.stdin.read(),
                                     os.killpg(os.getpgrp(), signal.SIGKILL)),
                     daemon=True).start()
    if args.trace:
        install_server(tracer)
        signal.signal(signal.SIGUSR1,
                      lambda *_: setattr(tracer, "enabled", True))
    spark, session_s = start_spark(args, tracer)
    rows = corpus_rows(args.seed, args.files)
    src = spark.createDataFrame(source_frame(rows), SOURCE_SCHEMA)
    index = Path(args.work) / "index"
    t0 = time.monotonic()
    fi.build_index(spark, src, str(index), store_content=True)
    emit("BUILD", {"session_s": session_s, "build_s": time.monotonic() - t0})
    sys.argv = ["ftidx.server", str(index), "--port", "0",
                "--cores", str(args.cores)]
    ftidx.server.main()


def bulk(args, tracer: Tracer) -> None:
    work = Path(args.work)
    t0 = time.monotonic()
    spark, session_s = start_spark(args, tracer)
    rows = corpus_rows(args.seed, args.files)
    spark.createDataFrame(source_frame(rows), SOURCE_SCHEMA) \
        .write.parquet(str(work / "src"))
    src = spark.read.parquet(str(work / "src"))
    # a small build first: the first build in a fresh JVM pays Python-worker
    # start, class loading and JIT, which the timed builds should not.  A
    # full-corpus warm-up cost more set-up and left the timed build no
    # faster; without one the timed build took twice as long.
    fi.build_index(spark, spark.createDataFrame(
        source_frame(rows[:WARMUP_FILES]), SOURCE_SCHEMA), str(work / "warm"))
    emit("SETUP", {"session_s": session_s, "setup_s": time.monotonic() - t0})
    vocab, fresh = json.loads(sys.stdin.readline())
    n_builds = 0
    for p in range(1 + args.trace):
        tracer.enabled = p == 1
        if tracer.enabled:
            wall0 = time.time()
        builds, queries, cache = [], [], {"term": [0, 0], "result": [0, 0]}
        # start no build-and-query round that would end past the window
        deadline = time.monotonic() + args.seconds
        last = 0.0
        while not builds or time.monotonic() + last <= deadline:
            t_round = time.monotonic()
            out = work / f"b{n_builds}"
            rid = f"b{n_builds}"
            spark.sparkContext.setJobDescription(f"build {rid}")
            with tracer.span("bench.build", "root", rid=rid):
                t = time.monotonic()
                fi.build_index(spark, src, str(out))
                builds.append({"s": time.monotonic() - t, "index": str(out)})
            idx = fi.open_index(spark, str(out))

            def query(q: dict, qrid: str, keep: bool) -> None:
                with tracer.span("bench.query", "root", rid=qrid):
                    t = time.monotonic()
                    hits = idx.topk(q["terms"], k=q["k"], mode=q["mode"],
                                    exclude=q["exclude"] or None)
                    queries.append({"s": time.monotonic() - t, "q": q,
                                    "hits": hits if keep else None})

            spark.sparkContext.setJobDescription(f"cold queries {rid}")
            cold = QueryDeck(args.seed * 1000 + n_builds, vocab, fresh)
            for j in range(COLD_PER_ROUND):
                query(cold.next(), f"{rid}c{j}", True)
            # load the query vocabulary, then the warm stream
            spark.sparkContext.setJobDescription(f"vocabulary {rid}")
            for i in range(0, len(vocab), 40):
                idx.topk(vocab[i:i + 40])
            hot = QueryDeck(args.seed * 1000 + n_builds + 500, vocab)
            for j in range(HOT_PER_ROUND):
                query(hot.next(), f"{rid}h{j}", j % HOT_CHECK_EVERY == 0)
            if tracer.enabled:
                m = idx.metrics()
                for c in ("term", "result"):
                    cache[c][0] += m[f"{c}_cache"]["hits"]
                    cache[c][1] += m[f"{c}_cache"]["misses"]
            n_builds += 1
            last = time.monotonic() - t_round
        spark.sparkContext.setJobDescription(None)
        emit("PASS", {"traced": tracer.enabled, "builds": builds,
                      "queries": queries, "cache": cache,
                      "wall": [wall0, time.time()] if tracer.enabled else None})
    tracer.enabled = False
    sys.stdin.read()  # the client reads our peak RSS before letting go
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("serve", "bulk"))
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    tracer = Tracer("engine")
    try:
        (serve if args.mode == "serve" else bulk)(args, tracer)
    finally:
        if args.trace:
            tracer.dump(Path(args.work) / "spans_engine.json")


if __name__ == "__main__":
    main()
