"""Seeded inputs and the correctness oracle.

The seed picks the corpus's row offset into ``ftidx.synth.gen_row`` and
seeds every deck (queries, repeats, writes).  The engine only ever sees the
generated rows and requests.
"""

from __future__ import annotations

import hashlib
import math
import random
from collections import Counter
from pathlib import Path
from urllib.parse import quote_plus

import pandas as pd
import pyarrow.parquet as pq

from ftidx.oracle import OracleIndex
from ftidx.synth import gen_row
from ftidx.tokenize import tokenize_doc

FIELD = "code.content"


def corpus_rows(seed: int, n_files: int) -> list[dict]:
    off = 1_000_000 * (seed % 1000)
    return [gen_row(off + j) for j in range(n_files)]


def source_frame(rows: list[dict]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows)
    pdf["modified"] = pd.to_datetime(pdf["modified"])
    return pdf


def source_bytes(rows) -> int:
    return sum(len((r["content"] or "").encode()) for r in rows)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def read_doc_ids(index: Path) -> dict[tuple[str, str], int]:
    """(repo, path) -> engine doc id, straight from the docs table."""
    t = pq.read_table(index / "docs", columns=["doc_id", "repo", "path"])
    return {(r, p): int(d) for d, r, p in zip(
        t["doc_id"].to_pylist(), t["repo"].to_pylist(), t["path"].to_pylist())}


def sha_invariant_failures(index: Path, rows: list[dict]) -> int:
    """Rows whose content_sha256 in the docs table differs from the
    source row's (the per-row invariant of the build)."""
    t = pq.read_table(index / "docs", columns=["repo", "path", "content_sha256"])
    got = dict(zip(zip(t["repo"].to_pylist(), t["path"].to_pylist()),
                   t["content_sha256"].to_pylist()))
    bad = 0
    for r in rows:
        want = (None if r["content"] is None
                else hashlib.sha256(r["content"].encode()).hexdigest())
        bad += got.get((r["repo"], r["path"]), "missing") != want
    return bad + abs(len(got) - len(rows))


class Oracle:
    """``ftidx.oracle.OracleIndex`` over the rows the engine indexed.

    ``bind`` keys it by the engine's doc ids, mapped through (repo, path)
    from the index's docs table.  Docs deleted by id stay in the collection
    statistics, as they do in the engine until compaction, and are dropped
    from pages."""

    def __init__(self, rows: list[dict]) -> None:
        self.docs: dict[tuple[str, str], dict] = {}
        self.df: Counter = Counter()
        self.update(rows)

    def update(self, rows: list[dict]) -> None:
        """Add or replace rows (by (repo, path))."""
        for r in rows:
            key = (r["repo"], r["path"])
            old = self.docs.pop(key, None)
            if old is not None:
                self.df.subtract(set(old.get(FIELD, ())))
            if not r["deleted"] and r["content"] is not None:
                self.docs[key] = tokenize_doc(r["content"], r["lang"], *key)
                self.df.update(set(self.docs[key].get(FIELD, ())))

    def bind(self, ids: dict, deleted=()) -> int:
        """Key by engine doc ids; returns the live rows the docs table lacks."""
        self.idx = OracleIndex()
        for key, fields in self.docs.items():
            if key in ids:
                self.idx.add(ids[key], fields)
        self.hidden = {ids[k] for k in deleted if k in ids}
        return sum(k not in ids for k in self.docs)

    def page(self, q: dict) -> list[tuple[int, float]]:
        post = self.idx.postings.get(FIELD, {})
        scores = self.idx.bm25_scores(q["terms"], FIELD)
        if q["mode"] == "and":
            need = [set(post.get(t, {})) for t in q["terms"]]
            scores = {d: s for d, s in scores.items() if all(d in n for n in need)}
        for t in q["exclude"]:
            for d in post.get(t, {}):
                scores.pop(d, None)
        for d in self.hidden:
            scores.pop(d, None)
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:q["k"]]

    def vocab(self, min_df: int) -> list[str]:
        return sorted(t for t, n in self.df.items() if n >= min_df)

    def rare(self, max_df: int) -> list[str]:
        return sorted(t for t, n in self.df.items() if n <= max_df)


def same_page(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return (len(got) == len(want)
            and all(g[0] == w[0] and math.isclose(g[1], w[1], rel_tol=1e-9)
                    for g, w in zip(got, want)))


def query_url(q: dict) -> str:
    terms = "+".join(quote_plus(t) for t in q["terms"] + [f"-{t}" for t in q["exclude"]])
    return f"/search?q={terms}&k={q['k']}&mode={q['mode']}"


# query shapes (terms, mode, excluded terms, k) in fixed proportions: 1-4
# terms; per term count, "and" in one slot of four (for 2+ terms) and an
# excluded term in another; k in {10, 20, 50}.  A deck deals them in a
# seeded order, so decks of whole cycles have the same mix and differ only
# in their terms.
SHAPES = [(n, "and" if mode == "and" and n > 1 else "or", x, k)
          for n in (1, 2, 3, 4)
          for mode, x in (("or", 0), ("or", 0), ("and", 0), ("or", 1))
          for k in (10, 20, 50)]
# every fifth query repeats an earlier one exactly: a fixed share, so the
# result-cache hit ratio does not drift with run length
REPEAT_EVERY = 5


class QueryDeck:
    """Queries over ``vocab`` in the shapes above, with exact repeats.
    ``fresh``, when given, puts in each query one term no earlier query
    named (cold queries; no repeats while it lasts)."""

    def __init__(self, seed: int, vocab: list[str], fresh: list[str] | None = None):
        self.rng = random.Random(seed)
        self.vocab = vocab
        self.fresh = list(fresh or [])
        self.rng.shuffle(self.fresh)
        self.shapes: list[tuple] = []
        self.history: list[dict] = []
        self.n = 0

    def next(self) -> dict:
        rng = self.rng
        self.n += 1
        if self.history and not self.fresh and self.n % REPEAT_EVERY == 0:
            return rng.choice(self.history)
        if not self.shapes:
            self.shapes = rng.sample(SHAPES, len(SHAPES))
        n, mode, x, k = self.shapes.pop()
        terms = rng.sample(self.vocab, n + x)
        if self.fresh:
            terms[0] = self.fresh.pop()
        q = {"terms": terms[:n], "mode": mode, "exclude": terms[n:], "k": k}
        self.history.append(q)
        return q
