"""Seeded inputs and the result check.

Everything here is a pure function of the workload seed: the seed picks the
doc-index window fed to ``sources.synthetic.synth_corpus_pdf`` (so each seed
indexes a different corpus) and the query sample.  The corpus is generated
once, in this process, and feeds both the index build (as parquet files) and
the oracle, ``tests/oracle.py``'s ``OracleIndex``.  Both happen before the
Spark session starts, outside every timed region.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

KEY = ("repo", "path", "commit")
#: relative score tolerance of the result check (the repo's tests use the same)
REL_TOL = 1e-9


def corpus_windows(seed: int, n_base: int, n_delta: int) -> tuple[range, range]:
    """Doc-index windows of the base corpus and the refresh delta.

    The windows are adjacent, so base and delta are one logical corpus of
    ``n_base + n_delta`` files whose paths (which embed the doc index) never
    collide."""
    h = int.from_bytes(hashlib.sha256(f"perfbench:{seed}".encode()).digest()[:8], "big")
    start = (h % 100_000) * 1_000_000
    return (range(start, start + n_base),
            range(start + n_base, start + n_base + n_delta))


def write_corpus(window: range, n_files: int, out_dir: str, n_parts: int):
    """Generate ``window`` of the ``n_files`` synthetic corpus and write it
    as ``n_parts`` parquet files (one scan split each); returns the rows."""
    import numpy as np
    from snowball_java_spark.sources.synthetic import synth_corpus_pdf

    pdf = synth_corpus_pdf(window.start, window.stop, n_files)
    os.makedirs(out_dir)
    for i, part in enumerate(np.array_split(pdf, n_parts)):
        part.to_parquet(os.path.join(out_dir, f"part-{i:05d}.parquet"), index=False)
    return pdf


class Oracle:
    """``OracleIndex`` over one or more index generations, with docs numbered
    in the engine's doc-id order (each generation sorted by its natural key),
    so both break score ties the same way."""

    def __init__(self, generations):
        """``generations``: the generated rows of each index generation."""
        from oracle import OracleIndex

        docs = []
        for pdf in generations:
            docs += sorted(zip(zip(*(pdf[c] for c in KEY)), pdf["content"]))
        self.keys = [k for k, _ in docs]
        self.index = OracleIndex([(i, text) for i, (_, text) in enumerate(docs)])

    def expected(self, q: dict, k: int) -> list[tuple[tuple, float]]:
        """(key, score) of the top ``k`` under the query's semantics."""
        if q.get("mode") == "and":
            top = self.index.conjunctive_topk(q["terms"], k)
        elif q.get("min_should_match"):
            top = self.index.msm_topk(q["terms"], q["min_should_match"], k)
        else:
            top = self.index.topk(q["terms"], k)
        return [(self.keys[d], s) for d, s in top]

    def check(self, q: dict, got: list[tuple[tuple, float]]) -> bool:
        """True when ``got`` (key, score) in rank order is the query's top-k.

        Scores must agree to ``REL_TOL`` at every rank.  A doc may differ from
        the oracle's at the same rank only inside a run of tied scores,
        including a tie cut by k."""
        k = q["k"]
        want = self.expected(q, k)
        if len(got) != len(want):
            return False
        wider = None
        for (gkey, gs), (wkey, ws) in zip(got, want):
            if not math.isclose(gs, ws, rel_tol=REL_TOL):
                return False
            if gkey != wkey:
                wider = wider or self.expected(q, k + 64)
                if not any(key == gkey and math.isclose(s, ws, rel_tol=REL_TOL)
                           for key, s in wider):
                    return False
        return True


class QueryDraw:
    """Seeded query sampler over df bands of the indexed corpus.

    Bands come from the oracle's document frequencies (identical to the
    index's ``term_stats``): hot = the 30 highest-df terms, mid = df ranks
    100–1099, rare = terms in at most 3 docs.  Shapes rotate through OR,
    OR with a rare term, ``min_should_match=2`` and AND, as the repo's
    query-scaling bench does."""

    def __init__(self, oracle: Oracle, seed: int, k: int = 10):
        df = oracle.index.df
        vocab = sorted(df, key=lambda t: (-df[t], t))
        self.hot, self.mid = vocab[:30], vocab[100:1100]
        self.rare = [t for t in vocab if df[t] <= 3]
        self.rng = random.Random(seed)
        self.k = k
        self.n = 0

    def draw(self) -> dict:
        r, shape = self.rng, self.n % 4
        hot, mid, rare = (r.choice(self.hot), r.choice(self.mid),
                          r.choice(self.rare))
        if shape == 0:
            q = {"terms": [hot, mid]}
        elif shape == 1:
            q = {"terms": [mid, rare]}
        elif shape == 2:
            q = {"terms": [hot, mid, rare], "min_should_match": 2}
        else:
            q = {"terms": [hot, mid], "mode": "and"}
        q.update(query_id=self.n, k=self.k)
        self.n += 1
        return q

    def batch(self, size: int) -> list[dict]:
        return [self.draw() for _ in range(size)]
