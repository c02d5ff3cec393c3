"""Seeded inputs: the corpus and the query stream.

The engine only ever sees what these functions generate. The corpus comes
from the engine's own ``generate_corpus`` (Zipf vocabulary with the 33
stopwords, log-normal lengths); the queries are drawn from that corpus with a
``numpy`` generator seeded from the run's seed.
"""

from __future__ import annotations

import functools
import itertools
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from lucene_7_x_9_x_spark.analysis.tokenizer import STANDARD
from lucene_7_x_9_x_spark.corpus import generate_corpus
from lucene_7_x_9_x_spark.search import query as Q

BOOLEAN_SHAPES = ("term", "or2", "or4", "and2", "dismax", "msm", "prefix")
POSITIONAL_SHAPES = ("phrase", "sloppy2", "sloppy3", "span_near")
ALL_SHAPES = BOOLEAN_SHAPES + POSITIONAL_SHAPES


@dataclass
class Corpus:
    path: str                       # parquet directory of (key, text)
    docs: pd.DataFrame              # the same rows, driver-side
    tokens: dict = field(repr=False)  # key -> analyzed [(term, position)]

    @property
    def text_bytes(self) -> int:
        return int(self.docs["text"].str.len().sum())

    @functools.cached_property
    def df(self) -> Counter:
        """Document frequency of every analyzed term."""
        df = Counter()
        for toks in self.tokens.values():
            df.update({t for t, _ in toks})
        return df


def make_corpus(spark, path: str, n_docs: int, seed: int,
                partitions: int) -> Corpus:
    """Generate ``n_docs`` seeded docs, write them as parquet, read back."""
    (generate_corpus(spark, n_docs, seed=seed, num_partitions=partitions)
     .selectExpr("url AS key", "text").write.parquet(path))
    docs = pq.read_table(path).to_pandas()
    tokens = {k: STANDARD.tokenize(t) for k, t in zip(docs["key"],
                                                       docs["text"])}
    return Corpus(path, docs, tokens)


@dataclass
class BenchQuery:
    shape: str
    query: Q.Query
    terms: tuple                     # the terms whose stats the query needs
    # (mode, terms, slop) of a query checked by its match set, see
    # checks.match_set; None for queries the oracle scores
    matcher: tuple | None = None

    @property
    def kind(self) -> str:
        return "boolean" if self.shape in BOOLEAN_SHAPES else "positional"


class QueryMaker:
    """Draws queries of each shape from a corpus.

    Boolean terms come from the head (top 1% by document frequency), middle
    (next 9%) and tail (the rest seen in at least two docs) of the corpus
    vocabulary. Positional queries take a window of consecutive tokens from a
    random doc, so each one matches at least that doc."""

    def __init__(self, corpus: Corpus, rng: np.random.Generator):
        self.rng = rng
        ranked = [t for t, n in sorted(corpus.df.items(),
                                       key=lambda x: (-x[1], x[0]))
                  if n >= 2 and t.isalnum()]
        h = max(4, len(ranked) // 100)
        m = max(h + 8, len(ranked) // 10)
        self.buckets = {"head": ranked[:h], "mid": ranked[h:m],
                        "tail": ranked[m:]}
        self.windows = [[t for t, _ in toks] for toks in corpus.tokens.values()
                        if len(toks) >= 8]

    def _term(self, bucket: str, fresh: bool, seen: set) -> str:
        pool = self.buckets[bucket]
        for _ in range(64):
            t = pool[int(self.rng.integers(len(pool)))]
            if not fresh or t not in seen:
                return t
        # a bucket whose terms were all seen falls back to the tail
        unseen = [t for t in self.buckets["tail"] if t not in seen]
        return unseen[int(self.rng.integers(len(unseen)))]

    def _window(self, offsets: tuple, seen: set) -> list:
        for _ in range(256):
            w = self.windows[int(self.rng.integers(len(self.windows)))]
            i = int(self.rng.integers(len(w) - max(offsets)))
            terms = [w[i + o] for o in offsets]
            if len(set(terms)) == len(terms) and all(
                    t.isalnum() for t in terms) and any(
                    t not in seen for t in terms):
                return terms
        raise RuntimeError("no window with unseen terms left")

    def make(self, shape: str, seen: set) -> BenchQuery:
        """A query of ``shape`` with at least one term not in ``seen``."""
        T = Q.TermQuery
        if shape in BOOLEAN_SHAPES and shape != "prefix":
            plan = {"term": ("mid",), "or2": ("head", "mid"),
                    "or4": ("head", "mid", "mid", "tail"),
                    "and2": ("head", "mid"), "dismax": ("mid", "tail"),
                    "msm": ("head", "mid", "tail")}[shape]
            terms = []
            for j, b in enumerate(plan):
                t = self._term(b, j == len(plan) - 1, seen | set(terms))
                if t in terms:
                    t = self._term("tail", True, seen | set(terms))
                terms.append(t)
            tq = tuple(T(t) for t in terms)
            q = {"term": lambda: tq[0],
                 "or2": lambda: Q.BooleanQuery(should=tq),
                 "or4": lambda: Q.BooleanQuery(should=tq),
                 "and2": lambda: Q.BooleanQuery(must=tq),
                 "dismax": lambda: Q.DisjunctionMaxQuery(tq, tie_breaker=0.3),
                 "msm": lambda: Q.BooleanQuery(should=tq,
                                               minimum_should_match=2),
                 }[shape]()
            return BenchQuery(shape, q, tuple(terms))
        if shape == "prefix":
            t = self._term("mid", True, seen)
            p = t[:3]
            return BenchQuery(shape, Q.PrefixQuery(p), ("prefix:" + p,))
        if shape == "phrase":
            a, b = self._window((0, 1), seen)
            return BenchQuery(shape, Q.PhraseQuery((a, b)), (a, b))
        if shape == "sloppy2":
            a, b = self._window((0, 2), seen)
            return BenchQuery(shape, Q.PhraseQuery((a, b), slop=2), (a, b))
        if shape == "sloppy3":
            a, b, c = self._window((0, 1, 3), seen)
            return BenchQuery(shape, Q.PhraseQuery((a, b, c), slop=2),
                              (a, b, c), matcher=("sloppy", (a, b, c), 2))
        if shape == "span_near":
            a, b = self._window((0, 2), seen)
            q = Q.SpanNearQuery((Q.SpanTermQuery(a), Q.SpanTermQuery(b)),
                                slop=1, in_order=True)
            return BenchQuery(shape, q, (a, b),
                              matcher=("ordered", (a, b), 1))
        raise ValueError(shape)

    def stream(self, n: int, seen: set) -> list:
        """``n`` (query, first_seen) pairs, in groups of six: two boolean
        and two positional queries that each have at least one term not yet
        in ``seen``, then the first of each kind again, now with every term's
        statistics cached. So both kinds are half the stream, and within
        each kind a third of the queries repeat. The shapes of each kind
        come round in turn."""
        seen = set(seen)
        kinds = (itertools.cycle(BOOLEAN_SHAPES),
                 itertools.cycle(POSITIONAL_SHAPES))
        out: list = []
        while len(out) < n:
            fresh = []
            for _ in range(2):
                for shapes in kinds:
                    bq = self.make(next(shapes), seen)
                    seen.update(bq.terms)
                    fresh.append((bq, True))
            out += fresh + [(fresh[0][0], False), (fresh[1][0], False)]
        return out[:n]
