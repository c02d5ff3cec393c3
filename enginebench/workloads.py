"""The two workloads: set-up, the timed part, and the answer checks.

Every workload reports every end-to-end metric of ``BENCHMARK.json``. Each
metric is taken from the operations that workload performs; README.md lists,
per workload, which operations feed which metric. A single closed-loop client
(this process) sends each call after the previous one returned.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.index.catalog import IndexCatalog
from lucene_7_x_9_x_spark.index.checkindex import check_index
from lucene_7_x_9_x_spark.index.merge import TieredMergeConfig, maybe_merge
from lucene_7_x_9_x_spark.index.writer import IndexWriter
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.oracle import OracleIndex
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher

import checks
import inputs
import layers

# Corpus sizes and index shapes. They are small enough that a run, set-up
# included, takes about a minute on a 4-core host.
SEARCH_DOCS = 4000
UPDATE_DOCS = 1200
DOCS_PER_SEGMENT = 1000
UPDATE_SEGMENT_DOCS = 150
UPDATE_BATCH = 48
DELETE_BATCH = 12
# The set-up index is built this many times, each into a fresh directory;
# the build metrics and setup_s take the median. The first build is the
# session's first and runs cold.
SETUP_BUILDS = 3
# The set-up index of update_mix has 8 segments and each update wave adds
# one. This policy merges three whenever there are more than 8, so cycles
# 0, 2, 4, ... each run one merge. The timed part runs whole periods of two
# cycles, so every run merges once per two cycles.
MERGE_POLICY = TieredMergeConfig(max_merge_at_once=3, segs_per_tier=8.0)
PERIOD = 2
K = 10


class Run:
    """One benchmark run: its session, tracer, counters and results."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 cores: int):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.rng = np.random.default_rng(seed)
        self.term_shards = max(8, cores)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.setup_builds_s: list[float] = []   # wall of each set-up build rep
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.context: dict = {}
        self.timed = None            # the span around the timed part
        self.bulk = None             # the span of the set-up build_index
        self.queries: list[tuple] = []   # (kind, ms) of every query

    def op(self, ok: bool, what: str) -> None:
        """Count one checked operation; ``what`` describes a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    @contextmanager
    def timed_part(self, name: str):
        """The measured part of the run; yields its deadline. Peak RSS of
        the process tree is sampled over it. It differs by more than a tenth
        from run to run, so it is a per-layer metric, not an end-to-end one
        with a bound."""
        with self.tr.span("timed", name) as sp, checks.RssSampler() as rss:
            self.timed = sp
            yield time.perf_counter() + self.seconds
        self.tr.request = None
        self.layer["peak_rss_mb"] = rss.peak_mb

    @contextmanager
    def phase(self, name: str):
        """Record the wall seconds of a step outside the timed part."""
        t0 = time.perf_counter()
        yield
        self.context.setdefault("phases_s", {})[name] = round(
            time.perf_counter() - t0, 3)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def add_setup(self, wall_s: float) -> None:
        """Add a workload's set-up wall to ``setup_s``, counting its
        repeated builds by their median."""
        reps = self.setup_builds_s
        self.setup_s += wall_s - sum(reps) + checks.median(reps)

    def setup_index(self, n_docs: int, docs_per_segment: int):
        """The corpus and the index the workload runs on.

        The index is built SETUP_BUILDS times, each into a fresh directory;
        after each build a new searcher runs the same term query, and after
        the last one also a phrase query, to warm the search path.
        ``build_docs_per_s`` is the docs per second of the median build and
        ``visible_p50_ms`` the median time from a build's start to the term
        query's answer. The last index stays. Returns (corpus, index dir,
        searcher, the last warm-up answers)."""
        with self.phase("corpus"):
            corpus = inputs.make_corpus(self.spark, self.path("corpus"),
                                        n_docs, self.seed, self.cores)
        docs = self.spark.read.parquet(corpus.path)
        qm = inputs.QueryMaker(corpus, self.rng)
        warm_qs = [qm.make(shape, set()) for shape in ("term", "phrase")]
        builds, visible, idx = [], [], None
        for rep in range(SETUP_BUILDS):
            if idx is not None:
                shutil.rmtree(idx)
            idx = self.path(f"idx{rep}")
            t0 = time.perf_counter()
            with self.tr.span("index.builder", "build_index") as self.bulk:
                build_index(self.spark, docs, "key", "text", idx,
                            docs_per_segment=docs_per_segment,
                            term_shards=self.term_shards)
            builds.append(time.perf_counter() - t0)
            searcher, open_s = self.open(idx)
            warm = []
            for bq in warm_qs[:1 if rep < SETUP_BUILDS - 1 else None]:
                td, ms = self.search(searcher, bq.query, bq.kind, bq.shape)
                warm.append((bq, td))
                if len(warm) == 1:
                    visible.append((builds[-1] + open_s) * 1e3 + ms)
            self.setup_builds_s.append(time.perf_counter() - t0)
        self.context.setdefault("phases_s", {})["builds"] = [
            round(b, 3) for b in builds]
        self.e2e["build_docs_per_s"] = len(corpus.docs) / checks.median(builds)
        self.e2e["visible_p50_ms"] = checks.median(visible)
        self.queries.clear()
        return corpus, idx, searcher, warm

    def layer_extras(self, corpus: inputs.Corpus, idx: str) -> None:
        """Analysis and codecs measurements of the traced run."""
        self.layer.update(layers.analysis_measure(
            self.tr, list(corpus.docs["text"].sample(
                n=500, random_state=self.seed))))
        m, bad = layers.codecs_measure(self.tr, idx, self.rng)
        self.op(bad == 0, f"codec round trip differs on {bad} lists")
        self.layer.update(m)

    def open(self, index_dir: str) -> tuple[IndexSearcher, float]:
        with self.tr.span("search.searcher", "open"):
            t0 = time.perf_counter()
            s = IndexSearcher(self.spark, index_dir)
            return s, time.perf_counter() - t0

    def search(self, searcher: IndexSearcher, q: Q.Query, kind: str,
               shape: str):
        """One top-10 search with keys; returns (TopDocs or None, ms)."""
        with self.tr.span("search.searcher", f"search.{shape}"):
            t0 = time.perf_counter()
            try:
                td = searcher.search(q, k=K)
            except Exception as e:  # an op that raises is a failed op
                self.op(False, f"search {shape}: {e!r}")
                return None, (time.perf_counter() - t0) * 1e3
            ms = (time.perf_counter() - t0) * 1e3
        self.queries.append((kind, ms))
        return td, ms

    def check_index(self, index_dir: str) -> None:
        with self.phase("check_index"):
            v = check_index(self.spark, index_dir)
        self.op(not v, f"check_index: {v[:3]}")

    def query_metrics(self) -> None:
        ms = [m for _, m in self.queries]
        value, pct, beyond = checks.tail(ms)
        self.e2e.update({
            "queries_per_s": len(ms) / (sum(ms) / 1e3),
            "query_p50_ms": checks.median(ms),
            "query_tail_ms": value,
            "boolean_p50_ms": checks.median(
                [m for k, m in self.queries if k == "boolean"]),
            "positional_p50_ms": checks.median(
                [m for k, m in self.queries if k == "positional"]),
        })
        self.context["query_tail_ms"] = {"percentile": round(pct, 2),
                                         "samples": len(ms),
                                         "beyond": beyond}

    def index_metrics(self, index_dir: str, text_bytes: int) -> None:
        self.e2e["index_bytes_per_text_byte"] = (
            layers.index_bytes(index_dir) / text_bytes)

    def check_answers(self, searcher_dir: str, corpus: inputs.Corpus,
                      answered: list) -> None:
        """Compare (BenchQuery, TopDocs) pairs with the oracle.

        Answers the oracle can score must be rank-identical to OracleIndex
        in keys and float32 scores; the others must hold exactly the docs
        their query matches (see checks.match_set)."""
        if not answered:
            return
        with self.phase("check_answers"):
            self._check_answers(searcher_dir, corpus, answered)

    def _check_answers(self, searcher_dir, corpus, answered) -> None:
        docs = layers.docs_table(searcher_dir).merge(
            corpus.docs, on="key", how="left")
        key_of = {(s, d): k for s, d, k in
                  zip(docs["segment_id"], docs["docid"], docs["key"])}
        oracle = None
        for bq, td in answered:
            if bq.matcher is not None:
                m = checks.match_set(corpus.tokens, *bq.matcher)
                self.op(checks.check_match_answer(td, m),
                        f"answer differs from match set: {bq.query}")
                continue
            if oracle is None:
                oracle = OracleIndex(docs)
            want = checks.oracle_top(oracle, key_of, bq.query, K)
            self.op(checks.same_top(checks.engine_top(td, K), want),
                    f"answer differs from oracle: {bq.query}")


# --- search ------------------------------------------------------------------

STREAM_LEN = 200
# Four groups of the stream: every boolean and positional shape, and the
# 11 samples a tail percentile needs, even when --seconds is short.
MIN_QUERIES = 24
ORACLE_SAMPLE = 12
REPLAY_SAMPLE = 6


def run_search(r: Run) -> None:
    """Timed: a stream of top-10 searches with keys, half boolean and half
    positional, a third of each kind repeating a query whose terms the
    searcher has seen (see QueryMaker.stream)."""
    t0 = time.perf_counter()
    corpus, idx, searcher, warm = r.setup_index(SEARCH_DOCS,
                                                DOCS_PER_SEGMENT)
    seen = {t for bq, _ in warm for t in bq.terms}
    stream = inputs.QueryMaker(corpus, r.rng).stream(STREAM_LEN, seen)
    r.add_setup(time.perf_counter() - t0)

    per_query = []
    with r.timed_part("search") as deadline:
        for i, (bq, fresh) in enumerate(stream):
            if i >= MIN_QUERIES and time.perf_counter() >= deadline:
                break
            r.tr.request = i
            td, ms = r.search(searcher, bq.query, bq.kind, bq.shape)
            if td is not None:
                per_query.append((bq, fresh, ms, td))
    r.context["queries"] = len(per_query)
    # the only writes of this workload are its set-up builds
    r.e2e["update_docs_per_s"] = r.e2e["build_docs_per_s"]
    r.query_metrics()
    r.index_metrics(idx, corpus.text_bytes)

    pick = r.rng.choice(len(per_query), replace=False,
                        size=min(ORACLE_SAMPLE, len(per_query)))
    r.check_answers(idx, corpus, [w for w in warm if w[1] is not None]
                    + [(per_query[i][0], per_query[i][3])
                       for i in sorted(pick)])
    if r.tr.enabled:
        _search_layers(r, idx, corpus, per_query)


def _search_layers(r: Run, idx: str, corpus, per_query) -> None:
    by_shape: dict[str, list] = {}
    for bq, _, ms, _ in per_query:
        by_shape.setdefault(bq.shape, []).append(ms)
    for shape in inputs.ALL_SHAPES:
        r.layer[f"searcher.search_ms.{shape}"] = checks.median(
            by_shape.get(shape, [0.0]))
    r.layer["searcher.first_seen_term_ms"] = checks.median(
        [ms for _, fresh, ms, _ in per_query if fresh])
    r.layer["searcher.repeat_term_ms"] = checks.median(
        [ms for _, fresh, ms, _ in per_query if not fresh])

    # kernel replay on a seeded sample, checked against search()'s answer
    pick = r.rng.choice(len(per_query), size=min(REPLAY_SAMPLE,
                                                 len(per_query)),
                        replace=False)
    kms, segs, outside, visited, total = [], [], [], 0, 0
    for i in sorted(pick):
        bq, _, ms, td = per_query[i]
        hits, kernel_s, counters = layers.kernel_replay(r.tr, idx, bq.query)
        got = [(int(s), int(d), np.float32(v)) for s, d, v in
               zip(td.hits["segment_id"], td.hits["docid"], td.hits["score"])]
        r.op(got == hits, f"kernel replay differs from search(): {bq.query}")
        k_ms = sum(kernel_s) * 1e3
        kms.append(k_ms)
        segs.append(len(kernel_s))
        outside.append(ms - k_ms / max(1, min(r.cores, len(kernel_s))))
        visited += counters.get("chunks_visited", 0)
        total += counters.get("chunks_total", 0)
    r.layer.update({
        "kernel.ms_per_query": checks.median(kms),
        "kernel.segments_per_query": checks.median(segs),
        "kernel.chunks_visited_ratio": visited / total if total else 0.0,
        "searcher.outside_kernel_ms": checks.median(outside),
    })
    r.layer_extras(corpus, idx)


# --- update_mix ----------------------------------------------------------------

class _Mix:
    """Live keys, texts and markers of the update_mix index.

    An updated doc's new text is a unique marker token followed by words
    drawn from the corpus's common vocabulary, so a term that occurs in one
    original doc only stays unique to it. Deletes pick never-updated docs
    that hold such a term; once deleted, nothing may match that term."""

    def __init__(self, r: Run, corpus: inputs.Corpus):
        self.r = r
        self.text_len = dict(zip(corpus.docs["key"],
                                 corpus.docs["text"].str.len()))
        self.live = set(self.text_len)
        df = corpus.df
        self.common = sorted(t for t, n in df.items()
                             if n * 100 >= len(self.live) and _word(t))
        self.unique: dict[str, str] = {}   # never-updated key -> its term
        for key, toks in corpus.tokens.items():
            only = sorted(t for t, _ in toks if df[t] == 1 and _word(t))
            if only:
                self.unique[key] = only[0]
        self.marker: dict[str, str] = {}   # live key -> its update marker

    def cycle(self, writer: IndexWriter, idx: str, c: int) -> dict:
        """One update / delete / merge / reopen / query cycle."""
        r, rng = self.r, self.r.rng
        r.tr.request = c
        pool = sorted(self.unique)
        dels = [pool[i] for i in rng.choice(len(pool), DELETE_BATCH,
                                            replace=False)]
        cand = sorted(self.live - set(dels))
        upd = [cand[i] for i in rng.choice(len(cand), UPDATE_BATCH,
                                           replace=False)]
        new = {}
        for j, key in enumerate(upd):
            words = rng.choice(self.common, int(rng.integers(40, 120)))
            new[key] = f"upd{r.seed}c{c}n{j} " + " ".join(words)
        batch = r.spark.createDataFrame(
            pd.DataFrame({"key": upd, "text": [new[k] for k in upd]}))
        out = {"updated": len(upd), "deleted": 0}

        before = _segment_ids(idx)
        with r.tr.span("index.writer", "update_documents"):
            t0 = time.perf_counter()
            writer.update_documents(batch, "key", "text")
            out["update_s"] = time.perf_counter() - t0
        r.op(True, "update_documents")
        out["bytes_written"] = sum(
            s["size_bytes"] for s in IndexCatalog(idx).live_segments()
            if s["segment_id"] not in before)
        for key in upd:
            self.marker[key] = new[key].split(" ", 1)[0]
            self.text_len[key] = len(new[key])
            self.unique.pop(key, None)

        with r.tr.span("index.writer", "delete_documents_by_keys"):
            t0 = time.perf_counter()
            n = writer.delete_documents_by_keys(dels)
            out["delete_s"] = time.perf_counter() - t0
        r.op(n == len(dels), f"deleted {n} of {len(dels)} keys")
        gone = [self.unique.pop(key) for key in dels]
        self.live -= set(dels)
        for key in dels:
            del self.text_len[key]
        out["deleted"] = n

        before = _segment_ids(idx)
        with r.tr.span("index.merge", "maybe_merge"):
            t0 = time.perf_counter()
            merges = maybe_merge(r.spark, idx, MERGE_POLICY)
            out["merge_s"] = time.perf_counter() - t0
        after = IndexCatalog(idx).live_segments()
        out["merges"] = len(merges)
        out["segments_merged"] = sum(len(m) for m in merges)
        out["bytes_rewritten"] = sum(s["size_bytes"] for s in after
                                     if s["segment_id"] not in before)
        out["live_segments"] = len(after)

        searcher, open_s = r.open(idx)
        out["open_s"] = open_s
        checks_ = self.visibility_checks(upd, new, gone)
        for i, (q, want, kind, shape) in enumerate(checks_):
            td, ms = r.search(searcher, q, kind, shape)
            if td is None:
                continue
            got = {str(k) for k in td.hits["key"]}
            r.op(got == want and td.total_hits == len(want),
                 f"cycle {c}: {q} found {sorted(got)}, want {sorted(want)}")
            if i == 0:
                out["visible_ms"] = (out["update_s"] + open_s) * 1e3 + ms
        return out

    def visibility_checks(self, upd: list, new: dict, gone: list) -> list:
        """(query, keys it must find exactly, kind, shape): five queries
        that only this cycle's updated docs satisfy, then one for a term only
        a doc deleted in this cycle held, which must find nothing. Four of
        the six are boolean, so the median of all queries sits inside the
        cluster of boolean ones rather than on the edge between it and the
        slower positional queries."""
        T, S = Q.TermQuery, Q.SpanTermQuery
        m = self.marker
        a, b, c, d, e, f = upd[:6]
        w = {key: new[key].split(" ") for key in upd[:6]}
        return [
            (T(m[a]), {a}, "boolean", "term"),
            (Q.PhraseQuery((m[c], w[c][1])), {c}, "positional", "phrase"),
            (Q.BooleanQuery(should=(T(m[b]), T(m[d]))), {b, d}, "boolean",
             "or2"),
            (Q.SpanNearQuery((S(m[e]), S(w[e][2])), slop=1), {e},
             "positional", "span_near"),
            (Q.BooleanQuery(must=(T(m[f]), T(w[f][1]))), {f}, "boolean",
             "and2"),
        ] + [(T(x), set(), "boolean", "term") for x in gone[:1]]


def run_update_mix(r: Run) -> None:
    """Timed: cycles of update_documents, delete_documents_by_keys,
    maybe_merge, a new IndexSearcher and queries that must see the writes."""
    t0 = time.perf_counter()
    corpus, idx, _, _ = r.setup_index(UPDATE_DOCS, UPDATE_SEGMENT_DOCS)
    with r.phase("merge"):
        maybe_merge(r.spark, idx, MERGE_POLICY)
    writer = IndexWriter(r.spark, idx, docs_per_segment=UPDATE_BATCH,
                         term_shards=r.term_shards)
    mix = _Mix(r, corpus)
    r.add_setup(time.perf_counter() - t0)

    cycles = []
    with r.timed_part("update_mix") as deadline:
        while len(cycles) % PERIOD or time.perf_counter() < deadline \
                or not cycles:
            try:
                cycles.append(mix.cycle(writer, idx, len(cycles)))
            except Exception as e:
                r.op(False, f"cycle: {e!r}")
                break
    writer.close()
    if not cycles:
        return
    r.context["cycles"] = [
        {k: round(v, 3) for k, v in c.items() if k.endswith("_s")
         or k in ("merges", "visible_ms", "live_segments")} for c in cycles]
    docs = sum(c["updated"] + c["deleted"] for c in cycles)
    write_s = sum(c["update_s"] + c["delete_s"] + c["merge_s"]
                  for c in cycles)
    r.e2e["update_docs_per_s"] = docs / write_s
    r.e2e["visible_p50_ms"] = checks.median(
        [c["visible_ms"] for c in cycles if "visible_ms" in c])
    r.query_metrics()
    r.index_metrics(idx, sum(mix.text_len.values()))
    r.check_index(idx)
    if r.tr.enabled:
        r.layer_extras(corpus, idx)
        written = sum(c["bytes_written"] for c in cycles)
        r.layer.update({
            "writer.update_ms": checks.median(
                [c["update_s"] * 1e3 for c in cycles]),
            "writer.delete_ms": checks.median(
                [c["delete_s"] * 1e3 for c in cycles]),
            # the median merge, over the cycles that merged
            "merge.ms": checks.median([c["merge_s"] * 1e3 for c in cycles
                                       if c["merges"]] or [0.0]),
            "merge.merges": sum(c["merges"] for c in cycles),
            "merge.segments_merged": sum(c["segments_merged"]
                                         for c in cycles),
            "merge.bytes_rewritten": sum(c["bytes_rewritten"]
                                         for c in cycles),
            "merge.write_amp": (sum(c["bytes_rewritten"] for c in cycles)
                                / written if written else 0.0),
            "merge.live_segments": cycles[-1]["live_segments"],
        })


def _segment_ids(index_dir: str) -> set[int]:
    return {s["segment_id"] for s in IndexCatalog(index_dir).live_segments()}


def _word(t: str) -> bool:
    return t.isascii() and t.isalnum() and t.islower() and len(t) <= 32


WORKLOADS = {"search": run_search, "update_mix": run_update_mix}
