"""Driver-side measurements of single layers, for the traced run.

Each one calls a layer's public functions directly on data the workload
already made: the analyzer on corpus text, the codecs on postings read back
from the built index, and the search kernel replayed per segment on postings
rows read with pyarrow.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lucene_7_x_9_x_spark.analysis.tokenizer import STANDARD
from lucene_7_x_9_x_spark.functions import bm25
from lucene_7_x_9_x_spark.functions.codecs import (
    decode_blocks, encode_posting_list)
from lucene_7_x_9_x_spark.functions.similarities import make_similarity
from lucene_7_x_9_x_spark.index.builder import load_index_codec
from lucene_7_x_9_x_spark.index.catalog import IndexCatalog
from lucene_7_x_9_x_spark.search import kernel as K
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.rewrite import rewrite

from checks import median


def _seg_dir(index_dir: str, root: str, seg: dict) -> str:
    return os.path.join(index_dir, root, f"wave={seg['wave']}",
                        f"segment_id={seg['segment_id']}")


def index_bytes(index_dir: str) -> int:
    """Bytes on disk of the live segments' docs and postings files."""
    total = 0
    for s in IndexCatalog(index_dir).live_segments():
        for root in ("docs", "postings"):
            d = _seg_dir(index_dir, root, s)
            total += sum(os.path.getsize(os.path.join(d, f))
                         for f in os.listdir(d))
    return total


def docs_table(index_dir: str) -> pd.DataFrame:
    """(segment_id, docid, key) of the live segments, read with pyarrow."""
    parts = []
    for s in IndexCatalog(index_dir).live_segments():
        t = pq.read_table(_seg_dir(index_dir, "docs", s),
                          columns=["docid", "key"]).to_pandas()
        t.insert(0, "segment_id", s["segment_id"])
        parts.append(t)
    return pd.concat(parts, ignore_index=True)


def analysis_measure(tr, texts: list[str], reps: int = 3) -> dict:
    """``Analyzer.term_freqs_series`` on one core over ``texts``."""
    series = pd.Series(texts)
    walls, tokens = [], 0
    for _ in range(reps):
        with tr.span("analysis", "term_freqs_series"):
            t0 = time.perf_counter()
            out = STANDARD.term_freqs_series(series)
            walls.append(time.perf_counter() - t0)
        tokens = sum(f for row in out for _, f, _ in row)
    n = max(1, len(texts))
    return {"analysis.tokenize_us_per_doc": median(walls) / n * 1e6,
            "analysis.tokens_per_doc": tokens / n}


def codecs_measure(tr, index_dir: str, rng: np.random.Generator,
                   n_rows: int = 400) -> tuple[dict, int]:
    """Decode then re-encode a seeded sample of the index's posting lists.

    Returns the metrics and the number of lists whose round trip differed."""
    codec = load_index_codec(index_dir)
    lists = pa.concat_tables(
        pq.read_table(_seg_dir(index_dir, "postings", s), columns=["blocks"])
        for s in IndexCatalog(index_dir).live_segments()).column("blocks")
    pick = rng.choice(len(lists), size=min(n_rows, len(lists)),
                      replace=False)
    sample = lists.take(pick).to_pylist()
    postings = sum(sum(b["count"] for b in blocks) for blocks in sample)
    nbytes = sum(len(b["doc_bytes"]) + len(b["freq_bytes"])
                 + len(b["norm_bytes"]) + len(b["pos_bytes"] or b"")
                 for blocks in sample for b in blocks)
    with tr.span("functions.codecs", "decode_blocks"):
        t0 = time.perf_counter()
        decoded = [decode_blocks(blocks, want_positions=True)
                   for blocks in sample]
        dec_s = time.perf_counter() - t0
    with tr.span("functions.codecs", "encode_posting_list"):
        t0 = time.perf_counter()
        encoded = [encode_posting_list(d, f, n, positions=p, codec=codec)
                   for d, f, n, p in decoded]
        enc_s = time.perf_counter() - t0
    bad = 0
    for (d, f, n, p), blocks in zip(decoded, encoded):
        d2, f2, n2, p2 = decode_blocks(blocks, want_positions=True)
        if not (np.array_equal(d, d2) and np.array_equal(f, f2)
                and np.array_equal(n, n2) and np.array_equal(p, p2)):
            bad += 1
    postings = max(1, postings)
    return {"codecs.encode_ns_per_posting": enc_s / postings * 1e9,
            "codecs.decode_ns_per_posting": dec_s / postings * 1e9,
            "codecs.bytes_per_posting": nbytes / postings}, bad


def _engine_form(q: Q.Query) -> Q.Query:
    """The query as ``IndexSearcher`` hands it to the kernel on a
    single-field index: prefix nodes become constant-score predicates."""
    if isinstance(q, Q.PrefixQuery):
        q = Q.ConstantScoreQuery(Q.TermPredicateQuery("prefix", (q.prefix,)),
                                 boost=q.boost)
    return rewrite(q)


def _segment_rows(path: str, q: Q.Query) -> dict:
    terms = sorted(Q.collect_terms(q))
    filters = [[("term", "in", terms)]] if terms else []
    for p in Q.collect_predicates(q):
        lo = p.args[0]
        filters.append([("term", ">=", lo), ("term", "<", lo + "\uffff")])
    if not filters:
        return {}
    t = pq.read_table(path, columns=["term", "df", "ttf", "blocks"],
                      filters=filters)
    return {r["term"]: {"df": r["df"], "ttf": r["ttf"], "blocks": r["blocks"]}
            for r in t.to_pylist()}


def kernel_replay(tr, index_dir: str, q: Q.Query, k: int = 10):
    """Run each segment's kernel in the driver, as the search tasks do.

    Returns (hits [(segment_id, docid, float32 score)], per-segment kernel
    seconds, counters summed over segments)."""
    snap = IndexCatalog(index_dir).snapshot()
    segs = snap["segments"]
    eq = _engine_form(q)
    stats = make_similarity("bm25", sum(s["doc_count"] for s in segs),
                            sum(s["sum_ttf"] for s in segs), bm25.K1, bm25.B,
                            np.float32)
    rows = {s["segment_id"]: _segment_rows(_seg_dir(index_dir, "postings", s),
                                           eq) for s in segs}
    gdf = {t: sum(int(r[t]["df"]) for r in rows.values() if t in r)
           for t in Q.collect_terms(eq)}
    seg_ords = {s["segment_id"]: i for i, s in enumerate(
        sorted(segs, key=lambda x: (x.get("ord", x["segment_id"]),
                                    x["segment_id"])))}
    per_seg, kernel_s, counters = [], [], {}
    for s in segs:
        sid = s["segment_id"]
        if not rows[sid]:
            continue
        c: dict = {}
        with tr.span("search.kernel", "segment_top_k"):
            t0 = time.perf_counter()
            seg = K.SegmentIndex(rows[sid], s["max_doc"])
            d, sc, _, _ = K.segment_top_k(seg, stats, gdf, eq, k, counters=c)
            kernel_s.append(time.perf_counter() - t0)
        per_seg.append((sid, d, sc))
        for key, v in c.items():
            counters[key] = counters.get(key, 0) + v
    hits = [(sid, int(d), np.float32(s)) for sid, d, s
            in K.merge_top_k(per_seg, k, seg_ords=seg_ords)]
    return hits, kernel_s, counters
