"""Offsets channel: IndexOptions.DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS.

Reference behavior (not code):
  * o.a.l.index.IndexOptions — the 4th rung adds per-position character
    offsets; demo LuceneDemo8.6.0/src/main/java/io/index/StartsTest.java
    indexes with DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS.
  * Offsets are stored in the .pay file alongside payloads
    (Lucene84PostingsFormat.java:99-103).
  * UnifiedHighlighter OffsetSource.POSTINGS — highlighting from indexed
    offsets without re-analyzing stored text.
"""

import shutil

import numpy as np
import pytest

from lucene_7_x_9_x_spark.analysis.tokenizer import Analyzer, STANDARD
from lucene_7_x_9_x_spark.functions.codecs import (
    decode_blocks, encode_posting_list)
from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher
from lucene_7_x_9_x_spark.search import query as Q


# ---------------------------------------------------------------- tokenizer

def test_term_freqs_offsets_matches_term_freqs():
    a = Analyzer()
    texts = [
        "The quick brown fox jumps over the lazy dog the end",
        "spark Spark SPARK  spark\ttable",
        "a b a b a c",
        "can't stop won't stop u.s.a today",
        "",
        None,
    ]
    for text in texts:
        base = {(t, tuple(ps)) for t, _, ps in a.term_freqs(text)[0]}
        off_items, doclen = a.term_freqs_offsets(text)
        got = {(t, tuple(ps)) for t, _, ps, _, _ in off_items}
        assert got == base
        assert doclen == a.term_freqs(text)[1]


def test_offsets_slice_back_to_source_text():
    a = Analyzer()
    text = "The Quick brown FOX fox and the fox again u.s.a end"
    items, _ = a.term_freqs_offsets(text)
    for term, freq, ps, sts, lns in items:
        assert len(ps) == len(sts) == len(lns) == freq
        for s, ln in zip(sts, lns):
            # lowercase analyzer: the source span case-folds to the term
            assert text[s:s + ln].lower() == term


def test_offsets_with_stopwords_keep_holes_and_spans():
    a = Analyzer(stopwords=frozenset({"the", "and"}))
    text = "the fox and the hound"
    items, doclen = a.term_freqs_offsets(text)
    by_term = {t: (ps, sts, lns) for t, _, ps, sts, lns in items}
    assert by_term["fox"][0] == [1]          # position hole at 0
    assert by_term["hound"][0] == [4]
    assert text[by_term["fox"][1][0]:by_term["fox"][1][0] + 3] == "fox"
    assert doclen == 2


def test_offsets_refuse_injecting_chains():
    for bad in (Analyzer(stem=True), Analyzer(shingles=True),
                Analyzer(synonyms={"fast": ("quick",)}),
                Analyzer(edge_ngrams=(2, 4)),
                Analyzer(ascii_folding=True)):
        with pytest.raises(ValueError):
            bad.term_freqs_offsets("some text here")


# -------------------------------------------------------------------- codec

def test_codec_offsets_round_trip_deterministic():
    rng = np.random.default_rng(42)
    for n in (1, 3, 16, 17, 128, 300):
        docids = np.sort(rng.choice(5000, size=n, replace=False)).astype(
            np.int64)
        freqs = rng.integers(1, 5, size=n).astype(np.int64)
        pos, sts, lns = [], [], []
        for f in freqs:
            pos.append(np.sort(rng.choice(300, size=f, replace=False)))
            sts.append(np.sort(rng.choice(3000, size=f, replace=False)))
            lns.append(rng.integers(1, 12, size=f))
        norms = rng.integers(1, 255, size=n).astype(np.uint8)
        flat = lambda xs: np.concatenate(xs)  # noqa: E731
        blocks = encode_posting_list(
            docids, freqs, norms, flat(pos),
            offsets=(flat(sts), flat(lns)))
        d, f, nb, p, st, en = decode_blocks(
            blocks, want_positions=True, want_offsets=True)
        assert (d == docids).all() and (f == freqs).all()
        assert (p == flat(pos)).all()
        assert (st == flat(sts)).all()
        assert (en == flat(sts) + flat(lns)).all()


def test_codec_missing_offsets_channel_decodes_zeros():
    blocks = encode_posting_list(
        np.array([1, 5]), np.array([2, 1]), np.array([3, 3], dtype=np.uint8),
        np.array([0, 4, 2]))
    d, f, nb, p, st, en = decode_blocks(
        blocks, want_positions=True, want_offsets=True)
    assert (st == 0).all() and (en == 0).all() and st.size == 3


def test_offsets_require_positions():
    with pytest.raises(ValueError):
        encode_posting_list(
            np.array([1]), np.array([1]), np.array([3], dtype=np.uint8),
            None, offsets=(np.array([0]), np.array([3])))


# ------------------------------------------------------------- end-to-end

DOCS = [
    (0, "spark builds a fast index for spark queries"),
    (1, "the merge policy merges tiny segments"),
    (2, "spark merge spark merge spark"),
    (3, "unrelated text about nothing much"),
    (4, "offsets live next to positions in the index"),
]


@pytest.fixture(scope="module")
def off_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("offidx") / "idx")
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, df, key_col="doc_id", text_col="text", index_dir=idx,
                docs_per_segment=2, int_keys=True, index_options="offsets")
    return idx, dict(DOCS)


def _collect_offsets(spark, searcher, terms, texts):
    from lucene_7_x_9_x_spark.operators.misc import term_offsets_df
    docs = searcher.docs_df().select("segment_id", "docid", "key")
    rows = term_offsets_df(searcher, terms, docs).collect()
    keyed = {(int(r["segment_id"]), int(r["docid"])): int(r["key"])
             for r in docs.collect()}
    return [(keyed[(r.segment_id, r.docid)], r.term, r.start, r.end)
            for r in rows]


def test_build_and_read_offsets(spark, off_index):
    idx, texts = off_index
    s = IndexSearcher(spark, idx, dtype=np.float64)
    got = _collect_offsets(spark, s, ["spark", "merge"], texts)
    assert got, "no offsets decoded"
    for doc_id, term, st, en in got:
        assert texts[doc_id][st:en] == term
    # every occurrence accounted for
    n_spark = sum(texts[d].split().count("spark") for d in texts)
    assert sum(1 for _, t, _, _ in got if t == "spark") == n_spark


def test_positional_queries_allowed_on_offsets_index(spark, off_index):
    idx, _ = off_index
    s = IndexSearcher(spark, idx, dtype=np.float64)
    td = s.search(Q.PhraseQuery(("spark", "merge")), k=5)
    assert list(td.hits["key"].astype(int)) == [2]


def test_offsets_survive_force_merge(spark, off_index, tmp_path):
    idx0, texts = off_index
    idx = str(tmp_path / "idx_merge")
    shutil.copytree(idx0, idx)
    from lucene_7_x_9_x_spark.index.writer import IndexWriter
    with IndexWriter(spark, idx) as w:
        w.force_merge(max_segments=1)
    s = IndexSearcher(spark, idx, dtype=np.float64)
    assert len({r["segment_id"] for r in
                s.docs_df().select("segment_id").distinct().collect()}) == 1
    got = _collect_offsets(spark, s, ["spark", "merge"], texts)
    assert got
    for doc_id, term, st, en in got:
        assert texts[doc_id][st:en] == term


def test_unified_highlight_snippet(spark, off_index):
    from lucene_7_x_9_x_spark.operators.misc import unified_highlight_topk
    idx, texts = off_index
    s = IndexSearcher(spark, idx, dtype=np.float64)
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    out = unified_highlight_topk(s, docs, ["spark", "merge"], k=5,
                                 frag_chars=20).collect()
    by_id = {int(r.doc_id): r for r in out}
    assert 2 in by_id  # densest doc
    r = by_id[2]
    assert r.n_matches == 5
    assert r.snippet == texts[2][r.passage_start:r.passage_start + 20]
    # anchor covers the most whole matches; doc 2's best 20-char window
    # starting at a match start covers 'spark merge spark' (3 matches)
    assert r.passage_start == 0


def test_offsets_refuse_payload_combo(spark, tmp_path):
    from lucene_7_x_9_x_spark.analysis.tokenizer import PayloadAnalyzer
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError):
        build_index(spark, df, key_col="doc_id", text_col="text",
                    index_dir=str(tmp_path / "x"), int_keys=True,
                    index_options="offsets", analyzer=PayloadAnalyzer())


def test_checkindex_validates_offsets(spark, off_index):
    from lucene_7_x_9_x_spark.index.checkindex import check_index
    idx, _ = off_index
    assert check_index(spark, idx) == []


def test_merge_refuses_mixed_offsets_channels(spark, off_index, tmp_path):
    """A segment without the offsets channel decodes all-zero offsets; the
    merge must refuse rather than store them as real (0, 0) offsets."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_7_x_9_x_spark.index.catalog import IndexCatalog
    from lucene_7_x_9_x_spark.index.merge import execute_merge
    idx0, _ = off_index
    idx = str(tmp_path / "idx_mixed")
    shutil.copytree(idx0, idx)
    segs = IndexCatalog(idx).live_segments()
    first = segs[0]
    seg_dir = os.path.join(idx, "postings", f"wave={first['wave']}",
                           f"segment_id={first['segment_id']}")
    for path in glob.glob(os.path.join(seg_dir, "*.parquet")):
        t = pq.read_table(path)
        rows = t.to_pylist()
        for r in rows:
            for b in r["blocks"]:
                b["off_bytes"] = None
        pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), path)
        crc = os.path.join(seg_dir, f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):  # the rewrite invalidates Hadoop's checksum
            os.remove(crc)
    with pytest.raises(Exception, match="offsets channel"):
        execute_merge(spark, idx, [s["segment_id"] for s in segs])
