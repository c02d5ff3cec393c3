"""Per-segment query fan-out: search, matches_df and scores_df map the kernel
over the live segments (IndexSearcher.java:221-296 searches each leaf as a
plain map) — one shuffle-free Spark job per warm query.

Pins: every live segment runs its kernel, including segments holding none of
the query's terms (MatchAll / MUST_NOT shapes match there); the executed
plans carry no Exchange; job counts per search; the task-side term selection
for predicate nodes equals the pushed Column predicate; pruned search equals
exhaustive search on an index with deletes.
"""

import numpy as np
import pyarrow.parquet as pq
import pytest

from lucene_7_x_9_x_spark.index.builder import build_index
from lucene_7_x_9_x_spark.index.writer import IndexWriter
from lucene_7_x_9_x_spark.search import query as Q
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher, _segment_dir

N = 48
WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "tau"]


def _text(i: int) -> str:
    words = [WORDS[(i * 3 + j) % len(WORDS)] for j in range(1 + i % 5)]
    if i == 5:
        words.append("solo")  # one doc: every other segment lacks it
    return " ".join(words + [f"w{i:03d}"])


TEXTS = {i: _text(i) for i in range(N)}
DELETED = [2, 17, 20, 33, 47]


@pytest.fixture(scope="module")
def srch(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("fanout") / "idx")
    df = spark.createDataFrame(sorted(TEXTS.items()),
                               "doc_id long, text string")
    build_index(spark, df, "doc_id", "text", idx, docs_per_segment=12,
                int_keys=True, term_shards=4)
    with IndexWriter(spark, idx) as w:
        w.delete_documents_by_keys([str(k) for k in DELETED])
    return IndexSearcher(spark, idx)


def _live_without(term: str) -> set:
    return {i for i, t in TEXTS.items()
            if i not in DELETED and term not in t.split()}


def _keys(td) -> set:
    return {int(k) for k in td.hits["key"]}


def test_fixture_has_segments_without_the_term(srch):
    assert len(srch.segments) >= 4
    holding = [s["segment_id"] for s in srch.segments
               if pq.read_table(
                   _segment_dir(srch._index_dir, "postings", s["wave"],
                                s["segment_id"]),
                   filters=[("term", "==", "solo")]).num_rows]
    assert len(holding) == 1


def test_match_all_minus_term_counts_every_segment(srch):
    q = Q.BooleanQuery(must=(Q.MatchAllDocsQuery(),),
                       must_not=(Q.TermQuery("alpha"),))
    want = _live_without("alpha")
    td = srch.search(q, k=N)
    assert td.total_hits == len(want)
    assert _keys(td) == want
    assert srch.count(q) == len(want)
    q = Q.BooleanQuery(must=(Q.MatchAllDocsQuery(),),
                       must_not=(Q.TermQuery("solo"),))
    want = _live_without("solo")
    assert srch.search(q, k=N).total_hits == len(want)
    assert srch.count(q) == len(want)


def test_should_term_or_match_all_counts_every_segment(srch):
    q = Q.BooleanQuery(should=(Q.TermQuery("solo"), Q.MatchAllDocsQuery()))
    live = {i for i in TEXTS if i not in DELETED}
    td = srch.search(q, k=N)
    assert td.total_hits == len(live)
    assert _keys(td) == live
    assert srch.count(q) == len(live)


@pytest.mark.parametrize("method", ["matches_df", "scores_df"])
def test_fan_out_plans_have_no_exchange(srch, method):
    q = Q.BooleanQuery(should=(Q.TermQuery("alpha"), Q.PrefixQuery("w00")))
    df = getattr(srch, method)(q)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def _jobs(spark, fn, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("fetch_keys", [True, False])
def test_search_job_counts(spark, srch, fetch_keys):
    s = IndexSearcher(spark, srch._index_dir)  # empty stats cache
    q = Q.BooleanQuery(should=(Q.TermQuery("beta"), Q.TermQuery("gamma")))
    tag = f"fanout-{fetch_keys}"
    first = _jobs(spark, lambda: s.search(q, fetch_keys=fetch_keys),
                  tag + "-first")
    again = _jobs(spark, lambda: s.search(q, fetch_keys=fetch_keys),
                  tag + "-again")
    assert (first, again) == (2, 1)


def test_predicate_terms_equal_column_predicate(srch):
    postings = srch.postings_df()
    for q in [Q.PrefixQuery("w01"), Q.WildcardQuery("w0?5"),
              Q.RegexpQuery("(alpha|bet.*)"), Q.RegexpQuery("s.*"),
              Q.TermRangeQuery("delta", "omega"),
              Q.TermRangeQuery("beta", "tau", include_lower=False,
                               include_upper=False),
              Q.TermRangeQuery(None, "beta")]:
        p = srch._expand_query(q).query
        assert isinstance(p, Q.TermPredicateQuery), q
        want = {(r["segment_id"], r["term"]) for r in
                postings.where(srch._predicate_col(p))
                .select("segment_id", "term").collect()}
        reader = srch._reader(p)
        got = {(s["segment_id"], t) for s in srch.segments
               for t in reader.term_rows(s["segment_id"], s["wave"])}
        assert want and got == want, q


def test_pruned_search_equals_exhaustive_with_deletes(srch):
    for q in [Q.TermQuery("alpha"),
              Q.BooleanQuery(should=(Q.TermQuery("alpha"),
                                     Q.TermQuery("omega"),
                                     Q.TermQuery("solo"))),
              Q.BooleanQuery(must=(Q.TermQuery("beta"),
                                   Q.TermQuery("gamma"))),
              Q.DisjunctionMaxQuery((Q.TermQuery("delta"),
                                     Q.TermQuery("sigma")), 0.1)]:
        for k in (1, 3, 10):
            a = srch.search(q, k=k)
            b = srch.search(q, k=k, pruning=False)
            assert list(a.hits["key"]) == list(b.hits["key"]), (q, k)
            np.testing.assert_array_equal(a.hits["score"], b.hits["score"])
            assert not (set(int(x) for x in a.hits["key"]) & set(DELETED))


def test_explain_reads_the_segment_without_a_job(spark, srch):
    q = Q.BooleanQuery(should=(Q.TermQuery("alpha"), Q.TermQuery("solo")))
    hit = srch.search(q, k=1).hits.iloc[0]
    srch.search(q, k=1)  # stats cached
    out = {}
    n = _jobs(spark, lambda: out.setdefault("e", srch.explain(
        q, int(hit["segment_id"]), int(hit["docid"]))), "fanout-explain")
    assert n == 0
    assert np.float32(out["e"]["value"]) == np.float32(hit["score"])
