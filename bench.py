"""Benchmark harness: index-build throughput + top-k query latency.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: every usable core, as nproc counts them)
and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "build_docs_per_sec": ...}

The build is the full write path (tokenize -> explode -> salted term shuffle ->
block/FOR-vByte encode -> segment parquet + snapshot commit); queries run the
float32 Lucene-parity path with block-max pruning, one mapInPandas task per
slice of live segments.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

from lucene_7_x_9_x_spark.corpus import generate_corpus  # noqa: E402
from lucene_7_x_9_x_spark.index.builder import build_index  # noqa: E402
from lucene_7_x_9_x_spark.search import query as Q  # noqa: E402
from lucene_7_x_9_x_spark.search.searcher import IndexSearcher  # noqa: E402
from lucene_7_x_9_x_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = {
    "q_term": Q.TermQuery("spark"),
    "q_or2": Q.BooleanQuery(should=(Q.TermQuery("spark"), Q.TermQuery("table"))),
    "q_or4": Q.BooleanQuery(should=(
        Q.TermQuery("spark"), Q.TermQuery("table"),
        Q.TermQuery("merge"), Q.TermQuery("sort"))),
    "q_and2": Q.BooleanQuery(must=(Q.TermQuery("spark"), Q.TermQuery("table"))),
    "q_phrase": Q.PhraseQuery(("fast", "sort")),
    "q_dismax": Q.DisjunctionMaxQuery(
        (Q.TermQuery("spark"), Q.TermQuery("merge")), tie_breaker=0.3),
    "q_msm": Q.BooleanQuery(
        should=(Q.TermQuery("spark"), Q.TermQuery("table"), Q.TermQuery("merge")),
        minimum_should_match=2),
    "q_prefix": Q.PrefixQuery("sc"),
    "q_sloppy": Q.PhraseQuery(("fast", "sort"), slop=2),
    "q_span_near": Q.SpanNearQuery(
        (Q.SpanTermQuery("fast"), Q.SpanTermQuery("sort")),
        slop=1, in_order=True),
    # round-5 k-stream vectorized walks (>= 3 positional clauses)
    "q_sloppy3": Q.PhraseQuery(("spark", "table", "merge"), slop=4),
    "q_span_near3": Q.SpanNearQuery(
        (Q.SpanTermQuery("spark"), Q.SpanTermQuery("table"),
         Q.SpanTermQuery("merge")), slop=6, in_order=True),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    spark = get_spark("lucene-spark-bench", cores=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()

    idx = f"/tmp/lucene_spark_bench_idx_{os.getpid()}"
    if os.path.exists(idx):
        shutil.rmtree(idx)
    t0 = time.time()
    build_index(spark, docs, key_col="doc_id", text_col="text", index_dir=idx,
                docs_per_segment=4096, int_keys=True,
                term_shards=max(8, cpus))
    build_s = time.time() - t0

    searcher = IndexSearcher(spark, idx, dtype=np.float32)
    latencies: dict[str, float] = {}
    for name, q in BENCH_QUERIES.items():
        runs = []
        for _ in range(reps):
            tq = time.time()
            searcher.search(q, k=10, fetch_keys=False)
            runs.append(time.time() - tq)
        latencies[name] = round(sorted(runs)[len(runs) // 2], 4)  # median

    # Second build scale: the sf0.1 corpus (~5k docs) is fixed-cost dominated
    # (Spark startup + commit ~= the whole build), so round-over-round build
    # work is invisible at that size. Measure the same full write path once
    # more on a deterministic generated corpus large enough that per-doc cost
    # dominates (default 60k docs, ~8-20 s — within the bench budget).
    n_docs_mid = int(os.environ.get("SPARK_GRAFT_BENCH_MID_DOCS", "60000"))
    mid = None
    if n_docs_mid > 0:
        corpus = generate_corpus(spark, n_docs_mid, num_partitions=256)
        src = f"/tmp/lucene_spark_bench_mid_{os.getpid()}"
        corpus.select("url", "text").write.mode("overwrite").parquet(src)
        mid_docs = spark.read.parquet(src)
        idx2 = f"/tmp/lucene_spark_bench_idx2_{os.getpid()}"
        t1 = time.time()
        build_index(spark, mid_docs, key_col="url", text_col="text",
                    index_dir=idx2, docs_per_segment=4096,
                    segments_per_wave=256, term_shards=max(8, cpus))
        mid_s = time.time() - t1
        mid = {"n_docs": n_docs_mid, "build_sec": round(mid_s, 4),
               "build_docs_per_sec": round(n_docs_mid / mid_s, 2)}
        shutil.rmtree(idx2, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)

    # Mid-scale QUERY latency (round 5): every sf0.1 query row sits on the
    # ~0.3 s local-mode job floor, so query-side progress is invisible there.
    # Re-run the same queries against a 600k-doc generated index (k=10,
    # median of `reps`) — these are the regression-tracking query numbers.
    n_docs_q = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_DOCS", "600000"))
    midq = None
    if n_docs_q > 0:
        corpus = generate_corpus(spark, n_docs_q, num_partitions=256)
        srcq = f"/tmp/lucene_spark_bench_midq_src_{os.getpid()}"
        corpus.select("url", "text").write.mode("overwrite").parquet(srcq)
        q_docs = spark.read.parquet(srcq)
        idx3 = f"/tmp/lucene_spark_bench_idx3_{os.getpid()}"
        t2 = time.time()
        build_index(spark, q_docs, key_col="url", text_col="text",
                    index_dir=idx3, docs_per_segment=4096,
                    segments_per_wave=256, term_shards=max(8, cpus))
        bq_s = time.time() - t2
        sq = IndexSearcher(spark, idx3, dtype=np.float32)
        lat_mid: dict[str, float] = {}
        for name, q in BENCH_QUERIES.items():
            runs = []
            for _ in range(reps):
                tq = time.time()
                sq.search(q, k=10, fetch_keys=False)
                runs.append(time.time() - tq)
            lat_mid[name] = round(sorted(runs)[len(runs) // 2], 4)
        midq = {"n_docs": n_docs_q, "build_sec": round(bq_s, 4),
                "build_docs_per_sec": round(n_docs_q / bq_s, 2),
                "queries": lat_mid}
        shutil.rmtree(idx3, ignore_errors=True)
        shutil.rmtree(srcq, ignore_errors=True)

    total = round(build_s + sum(latencies.values()), 4)
    out = {
        "metric": "index-build + BM25 top-k query latency (segmented inverted "
                  "index, block-max WAND)",
        "value": total,
        "unit": "sec",
        "queries": latencies,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": int(n_docs),
        "build_sec": round(build_s, 4),
        "build_docs_per_sec": round(n_docs / build_s, 2),
        "cpus": cpus,
    }
    if mid is not None:
        out["build_mid_scale"] = mid
    if midq is not None:
        out["query_mid_scale"] = midq
    # attach the recorded N->4N scaling evidence (scripts/scaling_run.py)
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "scaling_result.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            sc = json.load(f)
        if "by_size" in sc:
            # latest run at the LARGEST corpus size is the evidence block;
            # best/median across same-size runs ride along as labelled fields
            size = max(sc["by_size"], key=lambda k: int(k))
            blk = sc["by_size"][size]
            run = blk["latest"]
            out["scaling"] = {
                "n_docs": int(size),
                "cores": [run["low"]["cores"], run["high"]["cores"]],
                "docs_per_sec": [round(run["low"]["docs_per_sec"], 1),
                                 round(run["high"]["docs_per_sec"], 1)],
                "efficiency_median_latest_run": run["efficiency_median"],
                "efficiency_min_estimator_latest_run":
                    run.get("efficiency_min"),
                "efficiency_median_across_runs":
                    blk.get("median_of_runs_at_this_size"),
                "efficiency_best_run": blk.get("best_efficiency_median"),
                # hypervisor-steal adjudication (scaling_run.py records
                # per-pass /proc/stat steal; pairs with <=2% steal are the
                # trustworthy ones on this shared-VM host)
                "pair_max_steal_frac": run.get("pair_max_steal_frac"),
                "steal_clean_pairs": run.get("steal_clean_pairs"),
                "latest_run_ts": run.get("ts"),
                "criterion": ">= 0.8 from N to 4N",
            }
        else:  # legacy single-block format
            out["scaling"] = {
                "cores": [sc["low"]["cores"], sc["high"]["cores"]],
                "docs_per_sec": [round(sc["low"]["docs_per_sec"], 1),
                                 round(sc["high"]["docs_per_sec"], 1)],
                "efficiency_median": sc.get("efficiency_median",
                                            sc.get("efficiency")),
                "criterion": ">= 0.8 from N to 4N",
            }
    shutil.rmtree(idx, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
