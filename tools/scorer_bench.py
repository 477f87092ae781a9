"""Per-shard scorer micro-benchmark: ``scorer="auto"`` (the pruning
kernel and its cost router) vs ``scorer="dense"`` (the exhaustive
evaluator), on REAL segment rows of a built index.

Warm-engine end-to-end latency at sandbox scale is dominated by Spark
job scheduling, which hides the scorer; this tool times the per-shard
kernel wrapper ``_score_query`` itself, driver-side, on each shard's
actual rows with a real ``_QueryPlan`` — so the router's choice is
inside the timed call. It is the quantity that becomes the bottleneck
at 100x postings.

Usage: python tools/scorer_bench.py [n_docs] --dir DIR
  (n_docs default 500000; the corpus and the 2-shard index are built
  under DIR on first use and reused after; building 500k docs takes
  ~6 min on 4 cores). Exits 1 when any query's ``auto`` top-10 differs
  from its ``dense`` top-10.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

K = 10
REPS = 5

# SELECTIVE queries over mid-rank Zipf vocabulary (df 0.1-5%), long
# flat ones (no term dominates: the router should pick dense), and
# needle-head + stopword-tail ones (where skipping the tail pays)
SEL_QUERIES = [
    "sym100 sym200 fn300",
    "sym500 fn501 sym700",
    "sym1000 sym2000 fn1500",
    "sym400 sym800 sym1600 fn900",
    "needle0 sym100 sym300",
    "sym250 fn249",
    "sym100 sym200 fn300 sym500 fn501 sym700 sym1000 sym2000",
    "sym150 sym350 fn400 sym650 fn800 sym1200 sym1800 fn2200 sym2600 fn3000",
    "needle0 needle13 import def class self return sym5",
]
# (query, min_should_match): pigeonhole shapes, a needle under AND with
# hot terms and a flat mid-df one
MSM_QUERIES = [
    ("needle0 import", "all"),
    ("sym100 sym200 fn300", 2),
    ("needle0 import def class", 3),
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n_docs", nargs="?", type=int, default=500_000)
    ap.add_argument("--dir", required=True,
                    help="directory holding the bench corpus and index")
    args = ap.parse_args()

    import numpy as np
    import pandas as pd

    from data_prep_opensearch_spark.functions.tokenize import TOKENIZERS
    from data_prep_opensearch_spark.operators import bm25
    from data_prep_opensearch_spark.operators.index_build import (
        build_index,
        sort_segments,
    )
    from data_prep_opensearch_spark.oracle import reference_query_set
    from data_prep_opensearch_spark.session import get_spark, spark_cores

    n_docs = args.n_docs
    corpus = os.path.join(args.dir, f"corpus_{n_docs}")
    # n_shards=2 => 250k-doc shards, approaching the 1M design width: the
    # regime where the dense accumulator's O(shard population) per query
    # is real money and pruning has something to skip
    idx = os.path.join(args.dir, f"idx2_{n_docs}")
    cores = spark_cores()
    spark = get_spark(app_name="scorer_bench", cores=cores)
    if not os.path.exists(corpus):
        from data_prep_opensearch_spark.sources.corpus import corpus_df

        corpus_df(spark, n_docs, partitions=32).write.mode("overwrite").parquet(corpus)
    if not os.path.exists(os.path.join(idx, "meta.json")):
        build_index(spark, spark.read.parquet(corpus), idx, n_shards=2, n_groups=1)
        sort_segments(spark, idx)

    eng = bm25.BM25Engine(spark, idx, cache=True)
    n, avgdl = int(eng.meta["n_docs"]), float(eng.meta["avgdl"])
    side = {int(s): bm25._sidecar_of(g, s) for s, g in eng._sidecar_frame(
        list(range(int(eng.meta["n_shards"])))).groupby("shard")}
    ref = [(q["query"], None) for q in reference_query_set()
           if len(set(TOKENIZERS["simple"](q["query"]))) >= 2]
    queries = ([("ref", q, m) for q, m in ref]
               + [("sel", q, None) for q in SEL_QUERIES]
               + [("msm", q, m) for q, m in MSM_QUERIES])
    print(f"cores={cores} n_docs={n} queries={len(queries)}")

    def run(plan, gdf, shards):
        outs = []
        for shard, grp in shards:
            base, dl_bytes, deleted = side[shard]
            outs.append(bm25._score_query(grp, plan, gdf, n, avgdl, K, base,
                                          dl_bytes, deleted))
        return pd.concat(outs + [bm25._empty_topk()]).sort_values(
            ["score", "doc_id"], ascending=[False, True]).head(K)

    rows, disagree = [], []
    for kind, q, msm in queries:
        plan = eng._query_plan(q, "auto", msm, None, None)
        if plan is None:
            continue
        gdf = eng.resolve_df(plan.terms)
        pdf = eng.seg.filter(eng.seg.term.isin(plan.terms)).toPandas()
        shards = [(int(s), g) for s, g in pdf.groupby("shard")]
        ms, tops = {}, {}
        for scorer in ("auto", "dense"):
            p = plan._replace(scorer=scorer)
            walls = []
            for _ in range(REPS):
                t0 = time.perf_counter()
                tops[scorer] = run(p, gdf, shards)
                walls.append(time.perf_counter() - t0)
            ms[scorer] = min(walls) * 1000
        a, b = tops["auto"], tops["dense"]
        agree = (a["doc_id"].tolist() == b["doc_id"].tolist()
                 and np.allclose(a["score"], b["score"], rtol=0, atol=1e-9))
        if not agree:
            disagree.append((q, msm))
        dfs = ",".join(f"{gdf[t] / n:.1%}" for t in plan.terms)
        label = q if msm is None else f"{q} msm={msm}"
        print(f"[{kind}] {label!r} (dfs {dfs}): auto {ms['auto']:.1f} ms  "
              f"dense {ms['dense']:.1f} ms  ratio {ms['auto'] / ms['dense']:.2f}"
              f"  topk-agree={agree}")
        rows.append({"kind": kind, "query": label, **ms})

    for kind in ("ref", "sel", "msm"):
        sub = [r for r in rows if r["kind"] == kind]
        if sub:
            print(f"{kind} p50 (min of {REPS} reps, all shards): "
                  f"auto {statistics.median(r['auto'] for r in sub):.1f} ms vs "
                  f"dense {statistics.median(r['dense'] for r in sub):.1f} ms")
    print(json.dumps({"cores": cores, "n_docs": n, "rows": rows}))
    spark.stop()
    if disagree:
        print(f"auto top-{K} differs from dense on {disagree}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
