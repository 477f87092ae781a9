"""spark-submit entry point:

    spark-submit --py-files dposs.zip -m ... data_prep_opensearch_spark/jobs.py \
        build  --source <parquet_dir> --index <index_dir> [--shards N] [--groups K] [--resume]
    ... jobs.py query  --index <index_dir> --q "terms ..." [--k 10] [--scorer auto]
    ... jobs.py merge  --index <index_dir> [--fan-in 8] [--apply-deletes]
    ... jobs.py add    --index <index_dir> --source <parquet_dir>
    ... jobs.py delete --index <index_dir> --ids <parquet_dir_with_doc_id>
    ... jobs.py bench-corpus --docs N --out <parquet_dir>
    ... jobs.py gc     --index <index_dir> [--grace-sec S]

On a cluster the session comes from spark-submit's conf; locally a
local[*] session is created. All jobs are idempotent/resumable via the
lineage table (BASELINE.md resumability criterion).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from data_prep_opensearch_spark.session import get_spark

    return get_spark(app_name=app)



def _parse_synonyms(spec: str | None) -> dict[str, list[str]] | None:
    """CLI synonym map: `a=b|c;d=e` -> {a: [b, c], d: [e]}."""
    if not spec:
        return None
    out: dict[str, list[str]] = {}
    for entry in spec.split(";"):
        src, _, alts = entry.partition("=")
        if not src or not alts:
            raise SystemExit(f"bad --synonyms entry {entry!r}")
        out[src.strip()] = [a.strip() for a in alts.split("|") if a.strip()]
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dposs-jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--source", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--shards", type=int, default=32)
    b.add_argument("--groups", type=int, default=4)
    b.add_argument("--resume", action="store_true")
    b.add_argument("--tokenizer", default="simple", choices=["simple", "code"])
    b.add_argument("--sort-segments", action="store_true")
    b.add_argument("--no-positions", action="store_true",
                   help="skip the positional (phrase-query) stream: "
                        "smaller index, phrase queries unavailable")

    q = sub.add_parser(
        "query",
        description="Query syntax: bare terms (OR), stem* prefix, "
                    "term~N fuzzy (N in 0..2; bare ~ = AUTO by length), "
                    "wild*card / wi?d patterns, /regexp/ (anchored), "
                    '-term / -stem* / -term~N must_not, "exact phrase", '
                    '"a b"~N ordered-proximity slop, -"..." negated '
                    "phrase; combine with --msm for m-of-n / AND.",
    )
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--scorer", default="auto", choices=["auto", "wand", "dense"])
    q.add_argument("--local", action="store_true",
                   help="driver-local latency tier (falls back to the "
                        "distributed path past the posting-mass guard)")
    q.add_argument("--max-expansions", type=int, default=None,
                   help="cap per trailing-* prefix clause (default 50, "
                        "df-ranked expansions win)")
    q.add_argument("--msm", default=None,
                   help="minimum-should-match: an int m (>= m of the "
                        "query's n distinct terms) or 'all' (pure AND)")
    q.add_argument("--search-after", default=None, metavar="SCORE,DOC_ID",
                   help="deep pagination cursor: the previous page's "
                        "last (score, doc_id); returns the next k "
                        "results strictly after it")
    q.add_argument("--highlight-source", default=None, metavar="PARQUET",
                   help="source parquet dir (repo,path,commit,content): "
                        "attach a best-fragment <em> snippet per hit "
                        "(unified-highlighter re-analyze mode)")
    q.add_argument("--highlight-window", type=int, default=20,
                   help="snippet window in tokens (default 20)")
    q.add_argument("--synonyms", default=None, metavar="A=B|C;D=E",
                   help="query-time synonym map (Lucene SynonymQuery "
                        "blended statistics)")

    ex = sub.add_parser(
        "explain",
        description="Lucene-style explain: per-clause score breakdown "
                    "of one document under a query (empty = no match).",
    )
    ex.add_argument("--index", required=True)
    ex.add_argument("--q", required=True)
    ex.add_argument("--doc-id", type=int, required=True)
    ex.add_argument("--msm", default=None)
    ex.add_argument("--max-expansions", type=int, default=None)

    ml = sub.add_parser(
        "mlt",
        description="more_like_this: search docs similar to the given "
                    "text (top tf*idf term selection, Lucene defaults).",
    )
    ml.add_argument("--index", required=True)
    ml.add_argument("--text", default=None, help="the LIKE text inline")
    ml.add_argument("--like-file", default=None,
                    help="read the LIKE text from a file")
    ml.add_argument("--k", type=int, default=10)
    ml.add_argument("--exclude-doc-id", type=int, default=None)
    ml.add_argument("--max-query-terms", type=int, default=None)
    ml.add_argument("--min-term-freq", type=int, default=None)
    ml.add_argument("--min-doc-freq", type=int, default=None)

    sr = sub.add_parser(
        "search",
        description="OpenSearch-style search body: scored query plus "
                    "optional filter context, sort, function_score, "
                    "facets, or multi-field dis_max.",
    )
    sr.add_argument("--index", default=None,
                    help="single-field index dir (or use --field)")
    sr.add_argument("--field", action="append", default=[],
                    metavar="NAME=DIR[^BOOST]",
                    help="repeatable; >= 2 fields run multi_match")
    sr.add_argument("--q", required=True)
    sr.add_argument("--k", type=int, default=10)
    sr.add_argument("--min-should-match", default=None)
    sr.add_argument("--type", default="best_fields",
                    choices=["best_fields", "most_fields"])
    sr.add_argument("--tie-breaker", type=float, default=0.0)
    sr.add_argument("--attrs", default=None,
                    help="parquet of per-doc attributes keyed by doc_id")
    sr.add_argument("--filter-sql", default=None,
                    help="SQL boolean over attr columns (filter context)")
    sr.add_argument("--sort", default=None,
                    help="comma list col[:asc|:desc]; 'score' mixes "
                         "relevance in")
    sr.add_argument("--function-score", default=None,
                    help="SQL expr over attr columns (field_value_factor)")
    sr.add_argument("--boost-mode", default="multiply",
                    choices=["multiply", "sum", "replace", "max", "min",
                             "avg"])
    sr.add_argument("--facets", default=None,
                    help="comma list of attr columns to bucket-count")
    sr.add_argument("--facet-size", type=int, default=10)
    sr.add_argument("--synonyms", default=None, metavar="A=B|C;D=E",
                    help="query-time synonym map")
    sr.add_argument("--rescore-q", default=None,
                    help="rescore window: second-pass query (full "
                         "query language, e.g. a phrase)")
    sr.add_argument("--rescore-window", type=int, default=50)
    sr.add_argument("--query-weight", type=float, default=1.0)
    sr.add_argument("--rescore-weight", type=float, default=1.0)
    sr.add_argument("--score-mode", default="total",
                    choices=["total", "multiply", "avg", "max", "min"])

    sg = sub.add_parser(
        "suggest",
        description="suggesters: --text for did-you-mean term "
                    "corrections, --prefix for df-weighted completions.",
    )
    sg.add_argument("--index", required=True)
    sg.add_argument("--text", default=None)
    sg.add_argument("--prefix", default=None)
    sg.add_argument("--size", type=int, default=5)
    sg.add_argument("--max-edits", type=int, default=2)
    sg.add_argument("--prefix-length", type=int, default=1)
    sg.add_argument("--suggest-mode", default="missing",
                    choices=["missing", "popular", "always"])
    sg.add_argument("--sort", default="score",
                    choices=["score", "frequency"])

    m = sub.add_parser("merge")
    m.add_argument("--index", required=True)
    m.add_argument("--fan-in", type=int, default=8)
    m.add_argument("--apply-deletes", action="store_true")

    a = sub.add_parser("add")
    a.add_argument("--index", required=True)
    a.add_argument("--source", required=True)

    d = sub.add_parser("delete")
    d.add_argument("--index", required=True)
    d.add_argument("--ids", required=True)

    g = sub.add_parser("bench-corpus")
    g.add_argument("--docs", type=int, required=True)
    g.add_argument("--out", required=True)

    c = sub.add_parser("cancel")
    c.add_argument("--index", required=True)
    c.add_argument("--reason", default="")

    st = sub.add_parser(
        "stats",
        description="index stats (_stats analogue): doc counts, "
                    "segment/doclen layout and bytes, deleted docs, "
                    "GC-ledger state — no Spark session needed.",
    )
    st.add_argument("--index", required=True)

    gc = sub.add_parser("gc")
    gc.add_argument("--index", required=True)
    gc.add_argument("--grace-sec", type=float, default=None,
                    help="override $DPOSS_GC_GRACE_SEC; 0 drains everything")

    args = p.parse_args(argv)

    if args.cmd == "stats":
        import os

        from data_prep_opensearch_spark.operators.bm25 import load_meta
        from data_prep_opensearch_spark.operators.manifest import (
            deleted_count,
            load_manifest,
        )

        def du(rel: str) -> tuple[int, int]:
            root = os.path.join(args.index, rel)
            total = files = 0
            for dirpath, _, names in os.walk(root):
                for n in names:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, n))
                        files += 1
                    except OSError:
                        pass
            return total, files

        meta = load_meta(args.index)
        man = load_manifest(args.index) or {}
        seg_bytes = seg_files = 0
        for seg in man.get("segments", []):
            b, f = du(seg["path"])
            seg_bytes += b
            seg_files += f
        dl_bytes = sum(du(d)[0] for d in man.get("doclens", []))
        ds_bytes = sum(du(d)[0] for d in man.get("doc_stats", []))
        print(json.dumps({
            "n_docs": meta.get("n_docs"),
            "avgdl": meta.get("avgdl"),
            "tokenizer": meta.get("tokenizer"),
            "n_shards": meta.get("n_shards"),
            "positions": meta.get("positions"),
            "generations": meta.get("generations"),
            "manifest_version": man.get("version"),
            "segments": [s_["path"] for s_ in man.get("segments", [])],
            "segment_bytes": seg_bytes,
            "segment_files": seg_files,
            "doclen_bytes": dl_bytes,
            "doc_stats_bytes": ds_bytes,
            "deleted_docs": deleted_count(args.index),
            "retired_pending_gc": len(man.get("retired", [])),
        }))
        return 0
    if args.cmd == "gc":
        # drain the manifest's retired-dir ledger past the grace period;
        # an idle index otherwise keeps retired dirs until its next write
        # (operators/manifest.py reader-visibility GC delay)
        from data_prep_opensearch_spark.operators.locks import index_lock
        from data_prep_opensearch_spark.operators.manifest import gc_retired

        with index_lock(args.index, purpose="gc"):
            removed = gc_retired(args.index, grace_sec=args.grace_sec)
        print(json.dumps({"gc_removed": removed}))
        return 0
    if args.cmd == "cancel":
        # no Spark session needed: the flag is a small file the running
        # writer polls at its next safe point (operators/cancellation.py)
        from data_prep_opensearch_spark.operators.cancellation import (
            request_cancel,
        )

        request_cancel(args.index, reason=args.reason)
        print(json.dumps({"cancel_requested": args.index}))
        return 0
    spark = _spark(f"dposs_{args.cmd}")
    try:
        return _run(args, spark)
    except ValueError as exc:
        if args.cmd not in ("query", "search"):
            raise
        # query text outside the syntax contract (e.g. a fuzzy budget
        # past Lucene's 0..2) is a usage error, not a traceback
        raise SystemExit(f"{args.cmd}: {exc}") from None


def _run(args: argparse.Namespace, spark) -> int:
    """Run one Spark-backed command; returns the exit code."""
    if args.cmd == "build":
        from data_prep_opensearch_spark.operators.index_build import (
            build_index,
            sort_segments,
        )

        meta = build_index(
            spark, spark.read.parquet(args.source), args.index,
            n_shards=args.shards, tokenizer=args.tokenizer,
            n_groups=args.groups, resume=args.resume,
            positions=not args.no_positions,
        )
        if args.sort_segments and meta.get("status") == "complete":
            sort_segments(spark, args.index)
        print(json.dumps(meta))
    elif args.cmd == "query":
        msm = args.msm if args.msm in (None, "all") else int(args.msm)
        syn = _parse_synonyms(args.synonyms)
        after = None
        if args.search_after:
            s_str, d_str = args.search_after.rsplit(",", 1)
            after = (float(s_str), int(d_str))
        if args.local:
            from data_prep_opensearch_spark.operators.bm25 import BM25Engine

            eng = BM25Engine(spark, args.index, cache=False)
            rows = eng.topk_local(args.q, args.k, scorer=args.scorer,
                                  min_should_match=msm,
                                  max_expansions=args.max_expansions,
                                  search_after=after,
                                  synonyms=syn).collect()
        else:
            from data_prep_opensearch_spark.operators.bm25 import query_topk

            rows = query_topk(spark, args.index, args.q, args.k,
                              scorer=args.scorer,
                              min_should_match=msm,
                              max_expansions=args.max_expansions,
                              search_after=after,
                              synonyms=syn).collect()
        out = [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]
        if args.highlight_source and out:
            from pyspark.sql import functions as F

            from data_prep_opensearch_spark.operators.bm25 import BM25Engine
            from data_prep_opensearch_spark.operators.highlight import (
                positive_terms,
                with_highlights,
            )
            from data_prep_opensearch_spark.operators.manifest import (
                read_doc_stats,
            )

            eng = BM25Engine(spark, args.index, cache=False)
            terms = positive_terms(args.q, eng)
            hits = spark.createDataFrame(
                [(h["doc_id"],) for h in out], ["doc_id"]
            )
            stats = read_doc_stats(spark, args.index).join(
                F.broadcast(hits), "doc_id"
            )
            src = spark.read.parquet(args.highlight_source)
            joined = src.join(
                F.broadcast(stats.select("doc_id", "repo", "path", "commit")),
                ["repo", "path", "commit"],
            )
            hl = with_highlights(
                joined, "content", terms,
                tokenizer=eng.meta["tokenizer"],
                window=args.highlight_window,
            ).select("doc_id", "hl_snippet").collect()
            snips = {r["doc_id"]: r["hl_snippet"] for r in hl}
            for h in out:
                h["snippet"] = snips.get(h["doc_id"])
        print(json.dumps(out))
    elif args.cmd == "explain":
        from data_prep_opensearch_spark.operators.bm25 import BM25Engine

        msm = args.msm if args.msm in (None, "all") else int(args.msm)
        eng = BM25Engine(spark, args.index, cache=False)
        pdf = eng.explain(args.q, args.doc_id, min_should_match=msm,
                          max_expansions=args.max_expansions)
        print(json.dumps({
            "doc_id": args.doc_id,
            "matches": bool(len(pdf)),
            "score": float(pdf["contribution"].sum()) if len(pdf) else None,
            "clauses": pdf.to_dict("records"),
        }))
    elif args.cmd == "mlt":
        from data_prep_opensearch_spark.operators.bm25 import BM25Engine

        if not args.text and not args.like_file:
            raise SystemExit("mlt: pass --text or --like-file")
        text = args.text
        if args.like_file:
            with open(args.like_file, encoding="utf-8") as fh:
                text = fh.read()
        eng = BM25Engine(spark, args.index, cache=False)
        rows = eng.more_like_this(
            text, args.k, exclude_doc_id=args.exclude_doc_id,
            max_query_terms=args.max_query_terms,
            min_term_freq=args.min_term_freq,
            min_doc_freq=args.min_doc_freq,
        ).collect()
        print(json.dumps(
            [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]
        ))
    elif args.cmd == "search":
        from pyspark.sql import functions as F

        from data_prep_opensearch_spark.operators.bm25 import BM25Engine

        msm = args.min_should_match
        if msm is not None and msm != "all":
            msm = int(msm)
        if args.field and args.index:
            raise SystemExit("search: pass --index OR --field, not both")
        if _parse_synonyms(args.synonyms) and (
                args.rescore_q or args.facets or args.function_score
                or args.sort or args.filter_sql or len(args.field) >= 2):
            # only the plain top-k body threads the synonym map today;
            # fail loudly instead of silently dropping the flag
            raise SystemExit(
                "search: --synonyms is only supported on the plain top-k "
                "body (not with rescore/facets/function-score/sort/filter/"
                "multi-field)")
        if len(args.field) >= 2:
            from data_prep_opensearch_spark.operators.multi_match import (
                multi_match_topk,
            )

            engines = {}
            for spec in args.field:
                name, _, rest = spec.partition("=")
                d, _, boost = rest.partition("^")
                engines[name] = (BM25Engine(spark, d, cache=False),
                                 float(boost) if boost else 1.0)
            rows = multi_match_topk(
                engines, args.q, k=args.k, match_type=args.type,
                tie_breaker=args.tie_breaker, min_should_match=msm,
            ).collect()
            print(json.dumps(
                [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]
            ))
            return 0
        idx = args.index or (args.field[0].partition("=")[2]
                             .partition("^")[0] if args.field else None)
        if not idx:
            raise SystemExit("search: pass --index or --field")
        eng = BM25Engine(spark, idx, cache=False)
        attrs = (spark.read.parquet(args.attrs)
                 if args.attrs else None)
        needs_attrs = args.filter_sql or args.sort or \
            args.function_score or args.facets
        if needs_attrs and attrs is None and not (
                args.sort and all(
                    c.split(":")[0] in ("score", "doc_id")
                    for c in args.sort.split(","))):
            raise SystemExit("search: this body needs --attrs")
        if args.rescore_q:
            from data_prep_opensearch_spark.operators.search_body import (
                rescore_topk,
            )

            rows = rescore_topk(
                eng, args.q, args.rescore_q,
                window_size=args.rescore_window, k=args.k,
                query_weight=args.query_weight,
                rescore_weight=args.rescore_weight,
                score_mode=args.score_mode, min_should_match=msm,
            ).collect()
            print(json.dumps([
                {"doc_id": r["doc_id"], "score": r["score"],
                 "rescore_score": r["rescore_score"],
                 "new_score": r["new_score"]} for r in rows
            ]))
            return 0
        if args.facets:
            from data_prep_opensearch_spark.operators.facets import (
                facet_counts,
            )

            matches = eng.match_ids(args.q, min_should_match=msm)
            buckets = facet_counts(
                matches.join(attrs, "doc_id"),
                {c: c for c in args.facets.split(",")},
                size=args.facet_size,
            ).collect()
            print(json.dumps([
                {"facet": r["facet"], "value": r["value"],
                 "n_docs": r["n_docs"]} for r in buckets
            ]))
            return 0
        if args.function_score:
            from data_prep_opensearch_spark.operators.search_body import (
                function_score_topk,
            )

            rows = function_score_topk(
                eng, args.q, attrs, F.expr(args.function_score),
                k=args.k, boost_mode=args.boost_mode,
                min_should_match=msm,
            ).collect()
            print(json.dumps([
                {"doc_id": r["doc_id"], "score": r["score"],
                 "func_value": r["func_value"],
                 "new_score": r["new_score"]} for r in rows
            ]))
            return 0
        if args.sort:
            from data_prep_opensearch_spark.operators.search_body import (
                sorted_topk,
            )

            sort = []
            for part in args.sort.split(","):
                col, _, d = part.partition(":")
                sort.append((col, d.lower() != "desc"))
            src = attrs if attrs is not None else \
                eng.match_scores(args.q, msm).select("doc_id")
            rows = sorted_topk(
                eng, args.q, src, sort, k=args.k,
                filter_expr=(F.expr(args.filter_sql)
                             if args.filter_sql else None),
                min_should_match=msm,
            ).collect()
            print(json.dumps([r.asDict() for r in rows]))
            return 0
        if args.filter_sql:
            from data_prep_opensearch_spark.operators.search_body import (
                filtered_topk,
            )

            rows = filtered_topk(
                eng, args.q, attrs, F.expr(args.filter_sql), k=args.k,
                min_should_match=msm,
            ).collect()
        else:
            rows = eng.topk(args.q, args.k, min_should_match=msm,
                            synonyms=_parse_synonyms(args.synonyms)).collect()
        print(json.dumps(
            [{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]
        ))
    elif args.cmd == "suggest":
        from data_prep_opensearch_spark.operators.bm25 import BM25Engine
        from data_prep_opensearch_spark.operators.suggest import (
            completion_suggest,
            term_suggest,
        )

        if (args.text is None) == (args.prefix is None):
            raise SystemExit("suggest: pass exactly one of --text / --prefix")
        eng = BM25Engine(spark, args.index, cache=False)
        if args.text is not None:
            rows = term_suggest(
                eng, args.text, size=args.size, max_edits=args.max_edits,
                prefix_length=args.prefix_length,
                suggest_mode=args.suggest_mode, sort=args.sort,
            ).collect()
            print(json.dumps([
                {"token": r["token"], "suggestion": r["suggestion"],
                 "dist": r["dist"], "score": round(r["score"], 4),
                 "df": r["df"]} for r in rows
            ]))
        else:
            rows = completion_suggest(eng, args.prefix, args.size).collect()
            print(json.dumps([
                {"suggestion": r["suggestion"], "df": r["df"]} for r in rows
            ]))
    elif args.cmd == "merge":
        from data_prep_opensearch_spark.operators.segment_merge import merge_segments

        print(json.dumps(merge_segments(spark, args.index, fan_in=args.fan_in,
                                        apply_deletes=args.apply_deletes)))
    elif args.cmd == "add":
        from data_prep_opensearch_spark.operators.incremental import add_documents

        print(json.dumps(add_documents(spark, args.index, spark.read.parquet(args.source))))
    elif args.cmd == "delete":
        from data_prep_opensearch_spark.operators.incremental import delete_documents

        n = delete_documents(spark, args.index, spark.read.parquet(args.ids))
        print(json.dumps({"tombstoned": n}))
    elif args.cmd == "bench-corpus":
        from data_prep_opensearch_spark.sources.corpus import corpus_df

        corpus_df(spark, args.docs).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"docs": args.docs, "out": args.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
