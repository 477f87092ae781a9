"""End-to-end CLI coverage: every jobs.py verb driven in-process
(main(argv) with the test session active), asserting the one-JSON-line
contract the driver relies on."""
from __future__ import annotations

import json
import os

import pytest


@pytest.fixture(scope="module")
def cli_index(spark, tmp_root):
    """A small index + attrs parquet built through the CLI itself."""
    from data_prep_opensearch_spark.jobs import main
    from data_prep_opensearch_spark.sources.corpus import corpus_df

    src = os.path.join(tmp_root, "cli_corpus")
    idx = os.path.join(tmp_root, "cli_idx")
    corpus_df(spark, 150).write.mode("overwrite").parquet(src)
    rc = main(["build", "--source", src, "--index", idx,
               "--shards", "4", "--groups", "2"])
    assert rc == 0
    from data_prep_opensearch_spark.operators.manifest import read_doc_stats

    attrs = os.path.join(tmp_root, "cli_attrs")
    read_doc_stats(spark, idx).select("doc_id", "lang", "doclen") \
        .write.mode("overwrite").parquet(attrs)
    return idx, attrs


def _run(capsys, argv):
    from data_prep_opensearch_spark.jobs import main

    rc = main(argv)
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and out
    return json.loads(out[-1])


def test_cli_query_scorer_parity(cli_index, capsys):
    idx, _ = cli_index
    wand = _run(capsys, ["query", "--index", idx, "--q", "import merge",
                         "--scorer", "wand", "--k", "5"])
    dense = _run(capsys, ["query", "--index", idx, "--q", "import merge",
                          "--scorer", "dense", "--k", "5"])
    assert wand == dense and len(wand) == 5
    local = _run(capsys, ["query", "--index", idx, "--q", "import merge",
                          "--local", "--k", "5"])
    assert local == wand


def test_cli_query_synonyms_and_msm(cli_index, capsys):
    idx, _ = cli_index
    base = _run(capsys, ["query", "--index", idx, "--q", "import",
                         "--synonyms", "import=zzznope", "--k", "3"])
    plain = _run(capsys, ["query", "--index", idx, "--q", "import",
                          "--k", "3"])
    assert base == plain  # df-0 synonym is a no-op
    allq = _run(capsys, ["query", "--index", idx,
                         "--q", "import merge", "--msm", "all", "--k", "3"])
    assert all(isinstance(h["doc_id"], int) for h in allq)


def test_cli_search_body_paths(cli_index, capsys):
    idx, attrs = cli_index
    filt = _run(capsys, ["search", "--index", idx, "--q", "import merge",
                         "--attrs", attrs, "--filter-sql", "doclen >= 50",
                         "--k", "3"])
    assert len(filt) <= 3
    srt = _run(capsys, ["search", "--index", idx, "--q", "import merge",
                        "--attrs", attrs, "--sort", "doclen:desc,score:desc",
                        "--k", "3"])
    dls = [h["doclen"] for h in srt]
    assert dls == sorted(dls, reverse=True)
    fs = _run(capsys, ["search", "--index", idx, "--q", "import merge",
                       "--attrs", attrs, "--function-score",
                       "log1p(doclen)", "--boost-mode", "sum", "--k", "3"])
    for h in fs:
        assert h["new_score"] == pytest.approx(
            h["score"] + h["func_value"], rel=1e-9)
    fac = _run(capsys, ["search", "--index", idx, "--q", "import",
                        "--attrs", attrs, "--facets", "lang",
                        "--facet-size", "3"])
    assert all(b["facet"] == "lang" for b in fac) and len(fac) <= 3
    resc = _run(capsys, ["search", "--index", idx, "--q", "import merge",
                         "--rescore-q", "import", "--rescore-weight", "2",
                         "--k", "3"])
    assert all("new_score" in h for h in resc)
    mm = _run(capsys, ["search", "--field", f"text={idx}",
                       "--field", f"title={idx}^2.0",
                       "--q", "import", "--tie-breaker", "0.5", "--k", "3"])
    one = _run(capsys, ["search", "--index", idx, "--q", "import",
                        "--k", "3"])
    for h, b in zip(mm, one):  # same index twice: 2s + 0.5*s = 2.5x
        assert h["score"] == pytest.approx(2.5 * b["score"], rel=1e-9)


def test_cli_suggest_and_stats(cli_index, capsys):
    idx, _ = cli_index
    sug = _run(capsys, ["suggest", "--index", idx, "--text", "imprt"])
    assert any(s["suggestion"] == "import" for s in sug)
    comp = _run(capsys, ["suggest", "--index", idx, "--prefix", "im",
                         "--size", "3"])
    assert comp and all(c["suggestion"].startswith("im") for c in comp)
    st = _run(capsys, ["stats", "--index", idx])
    assert st["n_docs"] == 150 and st["segment_bytes"] > 0
    assert st["retired_pending_gc"] == 0


def test_cli_explain_and_mlt(cli_index, capsys):
    idx, _ = cli_index
    hits = _run(capsys, ["query", "--index", idx, "--q", "import merge",
                         "--k", "1"])
    ex = _run(capsys, ["explain", "--index", idx, "--q", "import merge",
                       "--doc-id", str(hits[0]["doc_id"])])
    assert ex["matches"] is True
    assert ex["score"] == pytest.approx(hits[0]["score"], rel=1e-9)
    total = sum(row["contribution"] for row in ex["clauses"])
    assert total == pytest.approx(hits[0]["score"], rel=1e-9)
    mlt = _run(capsys, ["mlt", "--index", idx, "--text",
                        "import merge batch import import merge",
                        "--k", "3"])
    assert isinstance(mlt, list)


def test_cli_errors(cli_index, capsys):
    from data_prep_opensearch_spark.jobs import main

    idx, _ = cli_index
    with pytest.raises(SystemExit):
        main(["search", "--q", "x"])  # no index/field
    with pytest.raises(SystemExit):
        main(["search", "--index", idx, "--q", "x",
              "--filter-sql", "a=1"])  # filter without attrs
    with pytest.raises(SystemExit):
        main(["suggest", "--index", idx])  # neither text nor prefix
    # a fuzzy budget past Lucene's 0..2 is a clean usage error
    with pytest.raises(SystemExit, match=r"^query: .*0\.\.2"):
        main(["query", "--index", idx, "--q", "import~5"])
    with pytest.raises(SystemExit, match=r"^search: .*0\.\.2"):
        main(["search", "--index", idx, "--q", "merge~3"])
    capsys.readouterr()
