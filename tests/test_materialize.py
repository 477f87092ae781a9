"""``session._materialize``: with a checkpoint dir set on the
SparkContext, the product's materialization points write reliable
checkpoints there; without one they checkpoint locally, as before."""

from __future__ import annotations

import os

from data_prep_opensearch_spark.operators.dedup import ngram_jaccard_pairs
from data_prep_opensearch_spark.session import _materialize

DOCS = [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta zeta"),
        (3, "one two three four five"), (4, "one two three four six")]


def _rdd_dirs(root: str) -> set[str]:
    """The checkpointed RDD dirs under ``root`` that hold data files."""
    return {r for r, _, fs in os.walk(root)
            if os.path.basename(r).startswith("rdd-")
            and any(f.startswith("part-") for f in fs)}


def _pairs(spark) -> list[tuple]:
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    return sorted(tuple(r) for r in ngram_jaccard_pairs(docs, 0.1).collect())


def test_checkpoint_dir_gets_reliable_checkpoints(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    want = _pairs(spark)
    assert want and not _rdd_dirs(str(tmp_path))
    sc.setCheckpointDir(str(tmp_path))
    try:
        df = _materialize(spark.range(40))
        made = _rdd_dirs(str(tmp_path))
        assert len(made) == 1
        assert sorted(r.id for r in df.collect()) == list(range(40))
        # ngram_jaccard_pairs materializes its shingle rows
        assert _pairs(spark) == want
        assert len(_rdd_dirs(str(tmp_path))) > len(made)
    finally:
        # SparkContext has no public unset; clear the field so the tests
        # after this one run without a checkpoint dir
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
