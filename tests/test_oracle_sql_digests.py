"""Every catalog oracle's SQL text, pinned byte for byte.

``plans/queries.py`` composes its DuckDB oracles from shared fragments
(the BM25 CTEs, the score expression, the capped expansion). A fragment
edit reaches every oracle built from it, so each entry's
``oracle_sql()`` text is hashed (sha256 of the UTF-8 text) and checked
against ``oracle_sql_digests.json``: an oracle cannot change what it
checks without that list being regenerated on purpose. No Spark session
is started.

The catalog's shape is pinned the same way: the names of its entries,
their order and each entry's ``covers`` list.

``emb_ann_ivf``'s SQL embeds a codebook trained from
``embeddings.parquet``, so its digest is taken at sf0.001 and is skipped
where that table is absent.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from test_catalog_oracle import SF

from data_prep_opensearch_spark.plans.queries import ORACLE_SF_ENV, REGISTRY

with open(os.path.join(os.path.dirname(__file__),
                       "oracle_sql_digests.json")) as _f:
    DIGESTS = json.load(_f)

# sha256 of json.dumps([(name, spec.covers) for name, spec in REGISTRY.items()])
CATALOG_SHAPE = "c9b3f7c958774a04922e49ebff677026517776ebfa8274db87ea8e8a59e74c76"


def _digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def test_catalog_names_order_and_covers_unchanged():
    shape = json.dumps([(n, s.covers) for n, s in REGISTRY.items()])
    assert _digest(shape) == CATALOG_SHAPE


def test_every_oracle_is_pinned():
    assert sorted(DIGESTS) == sorted(
        n for n, s in REGISTRY.items() if s.sql is not None)


@pytest.mark.parametrize(
    "name", [n for n, s in REGISTRY.items() if isinstance(s.sql, str)])
def test_static_oracle_sql_unchanged(name):
    assert _digest(REGISTRY[name].sql) == DIGESTS[name]


@pytest.mark.skipif(not os.path.exists(f"{SF}/embeddings.parquet"),
                    reason="sf0.001 embeddings not present")
def test_ivf_oracle_sql_unchanged(monkeypatch):
    monkeypatch.setenv(ORACLE_SF_ENV, SF)
    assert _digest(REGISTRY["emb_ann_ivf"].sql()) == DIGESTS["emb_ann_ivf"]
