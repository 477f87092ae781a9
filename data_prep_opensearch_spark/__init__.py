"""data_prep_opensearch_spark — a from-scratch PySpark-native fulltext engine.

Re-creates, Spark-first, the capability that the reference repo
(pranavnbapat/data-prep-opensearch) participates in: corpus preparation
(normalize → fingerprint → dedup → incremental skip) PLUS the downstream
inverted-index build and BM25 top-k retrieval its outputs feed
(see SURVEY.md §0).

Design (SURVEY.md §7):
  - DataFrame/SQL declarative plans; Catalyst handles pruning/pushdown.
  - All per-row text work in Arrow-vectorized pandas UDFs or JVM builtins.
  - Posting lists: delta + variable-byte encoded, block-max metadata.
  - Build: salted repartition-by-(term, docID-shard); shard width bounds
    hot-term group size (the skew/salting strategy).
  - Log-structured segment merge (tree fan-in) for incremental builds.
  - Block-max WAND top-k scorer over document-sharded segments.
  - Checkpoint/lineage table per build phase for mid-index resume.

This is NOT a port: the reference is a row-at-a-time Python ETL service;
everything here is a fresh Spark design. Reference citations in
docstrings are behavioral parity notes only.
"""

__version__ = "0.6.0"

# On-disk index layout revision: bump whenever the segment/doclen/
# manifest/meta FORMAT changes (not on every package release). Cache
# keys for built indexes include this, so a layout change invalidates
# stale /tmp caches even if a package version were ever reused.
INDEX_FORMAT_VERSION = 5  # 5: deletes as doclens `deleted` masks; 4: pos_bytes

from data_prep_opensearch_spark.session import get_spark  # noqa: F401
