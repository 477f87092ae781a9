"""Deduplication operators for training-data pipelines, Spark-first.

Five families (each with a queries() entry + oracle in plans/queries.py):
  - exact:        hash-groupBy on content fingerprint
  - minhash_lsh:  word-shingle MinHash signatures + banded LSH join
  - simhash:      64-bit sign-aggregated token hashes, hamming buckets
  - ngram_jaccard: exact Jaccard over word n-gram shingles (pair join)
  - embedding near-dup: cosine over embedding vectors (see similarity.py)

Portability note: hash primitives are md5/sha2 HEX STRINGS (identical in
Spark and DuckDB), and MinHash takes the LEXICOGRAPHIC min of md5 hex
digests — so every step is reproducible in the SQL oracle. xxhash64 would
be faster but engine-private; at 100 TB swap HASH_FN once, the shape of
every plan is unchanged.

Scale notes: MinHash/LSH is the linear-shuffle path (shingle explode →
per-(doc, seed) min agg → band join) — no O(n²) pair scan; the exact
ngram-Jaccard operator joins only pairs sharing >=1 shingle (inverted
shingle index), which is the standard candidate-pruned exact computation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from data_prep_opensearch_spark.functions.text import tokens_col
from data_prep_opensearch_spark.session import _materialize

N_MINHASH = 16           # signature length
LSH_BANDS = 4            # bands of 4 rows each
SHINGLE_N = 3            # word-shingle width


def exact_dedup(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by sha2(content): keeper = min key, plus
    group size. First-occurrence-keeping mirrors the reference's
    dedup_case_insensitive keep-first rule (stages/downloader/fingerprints.py:86-98)."""
    return (
        df.withColumn("content_fp", F.sha2(F.col(text), 256))
        .groupBy("content_fp")
        .agg(
            F.min(key).alias("keeper"),
            F.count("*").alias("n_dups"),
        )
    )


def word_shingles(toks: Column, n: int = SHINGLE_N) -> Column:
    """Word n-gram shingles as '_'-joined strings from a TOKEN ARRAY column.

    Takes a bound column (not an expression): a lambda capturing an
    expression subtree (e.g. the tokenizing regexp) gets re-evaluated per
    array element by Catalyst — measured ~10x slower. Callers project the
    token array first."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws("_", *[F.element_at(toks, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array(F.concat_ws("_", toks)))


def _pair_combos(ks: Column) -> Column:
    """All ordered combinations (a < b) of a SORTED array column, as an
    array of (id_a, id_b) structs. Callers must bound the array length
    (hot-bucket caps) — the fan-out is |ks|²/2 by construction."""
    return F.flatten(
        F.transform(
            ks,
            lambda a, i: F.transform(
                F.slice(ks, i + F.lit(2), F.greatest(F.size(ks) - i - 1, F.lit(0))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )


def shingle_rows(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """(key, shingle) distinct rows — the inverted shingle index.

    Dedup happens INSIDE each doc's shingle array (array_distinct) before
    the explode, so the rows are unique by construction and the explicit
    ``.distinct()`` exchange the round-2 version paid — a full shuffle of
    the exploded shingle stream — is gone (guide §2.4: a distinct on
    already-unique data is an accidental shuffle)."""
    toks = df.select(F.col(key), tokens_col(F.col(text)).alias("_toks"))
    return toks.select(
        F.col(key),
        F.explode(F.array_distinct(word_shingles(F.col("_toks")))).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text: str = "text",
    key: str = "doc_id",
    max_shingle_df: int | None = 100,
    log_drops: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs sharing >=1 shingle,
    with HOT-SHINGLE SUPPRESSION.

    |A ∩ B| from per-shingle member-list combinations (capped mode) or
    the shingle self-join (uncapped); |A ∪ B| = |A| + |B| - |A ∩ B|.
    Pair generation is shingle-partitioned (no cross product); a hot shingle's
    fan-out is the classic skew point: one stopword shingle present in d
    docs produces O(d²) candidate rows. Shingles whose document frequency
    exceeds ``max_shingle_df`` are therefore dropped BEFORE the self-join
    (stopword-shingle suppression — the deferral-style skew isolation of
    the reference's oversized-doc handling, api/mysql_store.py:841-865),
    bounding per-shingle fan-out at max_shingle_df². Jaccard is then
    computed over the SURVIVING shingle universe (sizes too), so engine
    and oracle agree exactly. The cap is part of the operator's contract,
    not a silent truncation: pass ``log_drops=True`` to print the number
    of suppressed shingles, or ``max_shingle_df=None`` for the uncapped
    exact computation.
    """
    # materialize the shingle index FIRST: the suppression df-agg, the
    # (optional) drop-count job, the size agg and the pair pass all read
    # the same rows — checkpointing after the anti-join (round-5 shape)
    # made the drop-count and the suppression scan each re-run the whole
    # tokenize->shingle DAG. With a checkpoint dir set, this table is
    # written to storage.
    sh = _materialize(shingle_rows(df, text, key))
    if max_shingle_df is not None:
        sdf = sh.groupBy("shingle").agg(F.count("*").alias("_sdf"))
        hot = sdf.filter(F.col("_sdf") > max_shingle_df).select("shingle")
        if log_drops:
            n_hot = hot.count()
            if n_hot:
                print(
                    f"ngram_jaccard_pairs: suppressed {n_hot} shingles with "
                    f"df > {max_shingle_df} before the pair join"
                )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy(key).agg(F.count("*").alias("sz"))
    # candidate pairs WITHOUT a self-join: group each surviving shingle's
    # member list (bounded by max_shingle_df — the cap ran first, so no
    # aggregation buffer can exceed it at any corpus size) and explode
    # the sorted-order combinations. One shuffle of the shingle rows
    # instead of the self-join's two, and the per-shingle pair fan-out
    # happens inside the aggregation task, map-side-combined into the
    # pair count.
    if max_shingle_df is not None:
        inter = (
            sh.groupBy("shingle")
            .agg(F.array_sort(F.collect_list(key)).alias("_ks"))
            .select(F.explode(_pair_combos(F.col("_ks"))).alias("_p"))
            .groupBy(
                F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b")
            )
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        # uncapped exact mode: member lists are unbounded, so pair
        # generation falls back to the shingle-partitioned self-join
        # (no aggregation buffer ever holds a whole hot shingle)
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col(f"a.{key}") < F.col(f"b.{key}")))
            .groupBy(F.col(f"a.{key}").alias("id_a"),
                     F.col(f"b.{key}").alias("id_b"))
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col(key).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(key).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _minhash_wide(sh: DataFrame, key: str, n_hashes: int) -> DataFrame:
    """One row per key with the ``n_hashes`` signature columns
    ``_m0..``: ``_m{s}`` is the min over the key's shingles of
    md5(concat(s, ':', shingle)), all seeds aggregated in ONE pass."""
    return sh.groupBy(key).agg(*[
        F.min(F.md5(F.concat_ws(":", F.lit(s), F.col("shingle")))).alias(f"_m{s}")
        for s in range(n_hashes)
    ])


def minhash_signatures(
    df: DataFrame, text: str = "text", key: str = "doc_id", n_hashes: int = N_MINHASH
) -> DataFrame:
    """MinHash signature rows (key, seed, minhash) via the portable
    lexicographic-min-of-md5 construction:
        h_s(shingle) = md5(concat(s, ':', shingle));  sig_s = min over shingles.

    Shuffle shape: the round-2 version cross-joined shingles × seeds and
    shuffled (docs × seeds) grouped rows. Same VALUES here with the seed
    dimension as n_hashes parallel min-aggregates over ONE shingle pass
    (map-side partial mins), unpivoted after the shuffle — 16× fewer
    shuffled rows, identical md5 count, oracle unchanged."""
    wide = _minhash_wide(shingle_rows(df, text, key), key, n_hashes)
    pairs = F.array(*[
        F.struct(
            F.lit(s).cast("int").alias("seed"),
            F.col(f"_m{s}").alias("minhash"),
        )
        for s in range(n_hashes)
    ])
    return wide.select(F.col(key), F.explode(pairs).alias("_sm")).select(
        key, F.col("_sm.seed").alias("seed"), F.col("_sm.minhash").alias("minhash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    max_bucket_size: int | None = 200,
    log_drops: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on ALL rows of >=1 band.

    band_hash = md5(concat of the band's minhashes in seed order); pairs
    sharing a (band, band_hash) bucket are candidates (deduped across
    bands). Standard banding estimate: P(candidate) = 1-(1-j^r)^b.

    HOT-BUCKET SUPPRESSION (the same skew guard the shingle-df cap gives
    ngram_jaccard_pairs): a degenerate bucket — boilerplate-heavy corpora
    put a large fraction of docs behind ONE band hash — re-creates the
    O(m²) fan-out the banded join exists to avoid. Buckets with more than
    ``max_bucket_size`` members are dropped BEFORE the self-join,
    bounding per-bucket candidates at max_bucket_size². A bucket that
    hot is boilerplate by construction (its members are mutual near-dups
    of a template, not informative pairs); the cap is part of the
    operator contract and mirrored in the ft_lsh_pairs oracle, not a
    silent truncation — ``log_drops=True`` prints dropped buckets, and
    ``max_bucket_size=None`` restores the uncapped join. Reference
    analogue: the deferral-style skew isolation of api/mysql_store.py:841-865.
    """
    if bands < 1 or n_hashes % bands:
        # leftover seeds would silently fall outside every band
        raise ValueError(
            f"n_hashes ({n_hashes}) must split evenly into bands ({bands})")
    rows_per_band = n_hashes // bands
    # band hashes straight off the WIDE per-doc signature row: each
    # band's members are fixed seed columns, so md5(concat of the sorted
    # "seed:minhash" strings) is a pure per-row expression — the round-5
    # explode -> groupBy(key, band) -> collect_list path shuffled
    # (docs x seeds) rows to recompute what the wide row already holds.
    # Values are IDENTICAL (same strings, same array_sort, same md5).
    wide = _minhash_wide(shingle_rows(df, text, key), key, n_hashes)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.md5(F.concat_ws(",", F.array_sort(F.array(*[
                F.concat_ws(":", F.lit(s), F.col(f"_m{s}"))
                for s in range(b * rows_per_band, (b + 1) * rows_per_band)
            ])))).alias("band_hash"),
        )
        for b in range(bands)
    ])
    band_hashes = wide.select(
        F.col(key), F.explode(band_structs).alias("_bh")
    ).select(key, F.col("_bh.band").alias("band"),
             F.col("_bh.band_hash").alias("band_hash"))
    # materialize before the bucket passes: without this, the size gate
    # and the pair generation would each recompute the whole
    # shingle->minhash DAG (measured 25x slower). With a checkpoint dir
    # set, the signature table is written to storage.
    band_hashes = _materialize(band_hashes)
    if max_bucket_size is not None:
        bsz = band_hashes.groupBy("band", "band_hash").agg(
            F.count("*").alias("_bsz")
        )
        hot = bsz.filter(F.col("_bsz") > max_bucket_size).select(
            "band", "band_hash"
        )
        if log_drops:
            n_hot = hot.count()
            if n_hot:
                print(
                    f"minhash_lsh_pairs: suppressed {n_hot} band buckets "
                    f"with > {max_bucket_size} members before the pair join"
                )
        band_hashes = band_hashes.join(
            F.broadcast(hot), ["band", "band_hash"], "left_anti"
        )
        # surviving buckets are <= max_bucket_size members, so pair
        # generation is a bounded bucket collect + combination explode —
        # one shuffle of the band rows instead of the self-join's two
        return (
            band_hashes.groupBy("band", "band_hash")
            .agg(F.array_sort(F.collect_list(key)).alias("_ks"))
            .select(F.explode(_pair_combos(F.col("_ks"))).alias("_p"))
            .select(F.col("_p.id_a").alias("id_a"),
                    F.col("_p.id_b").alias("id_b"))
            .distinct()
        )
    # uncapped mode: bucket membership is unbounded — keep the
    # bucket-partitioned self-join (no whole-bucket aggregation buffer)
    a = band_hashes.alias("a")
    b = band_hashes.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col(f"a.{key}") < F.col(f"b.{key}")))
        .select(F.col(f"a.{key}").alias("id_a"), F.col(f"b.{key}").alias("id_b"))
        .distinct()
    )


def simhash64(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """64-bit SimHash over tokens (Charikar'02): for each of 64 bit
    positions, sum +1/-1 weighted by tf across token hashes; bit = sign.

    Portable construction: bit b of token t = hex digit test on md5(t).
    Computed with one explode + 64 conditional sums (columnar, no UDF).
    Result: (key, simhash as 16-hex-char string) + hamming-bucket prefix.
    """
    toks = (
        df.select(F.col(key), F.explode(tokens_col(F.col(text))).alias("tok"))
        .groupBy(key, "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", F.md5(F.col("tok")))
    )
    # md5 hex has 32 nibbles = 128 bits; use the first 64: bit i of nibble
    # n = (nibble >> (i%4)) & 1 where n = i//4. The 16 nibble decodes are
    # projected ONCE per row — the round-2 form re-ran conv(substring)
    # inside each of the 64 aggregates (4x redundant string work on the
    # agg's hot path).
    toks = toks.select(
        F.col(key), F.col("tf"),
        *[
            F.conv(F.substring("h", n + 1, 1), 16, 10).cast("int").alias(f"_n{n}")
            for n in range(16)
        ],
    )
    aggs = []
    for i in range(64):
        bit = F.shiftright(F.col(f"_n{i // 4}"), i % 4).bitwiseAND(F.lit(1))
        signed = (bit * 2 - 1) * F.col("tf")
        aggs.append(F.sum(signed).alias(f"b{i}"))
    sums = toks.groupBy(key).agg(*aggs)
    # assemble hex string from 16 nibbles (4 bits each, bit i in nibble i//4)
    nibbles = []
    for n in range(16):
        val = F.lit(0)
        for j in range(4):
            i = n * 4 + j
            val = val + F.when(F.col(f"b{i}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        nibbles.append(F.lower(F.conv(val.cast("string"), 10, 16)))
    return sums.select(
        F.col(key),
        F.concat(*nibbles).alias("simhash"),
    ).withColumn("bucket", F.substring("simhash", 1, 4))


def first_occurrence_dedup(
    df: DataFrame, col: str, order_col: str
) -> DataFrame:
    """Case-insensitive first-occurrence-preserving dedup (reference
    dedup_case_insensitive, stages/downloader/fingerprints.py:86-98):
    keep the row with the smallest order_col per lower(col)."""
    w = Window.partitionBy(F.lower(F.col(col))).orderBy(F.col(order_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
