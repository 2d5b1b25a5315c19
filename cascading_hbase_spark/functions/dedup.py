"""Deduplication operators (SURVEY.md §2.11): exact, MinHash+LSH,
SimHash, n-gram Jaccard.  All are stateless DataFrame->DataFrame
functions built from joins/aggregations only, so they scale by
partitioning: no driver-side collection, and every pairwise step is
blocked (LSH band buckets / shared-shingle blocking) so there is never
an unblocked cartesian product — at 100 TB the candidate-pair join
shuffles on the band/shingle key and AQE splits skewed buckets.

Hashes come from ``hash64`` (md5-based) so the DuckDB oracle reproduces
signatures bit-for-bit; swap to xxhash64 for raw speed off the test
harness.

Caching note: the pairwise operators persist their shingle/signature
relations (each feeds several downstream joins) and return lazy
DataFrames, so the caches cannot be eagerly unpersisted here.  Spark's
CacheManager dedupes persists by analyzed plan, so repeated calls with
the same inputs reuse one cache entry rather than accumulating, and
MEMORY_AND_DISK entries evict LRU under pressure."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from cascading_hbase_spark.functions.hashing import hash64
from cascading_hbase_spark.functions.text import shingles, tokens

__all__ = [
    "exact_dedup",
    "shingle_rows",
    "minhash_signatures",
    "minhash_band_signatures",
    "minhash_neardup_pairs",
    "minhash_neardup_cross",
    "ngram_jaccard_pairs",
    "setsim_prefix_join",
    "simhash",
    "simhash_neardup_pairs",
    "connected_components",
]


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """Duplicate-cluster assembly: connected components over a pair
    relation via min-label propagation (each node repeatedly adopts the
    smallest label among itself and its neighbors; converges in
    O(graph diameter) rounds).

    This is what a dedup pipeline actually consumes — 'keep one doc per
    cluster', not raw pairs.  All data stays distributed: each round is
    one join + one aggregate, and the driver sees only a changed-count
    scalar; lineage is truncated with localCheckpoint so long chains
    don't accumulate.  Returns (doc_id, cluster_id = min reachable id)
    for every node appearing in ``pairs``.

    The iteration pins ``spark.sql.shuffle.partitions`` to the session
    parallelism for its duration: the eager localCheckpoint
    materializes through the RDD path, which skips AQE partition
    coalescing — under an untuned session every round would otherwise
    run 200-task shuffles regardless of graph size."""
    spark = pairs.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    try:
        edges = (
            pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
            .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
            .distinct()
            .persist()
        )
        labels = (
            edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
        )
        for i in range(max_iter):
            nbr_min = (
                edges.join(labels.withColumnRenamed("id", "src"), "src")
                .groupBy("dst")
                .agg(F.min("label").alias("nbr"))
                .withColumnRenamed("dst", "id")
            )
            updated = labels.join(nbr_min, "id", "left").select(
                "id",
                F.col("label").alias("old_label"),
                F.least("label", F.coalesce("nbr", "label")).alias("label"),
            )
            updated = updated.localCheckpoint(eager=True)
            changed = updated.filter(F.col("label") < F.col("old_label")).count()
            labels = updated.select("id", "label")
            if changed == 0:
                break
        edges.unpersist()
        return labels.select(
            F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep one representative row per duplicate group, deterministically
    (the min of ``order_col``).  Hash-groupBy, one shuffle."""
    aggs = [F.min(order_col).alias(order_col)] if order_col not in key_cols else []
    other = [c for c in df.columns if c not in key_cols and c != order_col]
    aggs += [F.min_by(c, order_col).alias(c) for c in other]
    aggs.append(F.count("*").alias("n_copies"))
    return df.groupBy(*key_cols).agg(*aggs)


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition ahead of CPU-heavy explode work.  A small local
    parquet file arrives as 1 partition, which would serialize the
    whole shingle/hash pipeline on one core; at cluster scale the
    input already has many partitions and this is a cheap key shuffle
    that also pre-locates the downstream per-doc aggregates.

    Skipped when the input already carries enough partitions, e.g. a
    caller that repartitioned by the same key: a second identical
    exchange would shuffle the rows twice (both REPARTITION_BY_COL
    exchanges are user-specified, so the physical planner keeps
    both)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, F.col(key))


def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (id, shingle) rows — the set representation both MinHash
    and exact Jaccard work over.

    Set semantics come from ``array_distinct`` on the per-doc shingle
    array *before* the explode: duplicates only exist within a doc, so
    this is exact and runs map-side — no ``distinct()`` shuffle of the
    full shingle set (the largest intermediate in the pipeline)."""
    return _spread(df, id_col).select(
        id_col,
        F.explode(F.array_distinct(shingles(tokens(F.col(text_col)), n))).alias("shingle"),
    )


MINHASH_P = 2147483647  # 2^31 - 1; keeps every product below 2^63 in both engines
MINHASH_MIX = 2654435761  # Knuth multiplicative constant


def minhash_signatures(sh: DataFrame, id_col: str, n_hashes: int = 8) -> DataFrame:
    """Wide minhash signature: (id, m0..m{n-1}) with
    m_i = ((hash64(shingle) % P) * (2i+1) + i*MIX) % P — the classic
    (a*x + b) mod P universal family seeded per lane.

    One md5 per shingle (not per lane: the n lanes derive by cheap
    modular arithmetic), all lanes computed map-side on the un-expanded
    shingle rows and reduced by ONE hash aggregate — the shuffle
    carries one row per doc, not n_hashes rows per (doc, shingle)."""
    base = hash64(F.col("shingle")) % MINHASH_P
    hs = [
        ((base * (2 * i + 1) + i * MINHASH_MIX) % MINHASH_P).alias(f"_h{i}")
        for i in range(n_hashes)
    ]
    return (
        sh.select(id_col, *hs)
        .groupBy(id_col)
        .agg(*[F.min(f"_h{i}").alias(f"m{i}") for i in range(n_hashes)])
    )


def minhash_band_signatures(
    sig: DataFrame, id_col: str, band_size: int = 2, n_hashes: int = 8
) -> DataFrame:
    """LSH banding: concatenate each band's minhash columns into a
    bucket key.  Pure map-side explode of a literal array — no shuffle,
    no collect_list."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"m{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(id_col, F.explode(bands).alias("_bs")).select(
        id_col, F.col("_bs.band").alias("band"), F.col("_bs.band_sig").alias("band_sig")
    )


def _exact_jaccard(pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs via shared
    shingle counts. pairs: columns doc_a, doc_b."""
    cnt = sh.groupBy(id_col).agg(F.count("*").alias("c"))
    sa = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("_doc_b2"), F.col("shingle").alias("shingle_b"))
    inter = (
        pairs.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("_doc_b2")) & (F.col("shingle") == F.col("shingle_b")),
            "inner",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    ca = cnt.select(F.col(id_col).alias("doc_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col(id_col).alias("doc_b"), F.col("c").alias("cb"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("ca") + F.col("cb") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-doc distinct shingle SET as an array column — the
    explode-free representation: one row per doc, everything computed
    map-side.  Docs shorter than ``n`` tokens (empty set) are dropped,
    matching the exploded form (they produce no shingle rows)."""
    arr = F.array_distinct(shingles(tokens(F.col(text_col)), n))
    return (
        _spread(df, id_col)
        .select(id_col, arr.alias("_sh_arr"))
        .filter(F.size("_sh_arr") > 0)
    )


def _array_signatures(arr: DataFrame, id_col: str, n_hashes: int) -> DataFrame:
    """Map-side minhash signatures from the per-doc shingle ARRAY:
    md5 once per shingle, then each lane is array_min over a cheap
    modular transform — identical math to ``minhash_signatures`` (the
    exploded form the DuckDB oracles replicate), zero shuffles."""
    hashed = arr.select(
        id_col,
        F.transform("_sh_arr", lambda s: hash64(s) % MINHASH_P).alias("_h"),
    )

    def _lane(i: int):
        # single-parameter closure: a 2-arg lambda (even via default
        # binding) would make F.transform pass the ARRAY INDEX as the
        # second argument, clobbering the lane constant
        return lambda h: (h * (2 * i + 1) + i * MINHASH_MIX) % MINHASH_P

    lanes = [
        F.array_min(F.transform("_h", _lane(i))).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    return hashed.select(id_col, *lanes)


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: band-bucket candidate
    generation, then *exact* Jaccard verification of candidates only.
    No false positives; false negatives only for pairs no band catches
    (standard LSH trade-off).

    ``max_bucket`` is the 100 TB mega-bucket guard: a band bucket with
    w members emits w^2/2 candidates, so one boilerplate-heavy bucket
    (near-identical headers/footers hashing to the same band signature)
    can dominate the whole job.  When set, buckets wider than
    ``max_bucket`` are skipped BEFORE the self-join (a windowed count
    on the same (band, band_sig) key the join shuffles on — no extra
    shuffle), capping per-bucket cost at max_bucket^2.  Recall trade,
    stated plainly: docs meeting only inside a skipped bucket lose that
    band; they can still pair via their other n_hashes/band_size - 1
    bands, and the capped pair set is always a SUBSET of the uncapped
    one (same no-false-positives contract).

    Execution shape (array form — zero shuffles before the band join):
    signatures come from ``array_min`` over per-lane transforms of the
    per-doc hashed-shingle ARRAY (md5 once per shingle, lanes by cheap
    modular arithmetic — identical math to the exploded formulation the
    DuckDB oracle replicates), and exact Jaccard is ``array_intersect``
    on the two docs' shingle arrays.  The only shuffles are the band
    self-join and the two candidate->array joins, all keyed and
    AQE-splittable; nothing pairwise ever goes unblocked."""
    arr = shingle_arrays(df, id_col, text_col, shingle_n).persist()
    sig = _array_signatures(arr, id_col, n_hashes)
    bands = minhash_band_signatures(sig, id_col, band_size, n_hashes)
    if max_bucket is not None:
        bands = (
            bands.withColumn(
                "_bw",
                F.count("*").over(Window.partitionBy("band", "band_sig")),
            )
            .filter(F.col("_bw") <= max_bucket)
            .drop("_bw")
        )
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "band_sig")
    b = bands.select(F.col(id_col).alias("doc_b"), F.col("band").alias("band_b"), F.col("band_sig").alias("band_sig_b"))
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("band_sig") == F.col("band_sig_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    aa = arr.select(F.col(id_col).alias("doc_a"), F.col("_sh_arr").alias("_arr_a"))
    bb = arr.select(F.col(id_col).alias("doc_b"), F.col("_sh_arr").alias("_arr_b"))
    inter = F.size(F.array_intersect("_arr_a", "_arr_b"))
    ca, cb = F.size("_arr_a"), F.size("_arr_b")
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter.cast("double") / (ca + cb - inter).cast("double"), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_neardup_cross(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental dedup: near-dup pairs BETWEEN an arriving batch and
    an existing corpus (the ingest-time question — 'is this new doc a
    dup of anything we already have'), never within either side.

    Same LSH shape as the self-join form, but the band join is
    batch-bands x corpus-bands only: at scale the corpus side's
    signatures are computed once per ingest wave (or maintained in a
    keyed table) and the join cost tracks the BATCH size, not
    corpus^2.  Array form like ``minhash_neardup_pairs``: map-side
    signatures, ``array_intersect`` verification — no shingle explode
    on either side.  Returns (batch_doc, corpus_doc, jaccard >=
    threshold)."""
    arr_b = shingle_arrays(batch, id_col, text_col, shingle_n).persist()
    arr_c = shingle_arrays(corpus, id_col, text_col, shingle_n).persist()
    bands_b = minhash_band_signatures(
        _array_signatures(arr_b, id_col, n_hashes), id_col, band_size, n_hashes
    ).select(F.col(id_col).alias("batch_doc"), "band", "band_sig")
    bands_c = minhash_band_signatures(
        _array_signatures(arr_c, id_col, n_hashes), id_col, band_size, n_hashes
    ).select(
        F.col(id_col).alias("corpus_doc"),
        F.col("band").alias("band_c"),
        F.col("band_sig").alias("band_sig_c"),
    )
    cand = (
        bands_b.join(
            bands_c,
            (F.col("band") == F.col("band_c"))
            & (F.col("band_sig") == F.col("band_sig_c")),
        )
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    aa = arr_b.select(F.col(id_col).alias("batch_doc"), F.col("_sh_arr").alias("_arr_a"))
    bb = arr_c.select(F.col(id_col).alias("corpus_doc"), F.col("_sh_arr").alias("_arr_b"))
    inter = F.size(F.array_intersect("_arr_a", "_arr_b"))
    ca, cb = F.size("_arr_a"), F.size("_arr_b")
    return (
        cand.join(aa, "batch_doc")
        .join(bb, "corpus_doc")
        .select(
            "batch_doc",
            "corpus_doc",
            F.round(
                inter.cast("double") / (ca + cb - inter).cast("double"), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    min_inter: int = 5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs with shared-shingle blocking:
    only pairs sharing >= min_inter shingles are scored (the blocking
    join shuffles on the shingle, never materializing a cartesian)."""
    sh = shingle_rows(df, id_col, text_col, shingle_n).persist()
    sa = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("shingle").alias("shingle_b"))
    inter = (
        sa.join(sb, (F.col("shingle") == F.col("shingle_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
        .filter(F.col("inter") >= min_inter)
    )
    cnt = sh.groupBy(id_col).agg(F.count("*").alias("c"))
    ca = cnt.select(F.col(id_col).alias("doc_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col(id_col).alias("doc_b"), F.col("c").alias("cb"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("ca") + F.col("cb") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def setsim_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int = 1,
    t_den: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """PPJoin-style prefix-filtered EXACT set-similarity self-join:
    all pairs with shingle-set Jaccard >= t_num/t_den, found without
    ever probing the full inverted index.

    Why it beats ``ngram_jaccard_pairs`` at scale: that blocking joins
    on EVERY shared shingle, so a shingle occurring in k docs costs
    O(k^2) candidate rows — common shingles dominate the shuffle.
    Prefix filtering (Chaudhuri et al. SSJoin / Xiao et al. PPJoin)
    orders each doc's shingle set by ascending global frequency and
    indexes only the first ``len - ceil(t*len) + 1`` shingles: any pair
    with Jaccard >= t provably shares an element in BOTH prefixes
    (pigeonhole, since Jaccard >= t forces intersection >= ceil(t*len)),
    and prefixes are the RAREST shingles, so the hot keys never enter
    the index.  Candidates then pass an integer length filter
    (min*den >= max*num) and exact array_intersect verification.

    All threshold math is integer (ceil(t*len) as (num*len+den-1) DIV
    den; the Jaccard gate as i*den >= num*union), so no float rounding
    can drop a boundary pair on either engine.  Exact-complete: the
    DuckDB oracle uses the exhaustive inverted-index form.

    Two further scale levers (both lossless, both mirrored by the
    oracle):

    - Sets are 60-bit ``hash64`` values, not shingle strings: the
      verify stage ships each candidate pair's two full sorted arrays
      through a shuffle, and bigint arrays are ~3x smaller and
      intersect without string compares.  The oracle hashes with the
      identical md5-prefix expression (the minhash-oracle pattern), so
      parity is exact by construction; a cross-doc collision altering
      true Jaccard needs ~2^30 distinct shingles to reach even 1e-9.
    - PPJoin's POSITIONAL filter: each prefix entry carries its rank,
      and a shared entry at positions (pa, pb) can only witness a
      qualifying pair if 1 + min(la-pa-1, lb-pb-1) >= ceil(num*(la+lb)
      / (num+den)) — the max overlap still possible from here.  For
      any qualifying pair the FIRST shared element satisfies this
      (every common element sits at-or-after it in both orders), so
      no pair is lost; on clone-heavy corpora it cuts candidates ~2.5x
      before the expensive verify."""
    sh = shingle_rows(df, id_col, text_col, shingle_n).select(
        id_col, hash64(F.col("shingle")).alias("_h")
    )
    freq = sh.groupBy("_h").agg(F.count("*").alias("_tf"))
    # Per-doc hashed-shingle array in (global freq, hash) order — one
    # total order shared by every doc, which the prefix theorem
    # requires.  array_distinct guards the (astronomically unlikely)
    # intra-doc hash collision so the array is exactly the hash SET.
    # Persisted: consumed by the prefix index and both verify probes
    # (CacheManager dedupe + LRU eviction, the documented policy).
    ordered = (
        sh.join(freq, "_h")
        .groupBy(id_col)
        .agg(
            F.array_distinct(
                F.array_sort(F.collect_list(F.struct("_tf", "_h")))
            ).alias("_st")
        )
        .select(
            id_col,
            F.transform("_st", lambda s: s["_h"]).alias("_toks"),
            F.size("_st").alias("_sz"),
        )
        .persist()
    )
    prefix_len = F.expr(
        f"_sz - ((CAST({t_num} AS BIGINT) * _sz + {t_den - 1}) DIV {t_den}) + 1"
    )
    pre = ordered.select(
        id_col,
        "_sz",
        F.posexplode(F.slice("_toks", F.lit(1), prefix_len)).alias("_pos", "_h"),
    )
    a = pre.select(
        F.col(id_col).alias("doc_a"),
        F.col("_sz").alias("_sza"),
        F.col("_pos").alias("_pa"),
        "_h",
    )
    b = pre.select(
        F.col(id_col).alias("doc_b"),
        F.col("_sz").alias("_szb"),
        F.col("_pos").alias("_pb"),
        F.col("_h").alias("_hb"),
    )
    # alpha = ceil(num*(la+lb)/(num+den)): the minimum overlap Jaccard
    # >= num/den forces; ubound = what this shared element can still
    # witness (positions are 0-based).
    alpha = F.expr(
        f"((CAST({t_num} AS BIGINT) * (_sza + _szb) + {t_num + t_den - 1})"
        f" DIV {t_num + t_den})"
    )
    ubound = F.lit(1) + F.least(
        F.col("_sza") - (F.col("_pa") + 1), F.col("_szb") - (F.col("_pb") + 1)
    )
    cand = (
        a.join(
            b,
            (F.col("_h") == F.col("_hb")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .filter(
            F.least("_sza", "_szb") * F.lit(t_den)
            >= F.greatest("_sza", "_szb") * F.lit(t_num)
        )
        .filter(ubound >= alpha)
        .select("doc_a", "doc_b", "_sza", "_szb")
        .distinct()
    )
    oa = ordered.select(F.col(id_col).alias("doc_a"), F.col("_toks").alias("_ta"))
    ob = ordered.select(F.col(id_col).alias("doc_b"), F.col("_toks").alias("_tb"))
    union_sz = F.col("_sza") + F.col("_szb") - F.col("_i")
    return (
        cand.join(oa, "doc_a")
        .join(ob, "doc_b")
        .withColumn("_i", F.size(F.array_intersect("_ta", "_tb")))
        .filter(F.col("_i") * F.lit(t_den) >= F.lit(t_num) * union_sz)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("_i").cast("double") / union_sz.cast("double"), 6
            ).alias("jaccard"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint over distinct whitespace tokens: per bit,
    majority vote of the tokens' hash bits (vote > 0 sets the bit).

    Array form — ZERO shuffles: the distinct token set is
    ``array_distinct`` within the row, tokens hash once via a map-side
    transform, and each bit's majority vote is an ``aggregate`` HOF
    over the hashed array.  Identical math to the exploded
    formulation the DuckDB oracles replicate (per-bit vote over the
    doc's distinct tokens)."""
    harr = F.transform(
        F.array_distinct(tokens(F.col(text_col))), lambda t: hash64(t)
    )

    def _bitval(b: int):
        vote = F.aggregate(
            "_harr",
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )
        return F.when(vote > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )

    total = _bitval(0)
    for b in range(1, bits):
        total = total + _bitval(b)
    # null text / empty token set yields NO row — the exploded
    # formulation (and the DuckDB oracle's unnest) emits nothing for
    # such docs, so the array form must not invent a 0/NULL fingerprint
    return (
        df.select(id_col, harr.alias("_harr"))
        .filter(F.col("_harr").isNotNull() & (F.size("_harr") > 0))
        .select(id_col, total.cast("bigint").alias("simhash"))
    )


def band_bounds(bits: int, n_bands: int) -> list[tuple[int, int, int]]:
    """(band, offset, mask) triples splitting ``bits`` into ``n_bands``
    near-equal contiguous bit ranges (wider bands first)."""
    if n_bands > bits:
        raise ValueError(
            f"n_bands={n_bands} > bits={bits} would create zero-width "
            "bands (mask 0), degenerating the candidate join to a "
            "cross product"
        )
    base, rem = divmod(bits, n_bands)
    sizes = [base + (1 if i < rem else 0) for i in range(n_bands)]
    out, off = [], 0
    for i, s in enumerate(sizes):
        out.append((i, off, (1 << s) - 1))
        off += s
    return out


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 4,
    n_bands: int = 5,
) -> DataFrame:
    """SimHash near-dup pairs: band the fingerprint into ``n_bands``
    contiguous bit ranges, candidate-join on any shared band, then
    verify exact hamming via bit_count(xor).

    Recall guarantee (pigeonhole): with n_bands > max_hamming, a pair
    within ``max_hamming`` differing bits leaves at least one band
    untouched, so EVERY qualifying pair is caught — the default 5 bands
    over 32 bits (7/7/6/6/6) is exact for hamming <= 4.  The candidate
    join stays blocked on (band, band_val)."""
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} must exceed max_hamming={max_hamming} "
            "for guaranteed recall"
        )
    sig = simhash(df, id_col, text_col, bits).persist()
    banded = sig.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).cast("int").alias("band"),
                        F.shiftright(F.col("simhash"), off)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for band, off, mask in band_bounds(bits, n_bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "simhash", F.col("_b.band").alias("band"), F.col("_b.band_val").alias("band_val"))
    a = banded.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "band_val")
    b = banded.select(
        F.col(id_col).alias("doc_b"),
        F.col("simhash").alias("sh_b"),
        F.col("band").alias("band_b"),
        F.col("band_val").alias("band_val_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("band_val") == F.col("band_val_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("bit_count(sh_a ^ sh_b)").cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def minhash_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Estimator-quality audit for MinHash: for every LSH candidate
    pair, the signature-estimated Jaccard (matching lanes / n_hashes)
    next to the exact shingle-set Jaccard and their absolute error.
    This is how a pipeline validates its dedup threshold choice on its
    OWN corpus (the estimator's variance is ~J(1-J)/n_hashes, so an
    8-lane signature is coarse — quantified, not assumed).

    Same shuffle shape as `minhash_neardup_pairs`: candidates come from
    the band join (never all pairs); the signature compare is one
    broadcast-size join per side."""
    sh = shingle_rows(df, id_col, text_col, shingle_n).persist()
    sig = minhash_signatures(sh, id_col, n_hashes).persist()
    bands = minhash_band_signatures(sig, id_col, band_size, n_hashes)
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "band_sig")
    b = bands.select(
        F.col(id_col).alias("doc_b"),
        F.col("band").alias("band_b"),
        F.col("band_sig").alias("band_sig_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("band_sig") == F.col("band_sig_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    siga = sig.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"m{i}").alias(f"_a{i}") for i in range(n_hashes)],
    )
    sigb = sig.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"m{i}").alias(f"_b{i}") for i in range(n_hashes)],
    )
    matches = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    est = (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / F.lit(float(n_hashes))).alias("est_jaccard"),
        )
    )
    exact = _exact_jaccard(cand, sh, id_col)
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias("abs_err"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-containment pairs: candidate pairs (band-blocked, same as
    minhash) whose shingle-set CONTAINMENT |A∩B| / min(|A|,|B|) passes
    the threshold — catches a short doc embedded in a longer one, which
    Jaccard misses (the union washes out the small side).  This is the
    quote/wrapper-page dedup criterion (C4/RefinedWeb-style).

    Emits (doc_a, doc_b, contained_doc, containment): ``contained_doc``
    is the smaller-set side (tie: doc_a)."""
    sh = shingle_rows(df, id_col, text_col, shingle_n).persist()
    sig = minhash_signatures(sh, id_col, n_hashes).persist()
    bands = minhash_band_signatures(sig, id_col, band_size, n_hashes)
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "band_sig")
    b = bands.select(
        F.col(id_col).alias("doc_b"),
        F.col("band").alias("band_b"),
        F.col("band_sig").alias("band_sig_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("band_sig") == F.col("band_sig_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    cnt = sh.groupBy(id_col).agg(F.count("*").alias("c"))
    sa = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = sh.select(
        F.col(id_col).alias("_doc_b2"), F.col("shingle").alias("shingle_b")
    )
    inter = (
        cand.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("_doc_b2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    ca = cnt.select(F.col(id_col).alias("doc_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col(id_col).alias("doc_b"), F.col("c").alias("cb"))
    containment = F.round(
        F.col("inter").cast("double")
        / F.least(F.col("ca"), F.col("cb")).cast("double"),
        6,
    )
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("ca") <= F.col("cb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
