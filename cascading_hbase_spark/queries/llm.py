"""§2.11 LLM-data-pipeline operator pairs over documents/embeddings:
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search, text analysis, fingerprinting, multimodal
metadata plumbing.

The oracle SQL replicates each algorithm end-to-end in DuckDB (same
md5-derived hashes, same banding, same tie-breaks) — these are *checked
algorithms*, not just checked row counts."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cascading_hbase_spark.catalog import load_table
from cascading_hbase_spark.functions import dedup as D
from cascading_hbase_spark.functions import similarity as S
from cascading_hbase_spark.functions import text as T
from cascading_hbase_spark.queries import query

# Shared DuckDB CTE fragments (doc shingling + md5-based hash64).
_H = "CAST(('0x' || substring(md5({x}), 1, 15)) AS BIGINT)"
_SQL_TOK = "SELECT doc_id, string_split(text, ' ') AS t FROM documents"
_SQL_SH = (
    "SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(t)-2), "
    "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle FROM tok"
)


@query(
    "dedup_exact",
    oracle="""
    SELECT text, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY text
    """,
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, deterministic representative."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    )


# Full MinHash+LSH pair derivation, reused by the clustering oracle.
_MINHASH_PAIRS_SQL = f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS ({_SQL_SH}),
    hs AS (
      SELECT doc_id, h_idx,
             min((({_H.format(x="shingle")} % 2147483647) * (2 * h_idx + 1)
                  + h_idx * 2654435761) % 2147483647) AS minhash
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS h_idx)
      GROUP BY doc_id, h_idx
    ),
    bands AS (
      SELECT doc_id, CAST(h_idx // 2 AS INTEGER) AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY h_idx) AS band_sig
      FROM hs GROUP BY 1, 2
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT cand.doc_a, cand.doc_b, count(*) AS i
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.doc_a
      JOIN sh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE round(CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE), 6) >= 0.5
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_PAIRS_SQL, bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs (shingle -> minhash -> band ->
    bucket-join -> exact-Jaccard verify)."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_neardup_pairs(d, "doc_id", "text", n_hashes=8, band_size=2, threshold=0.5)


# The mega-bucket-guarded variant: band buckets wider than _LSH_CAP are
# skipped before the self-join (see minhash_neardup_pairs.max_bucket —
# the guard that keeps one boilerplate bucket from going quadratic at
# 100 TB).  _LSH_CAP=2 provably bites at sf0.01 (buckets reach width 3)
# so the driver verifies the cap path, not a no-op.
_LSH_CAP = 2
_MINHASH_PAIRS_CAPPED_SQL = _MINHASH_PAIRS_SQL.replace(
    """    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),""",
    f"""    bw AS (
      SELECT band, band_sig, count(*) AS w FROM bands GROUP BY 1, 2
    ),
    bandsc AS (
      SELECT b.* FROM bands b
      JOIN bw ON bw.band = b.band AND bw.band_sig = b.band_sig
      WHERE bw.w <= {_LSH_CAP}
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandsc a JOIN bandsc b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),""",
)
assert "bandsc" in _MINHASH_PAIRS_CAPPED_SQL  # replace() must have matched


@query("dedup_minhash_lsh_capped", oracle=_MINHASH_PAIRS_CAPPED_SQL)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with the mega-bucket guard
    (max_bucket): band buckets wider than the cap emit no candidates,
    bounding per-bucket cost at cap^2 — the guard a 100 TB corpus needs
    against boilerplate band signatures.  Capped pairs are a subset of
    `dedup_minhash_lsh`'s (tested); the oracle implements the identical
    bucket-width filter."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_neardup_pairs(
        d, "doc_id", "text", n_hashes=8, band_size=2, threshold=0.5,
        max_bucket=_LSH_CAP,
    )


@query(
    "neardup_clusters",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id
    )
    SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
    FROM walk GROUP BY id
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (min-label propagation)
    over the MinHash near-dup pair relation.  The oracle computes the
    same components with a recursive-CTE transitive closure — an
    independent formulation of reachability."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_neardup_pairs(d, "doc_id", "text", n_hashes=8, band_size=2, threshold=0.5)
    return D.connected_components(pairs)


@query(
    "dedup_incremental_vs_corpus",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS ({_SQL_SH}),
    shb AS (SELECT * FROM sh WHERE doc_id % 2 = 1),
    shc AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
    hsb AS (
      SELECT doc_id, h_idx,
             min((({_H.format(x="shingle")} % 2147483647) * (2 * h_idx + 1)
                  + h_idx * 2654435761) % 2147483647) AS minhash
      FROM shb CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS h_idx)
      GROUP BY doc_id, h_idx
    ),
    hsc AS (
      SELECT doc_id, h_idx,
             min((({_H.format(x="shingle")} % 2147483647) * (2 * h_idx + 1)
                  + h_idx * 2654435761) % 2147483647) AS minhash
      FROM shc CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS h_idx)
      GROUP BY doc_id, h_idx
    ),
    bb AS (
      SELECT doc_id, CAST(h_idx // 2 AS INTEGER) AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY h_idx) AS band_sig
      FROM hsb GROUP BY 1, 2
    ),
    bc AS (
      SELECT doc_id, CAST(h_idx // 2 AS INTEGER) AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY h_idx) AS band_sig
      FROM hsc GROUP BY 1, 2
    ),
    cand AS (
      SELECT bb.doc_id AS batch_doc, bc.doc_id AS corpus_doc
      FROM bb JOIN bc ON bb.band = bc.band AND bb.band_sig = bc.band_sig
      GROUP BY 1, 2
    ),
    cb AS (SELECT doc_id, count(*) AS c FROM shb GROUP BY doc_id),
    cc AS (SELECT doc_id, count(*) AS c FROM shc GROUP BY doc_id),
    inter AS (
      SELECT cand.batch_doc, cand.corpus_doc, count(*) AS i
      FROM cand
      JOIN shb ON shb.doc_id = cand.batch_doc
      JOIN shc ON shc.doc_id = cand.corpus_doc AND shc.shingle = shb.shingle
      GROUP BY 1, 2
    )
    SELECT batch_doc, corpus_doc,
           round(CAST(i AS DOUBLE) / CAST(cb.c + cc.c - i AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN cb ON cb.doc_id = batch_doc
    JOIN cc ON cc.doc_id = corpus_doc
    WHERE round(CAST(i AS DOUBLE) / CAST(cb.c + cc.c - i AS DOUBLE), 6) >= 0.5
    """,
)
def dedup_incremental_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time incremental dedup: odd doc_ids arrive as the batch,
    even doc_ids are the standing corpus; near-dup pairs cross sides
    only (cost tracks batch size, never corpus^2)."""
    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    return D.minhash_neardup_cross(
        batch, corpus, "doc_id", "text", n_hashes=8, band_size=2, threshold=0.5
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS ({_SQL_SH}),
    cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS i
      FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE round(CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE), 6) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs with shared-shingle blocking."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5, min_inter=5)


@query(
    "simhash_fingerprint",
    oracle=f"""
    WITH tokh AS (
      SELECT DISTINCT doc_id, {_H.format(x="token")} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    ),
    votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM tokh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (per-bit majority of token hashes)."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash(d, "doc_id", "text", bits=32)


@query(
    "simhash_neardup",
    oracle=f"""
    WITH tokh AS (
      SELECT DISTINCT doc_id, {_H.format(x="token")} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    ),
    votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM tokh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, simhash, band, (simhash >> off) & mask AS band_val
      FROM sig CROSS JOIN (VALUES (0, 0, 127), (1, 7, 127), (2, 14, 63),
                                  (3, 20, 63), (4, 26, 63)) AS bands(band, off, mask)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             any_value(a.simhash) AS sh_a, any_value(b.simhash) AS sh_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 4
    """,
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 5-band (7/7/6/6/6-bit) blocking — exact
    recall for hamming <= 4 by pigeonhole — + exact hamming verify."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_neardup_pairs(d, "doc_id", "text", bits=32, max_hamming=4, n_bands=5)


@query(
    "similarity_cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 8),
    scored AS (
      SELECT q.q_id, c.vec_id,
             round(
               list_sum(list_transform(generate_series(1, 64), i -> q.q_vec[i] * c.v[i]))
               / sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.q_vec[i] * q.q_vec[i]))
                      * list_sum(list_transform(generate_series(1, 64), i -> c.v[i] * c.v[i]))),
               6) AS cos_sim
      FROM e c CROSS JOIN q WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos_sim, CAST(rn AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
    bench=True,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for query vectors vec_id < 8.
    Query side broadcast; candidate side never shuffles.

    Timing note (r02's apparent +48%): single-shot timings of this
    query swing 0.85-3.2 s at sf0.1 purely from JVM codegen warm-up of
    the higher-order-function expression tree; min-of-repeats (bench.py)
    lands at ~0.9 s.  The plan itself is the one you'd want — broadcast
    BNL + windowed top-k, no shuffle of the candidate side."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    return S.cosine_topk(e, q, "vec_id", "embedding", k=10)


@query(
    "similarity_ann_lsh_topk",
    # "Approximate" here means approximate RECALL, not nondeterminism:
    # the hyperplanes are hash-derived (functions/similarity.py:92-102),
    # so the whole pipeline — signature, banding, candidate set, scores,
    # top-k — is exactly reproducible in DuckDB, same as the minhash and
    # embedding_neardup oracles.
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (
      SELECT e.vec_id, j.j,
             list_sum(list_transform(generate_series(1, 64),
               i -> e.v[i] * ((CAST(('0x' || substring(md5(CAST(j.j AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT) % 2001) - 1000.0) / 1000.0)) AS d
      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) j
    ),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN d >= 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
      FROM planes GROUP BY vec_id
    ),
    banded AS (
      SELECT s.vec_id, band, (s.sig >> (band * 4)) & 15 AS band_val
      FROM sig s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
    ),
    cand AS (
      SELECT q.vec_id AS q_id, c.vec_id AS vec_id
      FROM banded c JOIN banded q
        ON c.band = q.band AND c.band_val = q.band_val
       AND q.vec_id < 8 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT cand.q_id, cand.vec_id,
             round(
               list_sum(list_transform(generate_series(1, 64), i -> eq.v[i] * ec.v[i]))
               / sqrt(list_sum(list_transform(generate_series(1, 64), i -> eq.v[i] * eq.v[i]))
                      * list_sum(list_transform(generate_series(1, 64), i -> ec.v[i] * ec.v[i]))),
               6) AS cos_sim
      FROM cand
      JOIN e eq ON eq.vec_id = cand.q_id
      JOIN e ec ON ec.vec_id = cand.vec_id
    )
    SELECT q_id, vec_id, cos_sim, CAST(rn AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
)
def similarity_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the 100 TB path: candidates meet
    only inside signature-band buckets).  Deterministic hash-derived
    hyperplanes -> the oracle replicates the full pipeline; recall is
    additionally pytest-checked against cosine_topk on sf0.001."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    return S.lsh_ann_topk(e, q, "vec_id", "embedding", dim=64, k=10)


@query(
    "similarity_ann_ivf_topk",
    # The default quantizer is a deterministic hash-random sample (16
    # smallest md5-hash ids), so the whole inverted-file pipeline —
    # centroid pick, cell assignment, query probes, in-cell exact
    # scoring — replays exactly in DuckDB.  (The kmeans-trained
    # quantizer variant has fitted state and stays pytest-checked.)
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n2 AS (
      SELECT vec_id, v,
             list_sum(list_transform(generate_series(1, 64), i -> v[i] * v[i])) AS nn
      FROM e
    ),
    cells AS (
      SELECT vec_id AS cell_id, v AS cv, nn AS cnn
      FROM n2
      ORDER BY CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      LIMIT 16
    ),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT n2.vec_id, cells.cell_id,
               row_number() OVER (PARTITION BY n2.vec_id ORDER BY
                 (list_sum(list_transform(generate_series(1, 64), i -> n2.v[i] * cells.cv[i]))
                  / sqrt(n2.nn * cells.cnn)) DESC, cells.cell_id) AS rn
        FROM n2 CROSS JOIN cells
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, cell_id FROM (
        SELECT q.vec_id AS q_id, cells.cell_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 (list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * cells.cv[i]))
                  / sqrt(q.nn * cells.cnn)) DESC, cells.cell_id) AS pn
        FROM n2 q CROSS JOIN cells
        WHERE q.vec_id < 8
      ) WHERE pn <= 8
    ),
    cand AS (
      SELECT p.q_id, a.vec_id
      FROM probes p JOIN assign a ON a.cell_id = p.cell_id
      WHERE a.vec_id <> p.q_id
    ),
    scored AS (
      SELECT cand.q_id, cand.vec_id,
             round(
               list_sum(list_transform(generate_series(1, 64), i -> eq.v[i] * ec.v[i]))
               / sqrt(eq.nn * ec.nn), 6) AS cos_sim
      FROM cand
      JOIN n2 eq ON eq.vec_id = cand.q_id
      JOIN n2 ec ON ec.vec_id = cand.vec_id
    )
    SELECT q_id, vec_id, cos_sim, CAST(rn AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
)
def similarity_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (inverted-file cells; queries
    probe their n_probe nearest cells only).  Deterministic default
    quantizer -> full DuckDB oracle; pytest additionally asserts recall
    vs cosine_topk and exactness when probing all cells."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    return S.ivf_ann_topk(e, q, "vec_id", "embedding", k=10, n_cells=16, n_probe=8)


@query(
    "embedding_neardup",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (
      SELECT e.vec_id, j.j,
             list_sum(list_transform(generate_series(1, 64),
               i -> e.v[i] * ((CAST(('0x' || substring(md5(CAST(j.j AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT) % 2001) - 1000.0) / 1000.0)) AS d
      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) j
    ),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN d >= 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
      FROM planes GROUP BY vec_id
    ),
    banded AS (
      SELECT s.vec_id, s.sig, band, (s.sig >> (band * 4)) & 15 AS band_val
      FROM sig s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
    ),
    cand AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(
             list_sum(list_transform(generate_series(1, 64), i -> ea.v[i] * eb.v[i]))
             / sqrt(list_sum(list_transform(generate_series(1, 64), i -> ea.v[i] * ea.v[i]))
                    * list_sum(list_transform(generate_series(1, 64), i -> eb.v[i] * eb.v[i]))),
             6) AS cos_sim
    FROM cand JOIN e ea ON ea.vec_id = doc_a JOIN e eb ON eb.vec_id = doc_b
    WHERE round(
            list_sum(list_transform(generate_series(1, 64), i -> ea.v[i] * eb.v[i]))
            / sqrt(list_sum(list_transform(generate_series(1, 64), i -> ea.v[i] * ea.v[i]))
                   * list_sum(list_transform(generate_series(1, 64), i -> eb.v[i] * eb.v[i]))), 6) >= 0.4
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH blocking +
    exact cosine verify (threshold 0.4 — the synthetic embeddings have
    no planted dups, so this surfaces the natural near-neighbors)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs(e, "vec_id", "embedding", dim=64, threshold=0.4)


@query(
    "embedding_stats",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id, label,
           CAST(len(v) AS INTEGER) AS dim,
           round(sqrt(list_sum(list_transform(generate_series(1, 64), i -> v[i] * v[i]))), 6) AS l2_norm,
           round(list_sum(list_transform(generate_series(1, 64), i -> v[i])) / 64.0, 6) AS mean_val
    FROM e
    """,
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column scalar surface: per-vector norm/mean via
    higher-order functions (no UDF)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.sqrt(S.dot(v, v)), 6).alias("l2_norm"),
        F.round(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x) / 64.0, 6
        ).alias("mean_val"),
    )


@query(
    "text_stats",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics."""
    d = load_table(spark, sf_dir, "documents")
    tok = T.tokens("text")
    sum_len = F.aggregate(
        F.transform(tok, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        "n_chars",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        F.size(tok).cast("bigint").alias("n_tokens"),
        F.round(sum_len.cast("double") / F.size(tok).cast("double"), 6).alias("avg_token_len"),
    )


@query(
    "token_count_regex",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_tokens_re,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers
    FROM documents
    """,
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count_regex("text").alias("n_tokens_re"),
        T.token_count_regex("text", "[0-9]+").alias("n_numbers"),
    )


@query(
    "lang_id_heuristic",
    oracle="""
    SELECT doc_id, lang,
           round(CAST(len(list_filter(string_split(text, ' '),
                     t -> t IN ('the','a','of','and','or','to','in','is'))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stop_ratio,
           CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                     t -> t IN ('the','a','of','and','or','to','in','is'))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.05
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM documents
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID heuristic."""
    d = load_table(spark, sf_dir, "documents")
    tok = T.tokens("text")
    return d.select(
        "doc_id",
        "lang",
        F.round(T.stopword_ratio(tok), 6).alias("stop_ratio"),
        T.lang_id_en(tok).alias("pred_lang"),
    )


@query(
    "quality_score",
    oracle=r"""
    SELECT doc_id,
           round(
             0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
                            / greatest(CAST(length(text) AS DOUBLE), 1.0))
             + 0.3 * least(CAST(len(list_filter(string_split(text, ' '),
                           t -> t IN ('the','a','of','and','or','to','in','is'))) AS DOUBLE)
                           / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0),
             6) AS quality
    FROM documents
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length saturation, punctuation share,
    stopword share)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.quality_score("text").alias("quality"))


@query(
    "text_clean_pipeline",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '<[^>]+>', ' ', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
             '\s+', ' ', 'g')) AS clean_text,
           CAST(length(text) AS BIGINT) AS n_before,
           CAST(length(trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '<[^>]+>', ' ', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
             '\s+', ' ', 'g'))) AS BIGINT) AS n_after
    FROM documents
    """,
)
def text_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data text cleaning: strip HTML, redact emails/URLs,
    normalize whitespace — all codegen'd regexp expressions (identical
    RE2-safe patterns run in the oracle)."""
    d = load_table(spark, sf_dir, "documents")
    clean = T.normalize_ws(T.redact_pii(T.strip_html(F.col("text"))))
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length("text").cast("bigint").alias("n_before"),
        F.length(clean).cast("bigint").alias("n_after"),
    )


_QUALITY_SQL = r"""
             0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
                            / greatest(CAST(length(text) AS DOUBLE), 1.0))
             + 0.3 * least(CAST(len(list_filter(string_split(text, ' '),
                           t -> t IN ('the','a','of','and','or','to','in','is'))) AS DOUBLE)
                           / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0)
"""


@query(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id
    ),
    comp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM walk GROUP BY id),
    scored AS (
      SELECT comp.cluster_id, comp.doc_id, round({_QUALITY_SQL}, 6) AS quality
      FROM comp JOIN documents d ON d.doc_id = comp.doc_id
    )
    SELECT cluster_id, doc_id AS keep_doc, quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY quality DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM scored
    ) WHERE rn = 1
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: near-dup clusters -> keep the
    highest-quality member per cluster (tie: lowest doc_id).  This is
    the op a curation pipeline actually runs — pairs and clusters are
    intermediates.  One extra hash aggregate over the cluster relation;
    the oracle recomputes components with a recursive-CTE closure."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_neardup_pairs(d, "doc_id", "text", n_hashes=8, band_size=2, threshold=0.5)
    clusters = D.connected_components(pairs)
    scored = clusters.join(
        d.select("doc_id", T.quality_score("text").alias("quality")), "doc_id"
    )
    return scored.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id", F.struct(F.col("quality"), F.col("doc_id").cast("double") * -1)
        ).alias("keep_doc"),
        F.max("quality").alias("quality"),
        F.count("*").alias("n_members"),
    )


@query(
    "stratified_sample_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_H.format(x="CAST(doc_id AS VARCHAR)")} % 100
          < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
    """,
)
def stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by content hash: keep 50% of
    'en', 20% of other languages.  Hash-based (not rand()) so the
    sample is reproducible across runs/retries and co-partitions with
    nothing — a pure map-side filter at any scale."""
    from cascading_hbase_spark.functions.hashing import hash64

    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(50)).otherwise(F.lit(20))
    return d.filter(hash64(F.col("doc_id").cast("string")) % 100 < rate).select(
        "doc_id", "lang"
    )


@query(
    "token_budget_cap",
    oracle="""
    SELECT doc_id, lang, n_tokens, cum_tokens
    FROM (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                  OVER (PARTITION BY lang
                        ORDER BY len(string_split(text, ' ')) DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM documents
    ) WHERE cum_tokens <= 20000
    """,
)
def token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token budget: rank docs (longest first, tie by id)
    and keep prefixes until 20k tokens per language — the mixture-
    capping step of a training-data recipe.

    Scale note: the running sum is one window task per language; strata
    are bounded (languages), and within a stratum the window input is
    (doc_id, n_tokens) pairs only — not the text.  For unbounded strata
    substitute a two-phase quantile cut."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(T.tokens("text")).cast("bigint")
    scored = d.select("doc_id", "lang", n_tok.alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .filter(F.col("cum_tokens") <= 20000)
    )


@query(
    "doc_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
           CAST(('0x' || substring(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp64
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint (md5 of normalized text) plus
    its 60-bit integer form."""
    d = load_table(spark, sf_dir, "documents")
    fp = T.fingerprint("text")
    fp64 = F.conv(F.substring(fp, 1, 15), 16, 10).cast("bigint")
    return d.select("doc_id", fp.alias("fp"), fp64.alias("fp64"))


@query(
    "repetition_stats",
    oracle="""
    WITH ex AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           round(CAST(count(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS distinct_frac,
           round(CAST(max(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_token_frac
    FROM cnt GROUP BY doc_id
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: distinct-
    token fraction and most-frequent-token fraction (high top-token /
    low distinct fractions flag degenerate repetitive text for training
    -data filtering).  Two map-side-combinable hash aggregations keyed
    by (doc_id, token) then doc_id — no windows, no UDFs."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    cnt = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.round(
            F.count("*").cast("double") / F.sum("c").cast("double"), 6
        ).alias("distinct_frac"),
        F.round(
            F.max("c").cast("double") / F.sum("c").cast("double"), 6
        ).alias("top_token_frac"),
    )


@query(
    "domain_mixture_weights",
    oracle="""
    WITH per AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE)
                 / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) AS token_frac
    FROM per
    """,
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture accounting: per (source, lang) document and
    token counts plus each cell's fraction of corpus tokens — the input
    to mixture-weighting decisions.  The grand total is an exact bigint
    sum (no float-summation drift), computed over the tiny aggregated
    relation, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return per.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(w).cast("double"),
            6,
        ).alias("token_frac"),
    )


@query(
    "mixture_rebalance_sample",
    oracle=f"""
    WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    mn AS (SELECT min(n) AS mn FROM cnt)
    SELECT d.doc_id, d.source
    FROM documents d JOIN cnt USING (source) CROSS JOIN mn
    WHERE ({_H.format(x="CAST(d.doc_id AS VARCHAR)")} % 1000000)
          < CAST(round(1000000.0 * mn.mn / cnt.n, 0) AS BIGINT)
    """,
)
def mixture_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture rebalancing: hash-sample every source down
    to (approximately) the smallest source's document count, so the
    surviving corpus is source-balanced.  Reproducible (md5-derived
    per-doc coin, integer threshold), map-side (per-source counts
    broadcast; the corpus itself never shuffles)."""
    from cascading_hbase_spark.functions.hashing import hash64

    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count("*").alias("n"))
    mn = cnt.agg(F.min("n").alias("mn"))
    thr = F.round(F.lit(1000000.0) * F.col("mn") / F.col("n"), 0).cast("bigint")
    return (
        d.join(F.broadcast(cnt), "source")
        .join(F.broadcast(mn))
        .filter((hash64(F.col("doc_id").cast("string")) % 1000000) < thr)
        .select("doc_id", "source")
    )


@query(
    "vocab_top_tokens",
    oracle="""
    WITH ex AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    cnt AS (SELECT tok, count(*) AS n FROM ex GROUP BY tok)
    SELECT tok, CAST(n AS BIGINT) AS n
    FROM cnt ORDER BY n DESC, tok LIMIT 100
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 tokens by frequency with a
    deterministic (count desc, token asc) tie-break.  Partial+final
    hash agg on the token, then a distributed take-ordered — the
    full count table never reaches the driver."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(100)
    )


@query(
    "benchmark_decontamination",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS ({_SQL_SH}),
    bench AS (
      SELECT DISTINCT sh.shingle
      FROM sh JOIN documents d USING (doc_id) WHERE d.source = 'src0'
    ),
    train AS (
      SELECT sh.doc_id, sh.shingle
      FROM sh JOIN documents d USING (doc_id) WHERE d.source <> 'src0'
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
    FROM train t JOIN bench b ON t.shingle = b.shingle
    GROUP BY t.doc_id
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark decontamination: for every training document
    (source <> 'src0'), the number of 3-gram shingles it shares with
    the benchmark slice (source = 'src0') — the overlap audit run
    before training on scraped data.  Shingle-blocked equi-join (the
    shuffle key is the shingle), never a cartesian; benchmark shingles
    dedup map-side."""
    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_rows(d, "doc_id", "text", n=3)
    src = d.select("doc_id", "source")
    shs = sh.join(src, "doc_id")
    bench = (
        shs.filter(F.col("source") == "src0").select("shingle").distinct()
    )
    train = shs.filter(F.col("source") != "src0").select("doc_id", "shingle")
    return train.join(bench, "shingle").groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_contaminated")
    )


@query(
    "quality_filter_percentile",
    oracle=r"""
    WITH q AS (
      SELECT doc_id,
             round(
               0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
                              / greatest(CAST(length(text) AS DOUBLE), 1.0))
               + 0.3 * least(CAST(len(list_filter(string_split(text, ' '),
                             t -> t IN ('the','a','of','and','or','to','in','is'))) AS DOUBLE)
                             / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0),
               6) AS quality
      FROM documents
    ),
    cut AS (SELECT quantile_cont(quality, 0.25) AS p25 FROM q)
    SELECT doc_id, quality FROM q CROSS JOIN cut WHERE quality >= p25
    """,
)
def quality_filter_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based quality gate: keep documents at or above the
    corpus 25th-percentile quality score — the relative-threshold form
    of quality filtering (absolute thresholds drift across corpora).
    The cutoff is a 1-row aggregate broadcast into a map-side filter;
    at 100 TB swap the exact percentile for approx_percentile
    (t-digest), same shape."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select("doc_id", T.quality_score("text").alias("quality"))
    cut = q.agg(F.expr("percentile(quality, 0.25)").alias("p25"))
    return (
        q.join(F.broadcast(cut))
        .filter(F.col("quality") >= F.col("p25"))
        .select("doc_id", "quality")
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    src AS (SELECT doc_id, source FROM documents),
    ex AS (
      SELECT t.doc_id, src.source, unnest(t.t) AS tok
      FROM tok t JOIN src USING (doc_id)
    ),
    tf AS (SELECT source, tok, count(*) AS cnt FROM ex GROUP BY 1, 2),
    tot AS (SELECT source, count(*) AS tot FROM ex GROUP BY 1),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
    nd AS (SELECT count(*) AS nd FROM documents),
    scored AS (
      SELECT tf.source, tf.tok,
             round((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
                   * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
      FROM tf JOIN tot USING (source) JOIN df USING (tok) CROSS JOIN nd
    ),
    ranked AS (
      SELECT source, tok, tfidf,
             row_number() OVER (PARTITION BY source
                                ORDER BY tfidf DESC, tok) AS rnk
      FROM scored
    )
    SELECT source, tok, tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 10
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-10 terms by TF-IDF — the classic corpus term
    profiler.

    ONE corpus explode (r14; the r13 shape exploded the corpus three
    times — tf, per-source totals, and doc frequencies each re-ran the
    tokenizer, and column pruning made the three subtrees
    non-ReusedExchange-able): occurrences pre-aggregate to distinct
    (doc, source, tok) counts, those reduce to the model-sized
    (source, tok) relation carrying term count AND containing-doc
    count, and the per-source totals / doc frequencies derive from
    that relation as windows — each doc has exactly ONE source, so
    summing per-source doc counts over the token partition IS
    count(DISTINCT doc_id).  The remaining second documents scan is
    the zero-column corpus row count.  Ranking is a windowed top-k per
    source (rank over a rounded score with a token tie-break,
    reproducible cross-engine)."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
    dc = ex.groupBy("doc_id", "source", "tok").agg(F.count("*").alias("c"))
    st = dc.groupBy("source", "tok").agg(
        F.sum("c").alias("cnt"), F.count("*").alias("nd_src")
    )
    nd = d.agg(F.count("*").alias("nd"))
    scored = (
        st.select(
            "source",
            "tok",
            "cnt",
            F.sum("nd_src").over(Window.partitionBy("tok")).alias("df"),
        )
        .select(
            "source",
            "tok",
            "cnt",
            "df",
            F.sum("cnt").over(Window.partitionBy("source")).alias("tot"),
        )
        .join(F.broadcast(nd))
        .select(
            "source",
            "tok",
            F.round(
                (F.col("cnt").cast("double") / F.col("tot").cast("double"))
                * F.log(F.col("nd").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("source", "tok", "tfidf", "rnk")
    )


@query(
    "boilerplate_ngrams",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS ({_SQL_SH})
    SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
    FROM sh GROUP BY shingle HAVING count(*) >= 10
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detector: 3-gram shingles occurring in >= 10 distinct
    documents (headers/footers/templates repeated across a crawl).
    Shingles are distinct-per-doc at the source, so the count IS the
    doc frequency — one partial+final hash agg keyed on the shingle,
    no joins."""
    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_rows(d, "doc_id", "text", n=3)
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= 10)
    )


@query(
    "doc_pack_assignment",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(coalesce(SUM(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
                AS BIGINT) AS shard
    FROM t
    """,
)
def doc_pack_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training shards: within each source, docs
    in deterministic doc_id order are packed into ~2000-token shards by
    a running token total (a doc goes to the shard its preceding
    cumulative count falls in).  One shuffle on the source key and a
    single window pass; at 100 TB the same plan runs per source
    partition, and the 2000-token budget becomes the context length."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 2000)
        .cast("bigint")
        .alias("shard"),
    )


@query(
    "embedding_centroid_similarity",
    oracle="""
    WITH ex AS (
      SELECT label, unnest(embedding) AS v,
             unnest(range(len(embedding))) AS pos
      FROM embeddings
    ),
    cent AS (
      SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS c
      FROM ex GROUP BY label, pos
    )
    SELECT a.label AS label_a, b.label AS label_b,
           round(SUM(a.c * b.c)
                 / sqrt(SUM(a.c * a.c) * SUM(b.c * b.c)), 6) AS cosine
    FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
    GROUP BY 1, 2
    """,
)
def embedding_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-structure audit: the per-label mean embedding (centroid)
    and the pairwise cosine between centroids — how separated the label
    clusters are.  The data-scale work is one partial+final avg keyed on
    (label, pos); the centroid table is O(labels x dims) and self-joins
    on the dimension index, never touching the raw vectors again."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = ex.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("c")
    )
    a, b = cent.alias("a"), cent.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.round(
                F.sum(F.col("a.c") * F.col("b.c"))
                / F.sqrt(
                    F.sum(F.col("a.c") * F.col("a.c"))
                    * F.sum(F.col("b.c") * F.col("b.c"))
                ),
                6,
            ).alias("cosine")
        )
    )


@query(
    "token_dist_divergence",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    src AS (SELECT doc_id, source FROM documents),
    ex AS (
      SELECT src.source, unnest(t.t) AS tok
      FROM tok t JOIN src USING (doc_id)
    ),
    st AS (SELECT source, tok, count(*) AS cnt FROM ex GROUP BY 1, 2),
    stot AS (SELECT source, count(*) AS tot FROM ex GROUP BY 1),
    ct AS (SELECT tok, count(*) AS ccnt FROM ex GROUP BY 1),
    ctot AS (SELECT count(*) AS ctot FROM ex)
    SELECT st.source,
           round(SUM((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
                     * ln((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
                          / (CAST(ccnt AS DOUBLE) / CAST(ctot AS DOUBLE)))),
                 6) AS kl_divergence
    FROM st JOIN stot USING (source) JOIN ct USING (tok) CROSS JOIN ctot
    GROUP BY st.source
    """,
)
def token_dist_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-drift monitor: KL(source token distribution || corpus
    token distribution) per source — how far each slice's unigram
    distribution sits from the blend.  Per-source counts never leave
    the token-keyed shuffle; the per-source and corpus totals are tiny
    broadcast aggregates, and the divergence is one final sum per
    source.  (Every source term has corpus support by construction, so
    the KL sum is always finite.)"""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    st = ex.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    stot = ex.groupBy("source").agg(F.count("*").alias("tot"))
    ct = ex.groupBy("tok").agg(F.count("*").alias("ccnt"))
    ctot = ex.agg(F.count("*").alias("ctot"))
    p = F.col("cnt").cast("double") / F.col("tot").cast("double")
    q = F.col("ccnt").cast("double") / F.col("ctot").cast("double")
    return (
        st.join(F.broadcast(stot), "source")
        .join(ct, "tok")
        .join(F.broadcast(ctot))
        .groupBy("source")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_divergence"))
    )


@query(
    "text_embed_hashed_bow",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    ex AS (SELECT doc_id, unnest(t) AS tok FROM tok),
    dims AS (
      SELECT doc_id, {_H.format(x="tok")} % 64 AS dim, count(*) AS cnt
      FROM ex GROUP BY 1, 2
    ),
    norms AS (
      SELECT doc_id, sqrt(SUM(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE)))
               AS nrm
      FROM dims GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(d.dim AS INTEGER) AS dim,
           round(CAST(cnt AS DOUBLE) / nrm, 6) AS weight
    FROM dims d JOIN norms USING (doc_id)
    """,
)
def text_embed_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text embedder (feature hashing): each token hashes
    to one of 64 dimensions, per-doc counts are L2-normalized — the
    classic hashing-trick bag-of-words, emitted long-form (doc_id, dim,
    weight) so it feeds the similarity/ANN operators without an opaque
    model.  The whole embedding is two hash aggs keyed on (doc, dim)
    then doc; at 100 TB a real encoder slots into the same shape as an
    Arrow-batched ``mapInPandas`` producing the identical long-form
    schema (the plumbing is what's being pinned here)."""
    from cascading_hbase_spark.functions.hashing import hash64

    d = load_table(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dims = ex.groupBy(
        "doc_id", (hash64("tok") % 64).alias("dim")
    ).agg(F.count("*").alias("cnt"))
    norms = dims.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.col("cnt").cast("double") * F.col("cnt").cast("double"))
        ).alias("nrm")
    )
    return dims.join(norms, "doc_id").select(
        "doc_id",
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("cnt").cast("double") / F.col("nrm"), 6).alias("weight"),
    )


@query(
    "data_quality_report",
    oracle="""
    WITH agg AS (
      SELECT
        SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS null_doc_id,
        count(*) - count(DISTINCT doc_id) AS dup_doc_id,
        SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)
          AS empty_text,
        SUM(CASE WHEN lang NOT IN ('en','de','fr','es') THEN 1 ELSE 0 END)
          AS unknown_lang,
        SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
          AS n_chars_drift
      FROM documents
    )
    SELECT 'null_doc_id' AS check_name, CAST(null_doc_id AS BIGINT) AS n_violations FROM agg
    UNION ALL SELECT 'dup_doc_id', CAST(dup_doc_id AS BIGINT) FROM agg
    UNION ALL SELECT 'empty_text', CAST(empty_text AS BIGINT) FROM agg
    UNION ALL SELECT 'unknown_lang', CAST(unknown_lang AS BIGINT) FROM agg
    UNION ALL SELECT 'n_chars_drift', CAST(n_chars_drift AS BIGINT) FROM agg
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation suite over the corpus: null/duplicate keys, empty
    payloads, out-of-contract enum values, derived-column drift — the
    validation gate a pipeline runs before promoting a snapshot.  All
    checks ride ONE partial+final aggregate pass (conditional sums plus
    a count-distinct), then unpivot to (check, violations) rows; adding
    a check never adds a scan."""
    d = load_table(spark, sf_dir, "documents")
    agg = d.agg(
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0)).alias("null_doc_id"),
        (F.count("*") - F.countDistinct("doc_id")).alias("dup_doc_id"),
        F.sum(
            F.when(F.col("text").isNull() | (F.length("text") == 0), 1).otherwise(0)
        ).alias("empty_text"),
        F.sum(
            F.when(~F.col("lang").isin("en", "de", "fr", "es"), 1).otherwise(0)
        ).alias("unknown_lang"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).alias("n_chars_drift"),
    )
    return agg.selectExpr(
        "stack(5, "
        "'null_doc_id', CAST(null_doc_id AS BIGINT), "
        "'dup_doc_id', CAST(dup_doc_id AS BIGINT), "
        "'empty_text', CAST(empty_text AS BIGINT), "
        "'unknown_lang', CAST(unknown_lang AS BIGINT), "
        "'n_chars_drift', CAST(n_chars_drift AS BIGINT)"
        ") AS (check_name, n_violations)"
    )


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id
    ),
    comp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
             FROM walk GROUP BY id)
    SELECT d.doc_id,
           COALESCE(comp.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN {_H.format(
               x="CAST(COALESCE(comp.cluster_id, d.doc_id) AS VARCHAR)"
           )} % 10 < 8 THEN 'train' ELSE 'heldout' END AS split
    FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/heldout split: assign every doc to its
    near-dup cluster (component min-label; singletons are their own
    cluster), then split by a deterministic hash of the CLUSTER id —
    so near-duplicates can never straddle the split and contaminate
    evaluation.  Splitting by doc hash (the naive approach) leaks ~dup
    fraction of heldout into train.

    Scale shape: the component relation only contains docs that appear
    in some near-dup pair (a small fraction of the corpus), so the
    left join is broadcast-able; the split itself is a pure map-side
    hash — no extra shuffle over the corpus."""
    from cascading_hbase_spark.functions.hashing import hash64

    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_neardup_pairs(
        d, "doc_id", "text", n_hashes=8, band_size=2, threshold=0.5
    )
    comp = D.connected_components(pairs)
    # comp scales with the corpus's duplication rate (every doc in some
    # near-dup pair), so no broadcast hint: Catalyst broadcasts at test
    # scale and shuffles when a crawl corpus is 30%+ duplicates.
    out = d.select("doc_id").join(comp, "doc_id", "left")
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return out.select(
        "doc_id",
        cluster.alias("cluster_id"),
        F.when(hash64(cluster.cast("string")) % 10 < 8, "train")
        .otherwise("heldout")
        .alias("split"),
    )


@query(
    "dedup_audit_minhash",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS ({_SQL_SH}),
    hs AS (
      SELECT doc_id, h_idx,
             min((({_H.format(x="shingle")} % 2147483647) * (2 * h_idx + 1)
                  + h_idx * 2654435761) % 2147483647) AS minhash
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS h_idx)
      GROUP BY doc_id, h_idx
    ),
    bands AS (
      SELECT doc_id, CAST(h_idx // 2 AS INTEGER) AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY h_idx) AS band_sig
      FROM hs GROUP BY 1, 2
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    est AS (
      SELECT cand.doc_a, cand.doc_b,
             SUM(CASE WHEN ha.minhash = hb.minhash THEN 1 ELSE 0 END) / 8.0
               AS est_jaccard
      FROM cand
      JOIN hs ha ON ha.doc_id = cand.doc_a
      JOIN hs hb ON hb.doc_id = cand.doc_b AND hb.h_idx = ha.h_idx
      GROUP BY 1, 2
    ),
    cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT cand.doc_a, cand.doc_b, count(*) AS i
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.doc_a
      JOIN sh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT inter.doc_a, inter.doc_b,
             round(CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE), 6)
               AS jaccard
      FROM inter
      JOIN cnt ca ON ca.doc_id = inter.doc_a
      JOIN cnt cb ON cb.doc_id = inter.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.est_jaccard, j.jaccard,
           round(abs(e.est_jaccard - j.jaccard), 6) AS abs_err
    FROM est e JOIN jac j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
    """,
)
def dedup_audit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit on the corpus's own candidate pairs:
    estimated vs exact Jaccard with absolute error — the measurement a
    pipeline runs before trusting an LSH threshold at 100 TB scale."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_audit(d, "doc_id", "text", n_hashes=8, band_size=2)


@query(
    "importance_sample_quality",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id,
             round(
               0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
                              / greatest(CAST(length(text) AS DOUBLE), 1.0))
               + 0.3 * least(CAST(len(list_filter(string_split(text, ' '),
                             t -> t IN ('the','a','of','and','or','to','in','is'))) AS DOUBLE)
                             / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0),
               6) AS quality
      FROM documents
    )
    SELECT doc_id, quality FROM scored
    WHERE {_H.format(x="CAST(doc_id AS VARCHAR)")} % 1000000
          < CAST(round(quality * 1000000, 0) AS BIGINT)
    """,
)
def importance_sample_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling: keep each doc with probability equal to its
    quality score, decided by a deterministic hash (NOT rand()) — so
    the sample is reproducible across runs/retries, survives task
    replays at 100 TB, and stays a pure map-side filter.  The mixture-
    shaping step between hard quality gates and uniform sampling."""
    from cascading_hbase_spark.functions.hashing import hash64

    d = load_table(spark, sf_dir, "documents")
    q = T.quality_score("text")
    keep = hash64(F.col("doc_id").cast("string")) % 1000000 < F.round(
        q * 1000000, 0
    ).cast("bigint")
    return d.filter(keep).select("doc_id", q.alias("quality"))


@query(
    "token_entropy",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
    tc AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS c
           FROM tok GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(c) AS n FROM tc GROUP BY 1)
    SELECT tc.doc_id, CAST(tot.n AS BIGINT) AS n_tokens,
           round(-SUM((c / n) * ln(c / n)), 6) AS entropy
    FROM tc JOIN tot ON tot.doc_id = tc.doc_id
    GROUP BY tc.doc_id, tot.n
    """,
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats): low entropy flags
    repetitive/boilerplate text, complementing the Gopher-style
    repetition fractions.  Two hash aggregates (token counts, then the
    entropy reduction) — the doc's text never reaches the second one."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").cast("double").alias("c"))
    )
    tot = tc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        tc.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
        .select(
            "doc_id", F.col("n").cast("bigint").alias("n_tokens"), "entropy"
        )
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS ({_SQL_SH}),
    hs AS (
      SELECT doc_id, h_idx,
             min((({_H.format(x="shingle")} % 2147483647) * (2 * h_idx + 1)
                  + h_idx * 2654435761) % 2147483647) AS minhash
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS h_idx)
      GROUP BY doc_id, h_idx
    ),
    bands AS (
      SELECT doc_id, CAST(h_idx // 2 AS INTEGER) AS band,
             string_agg(CAST(minhash AS VARCHAR), '_' ORDER BY h_idx) AS band_sig
      FROM hs GROUP BY 1, 2
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT cand.doc_a, cand.doc_b, count(*) AS i
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.doc_a
      JOIN sh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT inter.doc_a, inter.doc_b,
           CASE WHEN ca.c <= cb.c THEN inter.doc_a ELSE inter.doc_b END
             AS contained_doc,
           round(CAST(i AS DOUBLE) / CAST(least(ca.c, cb.c) AS DOUBLE), 6)
             AS containment
    FROM inter
    JOIN cnt ca ON ca.doc_id = inter.doc_a
    JOIN cnt cb ON cb.doc_id = inter.doc_b
    WHERE round(CAST(i AS DOUBLE) / CAST(least(ca.c, cb.c) AS DOUBLE), 6) >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-containment dedup: a short doc embedded in a longer one
    passes |A∩B|/min(|A|,|B|) even when Jaccard fails (the union washes
    out the small side) — the quote/wrapper-page criterion.  Same
    band-blocked candidate shape as minhash; no all-pairs."""
    d = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(d, "doc_id", "text", threshold=0.9)


@query(
    "dedup_chunk_exact",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, (len(toks) - 1) // 8)) AS i
      FROM t
    ),
    ch AS (
      SELECT doc_id,
             array_to_string(toks[(i * 8 + 1):(i * 8 + 8)], ' ') AS chunk
      FROM idx
    ),
    spread AS (
      SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk
    )
    SELECT ch.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE spread.nd > 1) AS BIGINT)
             AS n_shared_chunks,
           round(CAST(count(*) FILTER (WHERE spread.nd > 1) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS shared_fraction
    FROM ch JOIN spread ON spread.chunk = ch.chunk
    GROUP BY ch.doc_id
    """,
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup signal: cut each document into
    consecutive 8-token chunks and score what fraction of its chunks
    also appear in OTHER documents — the standard 'remove duplicated
    passages' pre-pass (chunk-granular, where minhash is doc-granular).

    The chunking is a map-side higher-order function (sequence +
    slice + concat_ws — no explode until the chunk rows are needed);
    the only shuffles are the chunk-spread hash agg and the join back,
    both keyed on the chunk text.  At 100 TB: identical shape, AQE
    splits hot boilerplate chunks."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    idx = F.sequence(F.lit(0), ((F.size(toks) - 1) / F.lit(8)).cast("int"))
    chunks = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8))
    )
    ch = d.select("doc_id", F.explode(chunks).alias("chunk"))
    spread = ch.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (
        ch.join(spread, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            shared.cast("bigint").alias("n_shared_chunks"),
            F.round(
                shared.cast("double") / F.count("*").cast("double"), 6
            ).alias("shared_fraction"),
        )
    )


@query(
    "lm_unigram_logprob",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
    vocab AS (SELECT t, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY t),
    tot AS (SELECT SUM(c) AS s FROM vocab)
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(vocab.c / tot.s)), 6) AS avg_logprob
    FROM tok JOIN vocab ON vocab.t = tok.t CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
)
def lm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model quality score: average per-token
    log-probability under the corpus's own unigram distribution — the
    cheap stand-in for perplexity filtering (KenLM-style) that needs no
    external model.  Repetitive/boilerplate docs score high, rare-token
    noise scores low; both tails get gated in curation.

    Plan shape for 100 TB: token counts are one partial+final hash agg;
    the vocabulary (small — vocab grows ~log of corpus) broadcasts back
    onto the token stream, so the scoring join is map-side; one final
    agg per doc.  The doc text itself crosses exactly one shuffle (the
    explode output), never the scoring join."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count("*").cast("double").alias("c"))
    total = vocab.agg(F.sum("c").alias("s"))
    scored = tok.join(F.broadcast(vocab), "t").join(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(F.avg(F.log(F.col("c") / F.col("s"))), 6).alias("avg_logprob"),
    )


@query(
    "curation_end2end",
    oracle=r"""
    WITH cleaned AS (
      SELECT doc_id, lang,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '<[^>]+>', ' ', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 'https?://[^\s]+', '<URL>', 'g'),
               '\s+', ' ', 'g')) AS ct
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, ct,
             round(
               0.4 * least(CAST(len(string_split(ct, ' ')) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - CAST(len(regexp_extract_all(ct, '[^a-zA-Z0-9\s]')) AS DOUBLE)
                              / greatest(CAST(length(ct) AS DOUBLE), 1.0))
               + 0.3 * least(CAST(len(list_filter(string_split(ct, ' '),
                             t -> t IN ('the','a','of','and','or','to','in','is'))) AS DOUBLE)
                             / CAST(len(string_split(ct, ' ')) AS DOUBLE) * 4.0, 1.0),
               6) AS quality
      FROM cleaned
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.5),
    deduped AS (
      SELECT ct, min(doc_id) AS keeper,
             arg_min(lang, doc_id) AS lang,
             max(quality) AS quality,
             CAST(count(*) AS BIGINT) AS n_copies
      FROM kept GROUP BY ct
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len(string_split(ct, ' ')) AS BIGINT)) AS BIGINT)
             AS total_tokens,
           CAST(SUM(n_copies) AS BIGINT) AS n_source_docs,
           round(avg(quality), 6) AS avg_quality
    FROM deduped GROUP BY lang
    """,
)
def curation_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline as ONE composed plan: clean -> score ->
    quality-gate -> exact-dedup-keep-best -> per-language accounting.
    Every stage before the dedup groupBy is a map-side codegen'd
    expression over the scan — Catalyst fuses the whole prefix into a
    single stage, so the pipeline costs exactly two shuffles (dedup by
    cleaned text, rollup by language) regardless of how many curation
    steps compose.  This is the operational argument for declarative
    pipelines at 100 TB: adding a cleaning step adds zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    clean = T.normalize_ws(T.redact_pii(T.strip_html(F.col("text"))))
    scored = d.select(
        "doc_id",
        "lang",
        clean.alias("ct"),
        F.round(T.quality_score(clean), 6).alias("quality"),
    ).filter(F.round(T.quality_score(clean), 6) >= 0.5)
    deduped = scored.groupBy("ct").agg(
        F.min("doc_id").alias("keeper"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.max("quality").alias("quality"),
        F.count("*").alias("n_copies"),
    )
    return deduped.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("ct", " ")).cast("bigint")).cast("bigint").alias("total_tokens"),
        F.sum("n_copies").cast("bigint").alias("n_source_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


@query(
    "embedding_quantize_int8",
    # Both engines quantize independently and check the SAME analytic
    # bound: symmetric int8 scalar quantization reconstructs every
    # coordinate within half a quantization step.  Values that are
    # hash-compared (dims, round-6 scale) are deterministic doubles
    # derived from the float32 inputs; the bound booleans absorb any
    # rounding-tie difference in the quantized codes themselves.
    oracle="""
    WITH q AS (
      SELECT vec_id,
             CAST(len(embedding) AS BIGINT) AS n_dims,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale,
             embedding
      FROM embeddings
    ),
    r AS (
      SELECT vec_id, n_dims, scale,
             list_max(
               list_transform(
                 list_zip(embedding,
                          list_transform(embedding,
                                         x -> round(CAST(x AS DOUBLE) / scale) * scale)),
                 p -> abs(CAST(p[1] AS DOUBLE) - p[2])
               )
             ) AS max_err
      FROM q WHERE scale > 0
    )
    SELECT vec_id, n_dims, round(scale, 6) AS scale_r,
           CAST(max_err <= scale * 0.5000001 AS BOOLEAN) AS within_half_step
    FROM r
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4x storage/bandwidth reduction an ANN index applies before sharding
    at 100 TB.  Per vector: scale = max|x|/127, codes = round(x/scale),
    reconstruction must land within half a step of every coordinate
    (the analytic contract both engines verify independently).  All
    map-side higher-order functions; zero shuffles."""
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    q = e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("n_dims"),
        (F.array_max(F.transform(dbl, F.abs)) / 127.0).alias("scale"),
        dbl.alias("_emb"),
    ).filter(F.col("scale") > 0)
    recon = F.transform(
        "_emb", lambda x: F.round(x / F.col("scale")) * F.col("scale")
    )
    max_err = F.array_max(
        F.zip_with("_emb", recon, lambda a, b: F.abs(a - b))
    )
    return q.select(
        "vec_id",
        "n_dims",
        F.round("scale", 6).alias("scale_r"),
        (max_err <= F.col("scale") * 0.5000001).alias("within_half_step"),
    )


@query(
    "doc_chunk_windows",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tok FROM documents
      WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, tok, unnest(range(0, len(tok), 48)) AS start FROM t
      WHERE len(tok) > 0
    )
    SELECT doc_id,
           CAST(start // 48 AS BIGINT) AS chunk_index,
           CAST(len(tok[start+1 : start+64]) AS BIGINT) AS n_tokens,
           md5(array_to_string(tok[start+1 : start+64], ' ')) AS chunk_hash
    FROM s
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the pre-tokenizer step that
    turns raw documents into fixed-size training windows (64-token
    windows, stride 48, so consecutive chunks overlap by 16 tokens and
    no token is lost at a boundary).  Entirely map-side: tokenize,
    ``sequence`` of window starts, explode, ``slice`` — zero shuffles,
    so at 100 TB it is a pure scan-transform pass.  Chunks travel as
    (index, length, content-hash); the hash stands in for the chunk
    text so the result stays narrow."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("tok")).filter(
        F.col("tok").isNotNull() & (F.size("tok") > 0)
    )
    s = t.select(
        "doc_id", "tok",
        F.explode(F.sequence(F.lit(0), F.size("tok") - 1, F.lit(48))).alias("start"),
    )
    chunk = F.slice(F.col("tok"), F.col("start") + 1, F.lit(64))
    return s.select(
        "doc_id",
        (F.col("start") / 48).cast("bigint").alias("chunk_index"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


@query(
    "lm_bigram_logprob",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tok FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
    ),
    bi AS (
      SELECT doc_id, tok[i] AS w1, tok[i+1] AS w2
      FROM (SELECT doc_id, tok, unnest(range(1, len(tok))) AS i FROM t)
    ),
    bc AS (SELECT w1, w2, count(*) AS cbg FROM bi GROUP BY w1, w2),
    uc AS (SELECT w1, count(*) AS cw1 FROM bi GROUP BY w1),
    v AS (
      SELECT count(DISTINCT u) AS vocab
      FROM (SELECT unnest(tok) AS u FROM t)
    )
    SELECT bi.doc_id,
           CAST(round(avg(ln((bc.cbg + 1.0) / (uc.cw1 + v.vocab))), 6)
                AS DOUBLE) AS bigram_logprob,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM bi
    JOIN bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
    JOIN uc ON uc.w1 = bi.w1
    CROSS JOIN v
    GROUP BY bi.doc_id
    """,
)
def lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language model scoring with add-1
    smoothing: per doc, the mean log P(w2|w1) where
    P = (c(w1,w2)+1) / (c(w1·)+V).  The step up from the unigram scorer
    (``lm_unigram_logprob``) — a context-sensitive fluency/novelty
    signal for curation (gibberish and boilerplate separate further
    under a bigram LM than a unigram one).

    Plan shape: bigram pairs are built MAP-SIDE (``zip_with`` of the
    two shifted token slices — no posexplode+window self-pairing), the
    pair relation persists once and feeds train and score; the joins
    shuffle on the bigram/context keys and the vocabulary size arrives
    as a broadcast 1-row join."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("tok")).filter(
        F.col("tok").isNotNull() & (F.size("tok") >= 2)
    )
    pairs = F.zip_with(
        F.slice(F.col("tok"), F.lit(1), F.size("tok") - 1),
        F.slice(F.col("tok"), F.lit(2), F.size("tok") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # persisted for the remaining two consumers (model train + score);
    # stays cached past return because the result is lazy — CacheManager
    # dedupe + LRU eviction is the documented policy (functions/dedup.py)
    bi = (
        t.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .persist()
    )
    # cw1 (bigram count with first word w1) is sum(cbg) over w1 — a
    # window on the model-sized bigram-count relation, NOT a third
    # aggregate pass over the corpus-scale pair relation
    bc = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("cbg"))
        .withColumn("cw1", F.sum("cbg").over(Window.partitionBy("w1")))
    )
    vocab = t.select(F.explode("tok").alias("u")).agg(
        F.count_distinct("u").alias("vocab")
    )
    lp = F.log((F.col("cbg") + 1.0) / (F.col("cw1") + F.col("vocab")))
    return (
        bi.join(bc, ["w1", "w2"])
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(lp), 6).alias("bigram_logprob"),
            F.count("*").cast("bigint").alias("n_bigrams"),
        )
    )


@query(
    "weighted_sample_per_source",
    oracle="""
    WITH k AS (
      SELECT doc_id, source,
             CAST((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000003) AS DOUBLE) / n_chars AS priority
      FROM documents WHERE n_chars > 0
    ),
    r AS (
      SELECT doc_id, source, priority,
             row_number() OVER (PARTITION BY source
                                ORDER BY priority, doc_id) AS rn
      FROM k
    )
    SELECT doc_id, source, CAST(round(priority, 6) AS DOUBLE) AS priority
    FROM r WHERE rn <= 20
    """,
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling, top-20 per source stratum:
    each doc draws a reproducible pseudo-uniform from its id
    (``hash64 % 1000003``) and competes with priority ``u / weight``
    (weight = n_chars), so longer documents win proportionally more
    often — the priority-sampling analogue of weighted reservoir
    sampling, with NO randomness and NO driver state.  One shuffle
    (the per-source window); at 100 TB the rank runs per-stratum and
    the candidate set never concentrates on one node unless one source
    dominates — the same skew profile as any per-key top-k."""
    from cascading_hbase_spark.functions.hashing import hash64

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    pri = (
        (hash64(F.col("doc_id").cast("string")) % 1000003).cast("double")
        / F.col("n_chars")
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        d.select("doc_id", "source", pri.alias("priority"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source", F.round("priority", 6).alias("priority"))
    )


@query(
    "perplexity_bucket_ccnet",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tok FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
    ),
    bi AS (
      SELECT doc_id, tok[i] AS w1, tok[i+1] AS w2
      FROM (SELECT doc_id, tok, unnest(range(1, len(tok))) AS i FROM t)
    ),
    bc AS (SELECT w1, w2, count(*) AS cbg FROM bi GROUP BY w1, w2),
    uc AS (SELECT w1, count(*) AS cw1 FROM bi GROUP BY w1),
    v AS (
      SELECT count(DISTINCT u) AS vocab
      FROM (SELECT unnest(tok) AS u FROM t)
    ),
    scored AS (
      SELECT bi.doc_id,
             CAST(round(avg(ln((bc.cbg + 1.0) / (uc.cw1 + v.vocab))), 6)
                  AS DOUBLE) AS lm_score
      FROM bi
      JOIN bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
      JOIN uc ON uc.w1 = bi.w1
      CROSS JOIN v
      GROUP BY bi.doc_id
    ),
    sl AS (
      SELECT s.doc_id, d.lang, s.lm_score
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ),
    cuts AS (
      SELECT lang,
             quantile_cont(lm_score, [0.25, 0.75]) AS cs
      FROM sl GROUP BY lang
    )
    SELECT sl.doc_id, sl.lang, sl.lm_score,
           CASE WHEN sl.lm_score > cuts.cs[2] THEN 'head'
                WHEN sl.lm_score > cuts.cs[1] THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sl JOIN cuts ON cuts.lang = sl.lang
    """,
)
def perplexity_bucket_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus-trained add-1 bigram LM (``lm_bigram_logprob``), then split
    each LANGUAGE into head / middle / tail by its own LM-score
    quantiles — the standard web-corpus curation move (fluent top,
    noisy bottom, per language, so no language is filtered against
    another language's fluency scale).  Cut points are the 0.25/0.75
    quartiles rather than CCNet's terciles: 1/3 is not exactly
    representable and Spark SQL parses `1.0/3.0` as DECIMAL division,
    so tercile literals drift an ulp between engines and flip boundary
    docs; 0.25/0.75 are exact binary fractions on every engine.

    Scale shape: the LM scoring keeps ``lm_bigram_logprob``'s plan
    (map-side zip_with pairs, model-keyed shuffles); the tercile cuts
    are ONE per-language exact-percentile aggregate over the scored
    relation — a #languages-row result broadcast back for map-side
    labeling (never a per-language global sort).  Cuts are computed on
    the round-6 scores, so the bucket comparisons see bit-identical
    doubles on both engines (the histogram_equidepth parity pattern)."""
    scored = lm_bigram_logprob(spark, sf_dir).select(
        "doc_id", F.col("bigram_logprob").alias("lm_score")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    sl = scored.join(d, "doc_id")
    cuts = sl.groupBy("lang").agg(
        F.expr("percentile(lm_score, array(0.25D, 0.75D))").alias("cs")
    )
    bucket = (
        F.when(F.col("lm_score") > F.col("cs").getItem(1), "head")
        .when(F.col("lm_score") > F.col("cs").getItem(0), "middle")
        .otherwise("tail")
    )
    return (
        sl.join(F.broadcast(cuts), "lang")
        .select("doc_id", "lang", "lm_score", bucket.alias("bucket"))
    )


@query(
    "setsim_prefix_jaccard",
    bench=True,
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS ({_SQL_SH}),
    hs AS (SELECT DISTINCT doc_id, {_H.format(x="shingle")} AS h FROM sh),
    cnt AS (SELECT doc_id, count(*) AS c FROM hs GROUP BY doc_id),
    inter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS i
      FROM hs sa JOIN hs sb ON sa.h = sb.h AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(round(CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE), 6)
                AS DOUBLE) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE i * 2 >= 1 * (ca.c + cb.c - i)
    """,
)
def setsim_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.5 near-dup pairs via PPJoin prefix filtering
    (``functions.dedup.setsim_prefix_join``): only each doc's
    rarest-first prefix enters the inverted index, so common shingles
    never fan out candidate pairs — the exact-similarity counterpart
    to the approximate MinHash path, with the same output contract as
    ``dedup_ngram_jaccard`` but a candidate set bounded by prefix
    length instead of total shingle frequency.  The oracle is the
    EXHAUSTIVE inverted-index join: prefix filtering is provably
    lossless, and this pair proves it on real data."""
    d = load_table(spark, sf_dir, "documents")
    return D.setsim_prefix_join(d, "doc_id", "text", t_num=1, t_den=2)


@query(
    "hard_negative_mining",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS q_vec, label AS q_label
          FROM e WHERE vec_id < 16),
    scored AS (
      SELECT q.q_id, c.vec_id, c.label AS neg_label,
             round(
               list_sum(list_transform(generate_series(1, 64), i -> q.q_vec[i] * c.v[i]))
               / sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.q_vec[i] * q.q_vec[i]))
                      * list_sum(list_transform(generate_series(1, 64), i -> c.v[i] * c.v[i]))),
               6) AS cos_sim
      FROM e c CROSS JOIN q
      WHERE c.vec_id <> q.q_id AND c.label <> q.q_label
    )
    SELECT q_id, vec_id, neg_label, cos_sim, CAST(rn AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives (most-similar DIFFERENT-label embeddings)
    per query vector vec_id < 16 — the contrastive-training companion
    to ``similarity_cosine_topk``; same broadcast-query / unshuffled-
    candidate plan, label inequality dropped into the join condition so
    positives never reach the scoring HOF."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 16)
    return S.hard_negative_topk(e, q, "vec_id", "embedding", "label", k=5)


@query(
    "label_centroid_similarity",
    oracle="""
    WITH comp AS (
      SELECT label, i.i AS pos,
             round(CAST(embedding[i.i] AS DOUBLE), 6) AS x
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
    ),
    cent AS (
      SELECT label, pos,
             CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS c
      FROM comp GROUP BY label, pos
    ),
    arr AS (SELECT label, list(c ORDER BY pos) AS v FROM cent GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           round(
             list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i]))
             / sqrt(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * a.v[i]))
                    * list_sum(list_transform(generate_series(1, 64), i -> b.v[i] * b.v[i]))),
             6) AS cos_sim
    FROM arr a JOIN arr b ON a.label < b.label
    """,
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-confusion audit: cosine similarity between every pair of
    per-label embedding CENTROIDS — two labels whose centroids nearly
    coincide are the ones a classifier (or a labeling pipeline) is
    mixing up, and the ones to re-examine before training on the data.

    Cross-engine float discipline: per-dimension means sum
    round-6 components as exact DECIMAL (parallel reduction order
    cannot change them) before ONE double division; the pair cosines
    then run the sequential-fold HOF over the 10 exact centroids.
    Plan: component explode shuffles on (label, dim) — partial+final —
    the pair join touches only the #labels-row centroid relation."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    cent = comp.groupBy("label", "pos").agg(
        (
            F.sum(F.round("x", 6).cast("decimal(28,10)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    arr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("_st"))
        .select("label", F.transform("_st", lambda s: s["c"]).alias("v"))
    )
    a = arr.select(F.col("label").alias("label_a"), F.col("v").alias("va"))
    b = arr.select(F.col("label").alias("label_b"), F.col("v").alias("vb"))
    cos = S.dot(F.col("va"), F.col("vb")) / F.sqrt(
        S.norm2(F.col("va")) * S.norm2(F.col("vb"))
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", F.round(cos, 6).alias("cos_sim"))
    )


_PSI_REF = ", ".join(f"'src{i}'" for i in range(10))


@query(
    "psi_distribution_drift",
    oracle=f"""
    WITH ref AS (SELECT n_chars FROM documents WHERE source IN ({_PSI_REF})),
    cur AS (SELECT n_chars FROM documents WHERE source NOT IN ({_PSI_REF})),
    cuts AS (
      SELECT quantile_cont(CAST(n_chars AS DOUBLE),
        [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cs
      FROM ref
    ),
    rb AS (
      SELECT len(list_filter(cuts.cs, c -> CAST(r.n_chars AS DOUBLE) > c))
               AS bucket, count(*) AS n
      FROM ref r CROSS JOIN cuts GROUP BY 1
    ),
    cb AS (
      SELECT len(list_filter(cuts.cs, c -> CAST(r.n_chars AS DOUBLE) > c))
               AS bucket, count(*) AS n
      FROM cur r CROSS JOIN cuts GROUP BY 1
    ),
    b AS (SELECT unnest(generate_series(0, 9)) AS bucket),
    sh AS (
      SELECT b.bucket,
             COALESCE(rb.n, 0)
               / GREATEST(CAST((SELECT COALESCE(sum(n), 0) FROM rb) AS DOUBLE),
                          1.0) AS p_ref,
             COALESCE(cb.n, 0)
               / GREATEST(CAST((SELECT COALESCE(sum(n), 0) FROM cb) AS DOUBLE),
                          1.0) AS p_cur
      FROM b LEFT JOIN rb ON rb.bucket = b.bucket
             LEFT JOIN cb ON cb.bucket = b.bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(round(p_ref, 6) AS DOUBLE) AS p_ref,
           CAST(round(p_cur, 6) AS DOUBLE) AS p_cur,
           CAST(round((p_cur - p_ref)
                * ln(greatest(p_cur, 1e-6) / greatest(p_ref, 1e-6)), 6)
                AS DOUBLE) AS psi_term
    FROM sh
    """,
)
def psi_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference cohort (sources
    src0-src9) and the current cohort (the rest) over the n_chars
    distribution — the standard production drift monitor (sum the
    psi_term column: <0.1 stable, >0.25 investigate).  Bin edges are
    the REFERENCE deciles (canonical PSI), so a shifted current
    distribution concentrates in few bins and the term blows up.

    Scale shape: one percentile aggregate on the reference broadcast
    back (the histogram_equidepth pattern), map-side bucketing of both
    cohorts, two 10-row share aggregates joined on the literal bucket
    spine.  Zero-share bins are epsilon-clamped inside ln() in both
    engines identically."""
    d = load_table(spark, sf_dir, "documents")
    refs = [f"src{i}" for i in range(10)]
    ref = d.filter(F.col("source").isin(refs))
    cur = d.filter(~F.col("source").isin(refs))
    cuts = ref.agg(
        F.expr(
            "percentile(CAST(n_chars AS DOUBLE), "
            "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
        ).alias("cs")
    )
    bucket = F.aggregate(
        "cs",
        F.lit(0),
        lambda acc, c: acc
        + F.when(F.col("n_chars").cast("double") > c, 1).otherwise(0),
    )

    def shares(cohort, name):
        b = (
            cohort.join(F.broadcast(cuts))
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("_n"))
        )
        return b.select(
            "bucket",
            (
                F.col("_n")
                / F.sum("_n").over(Window.partitionBy()).cast("double")
            ).alias(name),
        )

    spine = spark.range(10).select(F.col("id").cast("bigint").alias("bucket"))
    sh = (
        spine.join(F.broadcast(shares(ref, "p_ref")), "bucket", "left")
        .join(F.broadcast(shares(cur, "p_cur")), "bucket", "left")
        .fillna({"p_ref": 0.0, "p_cur": 0.0})
    )
    eps = F.lit(1e-6)
    term = (F.col("p_cur") - F.col("p_ref")) * F.log(
        F.greatest(F.col("p_cur"), eps) / F.greatest(F.col("p_ref"), eps)
    )
    return sh.select(
        "bucket",
        F.round("p_ref", 6).alias("p_ref"),
        F.round("p_cur", 6).alias("p_cur"),
        F.round(term, 6).alias("psi_term"),
    )


@query(
    "pmi_collocations",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tok FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
    ),
    bi AS (
      SELECT doc_id, tok[i] AS w1, tok[i+1] AS w2
      FROM (SELECT doc_id, tok, unnest(range(1, len(tok))) AS i FROM t)
    ),
    bc AS (SELECT w1, w2, count(*) AS cxy FROM bi GROUP BY w1, w2),
    uc AS (
      SELECT w, count(*) AS c FROM (
        SELECT w1 AS w FROM bi UNION ALL SELECT w2 AS w FROM bi
      ) GROUP BY w
    ),
    n AS (SELECT count(*) AS nbg FROM bi)
    SELECT bc.w1, bc.w2, CAST(bc.cxy AS BIGINT) AS cxy,
           CAST(round(ln(2.0 * bc.cxy * n.nbg
                         / (CAST(c1.c AS DOUBLE) * c2.c)), 6)
                AS DOUBLE) AS pmi
    FROM bc
    JOIN uc c1 ON c1.w = bc.w1
    JOIN uc c2 ON c2.w = bc.w2
    CROSS JOIN n
    WHERE bc.cxy >= 5
    ORDER BY pmi DESC, bc.w1, bc.w2
    LIMIT 100
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-100 adjacent word pairs by pointwise
    mutual information, PMI = ln(P(x,y) / (P(x)P(y))) over the corpus
    bigram distribution (count >= 5 kills the noisy singleton tail) —
    the classic signal for multi-word expressions a tokenizer or
    phrase-vocabulary builder should treat as units.

    Unigram occurrence counts come from the SAME bigram relation (each
    bigram contributes one first-slot and one second-slot occurrence:
    c(w) sums both, N doubles for the marginals — hence the 2*cxy*N
    numerator), so marginals and joints are consistent by construction
    and the corpus is tokenized once.  r13: "once" made physical —
    marginals and the grand total derive from the MODEL-SIZED bigram
    count relation (sum of cxy per slot / overall; identical counts by
    associativity) instead of re-consuming the exploded occurrence
    stream, whose subtree the plan previously duplicated 4x (bc, both
    unigram slots, N); bc's aggregate exchange is identical across its
    consumers, so the one corpus explode is ReusedExchange-deduped at
    runtime.  Map-side zip_with pair building (the lm_bigram plan);
    joins shuffle on the word keys; distributed top-100."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("tok")).filter(
        F.col("tok").isNotNull() & (F.size("tok") >= 2)
    )
    pairs = F.zip_with(
        F.slice(F.col("tok"), F.lit(1), F.size("tok") - 1),
        F.slice(F.col("tok"), F.lit(2), F.size("tok") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bi = t.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("cxy"))
    uc = (
        bc.select(F.col("w1").alias("w"), "cxy")
        .unionAll(bc.select(F.col("w2").alias("w"), "cxy"))
        .groupBy("w")
        .agg(F.sum("cxy").alias("c"))
    )
    n = bc.agg(F.sum("cxy").alias("nbg"))
    pmi = F.log(
        2.0 * F.col("cxy") * F.col("nbg")
        / (F.col("c1").cast("double") * F.col("c2"))
    )
    return (
        bc.filter(F.col("cxy") >= 5)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .join(F.broadcast(n))
        .select(
            "w1", "w2",
            F.col("cxy").cast("bigint").alias("cxy"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(100)
    )


@query(
    "source_overlap_jaccard",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS ({_SQL_SH}),
    ss AS (
      SELECT DISTINCT d.source, s.shingle
      FROM sh s JOIN documents d ON d.doc_id = s.doc_id
    ),
    cnt AS (SELECT source, count(*) AS c FROM ss GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(i AS BIGINT) AS n_shared,
           CAST(round(CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE), 6)
                AS DOUBLE) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.source = source_a
    JOIN cnt cb ON cb.source = source_b
    """,
)
def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level provenance analysis: shingle-set Jaccard between
    every pair of SOURCES — the mirror-site / syndication detector
    (two crawl sources with high overlap should be deduped at the
    source level before any doc-level pass wastes compute on their
    pairwise near-dups).

    Scale shape: each source's shingle SET is the distinct
    (source, shingle) relation — one shuffle with map-side partial
    distinct; the inverted-index self-join fans out per shingle by the
    number of sources containing it, bounded by |sources| (a
    fixed-cardinality dimension), never by doc count.  Output is the
    #sources^2 matrix."""
    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_rows(d, "doc_id", "text", 3)
    src = d.select("doc_id", "source")
    ss = (
        sh.join(src, "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    cnt = ss.groupBy("source").agg(F.count("*").alias("c"))
    a = ss.select(F.col("source").alias("source_a"), "shingle")
    b = ss.select(F.col("source").alias("source_b"), F.col("shingle").alias("_shb"))
    inter = (
        a.join(
            b,
            (F.col("shingle") == F.col("_shb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("i"))
    )
    ca = cnt.select(F.col("source").alias("source_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("source").alias("source_b"), F.col("c").alias("cb"))
    return (
        inter.join(ca, "source_a")
        .join(cb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("i").cast("bigint").alias("n_shared"),
            F.round(
                F.col("i").cast("double")
                / (F.col("ca") + F.col("cb") - F.col("i")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "dup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id
    ),
    cc AS (SELECT id, min(r) AS cl FROM walk GROUP BY id),
    sizes AS (SELECT cl, count(*) AS sz FROM cc GROUP BY cl)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY sz
    UNION ALL
    SELECT 1, CAST((SELECT count(*) FROM documents)
                   - (SELECT count(*) FROM cc) AS BIGINT)
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-inflation profile: the histogram of near-dup cluster
    sizes (including the singleton mass) — the one-look answer to "how
    much of this corpus is copies", and the denominator for dedup
    savings estimates (a corpus of many size-2 clusters dedups very
    differently from one mega-cluster).

    Composition on the oracled components pipeline: MinHash pairs ->
    connected components -> per-cluster counts -> size histogram; the
    singleton row is total docs minus clustered docs (two 1-row
    aggregates broadcast)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_neardup_pairs(
        d, "doc_id", "text", n_hashes=8, band_size=2, threshold=0.5
    )
    cc = D.connected_components(pairs)
    hist = (
        cc.groupBy("cluster_id")
        .agg(F.count("*").alias("_sz"))
        .groupBy("_sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("_sz").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint"),
        )
    )
    total = d.agg(F.count("*").alias("_nd"))
    clustered = cc.agg(F.count("*").alias("_nc"))
    singles = (
        total.join(F.broadcast(clustered))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("_nd") - F.col("_nc")).cast("bigint").alias("n_clusters"),
        )
    )
    return hist.unionByName(singles)


@query(
    "idf_novelty_score",
    oracle="""
    WITH dt AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE text IS NOT NULL)
    ),
    dfreq AS (SELECT token, count(*) AS df FROM dt GROUP BY token),
    n AS (SELECT count(*) AS nd FROM documents WHERE text IS NOT NULL)
    SELECT dt.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           CAST(round(avg(ln(CAST(n.nd AS DOUBLE) / dfreq.df)), 6) AS DOUBLE)
             AS novelty
    FROM dt JOIN dfreq ON dfreq.token = dt.token CROSS JOIN n
    GROUP BY dt.doc_id
    """,
)
def idf_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document novelty: the mean inverse-document-frequency of a
    doc's distinct tokens — boilerplate built from ubiquitous
    vocabulary scores near ln(N/N)=0, documents full of corpus-rare
    terms score high.  The doc-level companion to per-term TF-IDF:
    a one-number curation signal for up-weighting informative docs
    (and a cheap prior for the dedup pipeline — low-novelty docs are
    where near-dup mass concentrates).

    One shuffle on the token key (distinct + document frequency), one
    doc-keyed mean; the corpus doc count arrives as a broadcast 1-row
    join."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    dfreq = dt.groupBy("token").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("nd"))
    idf = F.log(F.col("nd").cast("double") / F.col("df"))
    return (
        dt.join(dfreq, "token")
        .join(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct_tokens"),
            F.round(F.avg(idf), 6).alias("novelty"),
        )
    )


@query(
    "bm25_topk",
    bench=True,
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM d),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd, avg(dl) AS avgdl FROM dl),
    q AS (SELECT unnest(['spark', 'window', 'hash', 'stream']) AS term),
    tf AS (
      SELECT doc_id, token AS term, CAST(count(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(t) AS token FROM d)
      WHERE token IN (SELECT term FROM q)
      GROUP BY doc_id, token
    ),
    df AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
           FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((stats.nd - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
               AS score,
             CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM tf
      JOIN df ON df.term = tf.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, CAST(round(score, 6) AS DOUBLE) AS bm25, n_terms_hit
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id
    LIMIT 20
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: score every document against a fixed
    query-term set (k1=1.2, b=0.75, Lucene idf) and return the top-20.
    The classic sparse-retrieval ranker — the lexical half of a hybrid
    RAG retrieval stack, and the standard baseline ANN recall is judged
    against.

    Scale shape: ONE corpus pass (r13; the r12 cut scanned the corpus
    twice — once for doc lengths, once for term frequencies — and
    exploded EVERY token): the per-doc projection carries the doc
    length and the query-term hits filtered INSIDE the token array,
    so the explode cardinality is |hits|, not |tokens|, and the
    doc-length/stats relations reuse the same scan subtree.  The
    corpus-wide stats reduce to one 1-row aggregate broadcast back;
    document frequencies come from the tiny hit relation; final
    ranking is a distributed top-k."""
    terms = ["spark", "window", "hash", "stream"]
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            F.size("t").cast("double").alias("dl"),
            F.filter(
                "t", lambda x: x.isin(terms)
            ).alias("_hits"),
        )
    )
    dl = d.select("doc_id", "dl")
    stats = d.agg(
        F.count("*").cast("double").alias("nd"), F.avg("dl").alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode("_hits").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log((F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    contrib = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(contrib).alias("score"),
            F.count("*").cast("bigint").alias("n_terms_hit"),
        )
        .select(
            "doc_id",
            F.round("score", 6).alias("bm25"),
            "n_terms_hit",
        )
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(20)


@query(
    "substring_dup_spans",
    bench=True,
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 16
    ),
    g AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) AS gram_h
      FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 15),
                                     i -> array_to_string(t[i:i+15], ' '))) AS gram
        FROM tok)
    ),
    gd AS (SELECT gram_h, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram_h)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (WHERE gd.n_docs >= 2) AS BIGINT) AS n_dup_grams,
           CAST(round(count(*) FILTER (WHERE gd.n_docs >= 2)
                      / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS dup_fraction
    FROM g JOIN gd ON gd.gram_h = g.gram_h
    GROUP BY g.doc_id
    """,
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (the Lee et al. 'Deduplicating
    Training Data Makes Language Models Better' signal): for every
    16-token window of every document, does that exact window also occur
    in ANOTHER document?  Reports per-doc window count, cross-doc
    duplicated-window count, and the duplicated fraction — the
    span-level complement to set-based MinHash (which cannot see that
    only a quoted paragraph is shared).

    Scale shape: windows are built MAP-SIDE with sequence+slice (no
    self-join), keyed by a 60-bit hash so the shuffle key is 8 bytes
    instead of a ~100-char string.  The corpus is tokenized and
    exploded exactly ONCE (r13; the r12 cut computed the gram relation
    twice — once for the per-gram doc counts and again for the
    join-back — and shuffled every raw gram occurrence): occurrences
    reduce map-side to distinct (gram_h, doc_id, cnt) rows, the
    cross-doc flag is a count over the gram_h window on that already-
    aggregated relation (no join-back, so raw occurrences never enter
    any exchange), and one doc-keyed aggregate folds the flags,
    weighting by cnt.  Window count per doc is |tokens|, so total work
    is a constant factor of corpus token count — the same budget as
    tokenization itself."""
    from cascading_hbase_spark.functions.hashing import hash64

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 16)
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 15),
                lambda i: F.concat_ws(" ", F.slice("t", i, F.lit(16))),
            )
        ).alias("gram"),
    ).select("doc_id", hash64(F.col("gram")).alias("gram_h"))
    per_doc = grams.groupBy("gram_h", "doc_id").agg(F.count("*").alias("cnt"))
    flagged = per_doc.withColumn(
        # each row is one distinct (gram, doc), so the partition count
        # IS the distinct-doc count of the gram
        "_n_docs", F.count("*").over(Window.partitionBy("gram_h"))
    )
    dup_cnt = F.when(F.col("_n_docs") >= 2, F.col("cnt")).otherwise(F.lit(0))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.sum(dup_cnt).cast("bigint").alias("n_dup_grams"),
            F.round(
                F.sum(dup_cnt) / F.sum("cnt").cast("double"), 6
            ).alias("dup_fraction"),
        )
    )


@query(
    "decile_lift_table",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents WHERE text IS NOT NULL
    ),
    keyed AS (
      SELECT doc_id, pos,
             n_distinct * 10000000 + doc_id AS ukey
      FROM d
    ),
    idx AS (
      SELECT pos,
             row_number() OVER (ORDER BY ukey) - 1 AS ri,
             count(*) OVER () AS n
      FROM keyed
    ),
    dec AS (
      SELECT CAST(9 - (ri * 10) // n AS INTEGER) AS decile_from_top,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM idx GROUP BY 1
    )
    SELECT decile_from_top, n_docs, n_pos,
           CAST(round(n_pos / CAST(n_docs AS DOUBLE), 6) AS DOUBLE) AS pos_rate,
           CAST(round((n_pos / CAST(n_docs AS DOUBLE))
                      / nullif(sum(n_pos) OVER ()
                               / CAST(sum(n_docs) OVER () AS DOUBLE), 0.0),
                      6) AS DOUBLE) AS lift,
           CAST(round(sum(n_pos) OVER (ORDER BY decile_from_top)
                      / CAST(nullif(sum(n_pos) OVER (), 0) AS DOUBLE), 6)
                AS DOUBLE) AS cum_capture
    FROM dec
    """,
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation decile lift table: rank documents by a score
    (distinct-vocabulary size, standing in for a classifier score),
    cut into population deciles, and report per-decile positive rate
    (label: lang='en'), lift over the base rate, and cumulative
    capture from the top decile down — the standard targeting/quality-
    gate evaluation artifact.

    Scale shape: ranking uses ``global_row_index`` (bucket-decomposed
    enumeration — percentile cuts broadcast, per-bucket windows), NEVER
    a global single-partition ``row_number``; the key is pure integer
    arithmetic (n_distinct * 1e7 + doc_id) so the total order is exact
    and identical cross-engine.  Everything after the per-doc pass
    operates on a 10-row relation."""
    from cascading_hbase_spark.functions.enumerate import global_row_index

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.size(F.array_distinct(F.split("text", " "))).alias("n_distinct"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
    )
    # Persisted: global_row_index consumes its input four times
    # (percentile cuts, bucket join, bucket counts, final window) and
    # the count below a fifth — each static-plan branch would re-run
    # the per-doc tokenize (split + array_distinct over the whole
    # corpus, measured as 5 documents scans in the r13 sweep).  The
    # persisted relation is 2 narrow numeric columns per doc (tiny
    # relative to the corpus; MEMORY_AND_DISK spills gracefully);
    # CacheManager dedupe + LRU eviction is the documented policy
    # (functions/dedup.py).
    keyed = d.select(
        "pos",
        (F.col("n_distinct").cast("bigint") * 10000000 + F.col("doc_id")).alias(
            "ukey"
        ),
    ).persist()
    idx = global_row_index(keyed, "ukey", index_col="ri")
    n = keyed.agg(F.count("*").alias("_n"))
    dec = (
        idx.join(F.broadcast(n))
        .select(
            "pos",
            (9 - F.floor(F.col("ri") * 10 / F.col("_n"))).cast("int").alias(
                "decile_from_top"
            ),
        )
        .groupBy("decile_from_top")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
    )
    # all windows below run over the 10-row decile relation
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("decile_from_top").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rate = F.col("n_pos") / F.col("n_docs").cast("double")
    # nullif-guarded: a corpus with zero positives yields NULL lift and
    # capture rather than an ANSI divide-by-zero
    base = F.nullif(
        F.sum("n_pos").over(w_all) / F.sum("n_docs").over(w_all).cast("double"),
        F.lit(0.0),
    )
    return dec.select(
        "decile_from_top",
        "n_docs",
        "n_pos",
        F.round(rate, 6).alias("pos_rate"),
        F.round(rate / base, 6).alias("lift"),
        F.round(
            F.sum("n_pos").over(w_cum)
            / F.nullif(F.sum("n_pos").over(w_all), F.lit(0)).cast("double"),
            6,
        ).alias("cum_capture"),
    )


@query(
    "zipf_fit_slope",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents WHERE text IS NOT NULL),
    freq AS (SELECT t, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY t),
    top AS (SELECT t, c FROM freq ORDER BY c DESC, t LIMIT 1000),
    ranked AS (
      SELECT c, CAST(row_number() OVER (ORDER BY c DESC, t) AS DOUBLE) AS r
      FROM top
    )
    SELECT CAST(count(*) AS BIGINT) AS n_ranks,
           CAST(round(regr_slope(ln(c), ln(r)), 6) AS DOUBLE) AS zipf_slope,
           CAST(round(regr_intercept(ln(c), ln(r)), 6) AS DOUBLE) AS zipf_intercept,
           CAST(round(regr_r2(ln(c), ln(r)), 6) AS DOUBLE) AS fit_r2
    FROM ranked
    """,
)
def zipf_fit_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token frequency spectrum: regress
    ln(frequency) on ln(rank) for the top-1000 tokens and report the
    slope (natural text sits near -1), intercept, and R^2 — a one-row
    corpus health check that catches template/boilerplate corpora
    (too-steep head) and synthetic uniform text (flat) before they
    poison a training mix.

    Scale shape: the frequency table is one token-keyed hash agg; the
    top-1000 cut is a distributed TakeOrdered; ranking and the
    regression run over the fixed 1000-row relation, so nothing after
    the first aggregate scales with the corpus."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("t"))
    )
    freq = tok.groupBy("t").agg(F.count("*").cast("double").alias("c"))
    top = freq.orderBy(F.col("c").desc(), "t").limit(1000)
    ranked = top.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "t"))
        .cast("double")
        .alias("r"),
    )
    lc, lr = F.log("c"), F.log("r")
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_ranks"),
        F.round(F.regr_slope(lc, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 6).alias("fit_r2"),
    )


# Poisson(1) bootstrap-weight thresholds on the hash64 range: replicate
# weight w = #{k : hash < T_k} follows Poisson(1) when the 60-bit hash
# is uniform.  Integer literals shared by BOTH engines, so the weights
# are bit-identical cross-engine (no float comparison anywhere).
import math as _math

_POIS_T: list[int] = []
_acc = 0.0
for _k in range(7):
    _acc += _math.exp(-1) / _math.factorial(_k)
    _POIS_T.append(int(_acc * (1 << 60)))


def _pois_w_sql(h: str) -> str:
    branches = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {branches} ELSE 7 END"


@query(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH purch AS (
      SELECT event_id, value FROM events WHERE event_type = 'purchase'
    ),
    expl AS (
      SELECT b,
             {_pois_w_sql(_H.format(x="concat(CAST(event_id AS VARCHAR), '#', CAST(b AS VARCHAR))"))}
               AS w,
             value
      FROM purch CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
    ),
    reps AS (
      SELECT b, sum(w * value) / nullif(CAST(sum(w) AS DOUBLE), 0.0) AS est
      FROM expl GROUP BY b
    ),
    base AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(value) AS mu FROM purch)
    SELECT base.n,
           CAST(round(base.mu, 6) AS DOUBLE) AS point_mean,
           CAST(round(quantile_cont(reps.est, 0.025), 6) AS DOUBLE) AS ci_lo,
           CAST(round(quantile_cont(reps.est, 0.975), 6) AS DOUBLE) AS ci_hi,
           CAST(count(reps.est) AS BIGINT) AS n_replicates
    FROM reps CROSS JOIN base
    GROUP BY base.n, base.mu
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap: a 95% confidence interval for the mean
    purchase value from 64 hash-deterministic pseudo-replicates.  Each
    row's weight in replicate b is Poisson(1)-distributed (the n-to-
    infinity limit of with-replacement resampling), derived from
    hash64(event_id#b) against precomputed integer thresholds — so the
    'randomness' is replayable and BIT-IDENTICAL in the oracle.

    This is THE way to put error bars on 100 TB statistics: no
    row-level resampling pass per replicate, no driver-side data — one
    map-side explode by the replicate count, one partial+final
    aggregate to 64 weighted means (map-side combine collapses each
    partition to <=64 partials), one tiny percentile over them."""
    purch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "value")
    )
    from cascading_hbase_spark.functions.hashing import hash64

    h = hash64(
        F.concat(
            F.col("event_id").cast("string"), F.lit("#"), F.col("b").cast("string")
        )
    )
    w = F.lit(7)
    for k in range(len(_POIS_T) - 1, -1, -1):
        w = F.when(h < _POIS_T[k], k).otherwise(w)
    expl = purch.select(
        "event_id", "value", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b")
    ).select("b", w.alias("w"), "value")
    reps = expl.groupBy("b").agg(
        (
            F.sum(F.col("w") * F.col("value"))
            / F.nullif(F.sum("w").cast("double"), F.lit(0.0))
        ).alias("est")
    )
    base = purch.agg(
        F.count("*").cast("bigint").alias("n"), F.avg("value").alias("mu")
    )
    return (
        reps.join(F.broadcast(base))
        .groupBy("n", "mu")
        .agg(
            F.round(F.expr("percentile(est, 0.025D)"), 6).alias("ci_lo"),
            F.round(F.expr("percentile(est, 0.975D)"), 6).alias("ci_hi"),
            F.count("est").cast("bigint").alias("n_replicates"),
        )
        .select(
            "n",
            F.round("mu", 6).alias("point_mean"),
            "ci_lo",
            "ci_hi",
            "n_replicates",
        )
    )


@query(
    "random_projection_jl",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE vec_id < 200),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 2 = 0
    ),
    diffs AS (
      SELECT id_a, id_b,
             list_transform(generate_series(1, 64), i -> va[i] - vb[i]) AS dv
      FROM pairs
    ),
    comps AS (
      SELECT id_a, id_b,
             sqrt(list_sum(list_transform(generate_series(1, 64),
               i -> dv[i] * dv[i]))) AS d_orig,
             0.25 * list_sum(list_transform(generate_series(1, 64), i ->
               (1 - 2 * (CAST(('0x' || substring(md5(
                  'jl' || CAST(jj.j AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)
                ), 1, 15)) AS BIGINT) % 2)) * dv[i])) AS comp
      FROM diffs CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) jj
    ),
    proj AS (
      SELECT id_a, id_b, min(d_orig) AS d_orig,
             sqrt(sum(comp * comp)) AS d_proj
      FROM comps GROUP BY id_a, id_b
    )
    SELECT id_a, id_b,
           CAST(round(d_orig, 6) AS DOUBLE) AS d_orig,
           CAST(round(d_proj, 6) AS DOUBLE) AS d_proj,
           CAST(round(d_proj / nullif(d_orig, 0.0), 6) AS DOUBLE) AS ratio
    FROM proj
    """,
)
def random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64-d -> 16-d with a
    hash-derived +/-1 sign matrix (scaled 1/sqrt(16)), audited on 100
    even/odd vector pairs: original vs projected Euclidean distance
    and their ratio.  The dimensionality-reduction front end for
    billion-scale similarity search — and because the 'random' matrix
    is the shared hash64, the oracle reproduces the projection exactly.

    Scale shape: the projection is a pure map-side HOF expression (no
    shuffle, no Python); the d->k work per row is k*d multiply-adds
    inside whole-stage codegen.  The audit pair join is an id+1 equi
    join on the 200-row sample."""
    from cascading_hbase_spark.functions.hashing import hash64

    K, D = 16, 64
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    a = e.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = e.select((F.col("vec_id") - 1).alias("id_a"), F.col("v").alias("vb"),
                 F.col("vec_id").alias("id_b"))
    pairs = a.join(b, "id_a").select(
        "id_a", "id_b", F.zip_with("va", "vb", lambda x, y: x - y).alias("dv")
    )

    def sign(j, i):
        return 1 - 2 * (
            hash64(
                F.concat(F.lit("jl"), j.cast("string"), F.lit("_"), i.cast("string"))
            ) % 2
        )

    def sq_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x)

    comp = lambda j: F.lit(0.25) * F.aggregate(  # noqa: E731
        F.zip_with(
            F.col("dv"),
            F.sequence(F.lit(0), F.lit(D - 1)),
            lambda x, i: sign(j, i).cast("double") * x,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    projected = pairs.select(
        "id_a", "id_b",
        F.sqrt(sq_sum(F.col("dv"))).alias("d_orig"),
        F.sqrt(
            F.aggregate(
                F.transform(F.sequence(F.lit(0), F.lit(K - 1)), comp),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ).alias("d_proj"),
    )
    return projected.select(
        "id_a", "id_b",
        F.round("d_orig", 6).alias("d_orig"),
        F.round("d_proj", 6).alias("d_proj"),
        F.round(F.col("d_proj") / F.nullif(F.col("d_orig"), F.lit(0.0)), 6).alias(
            "ratio"
        ),
    )


@query(
    "knn_label_purity",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS q_vec
          FROM e WHERE vec_id < 100),
    scored AS (
      SELECT q.q_id, q.q_label, c.vec_id, c.label,
             round(
               list_sum(list_transform(generate_series(1, 64), i -> q.q_vec[i] * c.v[i]))
               / sqrt(list_sum(list_transform(generate_series(1, 64), i -> q.q_vec[i] * q.q_vec[i]))
                      * list_sum(list_transform(generate_series(1, 64), i -> c.v[i] * c.v[i]))),
               6) AS cos_sim
      FROM e c CROSS JOIN q WHERE c.vec_id <> q.q_id
    ),
    top5 AS (
      SELECT q_id, q_label, label FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 5
    ),
    votes AS (
      SELECT q_id, q_label, label, count(*) AS n_votes
      FROM top5 GROUP BY q_id, q_label, label
    )
    SELECT q_id, q_label,
           CAST(label AS INTEGER) AS knn_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           CAST(label = q_label AS BOOLEAN) AS agree
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY n_votes DESC, label) AS vr
          FROM votes) WHERE vr = 1
    """,
)
def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label audit: for each of 100 query vectors,
    the majority label among its five nearest neighbors (exact cosine,
    ties to the smaller vec_id / smaller label) and whether it agrees
    with the query's own label.  Low agreement means labels are noisy
    or the embedding space doesn't separate them — checked before
    anyone trains on either.

    Scale shape: same broadcast-query / unshuffled-candidate plan as
    ``similarity_cosine_topk`` (the fixed query sample is the only
    thing joined against the corpus); voting runs on the 500-row
    (query x 5) relation."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("q_vec"),
    )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a_, b_: a_ * b_), F.lit(0.0), lambda acc, z: acc + z
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "q_label", "vec_id", "label",
            F.round(
                dot(F.col("q_vec"), F.col("v"))
                / F.sqrt(
                    dot(F.col("q_vec"), F.col("q_vec")) * dot(F.col("v"), F.col("v"))
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    top5 = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
        ),
    ).filter(F.col("rn") <= 5)
    votes = top5.groupBy("q_id", "q_label", "label").agg(
        F.count("*").cast("bigint").alias("n_votes")
    )
    best = votes.withColumn(
        "vr",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("n_votes").desc(), "label")
        ),
    ).filter(F.col("vr") == 1)
    return best.select(
        "q_id",
        "q_label",
        F.col("label").cast("int").alias("knn_label"),
        "n_votes",
        (F.col("label") == F.col("q_label")).alias("agree"),
    )


@query(
    "heaps_law_fit",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents WHERE text IS NOT NULL),
    mx AS (SELECT max(doc_id) AS max_id FROM d),
    cps AS (SELECT (mx.max_id * i) // 20 AS cp
            FROM mx CROSS JOIN (SELECT unnest(generate_series(1, 20)) AS i)),
    dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok FROM d),
    fd AS (
      SELECT token, min(doc_id) AS first_doc FROM (
        SELECT doc_id, unnest(t) AS token FROM d) GROUP BY token
    ),
    pts AS (
      SELECT cps.cp,
             (SELECT CAST(sum(n_tok) AS DOUBLE) FROM dl
              WHERE dl.doc_id <= cps.cp) AS n_tokens,
             (SELECT CAST(count(*) AS DOUBLE) FROM fd
              WHERE fd.first_doc <= cps.cp) AS vocab
      FROM cps
    )
    SELECT CAST(count(*) AS BIGINT) AS n_checkpoints,
           CAST(round(regr_slope(ln(vocab), ln(n_tokens)), 6) AS DOUBLE)
             AS heaps_beta,
           CAST(round(exp(regr_intercept(ln(vocab), ln(n_tokens))), 6) AS DOUBLE)
             AS heaps_k,
           CAST(round(regr_r2(ln(vocab), ln(n_tokens)), 6) AS DOUBLE) AS fit_r2
    FROM pts WHERE n_tokens > 0 AND vocab > 0
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(n) ~ K * n^beta, measured
    at 20 corpus checkpoints (by doc-id progress) and fitted by log-log
    regression.  Natural language sits near beta ~ 0.5; beta falling
    toward 0 as a crawl grows means the corpus has stopped contributing
    new vocabulary — the 'is more data still worth ingesting' curve.

    Scale shape: running count-distinct over the whole corpus is
    replaced by each token's FIRST-occurrence doc (one token-keyed
    aggregate): V at a checkpoint is just how many first-occurrences
    precede it, so both curve coordinates are 20-way conditional sums
    (a constant-factor explode of the doc-level and vocab-level
    relations), and the regression runs over 20 rows."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    mx = d.agg(F.max("doc_id").alias("max_id"))
    cps = (
        mx.select(
            F.explode(F.sequence(F.lit(1), F.lit(20))).alias("i"), "max_id"
        )
        .select(F.expr("(max_id * i) div 20").alias("cp"))
    )
    dl = d.select("doc_id", F.size("t").cast("bigint").alias("n_tok"))
    fd = d.select(
        "doc_id", F.explode("t").alias("token")
    ).groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    n_at = (
        dl.join(F.broadcast(cps), dl.doc_id <= cps.cp)
        .groupBy("cp")
        .agg(F.sum("n_tok").cast("double").alias("n_tokens"))
    )
    v_at = (
        fd.join(F.broadcast(cps), fd.first_doc <= cps.cp)
        .groupBy("cp")
        .agg(F.count("*").cast("double").alias("vocab"))
    )
    pts = n_at.join(v_at, "cp").filter(
        (F.col("n_tokens") > 0) & (F.col("vocab") > 0)
    )
    lv, ln_ = F.log("vocab"), F.log("n_tokens")
    return pts.agg(
        F.count("*").cast("bigint").alias("n_checkpoints"),
        F.round(F.regr_slope(lv, ln_), 6).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(lv, ln_)), 6).alias("heaps_k"),
        F.round(F.regr_r2(lv, ln_), 6).alias("fit_r2"),
    )


@query(
    "ks_two_sample_chars",
    oracle="""
    WITH d AS (
      SELECT n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
      FROM documents WHERE n_chars IS NOT NULL
    ),
    levels AS (
      SELECT n_chars,
             CAST(sum(is_en) AS BIGINT) AS n1,
             CAST(sum(1 - is_en) AS BIGINT) AS n2
      FROM d GROUP BY n_chars
    ),
    tot AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM levels),
    cdf AS (
      SELECT n_chars,
             sum(n1) OVER (ORDER BY n_chars
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS rs1,
             sum(n2) OVER (ORDER BY n_chars
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS rs2
      FROM levels
    ),
    diffs AS (
      SELECT c.n_chars,
             abs(c.rs1 / CAST(nullif(t.t1, 0) AS DOUBLE)
                 - c.rs2 / CAST(nullif(t.t2, 0) AS DOUBLE)) AS dd
      FROM cdf c CROSS JOIN tot t
    ),
    mx AS (SELECT max(dd) AS ks FROM diffs)
    SELECT CAST(round(mx.ks, 6) AS DOUBLE) AS ks_stat,
           CAST(min(d2.n_chars) AS BIGINT) AS at_value,
           CAST(min(t.t1) AS BIGINT) AS n_en,
           CAST(min(t.t2) AS BIGINT) AS n_other
    FROM diffs d2 CROSS JOIN mx CROSS JOIN tot t
    WHERE d2.dd = mx.ks
    GROUP BY mx.ks
    """,
)
def ks_two_sample_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between English
    and non-English document lengths: the max absolute gap between the
    two empirical CDFs, plus where it occurs — the distribution-shift
    detector that needs no binning choices (the binned cousin of
    ``psi_distribution_drift``).

    Scale shape: rows collapse to distinct VALUE LEVELS with both
    group counts in one hash aggregate; both CDFs are
    ``bucketed_running_sum`` passes over that level relation (integer
    counts, so the CDF ratios are identical IEEE divisions in both
    engines and the argmax can use exact equality); the max and its
    location are two aggregates over the level relation."""
    from cascading_hbase_spark.functions.enumerate import bucketed_running_sum

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select(
            "n_chars",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
        )
    )
    levels = d.groupBy("n_chars").agg(
        F.sum("is_en").cast("bigint").alias("n1"),
        F.sum(1 - F.col("is_en")).cast("bigint").alias("n2"),
    )
    tot = levels.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    rs1 = bucketed_running_sum(levels, "n_chars", "n1", sum_col="rs1")
    rs2 = bucketed_running_sum(
        levels.select("n_chars", "n2"), "n_chars", "n2", sum_col="rs2"
    )
    cdf = rs1.select("n_chars", "rs1").join(
        rs2.select("n_chars", "rs2"), "n_chars"
    )
    diffs = cdf.join(F.broadcast(tot)).select(
        "n_chars", "t1", "t2",
        # nullif-guarded: a single-language corpus yields NULL, not an
        # ANSI divide-by-zero
        F.abs(
            F.col("rs1") / F.nullif(F.col("t1"), F.lit(0)).cast("double")
            - F.col("rs2") / F.nullif(F.col("t2"), F.lit(0)).cast("double")
        ).alias("dd"),
    )
    mx = diffs.agg(F.max("dd").alias("ks"))
    return (
        diffs.join(F.broadcast(mx))
        .filter(F.col("dd") == F.col("ks"))
        .groupBy("ks")
        .agg(
            F.min("n_chars").cast("bigint").alias("at_value"),
            F.min("t1").cast("bigint").alias("n_en"),
            F.min("t2").cast("bigint").alias("n_other"),
        )
        .select(
            F.round("ks", 6).alias("ks_stat"),
            "at_value",
            "n_en",
            "n_other",
        )
    )


@query(
    "lang_diversity_simpson",
    oracle="""
    WITH counts AS (
      SELECT source, lang, CAST(count(*) AS DOUBLE) AS n
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT source, sum(n) AS total FROM counts GROUP BY source)
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS n_langs,
           CAST(min(t.total) AS BIGINT) AS n_docs,
           CAST(round(1.0 - sum(pow(c.n / t.total, 2)), 6) AS DOUBLE)
             AS simpson_diversity,
           CAST(round(1.0 / sum(pow(c.n / t.total, 2)), 6) AS DOUBLE)
             AS effective_langs,
           CAST(round(-sum((c.n / t.total) * ln(c.n / t.total)), 6) AS DOUBLE)
             AS shannon_nats
    FROM counts c JOIN tot t ON t.source = c.source
    GROUP BY c.source
    """,
)
def lang_diversity_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language diversity per source: Simpson's index (1 - sum p^2 —
    the chance two random docs differ in language), its inverse (the
    'effective number of languages'), and Shannon entropy — the
    ecology-style diversity triple that tells a corpus curator whether
    a source is monolingual-with-noise or genuinely multilingual
    before mixture weights are assigned.

    Scale shape: ONE hash aggregate to (source, lang) counts; totals
    and all three indices run on the #sources x #langs relation."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(
        F.count("*").cast("double").alias("n")
    )
    tot = counts.groupBy("source").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total")
    return (
        counts.join(tot, "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_langs"),
            F.min("total").cast("bigint").alias("n_docs"),
            F.round(1.0 - F.sum(F.pow(p, 2)), 6).alias("simpson_diversity"),
            F.round(1.0 / F.sum(F.pow(p, 2)), 6).alias("effective_langs"),
            F.round(-F.sum(p * F.log(p)), 6).alias("shannon_nats"),
        )
    )


@query(
    "keyness_loglikelihood_tokens",
    oracle="""
    WITH tok AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
             unnest(string_split(text, ' ')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    counts AS (
      SELECT t,
             CAST(sum(is_en) AS DOUBLE) AS a,
             CAST(sum(1 - is_en) AS DOUBLE) AS b
      FROM tok GROUP BY t
    ),
    tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM counts),
    g2 AS (
      SELECT c.t, c.a, c.b,
             2.0 * (
               CASE WHEN c.a > 0
                    THEN c.a * ln(c.a / ((c.a + c.b) * t.na / (t.na + t.nb)))
                    ELSE 0.0 END
             + CASE WHEN c.b > 0
                    THEN c.b * ln(c.b / ((c.a + c.b) * t.nb / (t.na + t.nb)))
                    ELSE 0.0 END) AS g2,
             CASE WHEN c.a * t.nb > c.b * t.na THEN 'en' ELSE 'other' END
               AS leans
      FROM counts c CROSS JOIN tot t
    )
    SELECT t AS token, CAST(a AS BIGINT) AS n_en, CAST(b AS BIGINT) AS n_other,
           CAST(round(g2, 6) AS DOUBLE) AS g2, leans
    FROM g2
    ORDER BY round(g2, 6) DESC, token LIMIT 30
    """,
)
def keyness_loglikelihood_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-linguistics keyness: the top-30 tokens whose frequency
    differs most between English and non-English documents by the
    log-likelihood ratio G2 (Dunning's statistic — robust where
    chi-square breaks on rare words), tagged with which side they
    lean.  The 'what words characterize this subcorpus' operator
    behind domain-mixture debugging.

    Scale shape: one token-keyed hash aggregate carries BOTH group
    counts (no second corpus pass); totals arrive as a 1-row
    broadcast; ranking is a distributed top-k.  The lean test uses
    cross-multiplied integers, so it cannot flip cross-engine."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
            F.explode(F.split("text", " ")).alias("t"),
        )
    )
    counts = tok.groupBy("t").agg(
        F.sum("is_en").cast("double").alias("a"),
        F.sum(1 - F.col("is_en")).cast("double").alias("b"),
    )
    tot = counts.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    ea = (F.col("a") + F.col("b")) * F.col("na") / (F.col("na") + F.col("nb"))
    eb = (F.col("a") + F.col("b")) * F.col("nb") / (F.col("na") + F.col("nb"))
    g2 = 2.0 * (
        F.when(F.col("a") > 0, F.col("a") * F.log(F.col("a") / ea)).otherwise(0.0)
        + F.when(F.col("b") > 0, F.col("b") * F.log(F.col("b") / eb)).otherwise(0.0)
    )
    scored = counts.join(F.broadcast(tot)).select(
        F.col("t").alias("token"),
        F.col("a").cast("bigint").alias("n_en"),
        F.col("b").cast("bigint").alias("n_other"),
        F.round(g2, 6).alias("g2"),
        F.when(
            F.col("a") * F.col("nb") > F.col("b") * F.col("na"), "en"
        ).otherwise("other").alias("leans"),
    )
    return scored.orderBy(F.col("g2").desc(), "token").limit(30)


@query(
    "kfold_assignment_report",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST({_H.format(x="concat('fold#', CAST(doc_id AS VARCHAR))")} % 5
                  AS INTEGER) AS fold
      FROM documents
    )
    SELECT fold, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(round(count(*) / CAST(sum(count(*))
                  OVER (PARTITION BY lang) AS DOUBLE), 6) AS DOUBLE)
             AS lang_share
    FROM d GROUP BY fold, lang
    """,
)
def kfold_assignment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment with a balance
    report: fold = hash64('fold#'||doc_id) mod 5 (replayable — the
    same doc always lands in the same fold, across runs AND engines),
    plus each fold's share of every language so stratification skew is
    visible before anyone trains.  The evaluation-split counterpart to
    ``leakage_safe_split``'s train/heldout hashing.

    Scale shape: assignment is a pure map-side hash expression (a
    filter selecting fold k == one map-side scan at train time, no
    shuffle of the corpus); the report aggregates to the 5 x #langs
    relation and the share window runs over those rows only."""
    from cascading_hbase_spark.functions.hashing import hash64

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        (
            hash64(F.concat(F.lit("fold#"), F.col("doc_id").cast("string"))) % 5
        ).cast("int").alias("fold"),
    )
    counts = d.groupBy("fold", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    # share window over the 5 x #langs report relation only
    w = Window.partitionBy("lang")
    return counts.select(
        "fold", "lang", "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("lang_share"),
    )


_SQL_TRI = """
    tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tri AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> {'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]})) AS u
        FROM tok WHERE len(t) >= 3)
    )
"""


def _doc_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2, w3) word trigrams, built MAP-SIDE by zipping
    three shifted token slices (no posexplode + window self-pairing) —
    the trigram extension of ``lm_bigram_logprob``'s pair build."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("tok")).filter(
        F.col("tok").isNotNull() & (F.size("tok") >= 3)
    )
    n = F.size("tok")
    inner = F.zip_with(
        F.slice(F.col("tok"), F.lit(2), n - 2),
        F.slice(F.col("tok"), F.lit(3), n - 2),
        lambda b, c: F.struct(b.alias("w2"), c.alias("w3")),
    )
    triples = F.zip_with(
        F.slice(F.col("tok"), F.lit(1), n - 2),
        inner,
        lambda a, bc: F.struct(
            a.alias("w1"), bc["w2"].alias("w2"), bc["w3"].alias("w3")
        ),
    )
    return t.select("doc_id", F.explode(triples).alias("p")).select(
        "doc_id",
        F.col("p.w1").alias("w1"),
        F.col("p.w2").alias("w2"),
        F.col("p.w3").alias("w3"),
    )


@query(
    "lm_trigram_backoff",
    bench=True,
    oracle=f"""
    WITH {_SQL_TRI},
    train AS (SELECT * FROM tri WHERE doc_id % 2 = 0),
    score AS (SELECT * FROM tri WHERE doc_id % 2 = 1),
    t3 AS (
      SELECT w1, w2, w3, count(*) AS c3,
             sum(count(*)) OVER (PARTITION BY w1, w2) AS ctx3
      FROM train GROUP BY w1, w2, w3
    ),
    t2 AS (
      SELECT w2, w3, c2, sum(c2) OVER (PARTITION BY w2) AS ctx2 FROM (
        SELECT w2, w3, sum(c3) AS c2 FROM t3 GROUP BY w2, w3)
    ),
    t1 AS (SELECT w3, sum(c3) AS c1 FROM t3 GROUP BY w3),
    totals AS (SELECT sum(c1) AS total, count(*) AS vocab FROM t1),
    scored AS (
      SELECT s.doc_id,
             CASE
               WHEN t3.c3 IS NOT NULL
                 THEN CAST(t3.c3 AS DOUBLE) / t3.ctx3
               WHEN t2.c2 IS NOT NULL
                 THEN 0.4 * CAST(t2.c2 AS DOUBLE) / t2.ctx2
               ELSE 0.16 * (coalesce(t1.c1, 0) + 1.0)
                    / (totals.total + totals.vocab)
             END AS p,
             CASE WHEN t3.c3 IS NULL THEN 1.0 ELSE 0.0 END AS backed
      FROM score s
      LEFT JOIN t3 ON s.w1 = t3.w1 AND s.w2 = t3.w2 AND s.w3 = t3.w3
      LEFT JOIN t2 ON s.w2 = t2.w2 AND s.w3 = t2.w3
      LEFT JOIN t1 ON s.w3 = t1.w3
      CROSS JOIN totals
    )
    SELECT doc_id,
           CAST(round(avg(ln(p)), 6) AS DOUBLE) AS backoff_logscore,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(round(avg(backed), 6) AS DOUBLE) AS backoff_rate
    FROM scored GROUP BY doc_id
    """,
)
def lm_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram language model with stupid backoff (Brants et al.,
    'Large Language Models in Machine Translation'): train on even
    doc_ids, score the held-out odd docs — so the backoff path is
    actually EXERCISED (scoring the training corpus would never miss a
    trigram).  S(w3|w1,w2) = c3/ctx3 if seen, else 0.4 * c2/ctx2 if
    the bigram is seen, else 0.4^2 * smoothed unigram ((c1+1)/(N+V),
    which also floors true OOV words).  All backoff counts derive from
    the one trigram relation, mirrored exactly by the oracle.  Emits
    per-doc mean log-score plus the backoff rate (share of trigrams
    unseen at the trigram level) — a held-out fluency/novelty signal
    one level up from ``lm_bigram_logprob``.

    Plan shape: trigrams build map-side (nested ``zip_with`` of three
    shifted slices), persist once, and split into train/score by id
    parity — one corpus pass.  The model tables (t3 -> t2 -> t1) are
    derived each-from-the-previous (model-sized aggregates + windows,
    never a second corpus scan); scoring is three left equi joins on
    ngram keys plus a broadcast 1-row totals join."""
    # persisted for the train/score split consumers below; stays cached
    # past return because the result is lazy — CacheManager dedupe +
    # LRU eviction is the documented policy (functions/dedup.py)
    tri = _doc_trigrams(spark, sf_dir).persist()
    train = tri.filter(F.col("doc_id") % 2 == 0)
    score = tri.filter(F.col("doc_id") % 2 == 1)
    t3 = (
        train.groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c3"))
        .withColumn("ctx3", F.sum("c3").over(Window.partitionBy("w1", "w2")))
    )
    t2 = (
        t3.groupBy("w2", "w3")
        .agg(F.sum("c3").alias("c2"))
        .withColumn("ctx2", F.sum("c2").over(Window.partitionBy("w2")))
    )
    t1 = t3.groupBy("w3").agg(F.sum("c3").alias("c1"))
    totals = t1.agg(
        F.sum("c1").alias("total"), F.count("*").alias("vocab")
    )
    p = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("ctx3"),
        )
        .when(
            F.col("c2").isNotNull(),
            0.4 * F.col("c2").cast("double") / F.col("ctx2"),
        )
        .otherwise(
            0.16
            * (F.coalesce(F.col("c1"), F.lit(0)) + 1.0)
            / (F.col("total") + F.col("vocab"))
        )
    )
    backed = F.when(F.col("c3").isNull(), 1.0).otherwise(0.0)
    return (
        score.join(t3, ["w1", "w2", "w3"], "left")
        .join(t2, ["w2", "w3"], "left")
        .join(t1, ["w3"], "left")
        .join(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log(p)), 6).alias("backoff_logscore"),
            F.count("*").cast("bigint").alias("n_trigrams"),
            F.round(F.avg(backed), 6).alias("backoff_rate"),
        )
    )


@query(
    "trigram_novelty_per_doc",
    oracle=f"""
    WITH {_SQL_TRI},
    sh AS (SELECT DISTINCT doc_id, w1 || ' ' || w2 || ' ' || w3 AS g
           FROM tri),
    first_seen AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(round(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS novelty
    FROM sh JOIN first_seen f ON sh.g = f.g
    GROUP BY sh.doc_id
    """,
)
def trigram_novelty_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in doc_id (ingestion) order: the
    share of a doc's DISTINCT trigrams never seen in any earlier doc —
    the 'how much does each new document add' curve.  A corpus whose
    novelty decays to ~0 is recrawling itself (the longitudinal
    companion to the pairwise near-dup detectors, and the doc-level
    view of what ``substring_dup_spans`` measures span-level).

    Scale shape: trigrams build map-side and dedup per doc (one
    shuffle on the (doc, gram) key); first occurrence is a min
    aggregate on the gram key; the verdict joins back on the gram key
    and folds per doc.  No windows, no self-joins — three keyed
    shuffles end to end."""
    tri = _doc_trigrams(spark, sf_dir)
    sh = tri.select(
        "doc_id",
        F.concat_ws(" ", "w1", "w2", "w3").alias("g"),
    ).distinct()
    first_seen = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    is_new = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_trigrams"),
            F.sum(is_new).cast("bigint").alias("n_new"),
            F.round(
                F.sum(is_new) / F.count("*").cast("double"), 6
            ).alias("novelty"),
        )
    )


# Pair symbols stay as TWO columns end-to-end (no delimiter encoding:
# a learned symbol may in principle contain any corpus character), and
# the argmax tie-break is the (pc DESC, x, y) column tuple on both
# engines.
_BPE_PAIRS = """
  SELECT s[i] AS x, s[i+1] AS y, sum(cnt) AS pc
  FROM (SELECT cnt, string_split(seg, ' ') AS s FROM {src}),
       unnest(generate_series(1, len(s)-1)) AS t(i)
  GROUP BY x, y
  ORDER BY pc DESC, x, y LIMIT 1
"""

# Suffix test by LITERAL substring compare, not LIKE — a learned
# symbol containing %/_ must not become a pattern.
_BPE_APPLY = """
  SELECT word, cnt,
         list_reduce(string_split(seg, ' '),
           (acc, cur) -> CASE
             WHEN (acc = {p}.x
                   OR substr(acc, len(acc) - len({p}.x),
                             len({p}.x) + 1) = ' ' || {p}.x)
                  AND cur = {p}.y
             THEN substr(acc, 1, len(acc) - len({p}.x)) || {p}.x || {p}.y
             ELSE acc || ' ' || cur END) AS seg
  FROM {src} CROSS JOIN {p}
"""


@query(
    "bpe_merges_learn",
    oracle=f"""
    WITH words AS (
      SELECT w AS word, count(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) > 0 GROUP BY w
    ),
    seg0 AS (
      SELECT word, cnt,
             list_reduce(
               list_transform(generate_series(1, len(word)), i -> word[i]),
               (a, b) -> a || ' ' || b) AS seg
      FROM words
    ),
    p1 AS ({_BPE_PAIRS.format(src="seg0")}),
    seg1 AS ({_BPE_APPLY.format(src="seg0", p="p1")}),
    p2 AS ({_BPE_PAIRS.format(src="seg1")}),
    seg2 AS ({_BPE_APPLY.format(src="seg1", p="p2")}),
    p3 AS ({_BPE_PAIRS.format(src="seg2")})
    SELECT * FROM (
      SELECT 1 AS step, x AS left_sym, y AS right_sym,
             CAST(pc AS BIGINT) AS pair_count FROM p1
      UNION ALL
      SELECT 2, x, y, CAST(pc AS BIGINT) FROM p2
      UNION ALL
      SELECT 3, x, y, CAST(pc AS BIGINT) FROM p3
    ) ORDER BY step
    """,
)
def bpe_merges_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer training, first 3 merges: start
    from character segmentation of the corpus word-type table, and per
    round (a) count adjacent symbol pairs weighted by word frequency,
    (b) pick the most frequent pair (ties by pair string — fully
    deterministic), (c) re-segment every word by the classic greedy
    left-to-right merge.  Exactly Sennrich et al.'s trainer loop; the
    oracle unrolls the same three rounds in SQL, fold included, so the
    learned merge TABLE is hash-checked, not just plausible.

    Scale shape: the corpus collapses ONCE to the word-type relation
    (vocab-sized — the whole BPE state); each round is one pair-count
    aggregate over that relation plus a map-side HOF re-segmentation.
    The driver sees one 1-row argmax per round (the pagerank
    scalar-probe pattern) and K rounds cost K vocab-sized jobs — at
    100 TB the corpus is read exactly once."""
    steps, seg = _bpe_train(spark, sf_dir, n_merges=3)
    seg.unpersist()
    return spark.createDataFrame(
        steps, "step int, left_sym string, right_sym string, pair_count bigint"
    ).orderBy("step")


def _bpe_train(spark: SparkSession, sf_dir: str, n_merges: int = 3):
    """Shared BPE trainer (see ``bpe_merges_learn``): returns the
    learned merge list [(step, x, y, count)] and the FINAL word-type
    segmentation (all merges applied), persisted — the caller either
    unpersists it (model-only use) or keeps consuming it (scoring use;
    CacheManager LRU lifecycle, the documented policy)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    seg = words.select(
        "word",
        "cnt",
        F.array_join(
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
            " ",
        ).alias("seg"),
    ).persist()
    steps = []
    for step in range(1, n_merges + 1):
        s = F.split("seg", " ")
        pair = F.explode(
            F.zip_with(
                F.slice(s, 1, F.size(s) - 1),
                F.slice(s, 2, F.size(s) - 1),
                lambda a, b: F.struct(a.alias("x"), b.alias("y")),
            )
        )
        top = (
            seg.filter(F.size(F.split("seg", " ")) >= 2)
            .select(pair.alias("p"), "cnt")
            .select("p.x", "p.y", "cnt")
            .groupBy("x", "y")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), F.col("x"), F.col("y"))
            .limit(1)
            .collect()[0]  # ONE 1-row argmax per round (model scalar)
        )
        x, y = top["x"], top["y"]
        steps.append((step, x, y, int(top["pc"])))
        merged = F.aggregate(
            F.slice(s, 2, F.size(s) - 1),
            F.element_at(s, 1),
            lambda acc, cur: F.when(
                ((acc == F.lit(x)) | acc.endswith(F.lit(" " + x)))
                & (cur == F.lit(y)),
                F.concat(
                    acc.substr(
                        F.lit(1), F.length(acc) - F.lit(len(x))
                    ),
                    F.lit(x + y),
                ),
            ).otherwise(F.concat(acc, F.lit(" "), cur)),
        )
        nxt = seg.select("word", "cnt", merged.alias("seg")).persist()
        seg.unpersist()
        seg = nxt
    return steps, seg


@query(
    "bpe_compression_ratio",
    oracle=f"""
    WITH words AS (
      SELECT w AS word, count(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) > 0 GROUP BY w
    ),
    seg0 AS (
      SELECT word, cnt,
             list_reduce(
               list_transform(generate_series(1, len(word)), i -> word[i]),
               (a, b) -> a || ' ' || b) AS seg
      FROM words
    ),
    p1 AS ({_BPE_PAIRS.format(src="seg0")}),
    seg1 AS ({_BPE_APPLY.format(src="seg0", p="p1")}),
    p2 AS ({_BPE_PAIRS.format(src="seg1")}),
    seg2 AS ({_BPE_APPLY.format(src="seg1", p="p2")}),
    p3 AS ({_BPE_PAIRS.format(src="seg2")}),
    seg3 AS ({_BPE_APPLY.format(src="seg2", p="p3")}),
    tokc AS (
      SELECT word, len(string_split(seg, ' ')) AS ntok FROM seg3
    ),
    dw AS (
      SELECT doc_id, w AS word FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) > 0
    )
    SELECT dw.doc_id,
           CAST(sum(len(dw.word)) AS BIGINT) AS n_chars,
           CAST(sum(t.ntok) AS BIGINT) AS n_bpe_tokens,
           CAST(round(sum(len(dw.word)) / CAST(sum(t.ntok) AS DOUBLE), 6)
                AS DOUBLE) AS chars_per_token
    FROM dw JOIN tokc t ON dw.word = t.word
    GROUP BY dw.doc_id
    """,
)
def bpe_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the 3 learned BPE merges (``bpe_merges_learn``) back to
    the corpus and measure per-document compression: characters per
    BPE token.  The 'did the tokenizer actually learn something' audit
    — chars/token starts at 1.0 pre-merge and grows as merges absorb
    frequent pairs; a doc whose ratio stays ~1 is out-of-distribution
    for the learned vocabulary (a curation signal in its own right).

    Scale shape: training as in ``bpe_merges_learn`` (vocab-sized
    state, 3 scalar argmaxes); scoring joins the corpus's (doc, word)
    relation to the word->token-count map on the word key — one
    explode, one keyed join, one per-doc aggregate."""
    _, seg = _bpe_train(spark, sf_dir, n_merges=3)
    tokc = seg.select(
        "word", F.size(F.split("seg", " ")).alias("ntok")
    )
    d = load_table(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        dw.join(tokc, "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("ntok").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum(F.length("word"))
                / F.sum("ntok").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


@query(
    "embedding_dim_profile",
    oracle="""
    WITH el AS (
      SELECT t.i AS dim_idx, CAST(e.embedding[t.i] AS DOUBLE) AS v
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    )
    SELECT CAST(dim_idx AS INTEGER) AS dim_idx,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(round(avg(v), 6) AS DOUBLE) AS mean_val,
           CAST(round(stddev_pop(v), 6) AS DOUBLE) AS std_val,
           CAST(round(min(v), 6) AS DOUBLE) AS min_val,
           CAST(round(max(v), 6) AS DOUBLE) AS max_val,
           CAST(stddev_pop(v) < 0.01 AS BOOLEAN) AS collapsed
    FROM el GROUP BY dim_idx
    """,
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding health profile: mean/std/min/max for
    each of the 64 coordinates plus a collapsed-dimension flag
    (std < 0.01 — a dead axis carries no information and silently
    wastes index space).  The transposed complement of
    ``embedding_stats``' per-vector view; run it before trusting any
    cosine-based pipeline (a collapsed or unbounded dimension skews
    every similarity).

    Scale shape: posexplode fans n x d element rows map-side; ONE
    keyed aggregate over the d dimension groups does everything
    (mergeable moments).  Output is d rows regardless of corpus
    size."""
    e = load_table(spark, sf_dir, "embeddings")
    el = e.select(
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("pos", "v")
    ).select((F.col("pos") + 1).cast("int").alias("dim_idx"), "v")
    return el.groupBy("dim_idx").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(F.avg("v"), 6).alias("mean_val"),
        F.round(F.stddev_pop("v"), 6).alias("std_val"),
        F.round(F.min("v"), 6).alias("min_val"),
        F.round(F.max("v"), 6).alias("max_val"),
        (F.stddev_pop("v") < 0.01).alias("collapsed"),
    )


@query(
    "quality_percentile_by_source",
    oracle="""
    WITH per AS (
      SELECT source, n_chars, count(*) AS c
      FROM documents GROUP BY source, n_chars
    ),
    rk AS (
      SELECT source, n_chars,
             sum(c) OVER (PARTITION BY source ORDER BY n_chars)
               - c + (c + 1) / 2.0 AS midrank,
             sum(c) OVER (PARTITION BY source) AS n
      FROM per
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
           CAST(round(r.midrank / r.n, 6) AS DOUBLE) AS pct_in_source
    FROM documents d
    JOIN rk r ON d.source = r.source AND d.n_chars = r.n_chars
    """,
)
def quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a quality signal
    (n_chars): each document's midrank percentile WITHIN its source —
    the calibration step before any cross-source quality threshold
    (sources have wildly different raw-score distributions; a global
    cutoff silently over-prunes whole sources; CCNet buckets per
    language for the same reason, see ``perplexity_bucket_ccnet``).

    Scale shape: the midrank trick from ``spearman_by_brand`` — rows
    collapse to per-(source, score) counts, percentiles fall out of a
    running count over that compact relation, and docs join their
    percentile back by (source, score).  No per-row rank window."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source", "n_chars").agg(F.count("*").alias("c"))
    wsum = Window.partitionBy("source").orderBy("n_chars")
    wtot = Window.partitionBy("source")
    rk = per.select(
        "source", "n_chars",
        (
            F.sum("c").over(wsum) - F.col("c") + (F.col("c") + 1) / F.lit(2.0)
        ).alias("midrank"),
        F.sum("c").over(wtot).alias("n"),
    )
    return d.select("doc_id", "source", "n_chars").join(
        rk, ["source", "n_chars"]
    ).select(
        "doc_id", "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round(F.col("midrank") / F.col("n"), 6).alias("pct_in_source"),
    )


@query(
    "gopher_quality_rules",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok
               FROM documents),
    m AS (
      SELECT doc_id,
             len(tok) AS n,
             list_avg(list_transform(tok, w -> len(w))) AS mwl,
             len(list_filter(tok,
                             x -> x IN ('the','a','of','in','to','and')))
               / CAST(len(tok) AS DOUBLE) AS stopf,
             len(list_distinct(tok)) / CAST(len(tok) AS DOUBLE) AS dratio,
             list_max(list_transform(list_distinct(tok),
                        w -> len(list_filter(tok, x -> x = w))))
               / CAST(len(tok) AS DOUBLE) AS topshare
      FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_words,
           CAST(n >= 30 AS BOOLEAN) AS r_word_count,
           CAST(mwl >= 3.0 AND mwl <= 10.0 AS BOOLEAN) AS r_mean_word_len,
           CAST(stopf >= 0.03 AS BOOLEAN) AS r_stopword_frac,
           CAST(dratio >= 0.35 AS BOOLEAN) AS r_distinct_ratio,
           CAST(topshare <= 0.15 AS BOOLEAN) AS r_top_word_share,
           CAST(n >= 30 AND mwl >= 3.0 AND mwl <= 10.0 AND stopf >= 0.03
                AND dratio >= 0.35 AND topshare <= 0.15 AS BOOLEAN)
             AS passes_all
    FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-vector quality gate (Rae et al. 2021 §A1.1,
    adapted to this corpus's signals): per document, an explicit
    boolean per rule — word count floor, mean word length band,
    stopword fraction floor, distinct-word ratio floor (repetition),
    most-frequent-word share cap (dominance) — plus the conjunction.
    Emitting the VECTOR (not just the verdict) is the point: curation
    debugging needs 'which rule killed this doc', and per-rule pass
    rates are the drift monitor.  Complements the scalar
    ``quality_score`` ranking.

    Scale shape: every rule is a map-side higher-order-function
    expression over the token array — ZERO shuffles, no UDFs.  The
    dominance rule is O(distinct x len) per doc map-side, the right
    trade for bounded documents (for book-length docs switch to the
    explode + (doc, word) count shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    n = F.size(tok)
    stopset = ("the", "a", "of", "in", "to", "and")
    mwl = (
        F.aggregate(
            F.transform(tok, lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / n.cast("double")
    )
    is_stop = lambda x: x.isin(*stopset)  # noqa: E731
    stopf = F.size(F.filter(tok, is_stop)) / n.cast("double")
    dratio = F.size(F.array_distinct(tok)) / n.cast("double")
    topshare = (
        F.array_max(
            F.transform(
                F.array_distinct(tok),
                lambda w: F.size(F.filter(tok, lambda x: x == w)),
            )
        )
        / n.cast("double")
    )
    m = d.select(
        "doc_id",
        n.alias("n"), mwl.alias("mwl"), stopf.alias("stopf"),
        dratio.alias("dratio"), topshare.alias("topshare"),
    )
    r_wc = F.col("n") >= 30
    r_mwl = (F.col("mwl") >= 3.0) & (F.col("mwl") <= 10.0)
    r_stop = F.col("stopf") >= 0.03
    r_dr = F.col("dratio") >= 0.35
    r_top = F.col("topshare") <= 0.15
    return m.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_words"),
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_stop.alias("r_stopword_frac"),
        r_dr.alias("r_distinct_ratio"),
        r_top.alias("r_top_word_share"),
        (r_wc & r_mwl & r_stop & r_dr & r_top).alias("passes_all"),
    )


@query(
    "quantization_recall_audit",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    r AS (
      SELECT vec_id,
             list_transform(v, x -> round(x / s) * s) AS v
      FROM (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
            FROM e) WHERE s > 0
    ),
    qf AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 8),
    qr AS (SELECT vec_id AS q_id, v AS q_vec FROM r WHERE vec_id < 8),
    topf AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 64),
                         i -> q.q_vec[i] * c.v[i]))
                 / sqrt(list_sum(list_transform(generate_series(1, 64),
                          i -> q.q_vec[i] * q.q_vec[i]))
                   * list_sum(list_transform(generate_series(1, 64),
                          i -> c.v[i] * c.v[i]))), 6) DESC,
                 c.vec_id) AS rn
        FROM e c CROSS JOIN qf q WHERE c.vec_id <> q.q_id
      ) WHERE rn <= 10
    ),
    topr AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 64),
                         i -> q.q_vec[i] * c.v[i]))
                 / sqrt(list_sum(list_transform(generate_series(1, 64),
                          i -> q.q_vec[i] * q.q_vec[i]))
                   * list_sum(list_transform(generate_series(1, 64),
                          i -> c.v[i] * c.v[i]))), 6) DESC,
                 c.vec_id) AS rn
        FROM r c CROSS JOIN qr q WHERE c.vec_id <> q.q_id
      ) WHERE rn <= 10
    )
    SELECT f.q_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(round(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      / 10.0, 6) AS DOUBLE) AS recall_at_10
    FROM topf f
    LEFT JOIN topr r ON f.q_id = r.q_id AND f.vec_id = r.vec_id
    GROUP BY f.q_id
    """,
)
def quantization_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does int8 quantization (``embedding_quantize_int8``) damage
    retrieval?  For each query vector: exact cosine top-10 on the raw
    floats vs top-10 where BOTH sides are int8-reconstructed
    (round(x/scale)*scale), reported as recall@10 — the accept/reject
    number for shipping a 4x-smaller index.  The audit twin of
    ``similarity_ann_*``'s blocking-recall checks, aimed at the
    compression axis instead.

    Scale shape: both rankings are the ``cosine_topk`` broadcast-query
    shape (candidates never shuffle; per-query windows over the
    candidate relation); the overlap join runs on the 8 x 10 top-k
    rows only."""
    from cascading_hbase_spark.functions import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    # Persisted: the raw-float relation feeds FOUR static-plan branches
    # (raw candidates + queries, and the int8 reconstruction's
    # candidates + queries) — without the cache each branch re-scans
    # the parquet and re-runs the double cast (embeddings x4 in the
    # r13 sweep).  CacheManager dedupe + LRU eviction is the
    # documented policy (functions/dedup.py).
    raw = e.select("vec_id", dbl.alias("embedding")).persist()
    scale = F.array_max(F.transform("embedding", F.abs)) / 127.0
    recon = raw.select(
        "vec_id", "embedding", scale.alias("_s")
    ).filter(F.col("_s") > 0).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x / F.col("_s")) * F.col("_s")
        ).alias("embedding"),
    )
    topf = SIM.cosine_topk(raw, raw.filter(F.col("vec_id") < 8), k=10)
    topr = SIM.cosine_topk(recon, recon.filter(F.col("vec_id") < 8), k=10)
    f = topf.select("q_id", "vec_id")
    r = topr.select("q_id", F.col("vec_id").alias("r_vec"))
    return (
        f.join(
            r,
            (f.q_id == r.q_id) & (f.vec_id == r.r_vec),
            "left",
        )
        .drop(r.q_id)
        .groupBy("q_id")
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.sum(
                F.when(F.col("r_vec").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_kept"),
            F.round(
                F.sum(
                    F.when(F.col("r_vec").isNotNull(), 1).otherwise(0)
                )
                / F.lit(10.0),
                6,
            ).alias("recall_at_10"),
        )
    )
