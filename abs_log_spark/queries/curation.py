"""Curation-operator queries: deterministic stratified sampling, sequence
packing, near-dup cluster resolution, PII scrubbing. See
operators/curation.py for the scale rationale; every query's randomness /
iteration count is fixed and md5-derived so the DuckDB oracle is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from abs_log_spark.operators.curation import (
    decontaminate,
    near_dup_clusters,
    pack_greedy_bins,
    sample_hash_col,
    scrub_pii,
    stratified_sample,
)
from abs_log_spark.queries import register
from abs_log_spark.queries.dedup import _MINHASH_CTES
from abs_log_spark.session import local_frame
from abs_log_spark.sources.readers import read_table

_SAMPLE_SQL = """
SELECT source, CAST(count(*) AS BIGINT) AS n_kept
FROM documents
WHERE ('0x' || substr(md5('s1' || doc_id::VARCHAR), 1, 4))::INT % 100 <
      CASE WHEN source = 'src0' THEN 10 ELSE 50 END
GROUP BY 1
"""


@register("curation_sample_stratified", _SAMPLE_SQL)
def curation_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-keyed stratified sampling: the Zipf-hot src0 is
    downsampled to 10%, every other source to 50% — the standard head/tail
    rebalance for a training mix. Hash-of-key sampling (not rand()) is
    retry-stable and engine-reproducible; the oracle re-derives the exact
    keep set."""
    # no spread: the sampling filter is a cheap map (one md5 per row) and
    # the per-source aggregate combines map-side — measured a wash at sf1.0
    docs = read_table(spark, sf_dir, "documents")
    sources = local_frame(
        spark,
        [(f"src{k}", 10 if k == 0 else 50) for k in range(20)],
        "source string, rate_pct int",
    )
    kept = stratified_sample(docs, sources)
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


_PACK_SQL = """
WITH s AS (
  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS n_tok FROM documents
), b AS (
  SELECT source, n_tok,
         CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tok) / 2048) AS INT) AS pack_bin
  FROM s
)
SELECT source, pack_bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tok_sum
FROM b GROUP BY 1, 2
"""


@register("curation_pack_bins", _PACK_SQL)
def curation_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: per source (stratum), docs in doc_id order are
    assigned to 2048-token context bins by streaming cumsum — ONE window
    per stratum, the deterministic distributed half of training-batch
    packing. Token count = char count (the fixture's 1 token/char contract,
    see tokens_roundtrip)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.length("text").cast("long").alias("n_tok")
    )
    packed = pack_greedy_bins(docs, budget=2048)
    return packed.groupBy("source", "pack_bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
    )


_CLUSTERS_SQL = (
    _MINHASH_CTES
    + """
, vp AS (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b,
           round(COALESCE(i.ni, 0) / (na.n + nb.n - COALESCE(i.ni, 0)), 6) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes na ON na.doc_id = c.doc_a
    JOIN sizes nb ON nb.doc_id = c.doc_b
  ) WHERE jaccard >= 0.5
),
e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
      UNION ALL SELECT doc_b, doc_a FROM vp),
l0 AS (SELECT doc_id AS id, doc_id AS cluster_id FROM all_docs),
n1 AS (SELECT e.src, min(l.cluster_id) AS nb FROM e JOIN l0 l ON l.id = e.dst GROUP BY 1),
l1 AS (SELECT l0.id, least(l0.cluster_id, coalesce(n1.nb, l0.cluster_id)) AS cluster_id
       FROM l0 LEFT JOIN n1 ON n1.src = l0.id),
n2 AS (SELECT e.src, min(l.cluster_id) AS nb FROM e JOIN l1 l ON l.id = e.dst GROUP BY 1),
l2 AS (SELECT l1.id, least(l1.cluster_id, coalesce(n2.nb, l1.cluster_id)) AS cluster_id
       FROM l1 LEFT JOIN n2 ON n2.src = l1.id)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_members
FROM l2 GROUP BY 1 HAVING count(*) > 1
"""
)


@register("curation_dup_clusters", _CLUSTERS_SQL)
def curation_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved into clusters (2 rounds of min-label
    propagation over the edge set; survivor = min doc_id = cluster id) —
    the step between pair detection and actually dropping duplicates. The
    oracle runs the IDENTICAL two rounds, so parity holds independent of
    convergence."""
    from abs_log_spark.operators.dedup import minhash_lsh_pairs, with_near_dup_copies

    docs = read_table(spark, sf_dir, "documents", spread=True)
    all_docs = with_near_dup_copies(docs)
    # materialize_shingles=False: same measured trade-off as
    # dedup_minhash_lsh (the pair relation itself is persisted inside
    # near_dup_clusters, so the shingle cache would be read only while
    # pairs materialize — not worth its serialization cost here)
    pairs = minhash_lsh_pairs(
        all_docs, min_jaccard=0.5, materialize_shingles=False
    ).select("doc_a", "doc_b")
    clusters = near_dup_clusters(all_docs, pairs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > 1)
        .select(F.col("cluster_id").cast("long").alias("cluster_id"), "n_members")
    )


_CHAIN_SQL = """
WITH ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r
  FROM documents ORDER BY doc_id LIMIT 6
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ranked a JOIN ranked b ON b.r = a.r + 1
),
e AS (SELECT doc_a AS src, doc_b AS dst FROM p
      UNION ALL SELECT doc_b, doc_a FROM p),
l0 AS (SELECT doc_id AS id, doc_id AS cluster_id FROM documents),
n1 AS (SELECT e.src, min(l.cluster_id) AS nb FROM e JOIN l0 l ON l.id = e.dst GROUP BY 1),
g1 AS (SELECT l0.id, least(l0.cluster_id, coalesce(n1.nb, l0.cluster_id)) AS cluster_id
       FROM l0 LEFT JOIN n1 ON n1.src = l0.id),
s1 AS (SELECT a.id, b.cluster_id FROM g1 a JOIN g1 b ON b.id = a.cluster_id),
n2 AS (SELECT e.src, min(l.cluster_id) AS nb FROM e JOIN s1 l ON l.id = e.dst GROUP BY 1),
g2 AS (SELECT s1.id, least(s1.cluster_id, coalesce(n2.nb, s1.cluster_id)) AS cluster_id
       FROM s1 LEFT JOIN n2 ON n2.src = s1.id),
s2 AS (SELECT a.id, b.cluster_id FROM g2 a JOIN g2 b ON b.id = a.cluster_id)
SELECT s2.id AS doc_id, CAST(s2.cluster_id AS BIGINT) AS cluster_id
FROM s2 JOIN ranked ON ranked.doc_id = s2.id
"""


@register("curation_dup_clusters_chain", _CHAIN_SQL)
def curation_dup_clusters_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer-jumping cluster resolution on an injected 5-hop CHAIN (the
    adversarial shape for plain min-label propagation, which moves labels
    one hop per round): the 6 smallest doc_ids are linked A~B~...~F and
    ``near_dup_clusters(mode='pointer_jump', iters=2)`` must resolve all
    six to ONE cluster — reach d_r = 2*(d_{r-1}+1) covers 6 hops in 2
    rounds where the propagate mode would need 5. The oracle replays the
    IDENTICAL gather+shortcut rounds (fixed-iteration discipline), so
    parity holds mid-convergence too."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    ranked = (
        docs.orderBy("doc_id").limit(6)
        .withColumn("r", F.row_number().over(Window.orderBy("doc_id")))
    )
    pairs = (
        ranked.alias("a")
        .join(ranked.alias("b"), F.col("b.r") == F.col("a.r") + 1)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    clusters = near_dup_clusters(docs, pairs, iters=2, mode="pointer_jump")
    return clusters.join(ranked.select("doc_id"), "doc_id").select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )


_DECONTAM_SQL = """
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 20
  UNION ALL
  SELECT doc_id + 3000000, 'zz qq ' || text FROM bench  -- injected contamination
),
bw AS (SELECT string_split(text, ' ') AS ws FROM bench),
-- shingles travel as 60-bit md5-slice ids, mirroring the Spark operator
-- (hashed_shingle_ids): identical hash both engines, so any collision is
-- shared rather than a parity divergence
bs AS (
  SELECT DISTINCT ('0x' || substr(md5(unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))), 1, 15))::BIGINT AS s
  FROM bw
),
cw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
cs AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5(unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))), 1, 15))::BIGINT AS s
  FROM cw
)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM cs c JOIN bs ON bs.s = c.s GROUP BY 1
"""


@register("curation_decontaminate", _DECONTAM_SQL)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word 5-gram
    with the eval set (docs with doc_id < 20 stand in for the benchmark;
    contaminated copies are injected at doc_id+3e6 as known positives).
    The benchmark shingle set is tiny and BROADCASTS — the corpus is never
    self-joined; see operators.curation.decontaminate."""
    docs = read_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20)
    corpus = docs.where(F.col("doc_id") >= 20).unionByName(
        bench.select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.concat(F.lit("zz qq "), F.col("text")).alias("text"),
        )
    )
    return decontaminate(corpus, bench, k=5)


_PII_SQL = """
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || doc_id::VARCHAR || '@example.org or 555-0199'
              ELSE text END AS text
  FROM documents
), scrubbed AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS INT) AS n_emails,
         CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS INT) AS n_phones,
         regexp_replace(regexp_replace(text, '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
                        '555-[0-9]{4}', '<PHONE>', 'g') AS clean_text
  FROM injected
)
SELECT doc_id, n_emails, n_phones,
       CAST(length(clean_text) AS INT) AS clean_len,
       md5(clean_text) AS scrub_sig
FROM scrubbed
"""


@register("curation_pii_scrub", _PII_SQL)
def curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with counted replacements (never silent): inject a
    deterministic email+phone into every 3rd doc, scrub both with typed
    placeholders, and verify the exact cleaned text via md5 signature —
    regex dialect parity (Java vs RE2) is part of what the oracle checks."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.org or 555-0199"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = scrub_pii(injected)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("int").alias("n_emails"),
        F.col("n_phones").cast("int").alias("n_phones"),
        F.length("clean_text").cast("int").alias("clean_len"),
        F.md5("clean_text").alias("scrub_sig"),
    )
