"""Deduplication operators for training-data curation.

Four families, all DataFrame-native:

- exact: hash-groupBy on a content fingerprint (md5). One shuffle on the
  fingerprint; keeps min(doc_id) per group (deterministic survivor).
- MinHash + LSH: shingle -> K minhash columns -> band buckets -> bucket
  self-join for candidates -> exact-Jaccard verify. The scale path: never
  materializes all pairs, only per-bucket pairs.
- SimHash: 64-bit signature from word 3-gram shingles (computed in-row);
  chunk-LSH (4 x 16-bit) for candidates; Hamming-distance verify.
- n-gram Jaccard: the exact verifier used standalone on a candidate set.

Embedding near-dup lives in operators/ann.py (cosine path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from abs_log_spark import cache
from abs_log_spark.functions.similarity import (
    _U_TO_G_SHIFT,
    band_buckets,
    candidate_pairs,
    hamming_col,
    hashed_shingle_ids,
    jaccard_from_arrays,
    minhash_signature_arr,
    oversized_buckets,
    shingles_col,
    simhash_signature,
)
from abs_log_spark.functions.text import fingerprint_md5_col

#: Default pair-expansion cap, ON in every production-shaped entry point: an
#: adversarial exact-dup cluster (identical signatures -> one bucket per
#: band/chunk) expands quadratically in a single row without it — the one
#: OOM the LSH formulation admits. 512 members = ~131k pairs (~2 MB) per
#: bucket row, far above anything organic similarity produces (run
#: dedup_exact first and buckets hold true near-dups only) yet bounded
#: against a million-copy cluster. The SQL oracles state the identical cap,
#: so the guard is part of the checked semantics, not a silent truncation;
#: skipped buckets are surfaced via ``skipped_out``.
DEFAULT_MAX_BUCKET_SIZE = 512



def _own_persist(df: DataFrame, persisted_out: list | None) -> DataFrame:
    """Persist lifecycle routing: the caller owns the handle when it passed
    ``persisted_out``; otherwise it lands in the session cache registry via
    the public ``cache.track`` (whoever drives the action calls
    ``cache.release_all()``)."""
    df = df.persist()
    if persisted_out is not None:
        persisted_out.append(df)
    else:
        cache.track(df)
    return df

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: survivors = min(id) per md5(text) group. Returns
    (fingerprint, keep_id, n_dups)."""
    return (
        df.withColumn("fingerprint", fingerprint_md5_col(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", min_jaccard: float = 0.5,
    materialize_shingles: bool = True,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    persisted_out: list | None = None,
    skipped_out: list | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified by exact Jaccard.
    Returns (doc_a, doc_b, jaccard) with jaccard >= min_jaccard.

    Array-native: signatures via array_min(transform(...)) inside the row
    (zero shuffle), Jaccard via array_intersect on candidate pairs only.
    The shingle table feeds THREE branches (signature, pair-side A, pair-
    side B); without materialization each branch re-shingles the corpus —
    measured 5x slower at 1.2M docs. Here: persist (memory+disk). At
    petabyte scale: write the (doc_id, shingles/signature) relation to a
    table once and join against it — same plan shape, storage-backed.

    Persist lifecycle: the result is lazy, so this function cannot know when
    the cached shingle relation is safe to release. Pass ``persisted_out``
    (a list) to receive the persisted DataFrame and ``unpersist()`` it once
    the returned pairs are materialized; without it the handle lands in the
    session cache registry (``abs_log_spark.cache``) and whoever drives the
    action calls ``cache.release_all()`` — the bench loop does this after
    every query, so repeated runs in one JVM never accumulate storage.

    ``max_bucket_size`` guards the candidate pair expansion against
    mega-buckets (giant dup clusters); ON by default
    (:data:`DEFAULT_MAX_BUCKET_SIZE`). Pass ``skipped_out`` (a list) to
    receive the lazy (band, bucket, n_members) relation of skipped buckets —
    count/log it alongside the pairs so a capped run is never silent; pass
    ``max_bucket_size=None`` to run uncapped.
    """
    # Hashed shingle identities, not strings — see hashed_shingle_ids: one
    # 60-bit long per shingle whose top 32 bits are the minhash base hash.
    # The persisted relation and every downstream shuffle (bucket groupBys,
    # verify joins) carry 8 B/shingle instead of ~40-50 B strings; raw
    # text and raw shingles never leave the scan stage.
    docs_sh = df.select(
        "doc_id", hashed_shingle_ids(F.col(text_col)).alias("hs")
    )
    if materialize_shingles:
        # lifecycle ownership: hand the persisted handle to the caller, or
        # to the session cache registry for whoever drives the action
        docs_sh = _own_persist(docs_sh, persisted_out)
    sig = minhash_signature_arr(
        docs_sh.select(
            "doc_id",
            F.transform(
                F.col("hs"), lambda u: F.shiftright(u, _U_TO_G_SHIFT)
            ).alias("hg"),
        ),
        hash_col="hg",
    )
    bb = band_buckets(sig)
    if max_bucket_size is not None:
        # the cap adds a second consumer (count pre-pass) and optionally a
        # third (skipped_out): persist the tiny (doc_id, band, bucket)
        # relation or every branch re-derives the signatures from shingles
        # (measured 1.5x the whole query). Same lifecycle as docs_sh.
        bb = _own_persist(bb, persisted_out)
        if skipped_out is not None:
            skipped_out.append(oversized_buckets(bb, max_bucket_size))
    cand = candidate_pairs(bb, max_bucket_size)
    # verify over the 60-bit ids: the join ships array<long>, ~5x fewer
    # bytes than shingle strings through the exchange, straight from the
    # cached relation
    jac = jaccard_from_arrays(cand, docs_sh, sh_col="hs")
    return jac.where(F.col("jaccard") >= min_jaccard)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 12,
    chunk_bits: int | None = None,
    materialize_signatures: bool = True,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    persisted_out: list | None = None,
    skipped_out: list | None = None,
) -> DataFrame:
    """Near-dup pairs via SimHash chunk-LSH (any equal ``chunk_bits``-wide
    chunk at the same position -> candidate), verified by Hamming distance.

    64-bit shingle signatures in 4 chunks of 16 (default): each chunk
    position has 65536 buckets, so random docs almost never collide —
    candidate volume is driven by real similarity, not signature-space
    crowding (the 32-bit/8-bit-chunk round-1 setting produced 168,110
    candidates on 1k sf0.01 docs; this setting produces 385 verified pairs).

    ``chunk_bits`` is the recall/cost dial: pairs with hamming < n_chunks
    are GUARANTEED candidates (pigeonhole); narrower chunks raise that
    guarantee but multiply bucket occupancy (64/8 -> 256 buckets/position:
    expect N^2/256 random candidate pairs).

    ``max_bucket_size`` (ON by default, :data:`DEFAULT_MAX_BUCKET_SIZE`)
    guards the chunk-bucket pair expansion exactly as in
    :func:`minhash_lsh_pairs` — an exact-dup mega-cluster collapses to ONE
    bucket per chunk position and would otherwise expand quadratically in a
    single row. ``skipped_out`` receives the lazy skipped-bucket relation
    (band = chunk index); surface its counts, never cap silently.
    """
    from abs_log_spark.functions.similarity import SIMHASH_BITS, SIMHASH_CHUNK_BITS

    chunk_bits = chunk_bits or SIMHASH_CHUNK_BITS
    sig = simhash_signature(df, text_col)
    # sig feeds THREE consumers (chunk buckets, pair-side A, pair-side B);
    # without materialization each branch recomputes every signature —
    # measured 3x the whole-query cost at 10k docs. Same lifecycle contract
    # as minhash_lsh_pairs: pass persisted_out to own the unpersist; at
    # petabyte scale write the signature relation to a table instead.
    if materialize_signatures:
        sig = _own_persist(sig, persisted_out)
    # chunk-LSH reuses the banded candidate machinery: band = chunk index,
    # bucket = the chunk substring (one groupBy + in-row pairing, see
    # similarity.candidate_pairs)
    n_chunks = SIMHASH_BITS // chunk_bits
    chunks = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("band"),
                    F.substring(
                        "simhash", c * chunk_bits + 1, chunk_bits
                    ).alias("bucket"),
                )
                for c in range(n_chunks)
            ])
        ).alias("cb"),
    ).select("doc_id", "cb.band", "cb.bucket")
    if max_bucket_size is not None:
        # same as minhash: the count pre-pass is a second consumer of the
        # chunk relation — persist it rather than re-exploding per branch
        chunks = _own_persist(chunks, persisted_out)
        if skipped_out is not None:
            skipped_out.append(oversized_buckets(chunks, max_bucket_size))
    cand = candidate_pairs(chunks, max_bucket_size)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", hamming_col(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Exact n-gram Jaccard for an explicit candidate-pair set."""
    docs_sh = df.select("doc_id", shingles_col(F.col(text_col)).alias("sh"))
    return jaccard_from_arrays(pairs, docs_sh)


def with_near_dup_copies(df: DataFrame, id_offset: int = 1_000_000, suffix: str = " zqx zqy zqz") -> DataFrame:
    """Test helper: append a mutated near-copy of every doc (id+offset,
    three extra tail words) so near-dup detection has known positives.
    Deterministic; the SQL oracle applies the identical union."""
    mutated = df.select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.concat(F.col("text"), F.lit(suffix)).alias("text"),
    )
    return df.select("doc_id", "text").unionByName(mutated)
