"""Deduplication operators — exact and near-duplicate, at shuffle scale.

The reference deduplicates twice: by id (etl/02_normalize_merge.py:80,139)
and by (sku, normalized text) (nlp/10_product_prep.py:51). At web scale
"normalized text equality" must become hash equality (never shuffle raw
text), and near-dup families need sub-quadratic candidate generation. All
candidate generation here is JVM-side; only verification math that needs
numpy lives in Arrow UDFs.

Operators:
  * exact_dedup_by_fingerprint — hash-groupBy keep-min-id (one shuffle of
    (hash, id) pairs only; text never shuffles)
  * token_shingles             — n-gram shingles as a JVM expression
  * ngram_jaccard_pairs        — set-Jaccard over shingles for candidate
    pairs (blocked self-join)
  * minhash_signatures         — k-permutation MinHash over shingle hashes,
    entirely JVM (k min-aggregations over the portable 32-bit hash)
  * minhash_lsh_candidates     — band the signatures, bucket-join to
    generate near-dup candidate pairs (the standard LSH join: one shuffle
    keyed by (band, band-hash))
  * simhash near-dup           — see textstats.simhash64_udf + hamming
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import portable_hash32

# Deterministic MinHash permutation parameters: h_i(x) = (a_i·x + b_i) mod p.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from a small LCG — identical in
    any runtime (used to generate literal constants for SQL oracles too)."""
    params = []
    state = seed
    for _ in range(k):
        state = (1103515245 * state + 12345) % (2**31)
        a = state % (MINHASH_PRIME - 1) + 1
        state = (1103515245 * state + 12345) % (2**31)
        b = state % MINHASH_PRIME
        params.append((a, b))
    return params


def exact_dedup_by_fingerprint(df: DataFrame, id_col: str,
                               fingerprint_col: str) -> DataFrame:
    """Keep the lowest-id row per fingerprint. One shuffle of (hash, id)."""
    w = Window.partitionBy(fingerprint_col).orderBy(F.col(id_col).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def token_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles of a token array (JVM higher-order fns)."""
    count = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)))
    return F.array_distinct(grams)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, shingle_col: str,
                        threshold: float = 0.0) -> DataFrame:
    """All-pairs Jaccard over shingle sets (use only on a blocked/bounded
    candidate set; LSH below generates candidates at scale)."""
    a = df.select(F.col(id_col).alias("id_a"),
                  F.col(shingle_col).alias("sh_a"))
    b = df.select(F.col(id_col).alias("id_b"),
                  F.col(shingle_col).alias("sh_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (pairs.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_signatures(df: DataFrame, id_col: str, shingle_col: str,
                       k: int = 16, seed: int = 42) -> DataFrame:
    """MinHash signature per document: explode shingles → portable 32-bit
    hash → k parallel min-aggregations of (a·x + b) mod p. Pure JVM; the
    same arithmetic is emitted as SQL for the DuckDB oracle."""
    params = minhash_params(k, seed)
    exploded = df.select(F.col(id_col).alias("mh_id"),
                         F.explode(shingle_col).alias("shingle"))
    # reduce the 32-bit hash mod p BEFORE multiplying so a·h stays < 2^62
    # (int64-safe in both Spark ANSI mode and DuckDB)
    h = portable_hash32(F.col("shingle")) % MINHASH_PRIME
    aggs = [F.min((F.lit(a) * h + F.lit(b)) % MINHASH_PRIME).alias(f"mh_{i}")
            for i, (a, b) in enumerate(params)]
    return exploded.groupBy("mh_id").agg(*aggs)


def minhash_lsh_candidates(sigs: DataFrame, bands: int = 4,
                           rows_per_band: int = 4,
                           max_bucket_size: int | None = 10_000,
                           metrics: dict | None = None) -> DataFrame:
    """Band the signature into `bands` groups of `rows_per_band` values and
    bucket-join: docs sharing ALL values of any band become a candidate
    pair. One shuffle keyed by (band, band-values) — joining on the values
    themselves (an array key) rather than a hash of them keeps the
    candidate set exactly the LSH definition (no cross-bucket hash
    collisions) and makes the operator expressible in ANSI SQL for the
    DuckDB oracle.

    ``max_bucket_size`` bounds the worst case: the within-bucket
    self-join is quadratic in bucket size, and a degenerate bucket
    (boilerplate-identical pages at web scale — the same cookie banner on
    10^7 urls) would emit ~n²/2 pairs from one reducer. Buckets larger
    than the cap are SKIPPED, keeping the operator sub-quadratic
    unconditionally. Recall note: members of a skipped bucket are
    (near-)identical by construction — that is exact-duplicate territory,
    handled upstream by ``exact_dedup_by_fingerprint`` (and any true
    near-dup pair in a skipped bucket still has ``bands - 1`` other
    chances to collide in a smaller bucket). Pass ``metrics`` (a dict) to
    receive ``lsh_skipped_buckets`` / ``lsh_skipped_rows`` /
    ``lsh_max_bucket_size`` — the numbers an index-build snapshot would
    log as lineage metrics; computing them costs one extra small action,
    so they are opt-in. ``max_bucket_size=None`` disables the bound."""
    buckets = sigs.select(
        "mh_id",
        F.explode(F.array(*[
            F.struct(F.lit(band).alias("band"),
                     F.array(*[F.col(f"mh_{band * rows_per_band + r}")
                               for r in range(rows_per_band)])
                     .alias("bucket"))
            for band in range(bands)])).alias("bb"))
    buckets = buckets.select("mh_id", "bb.band", "bb.bucket")
    if max_bucket_size is not None:
        sizes = buckets.groupBy("band", "bucket").agg(
            F.count("*").alias("__bn"))
        if metrics is not None:
            over = (sizes.agg(
                F.sum(F.when(F.col("__bn") > max_bucket_size, 1)
                      .otherwise(0)).alias("skipped"),
                F.sum(F.when(F.col("__bn") > max_bucket_size,
                             F.col("__bn")).otherwise(0)).alias("rows"),
                F.max("__bn").alias("mx")).collect()[0])
            metrics["lsh_skipped_buckets"] = int(over["skipped"] or 0)
            metrics["lsh_skipped_rows"] = int(over["rows"] or 0)
            metrics["lsh_max_bucket_size"] = int(over["mx"] or 0)
        keep = sizes.filter(F.col("__bn") <= max_bucket_size) \
            .select("band", "bucket")
        # same shuffle key as the self-join below — co-partitioned, no
        # extra exchange of the big side
        buckets = buckets.join(keep, ["band", "bucket"], "left_semi")
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (left.join(right, ["band", "bucket"])
            .filter(F.col("l.mh_id") < F.col("r.mh_id"))
            .select(F.col("l.mh_id").alias("id_a"),
                    F.col("r.mh_id").alias("id_b"))
            .distinct())
