"""Reference-shaped ETL / document-build operators, Spark-first.

Covers the relational operator inventory of SURVEY.md §2 (S/P/D/J/A/W/O/U
rows) as reusable functions. Where the reference iterates pandas rows, the
rebuild is declarative DataFrame code so Catalyst plans pushdown/pruning and
the aggregates get map-side partials for free.

The document build (`build_documents`) is the reference's
nlp/10_product_prep.py pipeline re-keyed for any (key, text) table:
  filter short text → T1 normalize → dedup by (key, clean-text) → per-key
  KPIs → rank reviews per key (stars desc, ts desc, row-order tie-break) →
  keep top N → ordered concat with " \\n" → join KPIs.
Ordered concat uses sort-by-struct + array_join (collect_list alone has no
order guarantee — SURVEY.md A2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_product_udf

# Column-alias resolution (P1) — etl/02_normalize_merge.py:22-38.
TEXT_COLS = ["text", "reviewtext", "review_text", "content", "body"]
STAR_COLS = ["stars", "overall", "rating", "star_rating", "score"]
DATE_COLS = ["ts", "date", "reviewtime", "unixreviewtime", "timestamp"]
SKU_COLS = ["sku", "asin", "product_id", "productid", "item_id"]
ID_COLS = ["id", "review_id", "reviewid", "reviewerid"]


def resolve_aliases(df: DataFrame) -> DataFrame:
    """First-present alias wins, renamed to the canonical column (P1)."""
    lower = {c.lower(): c for c in df.columns}
    out = df
    for canon, cands in [("text", TEXT_COLS), ("stars", STAR_COLS),
                         ("ts", DATE_COLS), ("sku", SKU_COLS),
                         ("id", ID_COLS)]:
        if canon in df.columns:
            continue
        for cand in cands:
            if cand in lower:
                out = out.withColumnRenamed(lower[cand], canon)
                break
    return out


def valid_stars(df: DataFrame, col: str = "stars") -> DataFrame:
    """P2 — round to int, keep 1..5 (etl/02:47-51)."""
    return (df.withColumn(col, F.round(F.col(col)).cast("int"))
            .filter(F.col(col).between(1, 5)))


def union_dedup_by_id(dfs: list[DataFrame], id_col: str = "id") -> DataFrame:
    """U1+U2+D1 — unionByName then dropDuplicates(id) (etl/02:128-139)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.dropDuplicates([id_col])


def per_key_kpis(df: DataFrame, key: str = "sku") -> DataFrame:
    """A1 — groupBy(key).agg(count, avg stars round 3, max ts)
    (nlp/10:55-60, 82)."""
    return df.groupBy(key).agg(
        F.count("id").alias("n_reviews"),
        F.round(F.avg("stars"), 3).alias("avg_stars"),
        F.max("ts").alias("last_ts"))


def rank_reviews_per_key(df: DataFrame, key: str = "sku",
                         max_per_key: int = 80) -> DataFrame:
    """W1 — row_number over (stars desc NULLS LAST, ts desc NULLS LAST,
    id asc) ≤ N. The id tie-break replaces the incidental stable-sort order
    pandas leaves behind (nlp/10:68-71; SURVEY.md quirk Q7)."""
    w = (Window.partitionBy(key)
         .orderBy(F.desc_nulls_last("stars"), F.desc_nulls_last("ts"),
                  F.asc("id")))
    return (df.withColumn("__rank", F.row_number().over(w))
            .filter(F.col("__rank") <= max_per_key))


def ordered_text_concat(df: DataFrame, key: str = "sku",
                        text_col: str = "__clean",
                        sep: str = " \n") -> DataFrame:
    """A2 — per-key concat of texts in rank order: sort structs inside the
    group, then array_join (deterministic, unlike bare collect_list)."""
    return (df.groupBy(key)
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("__rank").alias("r"),
                                 F.col(text_col).alias("t")))),
                    lambda s: s["t"]),
                sep).alias("agg_text")))


def build_documents(reviews: DataFrame, key: str = "sku",
                    max_per_key: int = 80, min_len: int = 10) -> DataFrame:
    """The full nlp/10 document build, distributed."""
    df = reviews.withColumn("__clean", normalize_product_udf(F.col("text")))
    df = df.filter(F.length("__clean") >= min_len)
    # deterministic dedup: keep the min-id row per (key, clean text). The
    # reference keeps pandas file order (nlp/10:51), which has no distributed
    # analogue — min-id is our documented determinism hardening (quirk Q7).
    wdup = Window.partitionBy(key, "__clean").orderBy(F.asc("id"))
    df = (df.withColumn("__dup_rn", F.row_number().over(wdup))
          .filter(F.col("__dup_rn") == 1).drop("__dup_rn"))
    kpis = per_key_kpis(df, key)
    ranked = rank_reviews_per_key(df, key, max_per_key)
    agg = ordered_text_concat(ranked, key)
    return (kpis.join(agg, key, "left")
            .withColumn("agg_text", F.coalesce("agg_text", F.lit(""))))


# Reference pick-order for the composed ingest (etl/02_normalize_merge.py:
# 21-26) — note it differs slightly from the engine's generic alias lists
# above; clean_source follows the reference exactly.
REF_TEXT_COLS = ["text", "reviewtext", "content", "body", "review_body",
                 "review_text"]
REF_STAR_COLS = ["stars", "rating", "overall", "score", "star_rating"]
REF_DATE_COLS = ["date", "reviewtime", "created_at", "timestamp",
                 "unixreviewtime", "ts"]
REF_SKU_COLS = ["sku", "asin", "product_id", "item_id", "productid"]
REF_ID_COLS = ["id", "review_id", "reviewerid"]


def clean_source(df: DataFrame, source_name: str) -> DataFrame:
    """The reference's per-source ``clean_df`` (etl/02:16-85), Spark-first:
    alias pick → text strip → stars round + keep 1..5 → DUAL timestamp
    coercion (a date column whose name contains 'unix' parses as unix
    SECONDS, any other as a timestamp string; both UTC — etl/02:57-63) →
    id = existing non-blank id else sha256(text|ts-iso|sku)[:32]
    (etl/02:12-14, 69-76) → len(text) ≥ 10 → dedup by id. The reference's
    drop_duplicates keeps pandas file order; the distributed analogue
    keeps the first row by (ts NULLS LAST, text) — a documented
    determinism hardening (cf. quirk Q7). Sub-second timestamps are out of
    scope (the reference sources carry second resolution)."""
    lower = {c.lower(): c for c in df.columns}

    def pick(cands: list[str]) -> str | None:
        for c in cands:
            if c in lower:
                return lower[c]
        return None

    c_text, c_star = pick(REF_TEXT_COLS), pick(REF_STAR_COLS)
    if c_text is None or c_star is None:
        raise ValueError(f"[{source_name}] missing required columns; "
                         f"have: {df.columns}")
    c_date, c_sku, c_id = (pick(REF_DATE_COLS), pick(REF_SKU_COLS),
                           pick(REF_ID_COLS))

    text = F.trim(F.col(c_text).cast("string"))
    stars = F.round(F.col(c_star).cast("double")).cast("int")
    if c_date is None:
        ts = F.lit(None).cast("timestamp")
    elif "unix" in c_date.lower():
        ts = F.to_timestamp(F.col(c_date).cast("long"))
    else:
        ts = F.to_timestamp(F.col(c_date).cast("string"))
    sku = (F.col(c_sku).cast("string") if c_sku
           else F.lit(None).cast("string"))
    # python isoformat() of a UTC pandas timestamp renders "+00:00"
    # (java's XXX pattern would render "Z" — so the offset is a literal)
    ts_iso = F.when(
        ts.isNotNull(),
        F.concat(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
                 F.lit("+00:00"))).otherwise(F.lit(""))
    sid = F.sha2(F.concat_ws("|", F.coalesce(text, F.lit("")), ts_iso,
                             F.coalesce(sku, F.lit(""))), 256).substr(1, 32)
    raw_id = (F.col(c_id).cast("string") if c_id
              else F.lit(None).cast("string"))
    id_col = F.when(F.trim(F.coalesce(raw_id, F.lit(""))) != "", raw_id) \
        .otherwise(sid)

    out = df.select(id_col.alias("id"), sku.alias("sku"), ts.alias("ts"),
                    stars.alias("stars"), text.alias("text"),
                    F.lit(source_name).alias("source"))
    out = (out.filter(F.col("stars").between(1, 5))
           .filter(F.length("text") >= 10))
    w = Window.partitionBy("id").orderBy(F.asc_nulls_last("ts"),
                                         F.asc("text"))
    return (out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def normalize_merge(sources: list[tuple[str, DataFrame]]) -> DataFrame:
    """The composed etl/02 ingest: clean each source, union, dedup by id
    with FIRST-SOURCE-WINS (the reference concatenates kaggle before snap
    and drop_duplicates keeps the first — etl/02:136-139; here the source
    list order is the priority, made deterministic with a window)."""
    cleaned = []
    for prio, (name, df) in enumerate(sources):
        cleaned.append(clean_source(df, name)
                       .withColumn("__prio", F.lit(prio)))
    uni = cleaned[0]
    for d in cleaned[1:]:
        uni = uni.unionByName(d)
    w = Window.partitionBy("id").orderBy(F.asc("__prio"))
    return (uni.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn", "__prio"))
