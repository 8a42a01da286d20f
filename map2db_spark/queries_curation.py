"""Curation-pipeline query surface: PII redaction, Gopher-style
repetition filters, benchmark decontamination, deterministic
train/val/test split, domain-mixture sampling, and sequence packing.

Implementations live in functions/curation.py; this module declares
the (Spark plan, DuckDB oracle) pairs.  Shared constants (hash salts,
split thresholds, mixture rates, context length) come from the same
Python literals on both sides so the engines cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map2db_spark.functions import curation as C
from map2db_spark.queries_pipeline import _TOKS_SQL
from map2db_spark.registry import query
from map2db_spark.tables import Tables


def _grams_sql(n: int, distinct: bool = True) -> str:
    """DuckDB n-word-shingle expression mirroring curation.word_ngrams_all
    / dedup.word_shingles."""
    inner = (
        f"list_transform(generate_series(1, len({_TOKS_SQL}) - {n - 1}), "
        f"i -> array_to_string(list_slice({_TOKS_SQL}, i, i + {n - 1}), ' '))"
    )
    return f"list_distinct({inner})" if distinct else inner


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# The synthetic corpus carries no PII, so both engines append the same
# crafted contact line (keyed to doc_id) and must then scrub it
# identically.
def _pii_suffix_spark() -> list:
    # built lazily: Column construction needs an active SparkContext
    return [
        F.lit(" reach: user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1 555-123-"),
        F.col("doc_id").cast("string"),
        F.lit(" ip 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    ]
_PII_SUFFIX_SQL = (
    "' reach: user' || CAST(doc_id AS VARCHAR) || '@mail.example or "
    "+1 555-123-' || CAST(doc_id AS VARCHAR) || ' ip 10.0.0.' || "
    "CAST(doc_id % 256 AS VARCHAR)"
)


@query(
    "c_pii_redaction",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id, text || {_PII_SUFFIX_SQL} AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{C.EMAIL_RE}'))
              + len(regexp_extract_all(t, '{C.IPV4_RE}'))
              + len(regexp_extract_all(t, '{C.PHONE_RE}')) AS BIGINT) AS n_pii,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{C.EMAIL_RE}', '<EMAIL>', 'g'),
               '{C.IPV4_RE}', '<IP>', 'g'),
               '{C.PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM pii WHERE doc_id < 100
    """,
    tags=("curation", "pii", "pipeline"),
)
def c_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / IPv4 / intl phone -> typed placeholders) as
    a pure regexp projection, value-checked via md5 of the redacted
    text.  Row-local: the 100 TB sweep is one map stage, no shuffle,
    no Python."""
    docs = Tables(spark, sf_dir).documents.where(F.col("doc_id") < 100)
    t = F.concat(F.col("text"), *_pii_suffix_spark())
    return docs.select(
        "doc_id",
        C.pii_hits(t).cast("long").alias("n_pii"),
        F.md5(C.redact_pii(t).cast("binary")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Repetition / quality filters
# ---------------------------------------------------------------------------


@query(
    "c_repetition_filters",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             len({_TOKS_SQL}) AS n_tokens,
             round(CASE WHEN len({_grams_sql(3, False)}) = 0 THEN 0.0
                   ELSE 1.0 - len({_grams_sql(3)})
                        / len({_grams_sql(3, False)}) END, 6)
               AS dup3_frac,
             round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                   / greatest(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 1), 6)
               AS sym_ratio
      FROM documents WHERE doc_id < 60
    ),
    freq AS (
      SELECT doc_id, round(max(c) / sum(c), 6) AS top_tok_frac
      FROM (
        SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS t
              FROM documents WHERE doc_id < 60)
        GROUP BY doc_id, t
      ) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, dup3_frac, sym_ratio,
           top_tok_frac,
           (dup3_frac <= 0.3 AND sym_ratio <= 0.5 AND top_tok_frac <= 0.2)
             AS keep
    FROM base JOIN freq USING (doc_id)
    """,
    tags=("curation", "quality", "pipeline"),
)
def c_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality metrics (Rae et al. 2021):
    duplicate-3-gram fraction, symbol-to-word ratio, most-frequent-
    token share, and the resulting keep flag.  dup3/sym are row-local
    (map stage); the token-frequency branch is the one explode+agg and
    joins back on doc_id."""
    docs = Tables(spark, sf_dir).documents.where(F.col("doc_id") < 60)
    rowlocal = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        C.dup_ngram_fraction(F.col("text"), 3).alias("dup3_frac"),
        C.symbol_word_ratio(F.col("text")).alias("sym_ratio"),
    )
    freq = (
        docs.select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
        )
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_tok_frac"))
    )
    return rowlocal.join(freq, "doc_id").select(
        "doc_id", "n_tokens", "dup3_frac", "sym_ratio", "top_tok_frac",
        (
            (F.col("dup3_frac") <= 0.3)
            & (F.col("sym_ratio") <= 0.5)
            & (F.col("top_tok_frac") <= 0.2)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

_DECON_N = 8


@query(
    "c_decontaminate",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, unnest({_grams_sql(_DECON_N)}) AS gram FROM documents
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
    FROM (SELECT * FROM grams WHERE doc_id % 17 <> 0) t
    JOIN bench USING (gram)
    GROUP BY doc_id
    """,
    tags=("curation", "decontamination", "pipeline"),
)
def c_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style n-gram-collision decontamination: training docs
    sharing any 8-gram with the held-out benchmark slice (doc_id % 17
    == 0 stands in for an eval set; production uses 13-grams).  The
    benchmark shingle set broadcasts — the corpus side never
    shuffles."""
    docs = Tables(spark, sf_dir).documents
    bench = docs.where(F.col("doc_id") % 17 == 0)
    train = docs.where(F.col("doc_id") % 17 != 0)
    return C.contaminated_ids(train, bench, n=_DECON_N)


# ---------------------------------------------------------------------------
# Deterministic split + mixture
# ---------------------------------------------------------------------------

_SPLIT_H_SQL = "substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)"


@query(
    "c_split_assign",
    oracle=f"""
    SELECT CASE WHEN {_SPLIT_H_SQL} < '{C.TRAIN_LT}' THEN 'train'
                WHEN {_SPLIT_H_SQL} < '{C.VAL_LT}' THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM documents GROUP BY split
    """,
    tags=("curation", "split", "pipeline"),
)
def c_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-threshold train/val/test split (240/8/8 of
    256): membership is a row-local pure function of doc_id, so it is
    identical at any parallelism and stable when the corpus grows —
    properties rand(seed) cannot give."""
    docs = Tables(spark, sf_dir).documents
    return (
        docs.select(C.split_assign(F.col("doc_id")).alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


_MIX_RATES = {"src0": "40", "src1": "80"}  # 64/256, 128/256
_MIX_DEFAULT = "c0"  # 192/256

_MIX_CASE_SQL = (
    "CASE source "
    + " ".join(f"WHEN '{d}' THEN '{lt}'" for d, lt in _MIX_RATES.items())
    + f" ELSE '{_MIX_DEFAULT}' END"
)


@query(
    "c_domain_mixing",
    oracle=f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (
             substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2)
               < {_MIX_CASE_SQL}
           ) AS BIGINT) AS n_kept
    FROM documents GROUP BY source
    """,
    tags=("curation", "mixing", "pipeline"),
)
def c_domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture downsampling: per-source md5-threshold keep rates
    (src0 25%, src1 50%, default 75%) — how a pipeline hits a target
    data mixture with a row-local predicate instead of a shuffle-heavy
    stratified sample."""
    docs = Tables(spark, sf_dir).documents
    keep = C.mix_keep(
        F.col("doc_id"), F.col("source"), _MIX_RATES, _MIX_DEFAULT
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(keep).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

_CTX_LEN = 512
_N_SHARDS = 4


@query(
    "c_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(doc_id % {_N_SHARDS} AS INT) AS shard,
             len({_TOKS_SQL}) AS n_tokens
      FROM documents
    ),
    p AS (
      SELECT shard, doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM d
    )
    SELECT shard, CAST(floor(prev / {_CTX_LEN}) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM p GROUP BY shard, bin
    """,
    tags=("curation", "packing", "pipeline"),
)
def c_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing into 512-token context bins,
    sharded by doc_id % 4 so the running prefix sum is partition-
    parallel (one shard per output file at scale; a global running sum
    would serialize the corpus through one task)."""
    docs = Tables(spark, sf_dir).documents.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    packed = C.pack_sequences(
        docs, ctx_len=_CTX_LEN, n_shards=_N_SHARDS
    )
    return packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )


# ---------------------------------------------------------------------------
# Stratified sampling
# ---------------------------------------------------------------------------

_STRAT_N = 5


@query(
    "c_stratified_sample",
    oracle=f"""
    SELECT lang, doc_id
    FROM (
      SELECT lang, doc_id, row_number() OVER (
        PARTITION BY lang
        ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
      ) AS rn
      FROM documents
    ) WHERE rn <= {_STRAT_N}
    """,
    tags=("curation", "sampling", "pipeline"),
)
def c_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sample: precisely N docs per language stratum,
    chosen by md5 order — deterministic on any engine at any
    parallelism (df.sampleBy is probabilistic AND partition-layout-
    dependent; this is neither).  One shuffle on the stratum key; at
    scale the window never materializes more than each stratum's
    partition."""
    from pyspark.sql.window import Window

    docs = Tables(spark, sf_dir).documents
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")).cast("binary")),
        F.col("doc_id"),
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= _STRAT_N)
        .select("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# Embedding norm statistics (exact integer arithmetic)
# ---------------------------------------------------------------------------


@query(
    "v_norm_stats",
    oracle="""
    WITH iv AS (
      SELECT label,
             list_sum(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                    * CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
               AS norm2
      FROM embeddings
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(norm2) AS BIGINT) AS sum_norm2,
           CAST(min(norm2) AS BIGINT) AS min_norm2,
           CAST(max(norm2) AS BIGINT) AS max_norm2
    FROM iv GROUP BY label
    """,
    tags=("embedding", "stats", "pipeline"),
)
def v_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding L2-norm-squared statistics over integer-
    scaled components: sums of int64 are order-independent, so even the
    SUM aggregate is value-exact across engines — the pattern for any
    float statistic that must be reproducible on a 1000-executor
    cluster (scale first, aggregate integers, divide at the end)."""
    from map2db_spark.functions.similarity import int_dot, int_vec

    emb = Tables(spark, sf_dir).embeddings
    norm2 = int_dot(int_vec(F.col("embedding")), int_vec(F.col("embedding")))
    return (
        emb.select("label", norm2.alias("norm2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("norm2").alias("sum_norm2"),
            F.min("norm2").alias("min_norm2"),
            F.max("norm2").alias("max_norm2"),
        )
    )


_TEMP_FRAC_SQL = (
    "(CAST(concat('0x', substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    " AS BIGINT) * 1.0 / 4294967296)"
)


@query(
    "c_temperature_sampling",
    oracle=f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    r AS (
      SELECT lang, n, sqrt((SELECT min(n) FROM c) * 1.0 / n) AS rate FROM c
    )
    SELECT d.lang, r.n,
           CAST(sum(CASE WHEN {_TEMP_FRAC_SQL} < r.rate THEN 1 ELSE 0 END)
                AS BIGINT) AS kept,
           round(r.rate, 6) AS rate
    FROM documents d JOIN r USING (lang)
    GROUP BY d.lang, r.n, r.rate
    """,
    tags=("curation", "sampling", "pipeline"),
)
def c_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (alpha=0.5): the kept
    corpus follows p^alpha, i.e. rate_l = sqrt(n_min/n_l), so the
    rarest language keeps everything and overrepresented ones shed
    mass.  Plan shape at 100 TB: one tiny per-language count aggregate
    broadcast back onto the corpus, then a row-local md5-draw filter —
    no corpus shuffle at all.  sqrt is IEEE-correctly-rounded in both
    engines, and the draw is an exact dyadic rational, so keep
    decisions are bit-identical."""
    docs = Tables(spark, sf_dir).documents
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    n_min = counts.agg(F.min("n").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "lang", "n", F.sqrt(F.col("n_min") / F.col("n")).alias("rate")
    )
    joined = docs.select("lang", "doc_id").join(F.broadcast(rates), "lang")
    return joined.groupBy("lang").agg(
        F.max("n").alias("n"),
        F.sum(
            C.temperature_keep(F.col("doc_id"), F.col("rate")).cast("long")
        ).alias("kept"),
        F.round(F.max("rate"), 6).alias("rate"),
    )


_URL_SQL = (
    "concat('https://', source, '.Example.com/page/', CAST(doc_id % 40 AS VARCHAR),"
    " CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,"
    " CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed#frag' ELSE '' END)"
)


@query(
    "c_url_canonical_dedup",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    canon AS (
      SELECT doc_id,
             lower(regexp_replace(regexp_replace(url, '[?#].*$', ''),
                                  '/+$', '')) AS canonical_url
      FROM u
    )
    SELECT canonical_url,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM canon
    GROUP BY canonical_url
    HAVING count(*) > 1
    """,
    tags=("curation", "dedup", "url", "pipeline"),
)
def c_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the first pass of web-corpus
    cleaning: strip query/fragment, collapse trailing slashes,
    lowercase, then first-wins (min doc_id) per canonical URL.  The
    synthetic URLs are a closed-form function of (source, doc_id) so
    the oracle builds the identical input; mixed case, utm params and
    trailing slashes all collapse.  One shuffle on the canonical URL;
    canonicalization itself is pure column expressions (no UDF)."""
    docs = Tables(spark, sf_dir).documents
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".Example.com/page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, "/").otherwise(""),
        F.when(F.col("doc_id") % 3 == 0, "?utm_source=feed#frag").otherwise(""),
    )
    canon = docs.select(
        "doc_id", C.canonicalize_url(url).alias("canonical_url")
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .where(F.col("n_dups") > 1)
    )
