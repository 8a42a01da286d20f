"""Training-data-pipeline operator surface: dedup (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding cosine), similarity search (brute
top-k + LSH buckets), text analysis (tokens, language-ID, quality,
fingerprint), multimodal plumbing, and the as-of join.

Implementations live in functions/ and operators/asof.py; this module
declares the (Spark plan, DuckDB oracle) pairs.  Oracles that need
shared constants (LSH hyperplanes, stopword lists, simhash bit count)
are generated from the same Python literals the Spark plan uses, so
the two engines cannot drift.

The synthetic corpus contains natural NEAR-duplicate documents (text
jaccard >= 0.9 pairs) but no exact duplicates and no near-duplicate
embeddings; where a strategy needs positives the corpus doesn't have
(exact dedup, embedding near-dup), the query builds documents UNION
ALL shifted copies (id + 10000) for known ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from map2db_spark.functions import dedup as D
from map2db_spark.functions import similarity as S
from map2db_spark.functions import text as T
from map2db_spark.registry import query
from map2db_spark.tables import Tables

_SHIFT = 10_000

_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents"
    f" UNION ALL SELECT doc_id + {_SHIFT} AS doc_id, text FROM documents"
)

_TOKS_SQL = r"regexp_split_to_array(trim(text), '\s+')"


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Tables(spark, sf_dir).documents.select("doc_id", "text")
    return docs.unionByName(
        docs.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "text")
    )


def _hex_bigint(expr: str, tag: str, nhex: int = 8) -> str:
    """DuckDB md5-derived pseudo-random BIGINT (the registry idiom)."""
    return (
        f"CAST(concat('0x', substr(md5('{tag}' || CAST({expr} AS VARCHAR)),"
        f" 1, {nhex})) AS BIGINT)"
    )


def _hexcol(col, tag: str, nhex: int = 8):
    """Spark twin of :func:`_hex_bigint` (col may be a Column)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), c.cast("string"))), 1, nhex),
        16,
        10,
    ).cast("long")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "t_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents WHERE doc_id < 100
    """,
    bench=True,
    tags=("text", "pipeline"),
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + rolling-hash document fingerprint: one
    projection, no shuffle, whole-stage codegen."""
    docs = Tables(spark, sf_dir).documents
    return docs.where(F.col("doc_id") < 100).select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        T.fingerprint(F.col("text")).alias("fingerprint"),
    )


@query(
    "t_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                AS INT) AS n_bpe_tokens
    FROM documents WHERE doc_id < 100
    """,
    tags=("text", "pipeline"),
)
def t_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counting (letter runs / digit runs /
    single glyphs) — the cheap corpus-pass length proxy."""
    docs = Tables(spark, sf_dir).documents
    return docs.where(F.col("doc_id") < 100).select(
        "doc_id", T.bpe_token_count(F.col("text")).cast("int").alias("n_bpe_tokens")
    )


@query(
    "t_rolling_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_TOKS_SQL},
                 t -> CAST(length(t) * 256 + ascii(t) AS BIGINT))),
             (acc, v) -> (acc * 31 + v) % 1000000007
           ) AS rolling_fp
    FROM documents WHERE doc_id < 100
    """,
    tags=("text", "pipeline"),
)
def t_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the token stream,
    value-matched against the SQL fold (identical integer arithmetic)."""
    docs = Tables(spark, sf_dir).documents
    return docs.where(F.col("doc_id") < 100).select(
        "doc_id", T.rolling_fingerprint(F.col("text")).alias("rolling_fp")
    )


def _langid_expr_sql() -> str:
    """The detect_language() column as one SQL expression (replicates
    the Spark-side fold exactly: strict > keeps the earlier lang)."""
    score = {
        lang: (
            f"len(list_filter({_TOKS_SQL}, t -> t IN "
            f"({', '.join(repr(w) for w in ws)})))"
        )
        for lang, ws in T.STOPWORDS.items()
    }
    langs = list(T.STOPWORDS)
    best_l, best_s = f"'{langs[0]}'", score[langs[0]]
    for lang in langs[1:]:
        s = score[lang]
        best_l = f"(CASE WHEN {s} > {best_s} THEN '{lang}' ELSE {best_l} END)"
        best_s = f"(CASE WHEN {s} > {best_s} THEN {s} ELSE {best_s} END)"
    return f"CASE WHEN {best_s} > 0 THEN {best_l} ELSE 'und' END"


_QUALITY_EXPR_SQL = f"""CAST(round(
        (CASE WHEN len({_TOKS_SQL}) BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
        + (CASE WHEN len(list_filter({_TOKS_SQL},
               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
               / len({_TOKS_SQL}) BETWEEN 0.01 AND 0.6 THEN 0.3 ELSE 0.0 END)
        + (CASE WHEN list_sum(list_transform({_TOKS_SQL}, t -> length(t)))
               / len({_TOKS_SQL}) BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END),
        2) AS DOUBLE)"""


def _langid_oracle() -> str:
    return f"""
    SELECT detected, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT {_langid_expr_sql()} AS detected
      FROM documents
    )
    GROUP BY detected
    """


@query("t_language_id", oracle=_langid_oracle(), tags=("text", "pipeline"))
def t_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-inventory language-ID heuristic, histogrammed."""
    docs = Tables(spark, sf_dir).documents
    return (
        docs.select(T.detect_language(F.col("text")).alias("detected"))
        .groupBy("detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "t_quality_scores",
    oracle=f"""
    WITH q AS (
      SELECT CAST(round(
        (CASE WHEN len({_TOKS_SQL}) BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
        + (CASE WHEN len(list_filter({_TOKS_SQL},
               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
               / len({_TOKS_SQL}) BETWEEN 0.01 AND 0.6 THEN 0.3 ELSE 0.0 END)
        + (CASE WHEN list_sum(list_transform({_TOKS_SQL}, t -> length(t)))
               / len({_TOKS_SQL}) BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END),
        2) AS DOUBLE) AS quality
      FROM documents
    )
    SELECT quality, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY quality
    """,
    tags=("text", "pipeline"),
)
def t_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality heuristic, histogrammed."""
    docs = Tables(spark, sf_dir).documents
    return (
        docs.select(T.quality_score(F.col("text")).alias("quality"))
        .groupBy("quality")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "d_exact_dedup",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    g AS (
      SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM corpus GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT)      AS n_groups,
           CAST(sum(n_copies) AS BIGINT) AS n_docs,
           CAST(max(n_copies) AS BIGINT) AS max_copies,
           CAST(min(keep_id) AS BIGINT)  AS first_keep
    FROM g
    """,
    tags=("dedup", "pipeline"),
)
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: every doc exists twice in
    the test corpus, so 500 groups of exactly 2."""
    groups = D.exact_dedup(_corpus(spark, sf_dir))
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_copies").cast("long").alias("n_docs"),
        F.max("n_copies").cast("long").alias("max_copies"),
        F.min("keep_id").alias("first_keep"),
    )


_SHINGLES_SQL = (
    "list_distinct(list_transform("
    f"generate_series(1, len({_TOKS_SQL}) - 2), "
    f"i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 2), ' ')))"
)


def _minhash_cte_body(num_hashes: int = 8, band_size: int = 2,
                      bucket_cap: int = 50, corpus_sql: str = "documents",
                      include_uncapped: bool = False) -> str:
    """Shared WITH-body of the MinHash/LSH SQL reimplementation:
    shingles -> signatures -> capped band buckets -> candidate pairs
    -> exact intersections + sizes.  Used by the d_minhash_lsh oracle
    and the LSH recall-evaluation oracles.  ``corpus_sql`` swaps the
    document source (the skewed-fixture recall eval synthesizes a
    hot-template corpus); ``include_uncapped`` additionally emits a
    ``cand_nocap`` CTE (candidates with no bucket cap) for
    with/without-cap recall comparison."""
    mins = ", ".join(
        f"min(substr(md5(shingle), {i * 4 + 1}, 4)) AS mh{i}"
        for i in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    band_cols = ", ".join(
        "concat_ws('#', "
        + ", ".join(f"mh{b * band_size + r}" for r in range(band_size))
        + f") AS band{b}"
        for b in range(n_bands)
    )
    band_long = "\n      UNION ALL ".join(
        f"SELECT sid, {b} AS band_idx, band{b} AS bk FROM bands"
        for b in range(n_bands)
    )
    corpus_ref = (
        corpus_sql if corpus_sql.strip().isidentifier() else f"({corpus_sql})"
    )
    uncapped = """,
    cand_nocap AS (
      SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
      FROM bl a JOIN bl b
        ON a.band_idx = b.band_idx AND a.bk = b.bk AND a.sid < b.sid
    )""" if include_uncapped else ""
    return f"""
    WITH sh AS (
      SELECT doc_id AS sid, unnest({_SHINGLES_SQL}) AS shingle
      FROM {corpus_ref}
    ),
    sig AS (SELECT sid, {mins} FROM sh GROUP BY sid),
    bands AS (SELECT sid, {band_cols} FROM sig),
    bl AS (
      {band_long}
    ),
    blc AS (
      SELECT bl.* FROM bl JOIN (
        SELECT band_idx, bk FROM bl GROUP BY band_idx, bk
        HAVING count(*) <= {bucket_cap}
      ) keep USING (band_idx, bk)
    ),
    cand AS (
      SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
      FROM blc a JOIN blc b
        ON a.band_idx = b.band_idx AND a.bk = b.bk AND a.sid < b.sid
    ),
    sizes AS (SELECT sid, count(DISTINCT shingle) AS n FROM sh GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY 1, 2
    ){uncapped}"""


def _minhash_oracle(num_hashes: int = 8, band_size: int = 2,
                    threshold: float = 0.9, bucket_cap: int = 50) -> str:
    return f"""
    {_minhash_cte_body(num_hashes, band_size, bucket_cap)}
    SELECT id_a, id_b,
           round(shared / (na.n + nb.n - shared), 6) AS jaccard
    FROM inter JOIN cand USING (id_a, id_b)
               JOIN sizes na ON na.sid = id_a
               JOIN sizes nb ON nb.sid = id_b
    WHERE round(shared / (na.n + nb.n - shared), 6) >= {threshold}
    """


@query(
    "d_minhash_lsh",
    oracle=_minhash_oracle(),
    bench=True,
    tags=("dedup", "lsh", "pipeline"),
)
def d_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle -> 8 one-permutation
    minhashes -> 4 bands of 2 -> capped band buckets -> inline bucket
    pairs -> exact Jaccard verification at 0.9, where only the
    candidate neighborhood is shingle-exploded a second time.  The
    signature pass streams explode -> partial-agg with NO
    materialization of the corpus-wide shingle table (shingles are
    co-located per doc, so map-side combine collapses the groupBy
    shuffle to ~1 row per doc).  At 100 TB nothing corpus-sized is
    ever checkpointed or shuffled.  The synthetic corpus contains real
    near-duplicate documents, so this returns genuine pairs; the
    oracle reimplements the identical pipeline in SQL (bucket-join
    form — pair set and output provably identical: a bucket of size
    2..cap contributes exactly its member pairs either way).

    r15 restructure (guide §2.4 remove shuffles, §3 joins): candidate
    generation is capped_band_buckets + bucket_pairs — ONE fixed-width
    Exchange on (band_idx, bk) with a window-count cap, replacing the
    count-aggregate shuffle + two broadcast builds + self-join of the
    lsh_candidate_pairs shape; verification carries per-doc shingle
    counts ON the shingle rows (window over the already-clustered
    sid partitioning — no extra exchange), replacing the separate
    sizes aggregate and BOTH n_a/n_b broadcast joins.  Measured at
    sf0.1: 3.2 s -> 1.3-2.2 s standalone min, identical 249-row
    output; plan: 2 fewer Exchanges, 4 fewer BroadcastExchanges."""
    docs = Tables(spark, sf_dir).documents
    # no checkpoint: this explode feeds only the partial-aggregated
    # signature pass, so it streams instead of materializing 200x rows;
    # distinct=False keeps the shingle pass inside whole-stage codegen
    # (min-agg is duplicate-insensitive, signatures bit-identical).
    # numeric=True: int chunks (order-preserving hex bijection ->
    # identical buckets) turn the signature agg from Sort+SortAggregate
    # into a no-sort partial HashAggregate (guide §2.3/§7.2).
    sigs = D.minhash_signatures(
        D.shingle_table(docs, distinct=False), num_hashes=8, numeric=True
    )
    # buckets feed two consumers (pair explode + candidate-doc
    # explode); persist, not localCheckpoint (r2 verdict item 7):
    # blocks are executor-local either way, but persist keeps lineage,
    # so a lost executor recomputes instead of failing at 100 TB.
    # Array rows are bucket_cap-bounded, bucket count << doc count.
    buckets = D.capped_band_buckets(
        sigs, num_hashes=8, band_size=2, bucket_cap=50
    ).persist()
    # pairs appear once per colliding band (dedup=False contract);
    # the only consumer is the duplicate-insensitive left_semi filter
    # in jaccard verification, so no distinct is spent on the pair
    # table — at 100 TB the operator's largest intermediate.
    cands = D.bucket_pairs(buckets)
    # filter BEFORE the explode: only candidate docs get shingled.
    # min_size=2 makes explode(ms) exactly the pair-participating doc
    # set; no distinct — the left_semi broadcast build dedups for free.
    cand_docs = buckets.select(F.explode("ms").alias("doc_id"))
    # n (distinct-shingle count per doc) rides the shingle rows via a
    # window over the repartition-by-doc clustering shingle_table
    # already established — no sizes aggregate, no n_a/n_b joins.
    sh = (
        D.shingle_table(docs.join(F.broadcast(cand_docs), "doc_id", "left_semi"))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("sid")))
        .persist()
    )
    a = sh.select(F.col("sid").alias("id_a"), F.col("n").alias("n_a"), "shingle")
    b = sh.select(F.col("sid").alias("id_b"), F.col("n").alias("n_b"), "shingle")
    joined = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .join(F.broadcast(cands), ["id_a", "id_b"], "left_semi")
    )
    inter = joined.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("shared"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.9)
    )


def _simhash_oracle(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN substr(md5(token), {b + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(bits))
    return f"""
    WITH tok AS (
      SELECT doc_id AS sid, unnest({_TOKS_SQL}) AS token
      FROM documents WHERE doc_id < 40
    ),
    votes AS (SELECT sid, {votes} FROM tok GROUP BY sid)
    SELECT sid, CAST({sig} AS BIGINT) AS simhash FROM votes
    """


@query("d_simhash", oracle=_simhash_oracle(), tags=("dedup", "pipeline"))
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (16-bit) for a document sample, value-checked
    bit-for-bit against the SQL reimplementation."""
    docs = Tables(spark, sf_dir).documents.where(F.col("doc_id") < 40)
    return D.simhash(docs, bits=16)


def _simhash_hamming_oracle(bits: int = 16, max_dist: int = 3) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN substr(md5(token), {b + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(bits))
    return f"""
    WITH tok AS (
      SELECT doc_id AS sid, unnest({_TOKS_SQL}) AS token
      FROM documents WHERE doc_id < 200
    ),
    votes AS (SELECT sid, {votes} FROM tok GROUP BY sid),
    sigs AS (SELECT sid, CAST({sig} AS BIGINT) AS sh FROM votes)
    SELECT a.sid AS id_a, b.sid AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.sid < b.sid
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_dist}
    """


@query(
    "d_simhash_hamming",
    oracle=_simhash_hamming_oracle(),
    tags=("dedup", "simhash", "pipeline"),
)
def d_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: document pairs whose 16-bit
    signatures differ in <= 3 bits (the signature-distance complement
    to MinHash bucket collision).  Scale path: band the signature into
    segments and join on exact segment match (any pair within Hamming
    k collides on >= 1 of k+1 bands); the exact pairwise form here is
    the oracle-checkable baseline."""
    docs = Tables(spark, sf_dir).documents.where(F.col("doc_id") < 200)
    sigs = D.simhash(docs, bits=16)
    a = sigs.select(F.col("sid").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col("sid").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int").alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= 3)
    )


_JACCARD_DF_CAP = 4  # sf-scaled demo value; the 100 TB setting is ~10^4


@query(
    "d_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS sid, unnest(list_distinct(list_transform(
               generate_series(1, len({_TOKS_SQL}) - 2),
               i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 2), ' '))))
             AS shingle
      FROM documents WHERE doc_id < 200
    ),
    shc AS (
      SELECT sh.* FROM sh JOIN (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING count(DISTINCT sid) <= {_JACCARD_DF_CAP}
      ) rare USING (shingle)
    ),
    sizes AS (SELECT sid, count(DISTINCT shingle) AS n FROM shc GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, count(*) AS shared
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(shared / (na.n + nb.n - shared), 6) AS jaccard
    FROM inter JOIN sizes na ON na.sid = id_a
               JOIN sizes nb ON nb.sid = id_b
    WHERE round(shared / (na.n + nb.n - shared), 6) >= 0.02
    """,
    tags=("dedup", "pipeline"),
)
def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard via shingle inverted index, thresholded low
    enough that the word-salad corpus produces real rows.  Shingles
    with document frequency > df_cap are dropped before the self-join
    (the skew rail: a d-doc shingle costs d^2 join rows, so stopword
    shingles are the 100 TB scale-killer); the oracle applies the same
    cap, so both engines compute Jaccard over informative shingles."""
    docs = Tables(spark, sf_dir).documents.where(F.col("doc_id") < 200)
    sh = D.shingle_table(docs)
    return D.jaccard_pairs(sh, threshold=0.02, df_cap=_JACCARD_DF_CAP)


_NDUP_BANDS = 4
_NDUP_PLANES = S.hyperplanes(dim=64, bits=32, seed=43)  # 4 bands x 8 bits
_NDUP_BUCKET_CAP = 200  # skew rail; scale setting ~10^4


def _ndup_oracle() -> str:
    r = len(_NDUP_PLANES) // _NDUP_BANDS
    band_selects = []
    for j in range(_NDUP_BANDS):
        terms = []
        for b in range(r):
            plane = _NDUP_PLANES[j * r + b]
            arr = "[" + ", ".join(str(v) for v in plane) + "]::BIGINT[]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {arr}) > 0"
                f" THEN {2**b} ELSE 0 END)"
            )
        band_selects.append(
            f"SELECT vec_id, {j} AS band,"
            f" CAST({' + '.join(terms)} AS INT) AS bucket FROM iv"
        )
    bands_sql = "\n      UNION ALL ".join(band_selects)
    sim = (
        "round(list_dot_product(va.v, vb.v)"
        " / (sqrt(list_dot_product(va.v, va.v))"
        " * sqrt(list_dot_product(vb.v, vb.v))), 6)"
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL SELECT vec_id + {_SHIFT}, embedding FROM embeddings
    ),
    iv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM corpus
    ),
    bands AS (
      {bands_sql}
    ),
    bandsc AS (
      SELECT bands.* FROM bands JOIN (
        SELECT band, bucket FROM bands GROUP BY band, bucket
        HAVING count(*) <= {_NDUP_BUCKET_CAP}
      ) keep USING (band, bucket)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bandsc a JOIN bandsc b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, {sim} AS sim
    FROM cand JOIN iv va ON va.vec_id = id_a JOIN iv vb ON vb.vec_id = id_b
    WHERE {sim} >= 0.99
    """


@query(
    "d_cosine_near_dup",
    oracle=_ndup_oracle(),
    tags=("dedup", "embedding", "pipeline"),
)
def d_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over the doubled corpus:
    banded-LSH candidates (4 bands x 8 bits, seeded hyperplanes shared
    verbatim with the oracle SQL), then exact int-cosine verification —
    never an all-pairs join (a pair at c=0.99 survives banding w.p.
    >0.99; the shifted duplicates are identical vectors, which collide
    in every band deterministically).  The oracle reproduces the same
    buckets, so values match bit-for-bit."""
    emb = Tables(spark, sf_dir).embeddings.select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.select((F.col("vec_id") + _SHIFT).alias("vec_id"), "embedding")
    )
    return S.cosine_near_dup_bucketed(
        corpus, _NDUP_PLANES, bands=_NDUP_BANDS, threshold=0.99,
        bucket_cap=_NDUP_BUCKET_CAP,
    )


# ---------------------------------------------------------------------------
# Similarity search (ANN)
# ---------------------------------------------------------------------------

_ANN_INT = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"


@query(
    "v_ann_brute_topk",
    oracle=f"""
    WITH iv AS (SELECT vec_id, {_ANN_INT} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM iv WHERE vec_id < 3),
    scored AS (
      SELECT q.query_id, c.vec_id AS cand_id,
             round(list_dot_product(qv, c.v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
      FROM iv c CROSS JOIN q
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, cand_id, sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    tags=("ann", "pipeline"),
)
def v_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a 3-query set: the exact baseline
    every ANN variant is measured against."""
    emb = Tables(spark, sf_dir).embeddings
    queries = emb.where(F.col("vec_id") < 3)
    return S.brute_force_topk(emb, queries, k=5)


_PLANES = S.hyperplanes(dim=64, bits=8, seed=42)


def _lsh_ann_oracle() -> str:
    bucket_terms = []
    for b, plane in enumerate(_PLANES):
        arr = "[" + ", ".join(str(v) for v in plane) + "]"
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}::BIGINT[]) > 0"
            f" THEN {2**b} ELSE 0 END)"
        )
    bucket = " + ".join(bucket_terms)
    return f"""
    WITH iv AS (SELECT vec_id, {_ANN_INT} AS v FROM embeddings),
    bucketed AS (SELECT vec_id, v, CAST({bucket} AS INT) AS bucket FROM iv),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed
          WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS cand_id,
             round(list_dot_product(qv, c.v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
      FROM bucketed c JOIN q USING (bucket)
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, cand_id, sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query("v_ann_lsh_topk", oracle=_lsh_ann_oracle(), bench=True,
       tags=("ann", "lsh", "pipeline"))
def v_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: candidates restricted to the query's
    8-bit bucket.  Hyperplanes are seeded literals shared verbatim with
    the oracle SQL."""
    emb = Tables(spark, sf_dir).embeddings
    queries = emb.where(F.col("vec_id") < 10)
    return S.lsh_topk(emb, queries, _PLANES, k=5)


_IVF_N_CELLS = 16
# shared argmin CTEs: data-seeded centroids (the corpus' first 16
# vectors — see similarity.corpus_seed_centroids for why the uniform-
# random ivf_centroids collapse on this data), ranked per vector by
# exact-int |c|^2 - 2 x.c with ties to the lower cell index, matching
# the Spark side's stable argsort
_IVF_CELL_CTES = f"""
    iv AS (SELECT vec_id, {_ANN_INT} AS v FROM embeddings),
    cents AS (
      SELECT CAST(vec_id AS INT) AS ccell, {_ANN_INT} AS civ
      FROM embeddings WHERE vec_id < {_IVF_N_CELLS}
    ),
    cellranks AS (
      SELECT i.vec_id, i.v, c.ccell,
             row_number() OVER (
               PARTITION BY i.vec_id
               ORDER BY list_dot_product(c.civ, c.civ)
                        - 2 * list_dot_product(i.v, c.civ), c.ccell
             ) AS rn
      FROM iv i CROSS JOIN cents c
    )"""


def _ivf_ann_oracle() -> str:
    return f"""
    WITH {_IVF_CELL_CTES},
    celled AS (SELECT vec_id, v, ccell AS cell FROM cellranks WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, cell FROM celled
          WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS cand_id,
             round(list_dot_product(qv, c.v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
      FROM celled c JOIN q USING (cell)
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, cand_id, sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


def _ivf_nprobe_oracle(nprobe: int = 2) -> str:
    return f"""
    WITH {_IVF_CELL_CTES},
    corpus AS (SELECT vec_id, v, ccell AS cell FROM cellranks WHERE rn = 1),
    q AS (
      SELECT vec_id AS query_id, v AS qv, ccell AS cell
      FROM cellranks WHERE rn <= {nprobe} AND vec_id < 10
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS cand_id,
             round(list_dot_product(qv, c.v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
      FROM corpus c JOIN q USING (cell)
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, cand_id, sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query(
    "v_ann_ivf_nprobe",
    oracle=_ivf_nprobe_oracle(),
    tags=("ann", "ivf", "pipeline"),
)
def v_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2 — the recall knob: each query probes its
    two nearest coarse cells while the corpus stays partitioned by its
    single cell, so candidates grow to ~2/n_cells of the corpus
    instead of 1/n_cells.  Exact int64 cell ranking is shared with the
    oracle (stable tiebreak by cell index on both engines).  Centroids
    are DATA-SEEDED (corpus_seed_centroids — the r4 fix: uniform-random
    centroids collapsed 99% of this corpus into one cell, voiding the
    pruning claim); trained centroids (clustering.train_centroids,
    same exact-int Lloyd's as v_kmeans_clusters) are the production
    path, and the oracle reads the same seed rows via a CTE."""
    emb = Tables(spark, sf_dir).embeddings
    queries = emb.where(F.col("vec_id") < 10)
    cents = S.corpus_seed_centroids(emb, _IVF_N_CELLS)
    return S.ivf_topk(emb, queries, cents, k=5, nprobe=2)


@query("v_ann_ivf_topk", oracle=_ivf_ann_oracle(), tags=("ann", "ivf", "pipeline"))
def v_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (coarse quantizer cells, nprobe=1): candidates
    from the query's nearest-centroid cell only.  Cell assignment is
    exact int64 arithmetic with DATA-SEEDED centroids (the corpus'
    first 16 vectors, read identically by the oracle's CTE — cells
    follow the data, ~N/12 each, so the candidate set really is
    ~1/n_cells of the corpus)."""
    emb = Tables(spark, sf_dir).embeddings
    queries = emb.where(F.col("vec_id") < 10)
    cents = S.corpus_seed_centroids(emb, _IVF_N_CELLS)
    return S.ivf_topk(emb, queries, cents, k=5)


# ---------------------------------------------------------------------------
# As-of join + multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "j_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           v.ts AS asof_ts, round(v.value, 6) AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    bench=True,
    tags=("join", "asof", "pipeline"),
)
def j_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union-sort composition (operators/asof.py):
    for each purchase, the user's most recent prior view.  One shuffle
    on the key — no inequality-join blowup."""
    from map2db_spark.operators.asof import asof_join_backward

    ev = Tables(spark, sf_dir).events
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join_backward(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        right_value_cols=["value"],
    )
    return out.select(
        "event_id", "user_id", "ts", "asof_ts",
        F.round("asof_value", 6).alias("asof_value"),
    )


@query(
    "m_multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS digest
    FROM documents
    """,
    tags=("multimodal", "pipeline"),
)
def m_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column -> Arrow-batched
    mapInPandas feature kernel.  The byte-level outputs (size, digest)
    are oracle-checked; the fake feature vector is covered by pytest."""
    from map2db_spark.functions.multimodal import documents_as_media, extract_features

    media = documents_as_media(Tables(spark, sf_dir).documents)
    return extract_features(media).select("media_id", "kind", "n_bytes", "digest")


@query(
    "m_png_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
      FROM documents WHERE doc_id < 60
    ),
    px AS (
      SELECT doc_id, w, h, x, y
      FROM m
      CROSS JOIN LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs
      CROSS JOIN LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(sum((doc_id * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id * 7 + x * 3 + y * 5 + 11) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id * 7 + x * 3 + y * 5 + 22) % 256) AS BIGINT) AS sum_b
    FROM px
    GROUP BY doc_id, w, h
    """,
    tags=("multimodal", "png", "pipeline"),
)
def m_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, stdlib-only: deterministic RGB PNGs (pixel =
    closed-form function of doc_id/x/y/channel, scanline filters
    cycling through all five types) are encoded AND decoded by
    functions/png.py inside Arrow kernels; exact per-channel pixel
    sums must match the oracle's closed-form arithmetic — which can
    verify the decode without being able to read PNG, because the
    payload round-trips zlib compression and unfiltering in between."""
    from map2db_spark.functions.multimodal import (
        documents_as_png_media,
        extract_png_features,
    )

    docs = Tables(spark, sf_dir).documents.where(F.col("doc_id") < 60)
    return extract_png_features(documents_as_png_media(docs))


@query(
    "m_frame_sample_plan",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(greatest(n_chars * 10 - 1, 0) // 1000 + 1 AS BIGINT) AS n_frames
    FROM documents WHERE doc_id % 3 = 2
    """,
    tags=("multimodal", "pipeline"),
)
def m_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: the explode that turns one video row
    into one row per frame to decode (1 fps here)."""
    from map2db_spark.functions.multimodal import documents_as_media, frame_sample_plan

    media = documents_as_media(Tables(spark, sf_dir).documents)
    plan = frame_sample_plan(media, every_ms=1000)
    return plan.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


@query(
    "d_dup_clusters",
    oracle=f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id AS sid, unnest(list_distinct(list_transform(
               generate_series(1, len({_TOKS_SQL}) - 2),
               i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 2), ' '))))
             AS shingle
      FROM documents WHERE doc_id < 200
    ),
    shc AS (
      SELECT sh.* FROM sh JOIN (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING count(DISTINCT sid) <= {_JACCARD_DF_CAP}
      ) rare USING (shingle)
    ),
    sizes AS (SELECT sid, count(DISTINCT shingle) AS n FROM shc GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, count(*) AS shared
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b
      FROM inter JOIN sizes na ON na.sid = id_a
                 JOIN sizes nb ON nb.sid = id_b
      WHERE round(shared / (na.n + nb.n - shared), 6) >= 0.02
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
    reach(node, lbl) AS (
      SELECT DISTINCT a AS node, a AS lbl FROM sym
      UNION
      SELECT s.b AS node, r.lbl FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS size,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
    FROM comp GROUP BY cluster_id
    """,
    tags=("dedup", "graph", "pipeline"),
)
def d_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: Jaccard candidate pairs become an
    undirected graph; connected components (alternating large-star/
    small-star, operators/components.py) collapse chains A~B~C into
    one cluster even when A~C was never directly scored — the step that
    turns pairwise similarity into keep/drop decisions for a corpus.

    The oracle computes the same components with a recursive CTE —
    feasible at oracle scale, while the Spark loop is the shape that
    survives 100 TB (constant shuffles per round, O(log n) rounds
    even on long chains, checkpointed lineage, exact fixpoint).

    Edge building is df-capped (the d_ngram_jaccard skew rail): a
    shingle shared by d docs costs d^2 join rows, so hot shingles are
    dropped before the self-join on both engines.
    """
    from map2db_spark.operators.components import duplicate_clusters

    docs = Tables(spark, sf_dir).documents.where(F.col("doc_id") < 200)
    edges = D.jaccard_pairs(
        D.shingle_table(docs), threshold=0.02, df_cap=_JACCARD_DF_CAP
    ).select("id_a", "id_b")
    return duplicate_clusters(edges, src="id_a", dst="id_b")


@query(
    "d_curation_pipeline",
    oracle=f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id AS sid, unnest(list_distinct(list_transform(
               generate_series(1, len({_TOKS_SQL}) - 2),
               i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 2), ' '))))
             AS shingle
      FROM documents WHERE doc_id < 200
    ),
    shc AS (
      SELECT sh.* FROM sh JOIN (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING count(DISTINCT sid) <= {_JACCARD_DF_CAP}
      ) rare USING (shingle)
    ),
    sizes AS (SELECT sid, count(DISTINCT shingle) AS n FROM shc GROUP BY sid),
    inter AS (
      SELECT a.sid AS id_a, b.sid AS id_b, count(*) AS shared
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.sid < b.sid
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b
      FROM inter JOIN sizes na ON na.sid = id_a
                 JOIN sizes nb ON nb.sid = id_b
      WHERE round(shared / (na.n + nb.n - shared), 6) >= 0.02
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
    reach(node, lbl) AS (
      SELECT DISTINCT a AS node, a AS lbl FROM sym
      UNION
      SELECT s.b AS node, r.lbl FROM reach r JOIN sym s ON s.a = r.node
    ),
    drops AS (
      SELECT node FROM (SELECT node, min(lbl) AS c FROM reach GROUP BY node)
      WHERE node != c
    ),
    feat AS (
      SELECT doc_id,
             {_langid_expr_sql()} AS lang,
             {_QUALITY_EXPR_SQL} AS quality,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, quality, n_tokens
    FROM feat
    WHERE lang = 'en' AND quality >= 0.7
      AND doc_id NOT IN (SELECT node FROM drops)
    """,
    tags=("dedup", "text", "pipeline"),
)
def d_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the query a training-data pipeline
    actually runs: language-ID filter, quality threshold, and
    near-duplicate removal keeping one representative per cluster
    (connected components over Jaccard candidate pairs), composed into
    one selection.

    Scale shape: the feature projection is one pass (pure column
    expressions, whole-stage codegen); dedup adds the df-capped
    shingle self-join (hot shingles dropped before the join on both
    engines) + O(log n) component rounds; the final anti-join ships
    only the drop-list (duplicate members), which is tiny relative to
    the corpus.
    """
    from map2db_spark.operators.components import connected_components

    docs = Tables(spark, sf_dir).documents.where(F.col("doc_id") < 200)
    edges = D.jaccard_pairs(
        D.shingle_table(docs), threshold=0.02, df_cap=_JACCARD_DF_CAP
    ).select("id_a", "id_b")
    comps = connected_components(edges, src="id_a", dst="id_b")
    drops = comps.where(F.col("node") != F.col("comp")).select("node")
    feat = docs.select(
        "doc_id",
        T.detect_language(F.col("text")).alias("lang"),
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    return (
        feat.where((F.col("lang") == "en") & (F.col("quality") >= 0.7))
        .join(F.broadcast(drops), F.col("doc_id") == F.col("node"), "left_anti")
        .select("doc_id", "quality", "n_tokens")
    )


# ---------------------------------------------------------------------------
# Vocabulary / TF-IDF
# ---------------------------------------------------------------------------


@query(
    "t_vocab_topk",
    oracle=f"""
    SELECT t AS token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest({_TOKS_SQL}) AS t FROM documents)
    GROUP BY t ORDER BY n DESC, token ASC LIMIT 20
    """,
    tags=("text", "vocab", "pipeline"),
)
def t_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-20 tokens by frequency (the first
    pass of any tokenizer-training or vocab-pruning job).  Explode ->
    partial-agg -> TakeOrderedAndProject: the full sort never
    happens, and map-side combine shrinks the shuffle to distinct
    tokens per partition."""
    docs = Tables(spark, sf_dir).documents
    par = spark.sparkContext.defaultParallelism
    return (
        docs.repartition(par)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


_TFIDF_NDOCS = 40  # doc_id < 40 sample; 41 = N+1 is prime, which makes
# distinct (tf, df) pairs provably collision-free in tf*ln((N+1)/(df+1))
# (unique factorization), so ranking on the double score is portable.


@query(
    "t_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS term
      FROM documents WHERE doc_id < {_TFIDF_NDOCS}
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf
           FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, CAST(count(DISTINCT doc_id) AS INT) AS df
           FROM tok GROUP BY term),
    scored AS (
      SELECT doc_id, term, tf, df,
             tf * ln({_TFIDF_NDOCS + 1} / (df + 1.0)) AS score
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tf, df, round(score, 4) AS tfidf
    FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
    tags=("text", "tfidf", "pipeline"),
)
def t_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: explode -> tf agg -> df agg ->
    broadcast idf join -> per-doc window top-k.  The df table is
    vocabulary-sized, so the idf join broadcasts; only the tf table
    (distinct doc-term pairs) ever shuffles."""
    docs = Tables(spark, sf_dir).documents.where(F.col("doc_id") < _TFIDF_NDOCS)
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("int").alias("tf"))
    df = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("int").alias("df")
    )
    scored = tf.join(F.broadcast(df), "term").withColumn(
        "score",
        F.col("tf") * F.log(F.lit(float(_TFIDF_NDOCS + 1)) / (F.col("df") + 1.0)),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", F.round("score", 4).alias("tfidf"))
    )


# ---------------------------------------------------------------------------
# K-means clustering (iterative, exact integer arithmetic)
# ---------------------------------------------------------------------------


def _kmeans_cte_parts(
    k: int = 8, iters: int = 3, dim: int = 64,
    corpus_sql: str = "embeddings",
) -> list[str]:
    """Layered CTE parts of the kmeans_int reimplementation: one
    (assign, update, carry-forward) triple per iteration, identical
    integer arithmetic, ties broken by (dist, cid) exactly as the
    Spark side's lexicographic struct min.  The final assignment CTE
    is ``a{iters}`` and the final centroids ``c{iters}f``.
    ``corpus_sql`` swaps the (vec_id, embedding) source (the SemDeDup
    oracle clusters a duplicated corpus)."""
    iv = ("list_transform(embedding, "
          "x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
    dist = (f"list_sum(list_transform(generate_series(1, {dim}), "
            "i -> (v.iv[i] - c.iv[i]) * (v.iv[i] - c.iv[i])))")
    corpus_ref = (
        corpus_sql if corpus_sql.strip().isidentifier() else f"({corpus_sql})"
    )
    parts = [
        f"v AS (SELECT vec_id, {iv} AS iv FROM {corpus_ref})",
        f"c0f AS (SELECT CAST(vec_id AS INT) AS cid, iv FROM v WHERE vec_id < {k})",
    ]
    prev = "c0f"
    for t in range(1, iters + 1):
        parts.append(f"""a{t} AS (
      SELECT vec_id, iv, cid, d FROM (
        SELECT s.*, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM (SELECT v.vec_id, v.iv, c.cid, {dist} AS d
              FROM v CROSS JOIN {prev} c) s
      ) WHERE rn = 1
    )""")
        parts.append(f"""c{t} AS (
      SELECT cid, list(m ORDER BY i) AS iv FROM (
        SELECT a.cid, gs.i AS i,
               CAST(floor(sum(a.iv[gs.i]) / count(*)) AS BIGINT) AS m
        FROM a{t} a CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) gs
        GROUP BY a.cid, gs.i
      ) GROUP BY cid
    )""")
        parts.append(
            f"c{t}f AS (SELECT * FROM c{t} UNION ALL SELECT * FROM {prev} "
            f"WHERE cid NOT IN (SELECT cid FROM c{t}))"
        )
        prev = f"c{t}f"
    return parts


def _kmeans_oracle(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    joined = ",\n    ".join(_kmeans_cte_parts(k, iters, dim))
    return f"""
    WITH {joined}
    SELECT s.cid, s.n, s.ssd, cs.csum
    FROM (SELECT cid, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(d) AS BIGINT) AS ssd
          FROM a{iters} GROUP BY cid) s
    JOIN (SELECT cid, CAST(list_sum(iv) AS BIGINT) AS csum FROM c{iters}f) cs
      USING (cid)
    """


@query(
    "v_kmeans_clusters",
    oracle=_kmeans_oracle(),
    tags=("clustering", "embedding", "iterative", "pipeline"),
)
def v_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 3 iterations) over the embeddings table in
    pure DataFrame ops with exact integer-scaled arithmetic: the
    iterative-algorithm showcase whose per-cluster sizes, exact SSD,
    and centroid component sums are value-checked against a layered-CTE
    SQL reimplementation (see functions/clustering.py for the scale
    analysis: O(N) map per iteration, O(k*dim) shuffle, O(k*dim)
    driver state)."""
    from map2db_spark.functions.clustering import kmeans_int

    emb = Tables(spark, sf_dir).embeddings
    return kmeans_int(emb, k=8, iters=3, dim=64)


# ---------------------------------------------------------------------------
# Span-level dedup (sub-document granularity)
# ---------------------------------------------------------------------------

_SPAN_W = 20

_SPANS_SQL = (
    f"list_transform(generate_series(0, CAST(floor(len({_TOKS_SQL}) / {_SPAN_W})"
    f" AS INT) - 1), i -> array_to_string("
    f"list_slice({_TOKS_SQL}, i*{_SPAN_W}+1, i*{_SPAN_W}+{_SPAN_W}), ' '))"
)


@query(
    "d_span_dedup",
    oracle=f"""
    WITH sp AS (
      SELECT doc_id, unnest({_SPANS_SQL}) AS span
      FROM documents WHERE len({_TOKS_SQL}) >= {_SPAN_W}
    ),
    g AS (SELECT span, count(DISTINCT doc_id) AS nd FROM sp GROUP BY span)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) FILTER (nd >= 2) AS BIGINT) AS n_shared,
           round(count(*) FILTER (nd >= 2) / count(*), 6) AS shared_frac
    FROM sp JOIN g USING (span)
    GROUP BY doc_id
    """,
    tags=("dedup", "span", "pipeline"),
)
def d_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup: disjoint 20-token spans, flagged
    when the identical span occurs in 2+ documents — catches boiler-
    plate and partial copies that whole-document fingerprints miss.

    Scale shape: spans are row-local (one projection).  Only the
    SHARED spans (occurrence >= 2 — the boilerplate neighborhood,
    tiny relative to the corpus) come back from the groupBy(span) and
    broadcast into a semi-join; the corpus-wide span table is never
    shuffled on span for a join, and both per-doc aggregations ride
    the explicit doc_id partitioning with zero further exchanges
    (asserted in test_plans.py)."""
    w = _SPAN_W
    docs = Tables(spark, sf_dir).documents
    tok = F.split(F.trim("text"), r"\s+")
    spans = F.transform(
        F.sequence(F.lit(0), F.floor(F.size(tok) / w).cast("int") - 1),
        lambda i: F.concat_ws(" ", F.slice(tok, i * w + 1, F.lit(w))),
    )
    par = spark.sparkContext.defaultParallelism
    sp = (
        docs.where(F.size(tok) >= w)
        .repartition(par, F.col("doc_id"))
        .select("doc_id", F.explode(spans).alias("span"))
    )
    shared = (
        sp.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("span")
    )
    totals = sp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    hits = (
        sp.join(F.broadcast(shared), "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        F.round(
            F.coalesce(F.col("n_shared"), F.lit(0)) / F.col("n_spans"), 6
        ).alias("shared_frac"),
    )
