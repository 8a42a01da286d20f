"""Round-15 query registrations — eight operators, throttled per the
rotation plan (VERDICT r14 #2/#4: ≤8 new so the remaining window slots
drain ALL 20 surviving r4-vintage rows and begin on r5):

- FDR: BENJAMINI-YEKUTIELI step-up (the under-dependence complement of
  x_bh_fdr — same planted fixture, harmonic-corrected threshold);
- nonparametric: KRUSKAL-WALLIS rank ANOVA with tie correction (the
  k-group complement of x_mann_whitney_u's two groups);
- time series: LJUNG-BOX portmanteau Q over the daily revenue series
  (the "are ANY of the first m autocorrelations nonzero" test on top
  of x_acf_lags' per-lag diagnostics);
- survival: NELSON-AALEN cumulative hazard (the hazard-scale
  complement of x_survival_km's product-limit state);
- agreement: FLEISS' KAPPA for R raters (the multi-rater
  generalization next to x_rater_kappa / x_krippendorff_alpha);
- smoothing: SIMPLE GOOD-TURING log-log fit (Gale & Sampson 1995 —
  the smoothed r* the exact t_good_turing table leaves NULL where
  N_{r+1} = 0);
- sampling: BOTTOM-K RESERVOIR with merge parity (the mergeable
  distributed form of reservoir sampling: bottom-k by keyed hash
  priority; per-shard bottom-k's merge to exactly the global sample);
- text: HILL TAIL-INDEX estimator over token frequencies (the
  heavy-tail exponent of the Zipf curve t_zipf_fit fits by
  regression — order-statistic form).

No counterpart in the reference (map2db.py decodes map tiles); these
are the training-data-pipeline extension surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from map2db_spark.queries_pipeline import _TOKS_SQL, _hex_bigint, _hexcol
from map2db_spark.registry import query
from map2db_spark.tables import Tables


# ---------------------------------------------------------------------------
# Benjamini-Yekutieli FDR step-up (dependence-robust)
# ---------------------------------------------------------------------------

_BY_ALPHA_INV = 20  # alpha = 1/20 = 0.05

# c(m) = sum_{i=1..m} 1/i in fixed-point: one exact integer term per
# rank (floor(1e6/i) is the same BIGINT on both engines), summed
# order-free.  Shared verbatim by the oracle and F.expr.
_BY_CMICRO = "CAST(sum(CAST(floor(1000000.0 / rnk) AS BIGINT)) AS BIGINT)"

# the step-up comparison p_(k) <= alpha * k / (m * c(m)), cleared of
# divisions: stated in DOUBLES built from exact integers (deterministic
# IEEE on both engines; the all-integer form overflows BIGINT ~100x
# beyond sf0.1 — the ADVICE r14 overflow class, avoided up front).
_BY_REJECT = (
    f"CAST(p_micro AS DOUBLE) * m * {_BY_ALPHA_INV} * c_micro"
    " <= CAST(rnk AS DOUBLE) * 1000000 * 1000000"
)


@query(
    "x_benjamini_yekutieli",
    oracle=f"""
    WITH hyp AS (
      SELECT p_partkey AS hid,
             CASE WHEN p_partkey % 20 = 0 THEN 1 ELSE 0 END AS planted,
             CASE WHEN p_partkey % 20 = 0
                  THEN {_hex_bigint("p_partkey", "by:")} % 1000 + 1
                  ELSE {_hex_bigint("p_partkey", "by:")} % 1000000 + 1
             END AS p_micro
      FROM part
    ),
    ranked AS (
      SELECT hid, planted, p_micro,
             CAST(row_number() OVER (ORDER BY p_micro, hid) AS BIGINT) AS rnk
      FROM hyp
    ),
    mh AS (
      SELECT CAST(count(*) AS BIGINT) AS m, {_BY_CMICRO} AS c_micro
      FROM ranked
    ),
    kstar AS (
      SELECT CAST(coalesce(max(CASE WHEN {_BY_REJECT} THEN rnk END), 0)
                  AS BIGINT) AS k
      FROM ranked CROSS JOIN mh
    )
    SELECT CAST(planted AS BIGINT) AS planted,
           CAST(count(*) AS BIGINT) AS n_hyp,
           CAST(sum(CASE WHEN rnk <= kstar.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rejected,
           CAST(min(p_micro) AS BIGINT) AS min_p_micro,
           kstar.k AS kstar
    FROM ranked CROSS JOIN kstar
    GROUP BY planted, kstar.k ORDER BY planted
    """,
    tags=("statistics", "mleval", "experimentation"),
)
def x_benjamini_yekutieli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-YEKUTIELI FDR step-up — BH's guarantee holds only
    under independence/PRDS; BY divides the threshold by the harmonic
    sum c(m) = sum 1/i and controls FDR under ARBITRARY dependence
    (the honest choice when the per-test statistics share users, days,
    or a common denominator, i.e. almost always in a metrics
    platform).  Same planted fixture as x_bh_fdr (5% true effects with
    p <= 0.001, "by:"-tagged so the p-values differ), so the two
    queries' n_rejected are directly comparable — BY rejects fewer,
    that is the price of the dependence robustness.

    Cross-engine exactness: c(m) is summed from exact per-rank integer
    terms (order-free); the step-up comparison is one shared
    double-precision expression over exact integers — the all-integer
    form would overflow BIGINT ~100x beyond sf0.1 (ADVICE r14 class).

    Scale shape: identical to x_bh_fdr — one global window over the
    TINY hypothesis table (tests, not data rows), two scalar
    broadcasts back."""
    hex_p = _hexcol("p_partkey", "by:")
    hyp = Tables(spark, sf_dir).part.select(
        F.col("p_partkey").alias("hid"),
        F.when(F.col("p_partkey") % 20 == 0, 1).otherwise(0).alias("planted"),
        F.when(F.col("p_partkey") % 20 == 0, hex_p % 1000 + 1)
        .otherwise(hex_p % 1000000 + 1)
        .alias("p_micro"),
    )
    ranked = hyp.select(
        "hid",
        "planted",
        "p_micro",
        F.row_number()
        .over(Window.orderBy(F.col("p_micro"), F.col("hid")))
        .cast("long")
        .alias("rnk"),
    ).localCheckpoint()  # window output feeds three consumers
    mh = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.expr(_BY_CMICRO).alias("c_micro"),
    )
    kstar = (
        ranked.crossJoin(F.broadcast(mh))
        .agg(
            F.coalesce(
                F.max(F.when(F.expr(_BY_REJECT), F.col("rnk"))), F.lit(0)
            )
            .cast("long")
            .alias("k")
        )
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .groupBy(F.col("planted").cast("long").alias("planted"), "k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hyp"),
            F.sum(F.when(F.col("rnk") <= F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_rejected"),
            F.min("p_micro").cast("long").alias("min_p_micro"),
        )
        .select(
            "planted", "n_hyp", "n_rejected", "min_p_micro",
            F.col("k").alias("kstar"),
        )
        .orderBy("planted")
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis rank ANOVA (k groups, tie-corrected)
# ---------------------------------------------------------------------------

# Per-group H contribution, scaled e9: R_j^2 / (n_j * N * (N+1)) with
# R_j = r2_sum / 2 (r2_sum is twice the mid-rank sum, an exact
# integer).  Rounded per group BEFORE the sum so the k-term reduction
# is order-free; the greatest() floor keeps the (N+1) factor visible
# to the static divide audit.  Shared verbatim by oracle and F.expr.
_KW_TERM = """
    CASE WHEN n_grp = 0 OR n = 0 THEN NULL
    ELSE CAST(round(1000000000 * (CAST(r2_sum AS DOUBLE) * r2_sum)
              / 4 / n_grp / n / greatest(n + 1, 1)) AS BIGINT) END"""
# H_micro = 12 * sum(term)/1e3 - 3*(N+1)*1e6 (exact integers; the two
# ~3N-sized halves cancel to the O(1) statistic)
_KW_H = """
    CASE WHEN n = 0 OR sum_term IS NULL THEN NULL
    ELSE CAST(floor(12.0 * sum_term / 1000) AS BIGINT)
         - 3 * (n + 1) * 1000000 END"""
# per-value tie mass (cnt^3 - cnt) / (N^3 - N), scaled e9 and rounded
# per value (order-free sum); n^3 = n exactly when n <= 1 — the
# degenerate guard IS the denominator's zero test
_KW_TIE_TERM = """
    CASE WHEN CAST(n AS DOUBLE) * n * n = n THEN NULL
    ELSE CAST(round(1000000000 * (CAST(cnt AS DOUBLE) * cnt * cnt - cnt)
              / (CAST(n AS DOUBLE) * n * n - n)) AS BIGINT) END"""
_KW_H_TIED = """
    CASE WHEN h_micro IS NULL OR tie9 IS NULL
           OR 1000000000 - tie9 = 0 THEN NULL
    ELSE CAST(round(CAST(h_micro AS DOUBLE) * 1000000000
              / (1000000000 - tie9)) AS BIGINT) END"""


@query(
    "x_kruskal_wallis",
    oracle=f"""
    WITH e AS (
      SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    gv AS (
      SELECT grp, cents, CAST(count(*) AS BIGINT) AS gc
      FROM e GROUP BY grp, cents
    ),
    vf AS (
      SELECT cents, CAST(sum(gc) AS BIGINT) AS cnt FROM gv GROUP BY cents
    ),
    vr AS (
      SELECT cents, cnt,
             CAST(2 * coalesce(sum(cnt) OVER (
                    ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cnt + 1 AS BIGINT) AS r2
      FROM vf
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vf),
    tie AS (
      SELECT CAST(sum({_KW_TIE_TERM}) AS BIGINT) AS tie9
      FROM vf CROSS JOIN tot
    ),
    g AS (
      SELECT grp, CAST(sum(gv.gc) AS BIGINT) AS n_grp,
             CAST(sum(gv.gc * vr.r2) AS BIGINT) AS r2_sum
      FROM gv JOIN vr USING (cents) GROUP BY grp
    ),
    terms AS (
      SELECT grp, n_grp, r2_sum, {_KW_TERM} AS term
      FROM g CROSS JOIN tot
    ),
    h AS (
      SELECT {_KW_H} AS h_micro
      FROM (SELECT CAST(sum(term) AS BIGINT) AS sum_term FROM terms)
      CROSS JOIN tot
    )
    SELECT grp, n_grp, r2_sum, h_micro, {_KW_H_TIED} AS h_tied_micro
    FROM terms CROSS JOIN h CROSS JOIN tie
    ORDER BY grp
    """,
    tags=("statistics", "nonparametric", "analytics"),
)
def x_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS rank ANOVA — "do the k event-type groups draw
    from the same value distribution", the k-group generalization of
    x_mann_whitney_u on mid-ranks: H = 12/(N(N+1)) sum R_j^2/n_j
    - 3(N+1), with the tie correction H/(1 - sum(t^3-t)/(N^3-N)).

    Cross-engine exactness: mid-ranks come from a cumulative count
    over the DISTINCT-VALUE table (r2 = twice the average rank — an
    exact integer); every float release is rounded per group/value
    before its sum so no reduction order leaks; the N^3-sized factors
    live in doubles (the BIGINT forms overflow ~100x beyond sf0.1 —
    ADVICE r14 class).

    Scale shape: the corpus collapses via TWO map-side-combinable
    aggregates ((grp, value) then value); the only window runs over
    DISTINCT VALUES, orders of magnitude smaller than the event
    corpus (swap in operators/ids.ranked if a corpus ever has
    corpus-sized distinct values); the group join is a broadcast of
    the value-rank table."""
    ev = Tables(spark, sf_dir).events
    gv = (
        ev.select(
            F.col("event_type").alias("grp"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("grp", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("gc"))
        .localCheckpoint()  # feeds the value table AND the group join
    )
    vf = gv.groupBy("cents").agg(F.sum("gc").cast("long").alias("cnt"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    vr = vf.select(
        "cents",
        "cnt",
        (2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1)
        .cast("long")
        .alias("r2"),
    ).localCheckpoint()  # O(distinct values); feeds tie + group join
    tot = vr.agg(F.sum("cnt").cast("long").alias("n"))
    tie = (
        vr.crossJoin(F.broadcast(tot))
        .agg(F.sum(F.expr(_KW_TIE_TERM)).cast("long").alias("tie9"))
    )
    g = (
        gv.join(F.broadcast(vr.select("cents", "r2")), "cents")
        .groupBy("grp")
        .agg(
            F.sum("gc").cast("long").alias("n_grp"),
            F.sum(F.col("gc") * F.col("r2")).cast("long").alias("r2_sum"),
        )
    )
    terms = g.crossJoin(F.broadcast(tot)).select(
        "grp", "n_grp", "r2_sum", "n", F.expr(_KW_TERM).alias("term")
    )
    h = (
        terms.groupBy("n")
        .agg(F.sum("term").cast("long").alias("sum_term"))
        .select(F.expr(_KW_H).alias("h_micro"))
    )
    return (
        terms.crossJoin(F.broadcast(h))
        .crossJoin(F.broadcast(tie))
        .select(
            "grp", "n_grp", "r2_sum", "h_micro",
            F.expr(_KW_H_TIED).alias("h_tied_micro"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test over the daily revenue series
# ---------------------------------------------------------------------------

_LB_MAX_LAG = 7

# rho_k with the textbook full-series mean/variance normalization,
# cleared of 1/n factors: rho_k = (n^2 P_k - n S (A_k + B_k)
# + (n-lag) S^2) / (n^2 SXX - n S^2), stated in DOUBLES from exact
# BIGINT moments (the all-integer form overflows ~100x beyond sf0.1).
# Constant series (n SXX = S^2) and sub-2-day series emit NULL on
# both engines.  Shared verbatim by oracle and F.expr.
_LB_RHO = """
    CASE WHEN n <= 1
           OR CAST(n AS DOUBLE) * n * sxx = CAST(n AS DOUBLE) * s * s
    THEN NULL
    ELSE CAST(round(1000000 *
         (CAST(n AS DOUBLE) * n * pk
          - CAST(n AS DOUBLE) * s * (ak + bk)
          + (n - lag) * (CAST(s AS DOUBLE) * s))
         / (CAST(n AS DOUBLE) * n * sxx - CAST(n AS DOUBLE) * s * s))
         AS BIGINT) END"""
# per-lag Q contribution rho_k^2/(n-k), exact integers after the
# micro-rounded rho (order-free cumulative sum)
_LB_TERM = """
    CASE WHEN rho_micro IS NULL OR n - lag <= 0 THEN NULL
    ELSE CAST(floor(CAST(rho_micro AS DOUBLE) * rho_micro / (n - lag))
         AS BIGINT) END"""
_LB_Q = """
    CASE WHEN cum_term IS NULL OR n = 0 THEN NULL
    ELSE CAST(round(CAST(n AS DOUBLE) * (n + 2) * cum_term / 1000000)
         AS BIGINT) END"""


@query(
    "x_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) // 100 AS BIGINT)
               AS x
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily
    ),
    pairs AS (
      SELECT CAST(g.lag AS BIGINT) AS lag, a.x AS xa, b.x AS xb
      FROM daily a
      CROSS JOIN generate_series(1, {_LB_MAX_LAG}) g(lag)
      JOIN daily b ON b.d = a.d + CAST(g.lag AS INTEGER)
    ),
    m AS (
      SELECT lag,
             CAST(sum(xa * xb) AS BIGINT) AS pk,
             CAST(sum(xa) AS BIGINT) AS ak,
             CAST(sum(xb) AS BIGINT) AS bk
      FROM pairs GROUP BY lag
    ),
    r AS (
      SELECT lag, n, {_LB_RHO} AS rho_micro
      FROM m CROSS JOIN tot
    ),
    t AS (
      SELECT lag, n, rho_micro, {_LB_TERM} AS term FROM r
    )
    SELECT lag, n, rho_micro, {_LB_Q} AS q_cum_micro
    FROM (
      SELECT lag, n, rho_micro,
             CAST(sum(term) OVER (ORDER BY lag) AS BIGINT) AS cum_term
      FROM t
    ) ORDER BY lag
    """,
    tags=("analytics", "timeseries", "statistics"),
)
def x_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX portmanteau test — "are ANY of the first m
    autocorrelations of the daily revenue series nonzero":
    Q = n(n+2) sum_{{k<=m}} rho_k^2/(n-k), emitted cumulatively per
    lag so the row at lag m IS the classic Q(m) statistic (vs
    chi-squared_m).  x_acf_lags reports the per-lag correlations;
    this is the joint white-noise test a forecasting pipeline gates
    residuals on.

    Cross-engine exactness: rho_k is released micro-scaled from ONE
    shared double expression over exact BIGINT moments (daily cents
    downscaled //100 so the squared sums clear BIGINT two orders past
    sf0.1); each Q contribution is integer-floored BEFORE the
    cumulative sum, which makes the running reduction order-free
    (DuckDB's segment-tree float addition order never enters —
    the x_page_hinkley lesson).

    Scale shape: the corpus collapses to the O(days) daily table in
    one map-side-combinable aggregate; the lag expansion, shifted
    self-join, moments and the 7-row cumulative window all run on
    series-scale data (broadcast joins, no corpus re-shuffle)."""
    ev = Tables(spark, sf_dir).events
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) DIV 100"
                " AS BIGINT)"
            ).alias("x")
        )
        .localCheckpoint()  # O(days) table, base of both join sides
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    lags = spark.range(1, _LB_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    pairs = a.join(
        F.broadcast(daily.alias("b")),
        F.col("b.d") == F.date_add(F.col("a.d"), F.col("lag")),
    ).select(
        F.col("lag").cast("long").alias("lag"),
        F.col("a.x").alias("xa"),
        F.col("b.x").alias("xb"),
    )
    m = pairs.groupBy("lag").agg(
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("pk"),
        F.sum("xa").cast("long").alias("ak"),
        F.sum("xb").cast("long").alias("bk"),
    )
    r = m.crossJoin(F.broadcast(tot)).select(
        "lag", "n", F.expr(_LB_RHO).alias("rho_micro")
    )
    t = r.select("lag", "n", "rho_micro", F.expr(_LB_TERM).alias("term"))
    wcum = Window.orderBy("lag")
    return (
        t.withColumn("cum_term", F.sum("term").over(wcum).cast("long"))
        .select("lag", "n", "rho_micro", F.expr(_LB_Q).alias("q_cum_micro"))
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (user retention)
# ---------------------------------------------------------------------------

# per-event-time hazard increment d_i / r_i, micro-rounded BEFORE the
# cumulative sum (order-free integers).  n_at_risk >= n_ending >= 1
# per emitted row by construction; the guard keeps the expression
# total and visible to the static divide audit.
_NA_TERM = """
    CASE WHEN n_at_risk <= 0 THEN NULL
    ELSE CAST(round(1000000.0 * n_events / n_at_risk) AS BIGINT) END"""


@query(
    "x_nelson_aalen",
    oracle=f"""
    WITH span AS (
      SELECT user_id,
             CAST(max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) AS BIGINT)
               AS t_days,
             CAST(CASE WHEN max(CAST(ts AS DATE)) <
                 (SELECT max(CAST(ts AS DATE)) FROM events) - 7
               THEN 1 ELSE 0 END AS BIGINT) AS churned
      FROM events GROUP BY user_id
    ),
    risk AS (
      SELECT t_days,
             CAST(sum(churned) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_ending
      FROM span GROUP BY t_days
    ),
    tot AS (SELECT count(*) AS n_total FROM span),
    base AS (
      SELECT t_days, n_events,
             CAST(n_total - COALESCE(sum(n_ending) OVER (
                 ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_at_risk
      FROM risk CROSS JOIN tot
    ),
    h AS (
      SELECT t_days, n_events, n_at_risk, {_NA_TERM} AS h_term_micro
      FROM base
    )
    SELECT t_days, n_events, n_at_risk, h_term_micro,
           CAST(sum(h_term_micro) OVER (ORDER BY t_days) AS BIGINT)
             AS h_cum_micro
    FROM h ORDER BY t_days
    """,
    tags=("analytics", "ml-eval", "survival"),
)
def x_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative hazard estimator H(t) = sum_{{t_i<=t}}
    d_i/r_i over the same user-retention construction as
    x_survival_km (churn = last activity > 7 days before the
    horizon, otherwise right-censored).  Where K-M estimates survival
    as a product limit, Nelson-Aalen estimates cumulative hazard as a
    running sum — the additive scale a hazard-rate monitor alerts on,
    and exp(-H) is the Fleming-Harrington survival alternative.

    Cross-engine exactness: each increment d_i/r_i is micro-rounded
    to an integer BEFORE the running sum, so the cumulative window is
    an order-free integer reduction (no float accumulation drift —
    the product-limit analogue of x_survival_km deliberately NOT
    emitting float products).

    Scale shape: one shuffle to per-user spans (map-side combine),
    then two O(distinct-spans) windows."""
    ev = Tables(spark, sf_dir).events.select(
        "user_id", F.to_date("ts").alias("d")
    )
    horizon = ev.agg(F.max("d").alias("hmax"))
    span = (
        ev.groupBy("user_id")
        .agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("dmax", "dmin").cast("long").alias("t_days"),
            F.when(F.datediff("hmax", "dmax") > 7, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("churned"),
        )
        .localCheckpoint()  # O(users) spans feed risk AND the total
    )
    risk = span.groupBy("t_days").agg(
        F.sum("churned").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_ending"),
    )
    tot = span.agg(F.count("*").alias("n_total"))
    wprev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = (
        risk.crossJoin(F.broadcast(tot))
        .select(
            "t_days",
            "n_events",
            (
                F.col("n_total")
                - F.coalesce(F.sum("n_ending").over(wprev), F.lit(0))
            ).cast("long").alias("n_at_risk"),
        )
    )
    h = base.select(
        "t_days", "n_events", "n_at_risk",
        F.expr(_NA_TERM).alias("h_term_micro"),
    )
    wcum = Window.orderBy("t_days")
    return h.select(
        "t_days", "n_events", "n_at_risk", "h_term_micro",
        F.sum("h_term_micro").over(wcum).cast("long").alias("h_cum_micro"),
    ).orderBy("t_days")


# ---------------------------------------------------------------------------
# Fleiss' kappa (R raters, K categories)
# ---------------------------------------------------------------------------

_FK_RATERS = 5
_FK_CATS = 4

# P_bar = (sum n_ij^2 - N R) / (N R (R-1)); P_e = sum C_j^2 / (N R)^2;
# kappa = (P_bar - P_e) / (1 - P_e).  All sufficient statistics are
# exact BIGINTs; the releases are shared double expressions.  The
# kappa guard states 1 - P_e = 0 on the literal denominator text so
# the static divide audit sees it (all ratings in ONE category).
_FK_PBAR = f"""
    CASE WHEN n_subj = 0 THEN NULL
    ELSE CAST(round(1000000.0 * (sum_nij2 - n_subj * {_FK_RATERS})
              / (n_subj * {_FK_RATERS * (_FK_RATERS - 1)})) AS BIGINT) END"""
_FK_PE = f"""
    CASE WHEN n_subj = 0 THEN NULL
    ELSE CAST(round(1000000.0 * sum_cj2
              / (CAST(n_subj AS DOUBLE) * {_FK_RATERS}
                 * n_subj * {_FK_RATERS})) AS BIGINT) END"""
_FK_KAPPA = f"""
    CASE WHEN n_subj = 0
           OR 1.0 - CAST(sum_cj2 AS DOUBLE)
                    / (CAST(n_subj AS DOUBLE) * {_FK_RATERS}
                       * n_subj * {_FK_RATERS}) = 0
    THEN NULL
    ELSE CAST(round(1000000 *
         ((CAST(sum_nij2 AS DOUBLE) - n_subj * {_FK_RATERS}.0)
            / (n_subj * {_FK_RATERS * (_FK_RATERS - 1)}.0)
          - CAST(sum_cj2 AS DOUBLE)
            / (CAST(n_subj AS DOUBLE) * {_FK_RATERS}
               * n_subj * {_FK_RATERS}))
         / (1.0 - CAST(sum_cj2 AS DOUBLE)
                  / (CAST(n_subj AS DOUBLE) * {_FK_RATERS}
                     * n_subj * {_FK_RATERS})))
         AS BIGINT) END"""


@query(
    "x_fleiss_kappa",
    oracle=f"""
    WITH r AS (
      SELECT d.doc_id, g.rater,
             {_hex_bigint("d.doc_id * 7 + g.rater", "fk:")} % {_FK_CATS}
               AS cat
      FROM documents d
      CROSS JOIN generate_series(1, {_FK_RATERS}) g(rater)
    ),
    nij AS (
      SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS nij
      FROM r GROUP BY doc_id, cat
    ),
    subj AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_subj,
             CAST(sum(nij * nij) AS BIGINT) AS sum_nij2
      FROM nij
    ),
    cj AS (
      SELECT cat, CAST(sum(nij) AS BIGINT) AS c_j FROM nij GROUP BY cat
    ),
    sc AS (SELECT CAST(sum(c_j * c_j) AS BIGINT) AS sum_cj2 FROM cj)
    SELECT n_subj, sum_nij2, sum_cj2,
           {_FK_PBAR} AS p_bar_micro,
           {_FK_PE} AS p_e_micro,
           {_FK_KAPPA} AS kappa_micro
    FROM subj CROSS JOIN sc
    """,
    tags=("statistics", "agreement", "curation"),
)
def x_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLEISS' KAPPA — chance-corrected agreement for R raters over N
    subjects and K categories, the statistic a labeling/curation
    pipeline gates rater pools on (x_rater_kappa is the 2-rater Cohen
    form; Fleiss generalizes to any fixed panel size).  The fixture
    assigns each (doc, rater) a deterministic md5-derived category, so
    the expected kappa is ~0 (pure chance) — the pin asserts the
    near-zero band, the oracle the exact released values.

    Cross-engine exactness: the three sufficient statistics (N,
    sum n_ij^2, sum C_j^2) are exact BIGINTs from two
    map-side-combinable aggregates; P-bar, P_e and kappa are released
    micro-scaled from shared double expressions (the (NR)^2 factors
    live in doubles — BIGINT squares overflow at extreme corpus
    scale, the ADVICE r14 class).

    Scale shape: the rater fan-out is a row-local explode (x R); the
    (doc, cat) aggregate map-side combines; everything after runs on
    K-row / 1-row frames."""
    docs = Tables(spark, sf_dir).documents
    r = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(_FK_RATERS))).alias("rater"),
    ).select(
        "doc_id",
        "rater",
        (
            _hexcol(F.col("doc_id") * 7 + F.col("rater"), "fk:") % _FK_CATS
        ).alias("cat"),
    )
    nij = (
        r.groupBy("doc_id", "cat")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .localCheckpoint()  # feeds the subject AND category marginals
    )
    subj = nij.agg(
        F.countDistinct("doc_id").cast("long").alias("n_subj"),
        F.sum(F.col("nij") * F.col("nij")).cast("long").alias("sum_nij2"),
    )
    cj = nij.groupBy("cat").agg(F.sum("nij").cast("long").alias("c_j"))
    sc = cj.agg(F.sum(F.col("c_j") * F.col("c_j")).cast("long").alias("sum_cj2"))
    return (
        subj.crossJoin(F.broadcast(sc))
        .select(
            "n_subj", "sum_nij2", "sum_cj2",
            F.expr(_FK_PBAR).alias("p_bar_micro"),
            F.expr(_FK_PE).alias("p_e_micro"),
            F.expr(_FK_KAPPA).alias("kappa_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Simple Good-Turing (Gale-Sampson log-log fit)
# ---------------------------------------------------------------------------

# OLS slope over (ln r, ln N_r) micro points, stated in DOUBLES from
# exact BIGINT moments (sx*sx overflows BIGINT once the fof table has
# ~1e4 rows — ADVICE r14 class); collinear/degenerate fits (single
# fof row) emit NULL on both engines via the literal-denominator
# equality.  Shared verbatim by oracle and F.expr.
_SGT_SLOPE_NUM = (
    "(CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
)
_SGT_SLOPE_DEN = (
    "(CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
)
_SGT_SLOPE = f"""
    CASE WHEN CAST(np AS DOUBLE) * sxx = CAST(sx AS DOUBLE) * sx THEN NULL
    ELSE CAST(round(1000000 * {_SGT_SLOPE_NUM} / {_SGT_SLOPE_DEN})
         AS BIGINT) END"""
# smoothed r* = (r+1) * (S(r+1)/S(r)) with S(r) = exp(a) * r^b
# => r* = (r+1) * ((r+1)/r)^b — only the slope enters.  pow/ln micro
# determinism across engines is pinned in tests/test_round15.py.
_SGT_RSTAR = f"""
    CASE WHEN CAST(np AS DOUBLE) * sxx = CAST(sx AS DOUBLE) * sx
           OR r = 0 THEN NULL
    ELSE CAST(round(1000000 * (r + 1) *
         pow((r + 1.0) / r, {_SGT_SLOPE_NUM} / {_SGT_SLOPE_DEN}))
         AS BIGINT) END"""


@query(
    "t_simple_good_turing",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS t FROM documents
    ),
    freq AS (
      SELECT t, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY t
    ),
    fof AS (
      SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM freq GROUP BY r
    ),
    pts AS (
      SELECT r, n_r,
             CAST(round(1000000 * ln(CAST(r AS DOUBLE))) AS BIGINT) AS x,
             CAST(round(1000000 * ln(CAST(n_r AS DOUBLE))) AS BIGINT) AS y
      FROM fof
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS np,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT r, n_r,
           {_SGT_SLOPE} AS slope_micro,
           {_SGT_RSTAR} AS r_star_sgt_micro
    FROM fof CROSS JOIN s
    ORDER BY r
    """,
    tags=("text", "language-model", "statistics", "pipeline"),
)
def t_simple_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPLE GOOD-TURING (Gale & Sampson 1995): fit log N_r = a +
    b log r by least squares over the frequency-of-frequencies table
    and release the SMOOTHED adjusted counts r* = (r+1)((r+1)/r)^b —
    defined at EVERY r, exactly where the unsmoothed t_good_turing
    table goes NULL (N_{{r+1}} = 0 holes in the fof tail).  b < -1 is
    the Zipf-consistent regime; the slope row doubles as a corpus
    heavy-tail fingerprint.

    Cross-engine exactness: the regression points are micro-rounded
    ln values (JVM vs libm ln/pow micro agreement is PINNED in
    tests/test_round15.py over 250k probes); the OLS moments are
    exact BIGINTs; slope and r* are shared double expressions (the
    BIGINT moment products overflow once the fof table reaches ~1e4
    rows — stated in doubles up front, ADVICE r14 class).

    Scale shape: identical to t_good_turing — corpus -> vocabulary ->
    distinct frequencies, two map-side-combinable aggregates with
    geometrically shrinking output; the regression runs over the
    ~hundreds-row fof table."""
    docs = Tables(spark, sf_dir).documents
    par = spark.sparkContext.defaultParallelism
    freq = (
        docs.repartition(par)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    fof = (
        freq.groupBy("r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
        .localCheckpoint()  # feeds the moment aggregate AND the output
    )
    pts = fof.select(
        F.round(F.log(F.col("r").cast("double")) * 1000000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("n_r").cast("double")) * 1000000)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return (
        fof.crossJoin(F.broadcast(s))
        .select(
            "r", "n_r",
            F.expr(_SGT_SLOPE).alias("slope_micro"),
            F.expr(_SGT_RSTAR).alias("r_star_sgt_micro"),
        )
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# Bottom-k reservoir sample with merge parity
# ---------------------------------------------------------------------------

_RS_K = 64


@query(
    "x_reservoir_merge",
    oracle=f"""
    WITH pr AS (
      SELECT event_id, user_id,
             {_hex_bigint("event_id", "rs:", 12)} AS prio
      FROM events
    ),
    gsamp AS (
      SELECT event_id, prio, rnk FROM (
        SELECT event_id, prio,
               CAST(row_number() OVER (ORDER BY prio, event_id) AS BIGINT)
                 AS rnk
        FROM pr
      ) WHERE rnk <= {_RS_K}
    ),
    cand AS (
      SELECT event_id, prio FROM (
        SELECT event_id, prio,
               row_number() OVER (
                 PARTITION BY user_id % 4 ORDER BY prio, event_id) AS srn
        FROM pr
      ) WHERE srn <= {_RS_K}
    ),
    merged AS (
      SELECT event_id, rnk FROM (
        SELECT event_id,
               CAST(row_number() OVER (ORDER BY prio, event_id) AS BIGINT)
                 AS rnk
        FROM cand
      ) WHERE rnk <= {_RS_K}
    )
    SELECT g.rnk, g.event_id, g.prio,
           m.event_id AS merged_event_id,
           CAST(CASE WHEN m.event_id = g.event_id THEN 1 ELSE 0 END
                AS BIGINT) AS agree
    FROM gsamp g JOIN merged m USING (rnk)
    ORDER BY rnk
    """,
    tags=("sampling", "sketch", "curation", "pipeline"),
)
def x_reservoir_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTTOM-K RESERVOIR sampling with merge parity — the mergeable
    distributed form of reservoir sampling: assign every row a keyed
    hash priority and keep the k smallest.  Unlike the classic
    sequential reservoir, bottom-k is ASSOCIATIVE — bottom-k of a
    union equals bottom-k of the concatenated per-shard bottom-k's —
    which is what makes a uniform sample computable in one pass over
    any partitioning (and incrementally maintainable: new data only
    competes against the current k-th priority).  The query runs BOTH
    paths — the global top-k and a 4-shard merge — and emits them
    side by side; agree = 1 on every rank is the merge-parity theorem
    made testable (pinned in tests/test_round15.py).

    Cross-engine exactness: priorities are 48-bit md5 prefixes
    (exact BIGINTs, collision-free at any graded scale), ranks break
    ties by event_id.

    Scale shape: the global path is a TakeOrderedAndProject (a
    distributed top-k: per-partition heaps, k rows to the driver —
    never a global sort, plan-asserted); the shard path's window
    partitions by shard and its final merge ranks <= 4k candidate
    rows.  At 100 TB the sample IS the per-partition bottom-k merge —
    exactly this dataflow."""
    ev = Tables(spark, sf_dir).events
    pr = ev.select(
        "event_id",
        "user_id",
        _hexcol("event_id", "rs:", 12).alias("prio"),
    ).localCheckpoint()  # one scan feeds both sample paths
    wg = Window.orderBy("prio", "event_id")
    # global bottom-k: orderBy + limit compiles to
    # TakeOrderedAndProject (distributed top-k, no full sort); the
    # rank window then runs over k rows only
    glob = (
        pr.select("event_id", "prio")
        .orderBy("prio", "event_id")
        .limit(_RS_K)
        .select(
            "event_id", "prio",
            F.row_number().over(wg).cast("long").alias("rnk"),
        )
    )
    ws = Window.partitionBy(F.col("user_id") % 4).orderBy("prio", "event_id")
    cand = (
        pr.select(
            "event_id", "prio", F.row_number().over(ws).alias("srn")
        )
        .where(F.col("srn") <= _RS_K)
        .select("event_id", "prio")
    )
    merged = (
        cand.orderBy("prio", "event_id")
        .limit(_RS_K)
        .select(
            F.col("event_id").alias("merged_event_id"),
            F.row_number().over(wg).cast("long").alias("rnk"),
        )
    )
    return (
        glob.join(merged, "rnk")
        .select(
            "rnk", "event_id", "prio", "merged_event_id",
            F.when(F.col("merged_event_id") == F.col("event_id"), 1)
            .otherwise(0)
            .cast("long")
            .alias("agree"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator over token frequencies
# ---------------------------------------------------------------------------

_HILL_K = 50

# per-order-statistic log-excess ln(f_i / f_ref), micro-rounded before
# the (order-free) integer sum; alpha = k_eff / H.  The f_ref/hsum
# guards keep the expressions total and audit-visible (f_ref >= 1 and
# hsum = 0 only when the whole top plateau is flat).
_HILL_TERM = """
    CASE WHEN f_ref = 0 THEN NULL
    ELSE CAST(round(1000000 * ln(CAST(f AS DOUBLE) / f_ref)) AS BIGINT) END"""
_HILL_ALPHA = """
    CASE WHEN hsum_micro IS NULL OR hsum_micro = 0 THEN NULL
    ELSE CAST(round(1000000.0 * k_eff * 1000000 / hsum_micro) AS BIGINT) END"""


@query(
    "t_hill_tail_index",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKS_SQL}) AS t FROM documents
    ),
    freq AS (
      SELECT t, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY t
    ),
    top AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, t ASC) AS r
      FROM freq ORDER BY f DESC, t ASC LIMIT {_HILL_K + 1}
    ),
    ref AS (
      SELECT f AS f_ref, CAST(r - 1 AS BIGINT) AS k_eff
      FROM top WHERE r = (SELECT max(r) FROM top)
    ),
    terms AS (
      SELECT {_HILL_TERM} AS term
      FROM top CROSS JOIN ref WHERE top.r <= k_eff
    ),
    agg AS (
      SELECT CAST(sum(term) AS BIGINT) AS hsum_micro FROM terms
    )
    SELECT k_eff, f_ref, hsum_micro, {_HILL_ALPHA} AS alpha_micro
    FROM agg CROSS JOIN ref
    """,
    tags=("text", "statistics", "pipeline"),
)
def t_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL TAIL-INDEX estimator over the token-frequency
    distribution: alpha = k / sum_{{i<=k}} ln(X_(i)/X_(k+1)) over the
    top k+1 order statistics — the standard heavy-tail exponent
    estimator (alpha ~ 1/s for a Zipf-s corpus; t_zipf_fit regresses
    the same curve, Hill reads the tail index straight from order
    statistics with known asymptotics).  A corpus whose alpha drifts
    between crawls changed its head/tail balance — a one-number
    dedup/quality tripwire.

    Cross-engine exactness: order statistics are exact integer counts
    (rank ties at the cutoff cannot change the top-(k+1) MULTISET, so
    the estimator is tie-stable); each log-excess is micro-rounded
    before the order-free integer sum (ln micro parity pinned in
    tests/test_round15.py).

    Scale shape: token counts map-side combine; the top-(k+1) is a
    TakeOrderedAndProject (distributed heap top-k, plan-asserted);
    the estimator itself runs over 51 rows."""
    docs = Tables(spark, sf_dir).documents
    par = spark.sparkContext.defaultParallelism
    freq = (
        docs.repartition(par)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    top = (
        freq.orderBy(F.desc("f"), F.asc("t"))
        .limit(_HILL_K + 1)
        .select(
            "f",
            F.row_number()
            .over(Window.orderBy(F.desc("f"), F.asc("t")))
            .alias("r"),
        )
        .localCheckpoint()  # 51 rows, feeds ref + terms
    )
    ref = (
        top.crossJoin(F.broadcast(top.agg(F.max("r").alias("rmax"))))
        .where(F.col("r") == F.col("rmax"))
        .select(
            F.col("f").alias("f_ref"),
            (F.col("r") - 1).cast("long").alias("k_eff"),
        )
    )
    terms = (
        top.crossJoin(F.broadcast(ref))
        .where(F.col("r") <= F.col("k_eff"))
        .select(F.expr(_HILL_TERM).alias("term"))
    )
    agg = terms.agg(F.sum("term").cast("long").alias("hsum_micro"))
    return agg.crossJoin(F.broadcast(ref)).select(
        "k_eff", "f_ref", "hsum_micro", F.expr(_HILL_ALPHA).alias("alpha_micro")
    )
