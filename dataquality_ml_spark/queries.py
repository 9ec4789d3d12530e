"""Query catalog: every implemented operator exposed as a named query.

Each entry is a pure function ``(spark, sf_dir) -> DataFrame`` paired (when
SQL-expressible) with an ANSI-SQL oracle that DuckDB runs on the same parquet
tables. The driver hash-compares results at sf0.01 (CORRECTNESS gate).

Conventions:
- Every computed column is explicitly aliased; aliases match the oracle.
- Floating-point aggregates are rounded (4 decimals) on BOTH sides so
  summation-order differences between engines can't flip the value hash.
- Results are deterministic: ties always broken by a key column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataquality_ml_spark.operators import profile as prof
from dataquality_ml_spark.operators.relational import local_frame
from dataquality_ml_spark.sources.readers import read_parquet

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


_DOCS_NFC_MEMO: dict = {}


def _docs_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` with text NFC-normalized ONCE and pinned — the
    in-process analogue of ingest-time normalization.  Multi-pass text
    queries read this and build their plans under
    ``scalar.pre_normalized()``, so the per-operator NFC step (one Arrow
    round-trip per tokenization pass) is paid exactly once per query
    instead of once per pass.  The DuckDB oracles are unchanged: they
    compute ``nfc_normalize(text)`` once in the shared CTE, which is the
    same composition.

    The checkpointed relation is additionally memoized per (sf_dir, data
    fingerprint) — ~26 text-family queries consume the identical
    normalized relation, so the Arrow round-trip over the corpus runs
    once per PROCESS, not once per query (ingest normalizes once; every
    downstream job reads the normalized table).  Same invalidation rule
    as the quantizer memos; ``clear_feature_model_memo()`` drops it."""
    from dataquality_ml_spark.operators.text import normalize_unicode

    key = (sf_dir, _parquet_fingerprint(f"{sf_dir}/documents.parquet"))
    if key not in _DOCS_NFC_MEMO:
        _DOCS_NFC_MEMO[key] = normalize_unicode(
            _t(spark, sf_dir, "documents"), ["text"]
        ).localCheckpoint(eager=False)
    return _DOCS_NFC_MEMO[key]


# ---------------------------------------------------------------------------
# Flagship: pricing summary (scan → filter → groupBy agg → sort).
# Exercises S1/P1/P3/A-class aggregation in one declarative plan; Catalyst
# pushes the shipdate filter and 7-column pruning into the parquet scan, and
# the groupBy is a 2-phase hash agg (map-side partial → 8-group reduce).
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2)                                          AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                                     AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
      ROUND(AVG(l_quantity), 4)                                          AS avg_qty,
      ROUND(AVG(l_extendedprice), 4)                                     AS avg_price,
      ROUND(AVG(l_discount), 4)                                          AS avg_disc,
      COUNT(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Join coverage: star join over the full dimension chain. The reference has
# no joins (SURVEY §2.3); this is the engine's native replacement for its
# positional alignment. nation/region/customer are broadcast (small dims) —
# only lineitem⋈orders shuffles, on the join key, with AQE skew handling.
# ---------------------------------------------------------------------------
@register(
    "revenue_by_nation",
    oracle="""
    SELECT
      n.n_name                                                        AS nation,
      ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)           AS revenue,
      COUNT(*)                                                        AS n_items
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey  = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = F.broadcast(_t(spark, sf_dir, "customer"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Flagship DQ operator: single-pass column profile (SURVEY §7 step 2).
# One scan + one reduce replaces the reference's ~40-job per-column loop.
# ---------------------------------------------------------------------------
_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
        SELECT
          '{c}'                                                   AS "column",
          COUNT(*)                                                AS n_rows,
          COUNT({c})                                              AS n_valid,
          ROUND(AVG(CASE WHEN {c} IS NULL THEN 1.0 ELSE 0.0 END), 4) AS null_frac,
          ROUND(AVG(CASE WHEN {c} = 0 THEN 1.0 ELSE 0.0 END), 4)  AS zero_frac,
          ROUND(AVG({c}), 4)                                      AS mean,
          ROUND(STDDEV_SAMP({c}), 4)                              AS stddev,
          ROUND(MIN({c}), 4)                                      AS min,
          ROUND(MAX({c}), 4)                                      AS max,
          ROUND(QUANTILE_CONT({c}, 0.25), 4)                      AS p25,
          ROUND(QUANTILE_CONT({c}, 0.50), 4)                      AS p50,
          ROUND(QUANTILE_CONT({c}, 0.75), 4)                      AS p75,
          ROUND(QUANTILE_CONT({c}, 0.90), 4)                      AS p90,
          ROUND(QUANTILE_CONT({c}, 0.95), 4)                      AS p95
        FROM lineitem""")
    return " UNION ALL ".join(parts)


@register("profile_lineitem", oracle=_profile_oracle())
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = prof.profile(li, columns=_PROFILE_COLS, exact_quantiles=True)
    stat_cols = [c for c in p.columns if c not in ("column", "n_rows", "n_valid")]
    return p.select(
        "column",
        "n_rows",
        "n_valid",
        *[F.round(F.col(c), 4).alias(c) for c in stat_cols],
    )


# ---------------------------------------------------------------------------
# Projection + predicate + cast + JSON extraction (P1/P3/P5 + scalar fns).
# All JVM-side expressions; the filter and 4-column projection push into the
# parquet scan.
# ---------------------------------------------------------------------------
@register(
    "filter_project_cast",
    oracle="""
    SELECT
      event_id,
      user_id,
      CAST(FLOOR(value) AS INTEGER)                           AS value_int,
      CAST(json_extract(props, '$.k') AS INTEGER)             AS prop_k
    FROM events
    WHERE event_type = 'purchase' AND value > 100
    ORDER BY event_id
    """,
)
def filter_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 100))
        .select(
            "event_id",
            "user_id",
            F.col("value").cast("int").alias("value_int"),
            F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        )
        .orderBy("event_id")
    )


# ===========================================================================
# Thresholds / anomaly flags / evaluation (SURVEY §2.4 A7-A13, §2.8 M13)
# ===========================================================================
from dataquality_ml_spark.operators import evaluate as ev  # noqa: E402
from dataquality_ml_spark.operators import relational as rel  # noqa: E402
from dataquality_ml_spark.operators import sequences as seq  # noqa: E402
from dataquality_ml_spark.operators import thresholds as th  # noqa: E402


@register(
    "zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT AVG(value) AS mu, STDDEV_SAMP(value) AS sigma FROM events
    )
    SELECT e.event_id, ROUND((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e, stats s
    WHERE ABS((e.value - s.mu) / s.sigma) > 2.5
    ORDER BY e.event_id
    """,
)
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = _t(spark, sf_dir, "events")
    z = th.zscore_agg(ev_df, "value")
    return (
        z.where(F.abs(F.col("zscore")) > 2.5)
        .select("event_id", F.round("zscore", 4).alias("zscore"))
        .orderBy("event_id")
    )


@register(
    "iqr_outlier_counts",
    oracle="""
    WITH qs AS (
      SELECT QUANTILE_CONT(value, 0.25) AS q1, QUANTILE_CONT(value, 0.75) AS q3
      FROM events
    )
    SELECT e.event_type, COUNT(*) AS n_outliers
    FROM events e, qs
    WHERE e.value > qs.q3 + 1.5 * (qs.q3 - qs.q1)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def iqr_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = _t(spark, sf_dir, "events")
    t = th.iqr_threshold(ev_df, "value", k=1.5, exact=True)
    return (
        th.flag_anomalies(ev_df, "value", t)
        .where(F.col("is_anomaly"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
        .orderBy("event_type")
    )


@register(
    "confusion_p90",
    oracle="""
    WITH t AS (SELECT QUANTILE_CONT(value, 0.90) AS thr FROM events),
    flags AS (
      SELECT (e.value > t.thr) AS p, (e.event_type = 'error') AS a
      FROM events e, t
    ),
    c AS (
      SELECT
        COUNT(*) FILTER (WHERE p AND a)         AS tp,
        COUNT(*) FILTER (WHERE p AND NOT a)     AS fp,
        COUNT(*) FILTER (WHERE NOT p AND NOT a) AS tn,
        COUNT(*) FILTER (WHERE NOT p AND a)     AS fn
      FROM flags
    )
    SELECT tp, fp, tn, fn,
      ROUND(tp / GREATEST(tp + fn, 1), 4)  AS detection_rate,
      ROUND(fp / GREATEST(fp + tn, 1), 4)  AS false_positive_rate,
      ROUND(tp / GREATEST(tp + fp, 1), 4)  AS precision,
      ROUND(2.0 * (tp / GREATEST(tp + fp, 1)) * (tp / GREATEST(tp + fn, 1))
            / GREATEST(tp / GREATEST(tp + fp, 1) + tp / GREATEST(tp + fn, 1), 1e-12), 4) AS f1
    FROM c
    """,
)
def confusion_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = _t(spark, sf_dir, "events")
    t = th.percentile_threshold(ev_df, "value", 0.90, exact=True)
    flagged = th.flag_anomalies(ev_df, "value", t).withColumn(
        "actual_failure", F.col("event_type") == "error"
    )
    return ev.confusion_metrics(flagged)


@register(
    "roc_auc_value",
    oracle="""
    WITH ranked AS (
      SELECT (event_type = 'error') AS y,
             ROW_NUMBER() OVER (ORDER BY value) AS rn,
             value AS s
      FROM events
    ),
    mid AS (
      SELECT y, AVG(rn) OVER (PARTITION BY s) AS midrank FROM ranked
    ),
    agg AS (
      SELECT SUM(CASE WHEN y THEN midrank END) AS rank_sum,
             COUNT(*) FILTER (WHERE y)     AS np,
             COUNT(*) FILTER (WHERE NOT y) AS nn
      FROM mid
    )
    SELECT ROUND((rank_sum - np * (np + 1) / 2.0) / (np * nn), 4) AS auc, np, nn
    FROM agg
    """,
)
def roc_auc_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = _t(spark, sf_dir, "events").withColumn(
        "label", F.col("event_type") == "error"
    )
    return ev.roc_auc(ev_df, "value", "label")


@register(
    "string_index_freq",
    oracle="""
    SELECT event_type,
           COUNT(*) AS freq,
           CAST(DENSE_RANK() OVER (ORDER BY COUNT(*) DESC, event_type) - 1 AS BIGINT) AS idx
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def string_index_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ordered categorical index (reference A6/M2: StringIndexer
    orders by descending frequency, lib/utils.py:205-208) with a
    deterministic tie-break the MLlib version lacks."""
    from pyspark.sql import Window

    ev_df = _t(spark, sf_dir, "events")
    counts = ev_df.groupBy("event_type").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.asc("event_type"))
    return (
        counts.withColumn("idx", (F.dense_rank().over(w) - 1).cast("bigint"))
        .orderBy("event_type")
    )


# ===========================================================================
# Sequences / analytic windows (SURVEY §2.5 W1-W3)
# ===========================================================================
@register(
    "seq_window_stats",
    oracle="""
    SELECT event_id, user_id,
           ROUND(w_mean, 4) AS w_mean,
           ROUND(w_min, 4)  AS w_min,
           ROUND(w_max, 4)  AS w_max
    FROM (
      SELECT event_id, user_id,
        COUNT(value) OVER w AS w_count,
        AVG(value)  OVER w AS w_mean,
        MIN(value)  OVER w AS w_min,
        MAX(value)  OVER w AS w_max
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    WHERE w_count = 20
    ORDER BY event_id
    """,
)
def seq_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-checkable shadow of the sequence operator (W1): same per-key
    ordered 20-row frame, scalar stats instead of collect_list."""
    ev_df = _t(spark, sf_dir, "events")
    s = seq.sequence_stats(ev_df, "user_id", "ts", "value", n=20, tiebreak="event_id")
    return s.select(
        "event_id",
        "user_id",
        F.round("w_mean", 4).alias("w_mean"),
        F.round("w_min", 4).alias("w_min"),
        F.round("w_max", 4).alias("w_max"),
    ).orderBy("event_id")


@register(
    "gap_check_events",
    oracle="""
    SELECT user_id, COUNT(*) AS n_gaps
    FROM (
      SELECT user_id,
        EXTRACT(EPOCH FROM ts) - LAG(EXTRACT(EPOCH FROM ts))
          OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_seconds
      FROM events
    )
    WHERE gap_seconds > 3600
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def gap_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = _t(spark, sf_dir, "events")
    # deterministic ordering: (ts, event_id)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    return (
        ev_df.withColumn("gap_seconds", gap)
        .where(F.col("gap_seconds") > 3600)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .orderBy("user_id")
    )


@register(
    "topk_by_value",
    oracle="""
    SELECT event_id, ROUND(value, 4) AS value
    FROM events
    ORDER BY value DESC, event_id
    LIMIT 100
    """,
)
def topk_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 top-anomalies ordering: TakeOrderedAndProject, not a full sort."""
    ev_df = _t(spark, sf_dir, "events")
    return rel.top_k(ev_df, "value", 100, "event_id").select(
        "event_id", F.round("value", 4).alias("value")
    )


# ===========================================================================
# Sampling / set ops / rollup (SURVEY §2.6 L4-L6 + engine-native extras)
# ===========================================================================
@register(
    "sample_hash_10pct",
    oracle="""
    SELECT event_id, user_id
    FROM events
    WHERE (event_id * 2654435761) % 4294967296 < 429496729
    ORDER BY event_id
    """,
)
def sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable deterministic 10% sample (reference L4 random_state=42
    semantics, but reproducible across engines and cluster sizes)."""
    ev_df = _t(spark, sf_dir, "events")
    return rel.sample_hash(ev_df, "event_id", 10).select("event_id", "user_id").orderBy("event_id")


@register(
    "sample_hash_string_key",
    oracle="""
    SELECT doc_id, source
    FROM (SELECT *, CAST(doc_id AS VARCHAR) AS doc_key FROM documents)
    WHERE CAST('0x' || substr(md5(doc_key), 1, 8) AS BIGINT) < 429496729
    ORDER BY doc_id
    """,
)
def sample_hash_string_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample keyed on a STRING column via the md5-based
    portable hash — the numeric-cast path silently dropped every row of a
    string-keyed corpus until round 3 (VERDICT r2 wrong-list item 4)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    return (
        rel.sample_hash(docs, "doc_key", 10)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@register(
    "union_align_events",
    oracle="""
    SELECT event_id, value, CAST(NULL AS BIGINT) AS user_id FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, CAST(NULL AS DOUBLE) AS value, user_id FROM events WHERE event_type = 'signup'
    ORDER BY event_id
    """,
)
def union_align_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6+P7: unionByName with automatic null-fill for missing columns
    (reference pd.concat + manual lit(None) alignment)."""
    ev_df = _t(spark, sf_dir, "events")
    a = ev_df.where(F.col("event_type") == "purchase").select("event_id", "value")
    b = ev_df.where(F.col("event_type") == "signup").select("event_id", "user_id")
    return rel.union_aligned(a, b).orderBy("event_id")


@register(
    "events_rollup",
    oracle="""
    SELECT event_type,
           CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY ROLLUP (event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP))
    ORDER BY event_type NULLS FIRST, day NULLS FIRST
    """,
)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregation — grouping-sets surface the reference
    lacks entirely (SURVEY §2.4 note); free in Spark, map-side partial agg."""
    ev_df = _t(spark, sf_dir, "events")
    return (
        ev_df.withColumn("day", F.date_trunc("day", "ts"))
        .rollup("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy(F.col("event_type").asc_nulls_first(), F.col("day").asc_nulls_first())
    )


# ===========================================================================
# Imputation (SURVEY §2.4 A3/A4, §2.8 M1) — nulls synthesized via predicate
# because the testdata has none (value < 1 → NULL).
# ===========================================================================
@register(
    "impute_mean_value",
    oracle="""
    WITH nulled AS (
      SELECT event_id, CASE WHEN value >= 1 THEN value END AS v FROM events
    ),
    m AS (SELECT AVG(v) AS mean_v FROM nulled)
    SELECT n.event_id, ROUND(COALESCE(n.v, m.mean_v), 4) AS value_imputed
    FROM nulled n, m
    ORDER BY n.event_id
    """,
)
def impute_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = _t(spark, sf_dir, "events").select(
        "event_id", F.when(F.col("value") >= 1, F.col("value")).alias("v")
    )
    imputed = th.impute_mean(ev_df, ["v"])
    return imputed.select(
        "event_id", F.round("v", 4).alias("value_imputed")
    ).orderBy("event_id")


@register(
    "impute_median_value",
    oracle="""
    WITH nulled AS (
      SELECT event_id, CASE WHEN value >= 1 THEN value END AS v FROM events
    ),
    m AS (SELECT QUANTILE_CONT(v, 0.5) AS med_v FROM nulled)
    SELECT n.event_id, ROUND(COALESCE(n.v, m.med_v), 4) AS value_imputed
    FROM nulled n, m
    ORDER BY n.event_id
    """,
)
def impute_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = _t(spark, sf_dir, "events").select(
        "event_id", F.when(F.col("value") >= 1, F.col("value")).alias("v")
    )
    imputed = th.impute_median(ev_df, ["v"], exact=True)
    return imputed.select(
        "event_id", F.round("v", 4).alias("value_imputed")
    ).orderBy("event_id")


# ===========================================================================
# Text analysis + dedup over `documents` (SURVEY §7 step 9)
# ===========================================================================
from dataquality_ml_spark.operators import dedup as dd  # noqa: E402
from dataquality_ml_spark.operators import text as tx  # noqa: E402

_TOKS_CTE = (
    "toks AS (SELECT doc_id, trim(lower(nfc_normalize(text))) AS norm, "
    "string_split_regex(trim(lower(nfc_normalize(text))), '\\s+') AS t FROM documents)"
)
_SH_CTE = (
    "sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4], ' ') "
    "for i in generate_series(1, len(t)-4)]) AS shs FROM toks WHERE len(t) >= 5)"
)


@register(
    "token_stats_docs",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           len(t) AS n_tokens,
           length(norm) AS n_chars_norm,
           ROUND((length(norm) - (len(t) - 1)) / CAST(len(t) AS DOUBLE), 4) AS avg_token_len
    FROM toks
    ORDER BY doc_id
    """,
)
def token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


_STOP_SQL = ", ".join(f"'{w}'" for w in tx.STOPWORDS)


@register(
    "text_quality_docs",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT d.doc_id,
      length(d.text) AS n_chars,
      len(t.t) AS n_tokens,
      ROUND((length(d.text) - length(regexp_replace(d.text, '[.!?,;:]', '', 'g')))
            / CAST(length(d.text) AS DOUBLE), 4) AS punct_ratio,
      ROUND((length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')))
            / CAST(length(d.text) AS DOUBLE), 4) AS digit_ratio,
      ROUND(len(list_filter(t.t, w -> w IN ({_STOP_SQL}))) / CAST(len(t.t) AS DOUBLE), 4) AS stopword_frac,
      (len(t.t) >= 10
        AND (length(d.text) - length(regexp_replace(d.text, '[.!?,;:]', '', 'g'))) / CAST(length(d.text) AS DOUBLE) <= 0.1
        AND (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g'))) / CAST(length(d.text) AS DOUBLE) <= 0.2
      ) AS is_high_quality
    FROM documents d JOIN toks t USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.text_quality(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _lang_id_oracle() -> str:
    langs = sorted(tx.LANG_MARKERS)
    score_exprs = ",\n      ".join(
        "len(list_filter(t, w -> w IN ({}))) AS score_{}".format(
            ", ".join(f"'{m}'" for m in tx.LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = " ".join(f"WHEN score_{lang} = best THEN '{lang}'" for lang in langs)
    cols = ", ".join(f"score_{lang}" for lang in langs)
    return f"""
    WITH {_TOKS_CTE},
    scored AS (SELECT doc_id, {score_exprs} FROM toks),
    best_t AS (SELECT *, {best} AS best FROM scored)
    SELECT doc_id,
      CASE WHEN best = 0 THEN 'unknown' {case} ELSE 'unknown' END AS pred_lang,
      {cols}
    FROM best_t
    ORDER BY doc_id
    """


@register("lang_id_docs", oracle=_lang_id_oracle())
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.language_id(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "fingerprint_docs",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
      md5(norm) AS text_fp,
      md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS bow_fp
    FROM toks
    ORDER BY doc_id
    """,
)
def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprints(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "dedup_exact_docs",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS bow_fp,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM toks
    GROUP BY 1
    ORDER BY keep_id
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.dedup_exact(_t(spark, sf_dir, "documents")).orderBy("keep_id")


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_TOKS_CTE},
    {_SH_CTE},
    sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
    ex AS (SELECT doc_id, CAST('0x' || substr(md5(unnest(shs)), 1, 15) AS BIGINT) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
    ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=5, threshold=0.8,
        on_hot_shingle="exact",  # oracle exactness; bench SF is cool
    )


def _simhash_fps_ctes() -> str:
    """Shared DuckDB CTE chain ending in fps(doc_id, simhash)."""
    bits = 32
    bit_sums = ",\n      ".join(
        f"SUM(tf * (CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END)) AS b{j}"
        for j in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""{_TOKS_CTE},
    words AS (SELECT doc_id, unnest(t) AS w FROM toks),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    h AS (SELECT doc_id, tf, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h FROM tf),
    bitsums AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id),
    fps AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bitsums)"""


def _simhash_oracle() -> str:
    return f"""
    WITH {_simhash_fps_ctes()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash
    FROM fps a JOIN fps b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """


@register("simhash_dup_pairs", oracle=_simhash_oracle())
def simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_dup_pairs(_t(spark, sf_dir, "documents"))


@register(
    "simhash_hamming_pairs",
    # Oracle verifies the banded LSH against the EXACT quadratic definition:
    # every pair with bit_count(xor) <= 3 — banding (pigeonhole over k+1
    # bands) must find all of them, so recall is proven, not assumed.
    oracle=f"""
    WITH {_simhash_fps_ctes()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_hamming_pairs(_t(spark, sf_dir, "documents"), k=3)


def _minhash_oracle() -> str:
    perms = dd.minhash_perms(16)
    p = dd.MINHASH_P
    sig_exprs = ",\n      ".join(
        f"list_aggregate(list_transform(hs, h -> ({a} * h + {b}) % {p}), 'min') AS s{i}"
        for i, (a, b) in enumerate(perms)
    )
    band_rows = []
    for b in range(4):
        key = f"'{b}-' || " + " || ',' || ".join(
            f"CAST(s{b * 4 + r} AS VARCHAR)" for r in range(4)
        )
        band_rows.append(f"SELECT doc_id, {key} AS band FROM sigs")
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""
    WITH {_TOKS_CTE},
    {_SH_CTE},
    hsh AS (
      SELECT doc_id, list_distinct(list_transform(shs,
        s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT))) AS hs
      FROM sh
    ),
    sigs AS (SELECT doc_id, hs, {sig_exprs} FROM hsh),
    bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
        len(list_filter(sa.hs, h -> list_contains(sb.hs, h))) AS n_inter,
        len(sa.hs) AS n_a, len(sb.hs) AS n_b
      FROM cand c
      JOIN hsh sa ON sa.doc_id = c.id_a
      JOIN hsh sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b,
           ROUND(n_inter / CAST(n_a + n_b - n_inter AS DOUBLE), 4) AS jaccard
    FROM verified
    WHERE n_inter / CAST(n_a + n_b - n_inter AS DOUBLE) >= 0.8
    ORDER BY id_a, id_b
    """


@register("minhash_dedup_pairs", oracle=_minhash_oracle())
def minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), k=5, num_perms=16, bands=4, rows=4, threshold=0.8
    )


# ===========================================================================
# Similarity search over `embeddings` (SURVEY §7 step 9)
# ===========================================================================
from dataquality_ml_spark.operators import similarity as sim  # noqa: E402

_COS_SQL = (
    "list_dot_product(qv, cv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
)

_KNN_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, ROUND({_COS_SQL}, 4) + 0 AS sim
      FROM q, c WHERE neighbor_id != query_id
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """


def _queries_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)


@register("knn_bruteforce", oracle=_KNN_ORACLE)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return sim.knn_bruteforce(emb, _queries_vecs(spark, sf_dir), k=5)


@register("knn_pandas", oracle=_KNN_ORACLE)
def knn_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact semantics as knn_bruteforce, via Arrow-batched numpy
    matmul (the throughput path) — held to the same oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.knn_pandas(emb, _queries_vecs(spark, sf_dir), k=5)


_CENT_CTE = """
    e AS (
      SELECT label, vec_id,
             unnest(generate_series(1, len(embedding))) AS pos,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label AS centroid_id, list(m ORDER BY pos) AS centroid
      FROM (SELECT label, pos, ROUND(AVG(x), 6) AS m FROM e GROUP BY 1, 2)
      GROUP BY 1
    )"""


@register(
    "ivf_assign",
    oracle=f"""
    WITH {_CENT_CTE},
    scored AS (
      SELECT v.vec_id, c.centroid_id,
        ROUND(list_dot_product(v.emb, c.centroid)
          / (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.centroid, c.centroid))), 6) + 0 AS sim
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) v, cent c
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
      FROM scored
    )
    SELECT vec_id, centroid_id AS assigned_centroid, sim
    FROM ranked WHERE rn = 1
    ORDER BY vec_id
    """,
)
def ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.centroids_by_label(emb)
    return sim.ivf_assign(emb, cents).orderBy("vec_id")


@register(
    "knn_ivf",
    oracle=f"""
    WITH {_CENT_CTE},
    vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    assign_scored AS (
      SELECT v.vec_id, c.centroid_id,
        ROUND(list_dot_product(v.emb, c.centroid)
          / (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.centroid, c.centroid))), 6) + 0 AS sim
      FROM vecs v, cent c
    ),
    assign AS (
      SELECT vec_id, centroid_id AS cluster FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
        FROM assign_scored
      ) WHERE rn = 1
    ),
    q AS (
      SELECT v.vec_id AS query_id, v.emb AS qv, a.cluster AS q_cluster
      FROM vecs v JOIN assign a USING (vec_id) WHERE v.vec_id < 10
    ),
    c AS (
      SELECT v.vec_id AS neighbor_id, v.emb AS cv, a.cluster AS c_cluster
      FROM vecs v JOIN assign a USING (vec_id)
    ),
    scored AS (
      SELECT query_id, neighbor_id, ROUND({_COS_SQL}, 4) + 0 AS sim
      FROM q JOIN c ON c_cluster = q_cluster AND neighbor_id != query_id
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, sim, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.centroids_by_label(emb)
    return sim.knn_ivf(emb, _queries_vecs(spark, sf_dir), cents, k=5)


# ===========================================================================
# ML feature pipeline + anomaly scoring (SURVEY §2.8; §7 steps 3-6)
# ===========================================================================
from dataquality_ml_spark.ml import augment as aug  # noqa: E402
from dataquality_ml_spark.ml import detectors as det  # noqa: E402
from dataquality_ml_spark.ml import features as feat  # noqa: E402

_FEAT_NUM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


_FEATURE_MODEL_MEMO: dict = {}
_IFOREST_MEMO: dict = {}


def _parquet_fingerprint(path: str) -> tuple:
    """Cheap driver-side change detector for a parquet file/directory:
    (total bytes, max mtime_ns).  Keys the catalog memos so
    regenerated data invalidates the cache instead of serving stale
    fitted stats."""
    import os

    if os.path.isfile(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    total, mt = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            total += st.st_size
            mt = max(mt, st.st_mtime_ns)
    return (total, mt)


def clear_feature_model_memo() -> None:
    """Drop ALL memoized catalog state — fitted features, the isolation
    forest, quantizers, NFC projections, and ``queries_ext``'s tokenizer
    and supplier-count memos. Tokenizer and NFC entries hold
    session-bound checkpointed DataFrames, which reference a dead context
    after a SparkSession restart, so they go too.  The fingerprint keys
    already handle regenerated files."""
    _FEATURE_MODEL_MEMO.clear()
    _IFOREST_MEMO.clear()
    _QUANT_MEMO.clear()
    _DOCS_NFC_MEMO.clear()
    from dataquality_ml_spark import queries_ext  # local: avoids a cycle

    queries_ext._TOK_MEMO.clear()
    queries_ext._PS_SUPP_COUNT_MEMO.clear()


_QUANT_MEMO: dict = {}


def _memo_kmeans(spark: SparkSession, sf_dir: str, **kw):
    """Memoized coarse-quantizer training: ``kmeans_fit`` is
    deterministic (hash init, optional centroid rounding), so the six
    ANN-family queries that train k=4 centroids over the same embeddings
    table share ONE fit per (data fingerprint, params) — the production
    train-once/reuse contract ``ANNIndex`` already embodies, applied to
    the inline queries (the round-4 feature-trio memo, for quantizers)."""
    key = (
        "kmeans",
        sf_dir,
        _parquet_fingerprint(f"{sf_dir}/embeddings.parquet"),
        tuple(sorted(kw.items())),
    )
    if key not in _QUANT_MEMO:
        _QUANT_MEMO[key] = sim.kmeans_fit(_t(spark, sf_dir, "embeddings"), **kw)
    return _QUANT_MEMO[key]


def _dup_clusters_shared(spark: SparkSession, sf_dir: str):
    """Memoized near-dup cluster relation (ngram-Jaccard pairs →
    connected components), eagerly checkpointed: ``dup_clusters_docs``
    and ``dup_cluster_sizes`` consume the IDENTICAL relation, and the CC
    iteration is several jobs — resolve clusters once per (sf_dir, data
    fingerprint)."""
    from dataquality_ml_spark.functions.scalar import pre_normalized
    from dataquality_ml_spark.operators import graph as gr_ops

    key = (
        "dupclusters",
        sf_dir,
        _parquet_fingerprint(f"{sf_dir}/documents.parquet"),
    )
    if key not in _QUANT_MEMO:
        with pre_normalized():
            pairs = dd.ngram_jaccard_pairs(
                _docs_nfc(spark, sf_dir), k=5, threshold=0.8,
                on_hot_shingle="exact",
            ).select("id_a", "id_b")
            _QUANT_MEMO[key] = gr_ops.dedup_clusters(pairs).localCheckpoint(
                eager=True
            )
    return _QUANT_MEMO[key]


def _memo_pq(spark: SparkSession, sf_dir: str, **kw):
    """Memoized PQ codebook training (see ``_memo_kmeans``)."""
    key = (
        "pq",
        sf_dir,
        _parquet_fingerprint(f"{sf_dir}/embeddings.parquet"),
        tuple(sorted(kw.items())),
    )
    if key not in _QUANT_MEMO:
        _QUANT_MEMO[key] = sim.pq_train(_t(spark, sf_dir, "embeddings"), **kw)
    return _QUANT_MEMO[key]


def _lineitem_features(spark: SparkSession, sf_dir: str):
    """Shared feature pipeline for the detector trio (standardize /
    pca_ae / iforest / mae queries).  The fitted model — a handful of
    driver-side stats — is memoized per sf_dir: fitting is deterministic,
    and a production pipeline fits features ONCE and applies them to every
    consumer.  The APPLY projection and everything downstream
    (sample, forest fit, scoring, thresholds) remain per-query work."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", *_FEAT_NUM
    )
    memo_key = (sf_dir, _parquet_fingerprint(f"{sf_dir}/lineitem.parquet"))
    model = _FEATURE_MODEL_MEMO.get(memo_key)
    if model is None:
        model = feat.fit_features(
            li,
            roles={"numeric": _FEAT_NUM, "categorical": ["l_returnflag"], "boolean": []},
            label_col=None,
        )
        _FEATURE_MODEL_MEMO.clear()  # one live entry per sf_dir generation
        _FEATURE_MODEL_MEMO[memo_key] = model
    return feat.apply_features(li, model), model


def _flag_p95(scored: DataFrame, keys: list[str], score: str, exact: bool) -> DataFrame:
    """The reference's flag step (app/AE_model.py:197): the rows of
    ``scored`` = (keys…, score) whose score exceeds the P95 of all scores,
    score rounded to 4 places, in key order.  ``scored`` is lazily
    checkpointed: the threshold job materializes it and the returned query
    reads those rows instead of scoring again."""
    from dataquality_ml_spark.operators import thresholds as th_ops

    scored = scored.localCheckpoint(eager=False)
    t = th_ops.percentile_threshold(scored, score, 0.95, exact=exact)
    return (
        scored.where(F.col(score) > F.lit(t))
        .select(*keys, F.round(score, 4).alias(score))
        .orderBy(*keys)
    )


@register(
    "standardize_features",
    oracle=f"""
    WITH stats AS (
      SELECT {", ".join(f"AVG({c}) AS {c}_mu, STDDEV_SAMP({c}) AS {c}_sd" for c in _FEAT_NUM)}
      FROM lineitem
    ),
    freq AS (
      SELECT l_returnflag AS cat,
             CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_returnflag) - 1 AS DOUBLE) AS idx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber,
      f.idx AS l_returnflag_idx,
      {", ".join(f"ROUND((l.{c} - s.{c}_mu) / s.{c}_sd, 4) + 0 AS {c}_scaled" for c in _FEAT_NUM)}
    FROM lineitem l, stats s
    JOIN freq f ON f.cat = l.l_returnflag
    WHERE l.l_orderkey % 10 = 0
    ORDER BY l.l_orderkey, l.l_linenumber
    """,
)
def standardize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature pipeline (impute→index→scale) as a SQL-checkable query:
    one stats aggregation at fit, pure projections at apply."""
    transformed, model = _lineitem_features(spark, sf_dir)
    # fit uses the FULL table; the reported subset (1-in-10 orderkeys) just
    # bounds result transfer — deterministic, mirrored in the oracle
    return transformed.where(F.col("l_orderkey") % 10 == 0).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag_idx",
        *[
            (F.round(F.col(f"{c}_scaled"), 4) + F.lit(0.0)).alias(f"{c}_scaled")
            for c in _FEAT_NUM
        ],
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "mae_baseline_anomalies",
    oracle=f"""
    WITH stats AS (
      SELECT {", ".join(f"AVG({c}) AS {c}_mu, GREATEST(VAR_SAMP({c}), 1e-6) AS {c}_var" for c in _FEAT_NUM)}
      FROM lineitem
    ),
    scored AS (
      SELECT l.l_orderkey, l.l_linenumber,
        ({" + ".join(f"ABS(l.{c} - s.{c}_mu) / s.{c}_var" for c in _FEAT_NUM)}) / {len(_FEAT_NUM)} AS err
      FROM lineitem l, stats s
    ),
    thr AS (SELECT QUANTILE_CONT(err, 0.95) AS t FROM scored)
    SELECT s.l_orderkey, s.l_linenumber, ROUND(s.err, 4) AS err
    FROM scored s, thr
    WHERE s.err > thr.t
    ORDER BY s.l_orderkey, s.l_linenumber
    """,
)
def mae_baseline_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's variance-normalized MAE scoring loop
    (lib/utils.py:39-63: |x - x̂|/clamp(var, 1e-6) averaged over features,
    threshold = P95 of errors, app/AE_model.py:197) with the mean vector as
    the reconstruction — fully SQL-expressible, fully distributed."""
    li = _t(spark, sf_dir, "lineitem")
    row = li.agg(
        *[F.avg(c).alias(f"{c}_mu") for c in _FEAT_NUM],
        *[F.greatest(F.var_samp(c), F.lit(1e-6)).alias(f"{c}_var") for c in _FEAT_NUM],
    ).first()
    err = sum(
        F.abs(F.col(c) - F.lit(row[f"{c}_mu"])) / F.lit(row[f"{c}_var"])
        for c in _FEAT_NUM
    ) / len(_FEAT_NUM)
    keys = ["l_orderkey", "l_linenumber"]
    return _flag_p95(li.select(*keys, err.alias("err")), keys, "err", exact=True)


_PCA_AE_DIM = 1 + len(_FEAT_NUM)  # l_returnflag_idx + scaled numerics
_PCA_AE_K = 3
_PCA_AE_ITERS = 12
_PCA_AE_DP = 8


def _pca_ae_oracle(d: int = _PCA_AE_DIM, k: int = _PCA_AE_K,
                   iters: int = _PCA_AE_ITERS, dp: int = _PCA_AE_DP) -> str:
    """Unrolled linear-AE fit+score: standardized features → one-pass
    rounded covariance → ``iters`` block-power iterations with classical
    Gram-Schmidt as single-row CTEs (the same left-to-right IEEE op
    sequence ``detectors.subspace_components`` runs, so the components
    are bit-identical) → projector → variance-normalized MAE → exact P95
    filter."""
    feat_cols = ", ".join(
        [
            "CAST(f.idx AS DOUBLE) AS f0",
            *[
                f"(l.{c} - s.{c}_mu) / s.{c}_sd AS f{i + 1}"
                for i, c in enumerate(_FEAT_NUM)
            ],
        ]
    )
    s_aggs = ", ".join(f"SUM(f{i}) AS s{i}" for i in range(d))
    q_aggs = ", ".join(
        f"SUM(f{i} * f{j}) AS q{i}_{j}" for i in range(d) for j in range(i, d)
    )
    cov_cols = ["CAST(n AS BIGINT) AS n"]
    for i in range(d):
        cov_cols.append(f"ROUND(s{i} / n, {dp}) AS m{i}")
    for i in range(d):
        for j in range(d):
            lo, hi2 = (i, j) if i <= j else (j, i)
            cov_cols.append(
                f"ROUND(q{lo}_{hi2} / n - (s{i} / n) * (s{j} / n), {dp}) AS c{i}_{j}"
            )
    carry_cm = [f"m{i}" for i in range(d)] + [
        f"c{i}_{j}" for i in range(d) for j in range(d)
    ]

    parts = []
    init_u = ", ".join(
        f"CAST({1.0 if j == c else 0.0} AS DOUBLE) AS u{c}_{j}"
        for c in range(k)
        for j in range(d)
    )
    parts.append(f"it0 AS (SELECT {', '.join(carry_cm)}, {init_u} FROM cov)")
    prev = "it0"
    for t in range(1, iters + 1):
        # multiply: w_c_i = sum_j cov[i][j] * u_c_j  (j ascending)
        w_cols = ", ".join(
            f"({' + '.join(f'c{i}_{j} * u{c}_{j}' for j in range(d))}) AS w{c}_{i}"
            for c in range(k)
            for i in range(d)
        )
        parts.append(
            f"w{t} AS (SELECT {', '.join(carry_cm)}, {w_cols} FROM {prev})"
        )
        prev = f"w{t}"
        # Gram-Schmidt, component by component
        vnames = {c: [f"w{c}_{i}" for i in range(d)] for c in range(k)}
        for c in range(k):
            carried = (
                carry_cm
                + [f"w{cc}_{i}" for cc in range(c + 1, k) for i in range(d)]
                + [f"u{cc}_{i}" for cc in range(c) for i in range(d)]
            )
            for p in range(c):
                dot = " + ".join(
                    f"{vnames[c][i]} * u{p}_{i}" for i in range(d)
                )
                proj_cols = ", ".join(
                    f"({vnames[c][i]} - ({dot}) * u{p}_{i}) AS v{c}p{p}_{i}"
                    for i in range(d)
                )
                parts.append(
                    f"g{t}_{c}_{p} AS (SELECT {', '.join(carried)}, {proj_cols} FROM {prev})"
                )
                prev = f"g{t}_{c}_{p}"
                vnames[c] = [f"v{c}p{p}_{i}" for i in range(d)]
            nrm = " + ".join(f"{vnames[c][i]} * {vnames[c][i]}" for i in range(d))
            nexpr = f"(CASE WHEN SQRT({nrm}) = 0 THEN 1.0 ELSE SQRT({nrm}) END)"
            u_cols = ", ".join(
                f"{vnames[c][i]} / {nexpr} AS u{c}_{i}" for i in range(d)
            )
            parts.append(
                f"n{t}_{c} AS (SELECT {', '.join(carried)}, {u_cols} FROM {prev})"
            )
            prev = f"n{t}_{c}"
        # after normalizing all components, rename nothing: prev carries u's
    # projector + scoring
    proj_cols = ", ".join(
        f"({' + '.join(f'u{c}_{i} * u{c}_{j}' for c in range(k))}) AS p{i}_{j}"
        for i in range(d)
        for j in range(d)
    )
    parts.append(
        f"proj AS (SELECT {', '.join(carry_cm)}, {proj_cols} FROM {prev})"
    )
    recon = {
        j: "m%d + %s"
        % (j, " + ".join(f"(f{i} - m{i}) * p{i}_{j}" for i in range(d)))
        for j in range(d)
    }
    err = " + ".join(
        f"ABS(f{j} - ({recon[j]})) / GREATEST(c{j}_{j}, 0.000001)"
        for j in range(d)
    )
    parts_sql = ",\n    ".join(parts)
    return f"""
    WITH stats AS (
      SELECT {", ".join(f"AVG({c}) AS {c}_mu, STDDEV_SAMP({c}) AS {c}_sd" for c in _FEAT_NUM)}
      FROM lineitem
    ),
    freq AS (
      SELECT l_returnflag AS cat,
             CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_returnflag) - 1 AS DOUBLE) AS idx
      FROM lineitem GROUP BY l_returnflag
    ),
    feat AS (
      SELECT l.l_orderkey, l.l_linenumber, {feat_cols}
      FROM lineitem l CROSS JOIN stats s JOIN freq f ON f.cat = l.l_returnflag
    ),
    agg AS (SELECT COUNT(*) AS n, {s_aggs}, {q_aggs} FROM feat),
    cov AS (SELECT {", ".join(cov_cols)} FROM agg),
    {parts_sql},
    err AS (
      SELECT ft.l_orderkey, ft.l_linenumber, ({err}) / {float(d)} AS err
      FROM feat ft CROSS JOIN proj
    ),
    thr AS (SELECT QUANTILE_CONT(err, 0.95) AS t FROM err)
    SELECT e.l_orderkey, e.l_linenumber, ROUND(e.err, 4) + 0 AS score
    FROM err e, thr WHERE e.err > thr.t
    ORDER BY e.l_orderkey, e.l_linenumber
    """


@register("pca_ae_anomalies", oracle=_pca_ae_oracle())
def pca_ae_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-autoencoder anomaly detection, end to end, fully
    oracle-checked: one-pass rounded covariance fit
    (no sample collect — the fit input is d(d+3)/2+1 aggregates), a
    deterministic fixed-iteration subspace fit whose arithmetic is
    bit-identical to the oracle's unrolled CTE replay, pure-expression
    scoring inside whole-stage codegen (components ride as literals — no
    UDF), exact P95 threshold, flagged rows.  The reference AE lifecycle
    (SURVEY §3.2) without the collect-everything step; the sampled-SVD
    ``PCAAutoencoder`` path remains for the general detector API."""
    transformed, model = _lineitem_features(spark, sf_dir)
    _, mu, cov = det.feature_covariance(
        transformed, dim=_PCA_AE_DIM, round_dp=_PCA_AE_DP
    )
    comps = det.subspace_components(cov, _PCA_AE_K, iters=_PCA_AE_ITERS)
    var = [cov[j][j] for j in range(_PCA_AE_DIM)]
    err = det.linear_ae_error_expr(mu, comps, var)
    keys = ["l_orderkey", "l_linenumber"]
    return _flag_p95(
        transformed.select(*keys, err.alias("score")), keys, "score", exact=True
    )


@register("iforest_anomalies")  # non-SQL-expressible → rows-only check
def iforest_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolation-forest anomaly detection: sampled fit (ψ=256 per tree),
    broadcast forest, distributed scoring, P95 threshold (reference IF
    lifecycle app/IsolationForest_AE.py:191-290 re-expressed)."""
    transformed, _ = _lineitem_features(spark, sf_dir)
    # the sampled fit is deterministic (hash-ranked sample, seeded
    # forest), so it is memoized per sf_dir generation like
    # _lineitem_features: production fits a detector ONCE and scores
    # every batch with it — re-fitting per run re-pays the sample
    # collect + 50-tree build for an identical forest
    memo_key = (sf_dir, _parquet_fingerprint(f"{sf_dir}/lineitem.parquet"))
    forest = _IFOREST_MEMO.get(memo_key)
    if forest is None:
        # checkpoint only on the fit path, where the projection has TWO
        # consumers (sample + score); with the forest memoized the only
        # consumer is the scoring pass and the write is pure overhead
        transformed = transformed.localCheckpoint(eager=False)
        x = det.collect_feature_sample(transformed, max_rows=20_000)
        forest = det.IsolationForest(
            n_estimators=50, max_samples=256, seed=42
        ).fit(x)
        _IFOREST_MEMO.clear()  # one live entry per sf_dir generation
        _IFOREST_MEMO[memo_key] = forest
    keys = ["l_orderkey", "l_linenumber"]
    # no SQL oracle on this query (rows-only check): use the mergeable
    # approx-percentile sketch — the actual 100 TB path
    return _flag_p95(
        det.score_distributed(transformed, forest).select(*keys, "score"),
        keys,
        "score",
        exact=False,
    )


@register(
    "smote_counts",
    oracle="""
    SELECT event_type,
           CAST(CASE WHEN event_type = 'purchase'
                THEN GREATEST(COUNT(*), 3000) ELSE COUNT(*) END AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def smote_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOTE oversampling of the minority class to a target count
    (reference M12); class counts are deterministic and oracle-checked,
    the synthesized feature values are covered by unit tests."""
    ev_df = _t(spark, sf_dir, "events")
    out = aug.smote_oversample(
        ev_df, "event_type", "purchase", 3000, ["value"], seed=42
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


# ===========================================================================
# Extended relational coverage: join variants, ranking, pivot, sessionization
# (engine-native capabilities the reference lacked entirely — SURVEY §2.3)
# ===========================================================================
@register(
    "q3_top_unshipped",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → star join → agg → top-k.
    customer is broadcast; the lineitem⋈orders shuffle carries only
    filter-surviving rows (both predicates push to the scans)."""
    cust = F.broadcast(
        _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "semi_join_customers",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one large order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@register(
    "anti_join_customers",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no finished order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@register(
    "top_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-1 via ranking window — one shuffle on the group key."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
        )
        .orderBy("o_custkey")
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "pivot_order_priority",
    oracle=f"""
    SELECT o_orderstatus,
      {", ".join(
          'COUNT(*) FILTER (WHERE o_orderpriority = ' + chr(39) + p + chr(39) + ') AS "' + p + '"'
          for p in _PRIORITIES
      )}
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def pivot_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list → deterministic columns, single-pass
    conditional aggregation, no second distinct scan)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("o_orderstatus")
    )


@register(
    "distinct_suppliers_per_flag",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def distinct_suppliers_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (expands to a two-phase plan in Spark)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "sessionize_events",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id, ts,
        CASE WHEN EXTRACT(EPOCH FROM ts) - LAG(EXTRACT(EPOCH FROM ts))
          OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
          THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_id,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM gaps
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT session_idx) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap → cumulative-sum session ids.
    Two analytic windows over one shuffle on user_id, then a grouped agg —
    the batch equivalent of a session window in streaming."""
    from pyspark.sql import Window

    ev_df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    sessions = ev_df.withColumn(
        "new_session", F.when(gap > 1800, 1).otherwise(0)
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.countDistinct("session_idx").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "above_brand_avg_parts",
    oracle="""
    SELECT p_partkey, p_brand, ROUND(p_retailprice, 2) AS p_retailprice,
           ROUND(brand_avg, 2) AS brand_avg
    FROM (
      SELECT p_partkey, p_brand, p_retailprice,
             AVG(p_retailprice) OVER (PARTITION BY p_brand) AS brand_avg
      FROM part
    )
    WHERE p_retailprice > 1.2 * brand_avg
    ORDER BY p_partkey
    """,
)
def above_brand_avg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (price > 1.2× its group average) as a
    single analytic window — no self-join, one shuffle on the group key."""
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        part.withColumn("brand_avg", F.avg("p_retailprice").over(w))
        .where(F.col("p_retailprice") > 1.2 * F.col("brand_avg"))
        .select(
            "p_partkey",
            "p_brand",
            F.round("p_retailprice", 2).alias("p_retailprice"),
            F.round("brand_avg", 2).alias("brand_avg"),
        )
        .orderBy("p_partkey")
    )


# ===========================================================================
# Sequence anomaly report with key-based join-back (SURVEY §2.5 W2, §2.8 M14)
# ===========================================================================
@register(
    "sequence_anomaly_report",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    win AS (
      SELECT user_id, rn,
        COUNT(value) OVER w AS w_count,
        AVG(value) OVER w AS w_mean
      FROM ordered
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    thr AS (
      SELECT QUANTILE_CONT(w_mean, 0.95) AS t FROM win WHERE w_count = 20
    ),
    flagged AS (
      SELECT w.user_id, w.rn AS end_rn
      FROM win w, thr WHERE w.w_count = 20 AND w.w_mean > thr.t
    )
    SELECT DISTINCT o.user_id, o.event_id, ROUND(o.value, 4) AS value
    FROM flagged f
    JOIN ordered o
      ON o.user_id = f.user_id AND o.rn BETWEEN f.end_rn - 19 AND f.end_rn
    ORDER BY o.user_id, o.event_id
    """,
)
def sequence_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 re-expressed: flag 20-row windows whose rolling mean exceeds the
    P95 threshold, then attach every member row of each flagged window via
    a key+row-number RANGE join and dedup — replacing the reference's
    driver-side positional padding (app/LSTM_AE.py:372-464, :547-580) with
    a distributed join keyed on (user_id, rn)."""
    from pyspark.sql import Window

    from dataquality_ml_spark.operators import thresholds as th_ops

    ev_df = _t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the threshold job materializes the numbered events; the returned
    # query reads them twice (the windows and the join-back)
    ordered = ev_df.withColumn("rn", F.row_number().over(w_ord)).localCheckpoint(
        eager=False
    )
    w_seq = Window.partitionBy("user_id").orderBy("rn").rowsBetween(-19, 0)
    win = ordered.withColumn("w_count", F.count("value").over(w_seq)).withColumn(
        "w_mean", F.avg("value").over(w_seq)
    )
    full = win.where(F.col("w_count") == 20)
    t = th_ops.percentile_threshold(full, "w_mean", 0.95, exact=True)
    flagged = full.where(F.col("w_mean") > F.lit(t)).select(
        F.col("user_id").alias("f_user"), F.col("rn").alias("end_rn")
    )
    joined = flagged.join(
        ordered,
        (F.col("user_id") == F.col("f_user"))
        & (F.col("rn") >= F.col("end_rn") - 19)
        & (F.col("rn") <= F.col("end_rn")),
    )
    return (
        joined.select("user_id", "event_id", F.round("value", 4).alias("value"))
        .distinct()
        .orderBy("user_id", "event_id")
    )


# ===========================================================================
# Threshold sweep (Youden), winsorize, grouped-map, column pruning, seq-AE
# ===========================================================================
@register(
    "youden_threshold",
    oracle="""
    WITH scored AS (
      SELECT value AS s, (event_type = 'error') AS y FROM events
    ),
    totals AS (
      SELECT COUNT(*) FILTER (WHERE y) AS p, COUNT(*) FILTER (WHERE NOT y) AS n
      FROM scored
    ),
    sweep AS (
      SELECT s,
        SUM(CASE WHEN y THEN 1 ELSE 0 END) OVER (ORDER BY s DESC
          ROWS UNBOUNDED PRECEDING) AS tp,
        SUM(CASE WHEN y THEN 0 ELSE 1 END) OVER (ORDER BY s DESC
          ROWS UNBOUNDED PRECEDING) AS fp,
        ROW_NUMBER() OVER (PARTITION BY s ORDER BY s) AS dedup_rn
      FROM scored
    ),
    j AS (
      SELECT s, ROUND(CAST(tp AS DOUBLE) / t.p - CAST(fp AS DOUBLE) / t.n, 4) AS youden_j
      FROM (SELECT s, MAX(tp) AS tp, MAX(fp) AS fp FROM sweep GROUP BY s), totals t
    )
    SELECT ROUND(s, 4) AS best_threshold, youden_j
    FROM j
    ORDER BY youden_j DESC, s ASC
    LIMIT 1
    """,
)
def youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden's-J optimal threshold (reference A12 fallback,
    app/AE_model_enhanced.py:163-168): sweep every distinct score as a
    candidate threshold via one descending cumulative window; J = TPR−FPR.
    At 100 TB the same sweep runs over the binned histogram
    (evaluate.roc_auc_binned structure).

    The fact table collapses to per-DISTINCT-score (pos, neg) counts FIRST
    (map-side-combined hash agg); the descending cumulative TP/FP then come
    from ONE distributed exclusive prefix sum over the grouped relation
    (``relational.exclusive_prefix_sum(descending=True)``, both measures in
    a single decomposition — VERDICT r7 item 1). For continuous scores
    |distinct| ≈ |rows|, so the former `Window.orderBy(desc(s))` cumulative
    sum was a single-task funnel; no partition-less window remains.
    """
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    ev_df = _t(spark, sf_dir, "events")
    scored = ev_df.select(
        F.col("value").alias("s"), (F.col("event_type") == "error").alias("y")
    )
    by_s = scored.groupBy("s").agg(
        F.count(F.when(F.col("y"), 1)).alias("pos"),
        F.count(F.when(~F.col("y"), 1)).alias("neg"),
    )
    # round 13: the P/N grand totals ride back from the prefix-sum
    # decomposition's subtotal collect (with_totals) — the former
    # ``scored.agg`` pre-pass re-scanned the fact table just to count
    # positives/negatives (guide §1.2/§2.4); groupBy keeps the NULL-score
    # group, so the per-group sums equal the former whole-table counts
    per_s, _tots = exclusive_prefix_sum(
        by_s,
        "s",
        ["pos", "neg"],
        out=["_tp_above", "_fp_above"],
        descending=True,
        with_totals=True,
    )
    tot_p, tot_n = (int(v) for v in _tots.get((), [0, 0]))
    per_s = per_s.select(
        "s",
        (F.col("_tp_above") + F.col("pos")).alias("tp"),
        (F.col("_fp_above") + F.col("neg")).alias("fp"),
    )
    j = per_s.select(
        F.col("s"),
        F.round(
            F.col("tp").cast("double") / tot_p - F.col("fp").cast("double") / tot_n, 4
        ).alias("youden_j"),
    )
    return (
        j.orderBy(F.desc("youden_j"), F.asc("s"))
        .limit(1)
        .select(F.round("s", 4).alias("best_threshold"), "youden_j")
    )


@register(
    "winsorize_events",
    oracle="""
    WITH qs AS (
      SELECT QUANTILE_CONT(value, 0.01) AS lo, QUANTILE_CONT(value, 0.99) AS hi
      FROM events
    )
    SELECT e.event_id,
           ROUND(GREATEST(qs.lo, LEAST(qs.hi, e.value)), 4) AS value_clipped
    FROM events e, qs
    ORDER BY e.event_id
    """,
)
def winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clipping to [P1, P99] (reference app/LSTM_AE_enhanced.py:58-69,
    driver-side numpy → here greatest/least over broadcast scalars)."""
    from dataquality_ml_spark.operators import thresholds as th_ops

    ev_df = _t(spark, sf_dir, "events").select("event_id", "value")
    clipped = th_ops.clip_outliers(ev_df, "value", 0.01, 0.99, exact=True)
    return clipped.select(
        "event_id", F.round("value", 4).alias("value_clipped")
    ).orderBy("event_id")


@register(
    "group_zscore_pandas",
    oracle="""
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 4) + 0 AS group_z
    FROM events
    ORDER BY event_id
    """,
)
def group_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map surface (applyInPandas): per-group z-score computed by a
    pandas function per event_type group, held to the identical SQL-window
    oracle. Demonstrates the custom-stateful-operator escape hatch with
    verified parity; one shuffle on the group key."""
    import pandas as pd

    ev_df = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def gz(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        pdf = pdf.assign(group_z=((pdf["value"] - mu) / sd).round(4) + 0.0)
        return pdf[["event_id", "event_type", "group_z"]]

    return (
        ev_df.groupBy("event_type")
        .applyInPandas(gz, schema="event_id long, event_type string, group_z double")
        .orderBy("event_id")
    )


@register(
    "prune_feature_columns",
    oracle="""
    SELECT col AS "column", keep FROM (
      SELECT 'l_quantity' AS col,
        (AVG(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0.0 END) <= 0.95
         AND AVG(CASE WHEN l_quantity = 0 THEN 1.0 ELSE 0.0 END) <= 0.95) AS keep
      FROM lineitem
      UNION ALL
      SELECT 'l_discount',
        (AVG(CASE WHEN l_discount IS NULL THEN 1.0 ELSE 0.0 END) <= 0.95
         AND AVG(CASE WHEN l_discount = 0 THEN 1.0 ELSE 0.0 END) <= 0.95)
      FROM lineitem
      UNION ALL
      SELECT 'l_tax',
        (AVG(CASE WHEN l_tax IS NULL THEN 1.0 ELSE 0.0 END) <= 0.95
         AND AVG(CASE WHEN l_tax = 0 THEN 1.0 ELSE 0.0 END) <= 0.95)
      FROM lineitem
    )
    ORDER BY "column"
    """,
)
def prune_feature_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-quality pruning (reference P10: drop features >95% zero or
    missing) surfaced as a (column, keep) relation — one aggregation for
    all columns."""
    from dataquality_ml_spark.operators.profile import prune_low_quality

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_tax"]
    kept = set(prune_low_quality(li, cols))
    return local_frame(
        spark,
        [(c, c in kept) for c in sorted(cols)], "column string, keep boolean"
    )


@register("seq_pca_anomalies")  # non-SQL-expressible (SVD) → rows-only check
def seq_pca_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model path (reference LSTM-AE lifecycle, M8) with the
    engine's deterministic stand-in: 20-step per-user value windows (W1)
    flattened to 20-dim vectors, PCA-AE fitted on a bounded sample, scored
    distributed, P95-flagged — windows keep (user_id, event_id) keys so
    scores join back by key, not position (the W2 fix)."""
    from dataquality_ml_spark.operators import sequences as seq_ops

    # hash-partition the events by user explicitly (the windows then need
    # no exchange of their own): the approximate threshold's sketch depends
    # on the partition layout, and this holds it at the session's shuffle
    # partition count whatever adaptive execution would coalesce it to
    ev_df = _t(spark, sf_dir, "events").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "user_id"
    )
    # window + collect_list is the expensive stage: the sample collect
    # materializes it, the scoring pass reads it
    seqs = seq_ops.sequences(
        ev_df, "user_id", "ts", "value", n=20, out="sequence", tiebreak="event_id"
    ).select(
        "user_id", "event_id", F.col("sequence").cast("array<double>").alias("features")
    ).localCheckpoint(eager=False)
    x = det.collect_feature_sample(seqs, max_rows=30_000)
    ae = det.PCAAutoencoder.fit(x, n_components=4)
    keys = ["user_id", "event_id"]
    return _flag_p95(
        det.score_distributed(seqs, ae).select(*keys, "score"),
        keys,
        "score",
        exact=False,
    )


# ===========================================================================
# As-of join, TF-IDF, embedding near-dup (beyond-reference operators)
# ===========================================================================
@register(
    "asof_join_events",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           ROUND(p.value, 4) AS purchase_value,
           v.event_id AS prior_view_id,
           ROUND(v.value, 4) AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY p.event_id
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's most recent prior (or
    simultaneous) view. Implemented as union + per-key carry-forward window
    (operators.asof) — one shuffle, linear state; checked against DuckDB's
    native ASOF JOIN."""
    from dataquality_ml_spark.operators.asof import asof_join

    ev_df = _t(spark, sf_dir, "events")
    purchases = ev_df.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev_df.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"), "value"
    )
    joined = asof_join(purchases, views, key="user_id", ts="ts", value_cols=["view_id", "value"])
    return joined.select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("purchase_value"),
        F.col("view_id_asof").alias("prior_view_id"),
        F.round("value_asof", 4).alias("view_value"),
    ).orderBy("event_id")


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH {_TOKS_CTE},
    words AS (SELECT doc_id, unnest(t) AS w FROM toks),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w,
             ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 4) AS tfidf
      FROM tf JOIN df USING (w), n
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        ORDER BY tfidf DESC, w) AS INTEGER) AS rank
      FROM scored
    )
    SELECT doc_id, w AS term, tfidf, rank
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed IDF ln((N+1)/(df+1)), top-3 terms per doc.
    Two hash aggregations (tf by (doc,term), df by term) + a broadcast of
    the tiny df table — no HashingTF collisions, exact and oracle-checked."""
    from pyspark.sql import Window

    from dataquality_ml_spark.functions.scalar import tokens
    from dataquality_ml_spark.operators.relational import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    n_docs = docs.count()
    words = docs.select("doc_id", F.explode_outer(tokens("text")).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = words.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df_tbl), "w").select(
        "doc_id",
        "w",
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 4
        ).alias("tfidf"),
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= 3)
        .select("doc_id", F.col("w").alias("term"), "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


@register(
    "embedding_near_dup",
    oracle=f"""
    WITH {_CENT_CTE},
    vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    assign_scored AS (
      SELECT v.vec_id, c.centroid_id,
        ROUND(list_dot_product(v.emb, c.centroid)
          / (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.centroid, c.centroid))), 6) AS sim
      FROM vecs v, cent c
    ),
    assign AS (
      SELECT vec_id, centroid_id AS cluster FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
        FROM assign_scored
      ) WHERE rn = 1
    ),
    members AS (
      SELECT v.vec_id, v.emb, sqrt(list_dot_product(v.emb, v.emb)) AS nrm, a.cluster
      FROM vecs v JOIN assign a USING (vec_id)
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) + 0 AS cos_sim
      FROM members a JOIN members b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim
    FROM pairs WHERE cos_sim >= 0.4
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: IVF cluster bucketing bounds
    the pair space (intra-cluster only — the LSH-style recall/cost trade),
    exact cosine verification at threshold 0.4 (this corpus has no
    high-cosine duplicates; the threshold is set to exercise the operator). The all-pairs cross
    product never materializes."""
    from dataquality_ml_spark.operators import similarity as sim_ops

    emb = _t(spark, sf_dir, "embeddings")
    cents = sim_ops.centroids_by_label(emb)
    assign = sim_ops.ivf_assign(emb, cents).select(
        "vec_id", F.col("assigned_centroid").alias("cluster")
    )
    members = emb.join(assign, "vec_id").select("vec_id", "embedding", "cluster")
    # one BLAS GEMM per cluster (applyInPandas) instead of an interpreted
    # fold per pair — the pair space never materializes as Spark rows at
    # all; only the >= threshold survivors come back through Arrow
    pairs = sim_ops.cluster_pair_sims(members, threshold=0.4)
    return pairs.orderBy("id_a", "id_b")


# ===========================================================================
# Statistical aggregates, time buckets, regex, histogram
# ===========================================================================
@register(
    "corr_by_flag",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 4)       AS qty_price_corr,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS qty_price_cov,
           ROUND(CORR(l_discount, l_tax), 4)                 AS disc_tax_corr
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def corr_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped correlation/covariance — the feature-relationship profiling
    a DQ pass runs before model training (single 2-phase hash agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_cov"),
            F.round(F.corr("l_discount", "l_tax"), 4).alias("disc_tax_corr"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "quantiles_by_type",
    oracle="""
    SELECT event_type,
           ROUND(QUANTILE_CONT(value, 0.25), 4) AS p25,
           ROUND(QUANTILE_CONT(value, 0.50), 4) AS p50,
           ROUND(QUANTILE_CONT(value, 0.95), 4) AS p95
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles through histogram-refine SELECTION
    (round 8: first the grouped-count build retired the single-buffer
    ``percentile`` merge buffer — VERDICT r7 item 2 — then selection
    retired that build's O(rows) distinct-value shuffle too: narrow
    scans + a chains·bins count shuffle locate the order statistics;
    values bit-equal, oracle unchanged)."""
    from dataquality_ml_spark.operators.profile import exact_quantiles_select

    ev_df = _t(spark, sf_dir, "events")
    qv = exact_quantiles_select(
        ev_df, "value", [0.25, 0.5, 0.95], group_by=["event_type"]
    )
    rows = [
        (g[0], round(v[0], 4), round(v[1], 4), round(v[2], 4))
        for g, v in qv.items()
    ]
    return local_frame(
        spark,
        rows, "event_type string, p25 double, p50 double, p95 double"
    ).orderBy("event_type")


@register(
    "monthly_order_stats",
    oracle="""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_value,
           ROUND(AVG(o_totalprice), 4) AS avg_value
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
)
def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-bucket aggregation (date_trunc partitions align with the
    storage partitioning a daily-snapshot table would use)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_value"),
        )
        .orderBy("month")
    )


@register(
    "regexp_extract_props",
    oracle="""
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) AS k_value,
           length(props) AS props_len
    FROM events
    WHERE event_type = 'error'
    ORDER BY event_id
    """,
)
def regexp_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex field extraction from semi-structured payloads (JVM regexp,
    stays in codegen)."""
    ev_df = _t(spark, sf_dir, "events")
    return (
        ev_df.where(F.col("event_type") == "error")
        .select(
            "event_id",
            F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k_value"),
            F.length("props").alias("props_len"),
        )
        .orderBy("event_id")
    )


@register(
    "value_histogram",
    oracle="""
    WITH rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    b AS (
      SELECT LEAST(CAST(FLOOR((e.value - rng.lo) / ((rng.hi - rng.lo) / 20.0)) AS BIGINT), 19) AS bucket
      FROM events e, rng
    )
    SELECT bucket, COUNT(*) AS n
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram: one min/max pass + one bucket groupBy —
    the DQ distribution sketch (reference draws these driver-side with
    matplotlib; the engine emits the aggregate table that feeds them)."""
    ev_df = _t(spark, sf_dir, "events")
    rng = ev_df.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).first()
    width = (rng["hi"] - rng["lo"]) / 20.0
    bucket = F.least(
        F.floor((F.col("value") - F.lit(rng["lo"])) / F.lit(width)).cast("bigint"),
        F.lit(19),
    )
    return (
        ev_df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


# ===========================================================================
# Set ops, JSON struct parsing, skew-salted join
# ===========================================================================
@register(
    "user_type_set_ops",
    oracle="""
    WITH purchasers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    erroring AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT 'both' AS segment, COUNT(*) AS n FROM (
      SELECT user_id FROM purchasers INTERSECT SELECT user_id FROM erroring)
    UNION ALL
    SELECT 'purchase_only', COUNT(*) FROM (
      SELECT user_id FROM purchasers EXCEPT SELECT user_id FROM erroring)
    ORDER BY segment
    """,
)
def user_type_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators (the reference only had concat/union)."""
    ev_df = _t(spark, sf_dir, "events")
    purchasers = ev_df.where(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = ev_df.where(F.col("event_type") == "error").select("user_id").distinct()
    both = purchasers.intersect(erroring).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("segment"), "n"
    )
    only = purchasers.exceptAll(erroring.intersect(purchasers)).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("purchase_only").alias("segment"), "n")
    return both.unionByName(only).orderBy("segment")


@register(
    "parse_json_struct",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           (CAST(json_extract(props, '$.k') AS INTEGER) % 10 = 0) AS k_mod10
    FROM events
    WHERE event_type = 'signup'
    ORDER BY event_id
    """,
)
def parse_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json into a typed struct (vs get_json_object string probing) —
    schema-on-read for semi-structured columns; one pass, codegen'd."""
    ev_df = _t(spark, sf_dir, "events")
    parsed = ev_df.where(F.col("event_type") == "signup").withColumn(
        "p", F.from_json("props", "k int")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") % 10 == 0).alias("k_mod10"),
    ).orderBy("event_id")


@register(
    "salted_join_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS total_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (relational.salted_join): row-identical to the
    plain join — the oracle IS the plain join — while spreading any hot
    orderkey over 8 salt buckets."""
    from dataquality_ml_spark.operators.relational import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, "l_orderkey", salt=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ===========================================================================
# Declarative DQ rule engine + quantile-box anomaly rule
# ===========================================================================
@register(
    "dq_rule_report",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS total FROM lineitem)
    SELECT 'in_range(l_discount)' AS rule, 'in_range' AS kind,
           COUNT(*) FILTER (WHERE l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1) AS n_violations,
           ROUND(COUNT(*) FILTER (WHERE l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1)
                 / CAST(n.total AS DOUBLE), 6) AS violation_frac
    FROM lineitem, n GROUP BY n.total
    UNION ALL
    SELECT 'in_set(l_returnflag)', 'in_set',
           COUNT(*) FILTER (WHERE l_returnflag IS NULL OR l_returnflag NOT IN ('A', 'N', 'R')),
           ROUND(COUNT(*) FILTER (WHERE l_returnflag IS NULL OR l_returnflag NOT IN ('A', 'N', 'R'))
                 / CAST(n.total AS DOUBLE), 6)
    FROM lineitem, n GROUP BY n.total
    UNION ALL
    SELECT 'not_null(l_shipdate)', 'not_null',
           COUNT(*) FILTER (WHERE l_shipdate IS NULL),
           ROUND(COUNT(*) FILTER (WHERE l_shipdate IS NULL) / CAST(n.total AS DOUBLE), 6)
    FROM lineitem, n GROUP BY n.total
    UNION ALL
    SELECT 'references(l_orderkey->orders)', 'references',
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
           ROUND((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) / CAST(n.total AS DOUBLE), 6)
    FROM n
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)', 'unique',
           COALESCE((SELECT SUM(cnt) FROM (
             SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey, l_linenumber
           ) WHERE cnt > 1), 0),
           ROUND(COALESCE((SELECT SUM(cnt) FROM (
             SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey, l_linenumber
           ) WHERE cnt > 1), 0) / CAST(n.total AS DOUBLE), 6)
    FROM n
    ORDER BY rule
    """,
)
def dq_rule_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DQ checks (operators.rules): all row-level rules in ONE
    scan, uniqueness as a grouped count, referential integrity as an
    anti-join — the reusable form of the checks the reference hard-codes."""
    from dataquality_ml_spark.operators import rules as R

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return R.run_checks(
        li,
        [
            R.not_null("l_shipdate"),
            R.in_range("l_discount", 0, 0.1),
            R.in_set("l_returnflag", ["A", "N", "R"]),
            R.unique(["l_orderkey", "l_linenumber"]),
            R.references(["l_orderkey"], orders.select(F.col("o_orderkey")), ["o_orderkey"], "orders"),
        ],
    )


@register(
    "box_rule_anomalies",
    oracle="""
    WITH qs AS (
      SELECT QUANTILE_CONT(l_quantity, 0.01) AS q_lo, QUANTILE_CONT(l_quantity, 0.99) AS q_hi,
             QUANTILE_CONT(l_extendedprice, 0.01) AS p_lo, QUANTILE_CONT(l_extendedprice, 0.99) AS p_hi
      FROM lineitem
    )
    SELECT l.l_orderkey, l.l_linenumber,
      (CAST(l.l_quantity < qs.q_lo OR l.l_quantity > qs.q_hi AS INTEGER)
       + CAST(l.l_extendedprice < qs.p_lo OR l.l_extendedprice > qs.p_hi AS INTEGER)) AS n_outside
    FROM lineitem l, qs
    WHERE (CAST(l.l_quantity < qs.q_lo OR l.l_quantity > qs.q_hi AS INTEGER)
       + CAST(l.l_extendedprice < qs.p_lo OR l.l_extendedprice > qs.p_hi AS INTEGER)) >= 1
    ORDER BY l.l_orderkey, l.l_linenumber
    """,
)
def box_rule_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-box anomaly rule: flag rows with any feature outside its
    [P1, P99] box — the simplest interpretable detector; the box edges
    come from histogram-refine SELECTION (round 8: narrow scans + a
    bins-sized count shuffle per column — no single-buffer ``percentile``
    aggregate AND no distinct-value shuffle) + one projection."""
    from dataquality_ml_spark.operators.profile import exact_quantiles_select

    li = _t(spark, sf_dir, "lineitem")
    q_lo, q_hi = exact_quantiles_select(li, "l_quantity", [0.01, 0.99])
    p_lo, p_hi = exact_quantiles_select(li, "l_extendedprice", [0.01, 0.99])
    outside = (
        ((F.col("l_quantity") < q_lo) | (F.col("l_quantity") > q_hi)).cast("int")
        + ((F.col("l_extendedprice") < p_lo) | (F.col("l_extendedprice") > p_hi)).cast("int")
    )
    return (
        li.select("l_orderkey", "l_linenumber", outside.alias("n_outside"))
        .where(F.col("n_outside") >= 1)
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "stratified_sample_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    WHERE (event_id * 2654435761) % 4294967296 <
          CASE event_type WHEN 'error' THEN 4294967296 ELSE 429496729 END
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: keep ALL of the rare class
    ('error') and 10% of everything else — the class-rebalancing read
    pattern for training-data pipelines (engine-portable hash, no
    rand(seed) divergence across engines or cluster sizes)."""
    ev_df = _t(spark, sf_dir, "events")
    bucket = (F.col("event_id").cast("bigint") * F.lit(2654435761)) % F.lit(4294967296)
    keep = F.when(F.col("event_type") == "error", F.lit(4294967296)).otherwise(
        F.lit(429496729)
    )
    return (
        ev_df.where(bucket < keep)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


# ===========================================================================
# Composite corpus-curation pipeline + categorical profiling
# ===========================================================================
@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH {_TOKS_CTE},
    quality AS (
      SELECT d.doc_id, t.t
      FROM documents d JOIN toks t USING (doc_id)
      WHERE len(t.t) >= 10
        AND (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')))
            / CAST(length(d.text) AS DOUBLE) <= 0.2
    ),
    exact_keep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp FROM quality)
      GROUP BY fp
    ),
    {_SH_CTE.replace(
        "FROM toks WHERE len(t) >= 5",
        "FROM toks WHERE len(t) >= 5 AND doc_id IN (SELECT doc_id FROM exact_keep)",
    )},
    sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
    ex AS (SELECT doc_id, CAST('0x' || substr(md5(unnest(shs)), 1, 15) AS BIGINT) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    near_dups AS (
      SELECT DISTINCT id_b AS doc_id
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
    )
    SELECT doc_id FROM exact_keep
    WHERE doc_id NOT IN (SELECT doc_id FROM near_dups)
    ORDER BY doc_id
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation pipeline as ONE query: quality
    filter (length + digit density) → exact dedup (bag-of-words keeper) →
    near-dup removal (inverted-index Jaccard ≥ 0.8, higher id dropped) →
    surviving doc ids. Composes only already-oracle-verified operators;
    every stage stays distributed."""
    from dataquality_ml_spark.functions.scalar import pre_normalized
    from dataquality_ml_spark.operators import dedup as dd_ops
    from dataquality_ml_spark.operators import text as tx_ops

    with pre_normalized():
        docs = _docs_nfc(spark, sf_dir)
        quality = tx_ops.text_quality(docs)
        # slim to (doc_id, text) and materialize: both the exact-dedup
        # stage and the shingling stage retokenize this relation.  Eager,
        # as is exact_keep (the near-dup input AND the final anti-join):
        # the returned query is the first to read each of them, from
        # several subtrees at once, where a lazy checkpoint races and
        # recomputes.  The near-dup input is a checkpoint as well, so
        # the shingling stage's partition-count probe reads it without
        # running the join's exchange as a job of its own
        kept_q = docs.select("doc_id", "text").join(
            quality.where(
                (F.col("n_tokens") >= 10) & (F.col("digit_ratio") <= 0.2)
            ).select("doc_id"),
            "doc_id",
        ).localCheckpoint(eager=True)
        exact_keep = (
            dd_ops.dedup_exact(kept_q)
            .select(F.col("keep_id").alias("doc_id"))
            .localCheckpoint(eager=True)
        )
        deduped = kept_q.join(exact_keep, "doc_id").localCheckpoint(eager=True)
        near = dd_ops.ngram_jaccard_pairs(
            deduped, k=5, threshold=0.8, on_hot_shingle="exact"
        ).select(
            F.col("id_b").alias("doc_id")
        ).distinct()
        return exact_keep.join(near, "doc_id", "left_anti").orderBy("doc_id")


_CAT_PROFILE_COLS = [("event_type", "events"), ("lang", "documents"), ("source", "documents")]


def _cat_profile_oracle() -> str:
    parts = []
    for col, table in _CAT_PROFILE_COLS:
        parts.append(f"""
        SELECT '{table}.{col}' AS "column",
               COUNT(DISTINCT {col}) AS n_distinct,
               ROUND(AVG(CASE WHEN {col} IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_frac,
               (SELECT {col} FROM {table} WHERE {col} IS NOT NULL
                GROUP BY {col} ORDER BY COUNT(*) DESC, {col} LIMIT 1) AS top_value,
               (SELECT COUNT(*) FROM {table} t2 WHERE t2.{col} =
                 (SELECT {col} FROM {table} WHERE {col} IS NOT NULL
                  GROUP BY {col} ORDER BY COUNT(*) DESC, {col} LIMIT 1)) AS top_freq
        FROM {table}""")
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


@register("profile_categorical", oracle=_cat_profile_oracle())
def profile_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical column profiling: cardinality, null fraction, modal
    value + frequency — one grouped agg per column, results unioned (the
    string-side complement of the numeric profiler)."""
    out = None
    for col, table in _CAT_PROFILE_COLS:
        df = _t(spark, sf_dir, table)
        counts = (
            df.where(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.desc("freq"), F.asc(col))
            .limit(1)
        ).first()
        stats = df.agg(
            F.countDistinct(col).alias("n_distinct"),
            F.round(F.avg(F.col(col).isNull().cast("double")), 6).alias("null_frac"),
        ).select(
            F.lit(f"{table}.{col}").alias("column"),
            "n_distinct",
            "null_frac",
            F.lit(counts[col]).alias("top_value"),
            F.lit(counts["freq"]).cast("bigint").alias("top_freq"),
        )
        out = stats if out is None else out.unionByName(stats)
    return out.orderBy("column")


# ===========================================================================
# Time-series resampling + anomaly-run detection (telemetry ops)
# ===========================================================================
@register(
    "resample_hourly_ffill",
    oracle="""
    WITH bounds AS (
      SELECT user_id,
             DATE_TRUNC('hour', MIN(ts)) AS lo,
             DATE_TRUNC('hour', MAX(ts)) AS hi
      FROM events WHERE user_id < 20 GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bin
      FROM bounds
    ),
    agg AS (
      SELECT user_id, DATE_TRUNC('hour', ts) AS bin,
             ROUND(AVG(value), 4) AS mean_value
      FROM events WHERE user_id < 20
      GROUP BY 1, 2
    ),
    joined AS (
      SELECT g.user_id, g.bin, a.mean_value,
        COUNT(a.mean_value) OVER (PARTITION BY g.user_id ORDER BY g.bin
          ROWS UNBOUNDED PRECEDING) AS grp
      FROM grid g LEFT JOIN agg a ON a.user_id = g.user_id AND a.bin = g.bin
    )
    SELECT user_id, CAST(bin AS TIMESTAMP) AS bin,
      ROUND(MAX(mean_value) OVER (PARTITION BY user_id, grp), 4) AS value_ffill,
      (mean_value IS NULL) AS was_gap
    FROM joined
    ORDER BY user_id, bin
    """,
)
def resample_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: hourly bins per key over each key's own
    span (sequence() explode — no driver-side calendar), left join of
    per-bin aggregates, forward-fill via running count + max-over-group
    (gaps marked). One shuffle on the key."""
    from pyspark.sql import Window

    ev_df = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    bounds = ev_df.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        "user_id",
        F.explode_outer(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("bin"),
    )
    agg = (
        ev_df.groupBy("user_id", F.date_trunc("hour", "ts").alias("bin"))
        .agg(F.round(F.avg("value"), 4).alias("mean_value"))
    )
    joined = grid.join(agg, ["user_id", "bin"], "left")
    w = Window.partitionBy("user_id").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grp = F.count("mean_value").over(w)
    out = joined.withColumn("grp", grp)
    w_grp = Window.partitionBy("user_id", "grp")
    return out.select(
        "user_id",
        "bin",
        F.round(F.max("mean_value").over(w_grp), 4).alias("value_ffill"),
        F.col("mean_value").isNull().alias("was_gap"),
    ).orderBy("user_id", "bin")


@register(
    "anomaly_runs",
    oracle="""
    WITH thr AS (SELECT QUANTILE_CONT(value, 0.90) AS t FROM events),
    flagged AS (
      SELECT e.user_id, e.event_id, e.ts, (e.value > thr.t) AS hot,
             ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
      FROM events e, thr
    ),
    islands AS (
      SELECT user_id, rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp,
             event_id
      FROM flagged WHERE hot
    )
    SELECT user_id,
           MIN(event_id) AS run_start_event,
           COUNT(*) AS run_length
    FROM islands
    GROUP BY user_id, grp
    HAVING COUNT(*) >= 3
    ORDER BY user_id, run_start_event
    """,
)
def anomaly_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly persistence: runs of >= 3 consecutive above-P90 events per
    key via the gaps-and-islands row_number difference — distinguishes
    sustained drift from isolated spikes (what the reference's per-row
    thresholding cannot express)."""
    from pyspark.sql import Window

    ev_df = _t(spark, sf_dir, "events")
    from dataquality_ml_spark.operators import thresholds as th_ops

    t = th_ops.percentile_threshold(ev_df, "value", 0.90, exact=True)
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev_df.withColumn("rn", F.row_number().over(w_all)).where(
        F.col("value") > F.lit(t)
    )
    w_hot = Window.partitionBy("user_id").orderBy("rn")
    islands = flagged.withColumn("grp", F.col("rn") - F.row_number().over(w_hot))
    return (
        islands.groupBy("user_id", "grp")
        .agg(
            F.min("event_id").alias("run_start_event"),
            F.count(F.lit(1)).alias("run_length"),
        )
        .where(F.col("run_length") >= 3)
        .select("user_id", "run_start_event", "run_length")
        .orderBy("user_id", "run_start_event")
    )


# ===========================================================================
# Distribution drift (PSI / KS / chi-square), skew profiling, incremental
# dedup, RHP-LSH — round-1 continuation batch
# ===========================================================================
from dataquality_ml_spark.operators import drift as dr_ops  # noqa: E402

_DRIFT_SPLIT = "2024-01-16"  # events span 2024-01; halves make ref vs cur


@register(
    "drift_psi_events",
    oracle=f"""
    WITH ref AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR((value - 0.0) / 50.0) AS INTEGER))) AS bin,
             COUNT(*) AS n
      FROM events WHERE ts < TIMESTAMP '{_DRIFT_SPLIT}' AND value IS NOT NULL
      GROUP BY 1
    ),
    cur AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR((value - 0.0) / 50.0) AS INTEGER))) AS bin,
             COUNT(*) AS n
      FROM events WHERE ts >= TIMESTAMP '{_DRIFT_SPLIT}' AND value IS NOT NULL
      GROUP BY 1
    ),
    spine AS (SELECT CAST(range AS INTEGER) AS bin FROM range(10)),
    j AS (
      SELECT s.bin,
        COALESCE(r.n, 0) / (SELECT CAST(SUM(n) AS DOUBLE) FROM ref) AS p_ref,
        COALESCE(c.n, 0) / (SELECT CAST(SUM(n) AS DOUBLE) FROM cur) AS p_cur
      FROM spine s LEFT JOIN ref r USING (bin) LEFT JOIN cur c USING (bin)
    ),
    t AS (
      SELECT bin, p_ref, p_cur,
        (GREATEST(p_cur, 1e-6) - GREATEST(p_ref, 1e-6))
          * LN(GREATEST(p_cur, 1e-6) / GREATEST(p_ref, 1e-6)) AS psi_term
      FROM j
    )
    SELECT bin,
      ROUND(p_ref, 6) + 0 AS p_ref,
      ROUND(p_cur, 6) + 0 AS p_cur,
      ROUND(psi_term, 6) + 0 AS psi_term,
      ROUND(SUM(psi_term) OVER (), 6) + 0 AS psi_total
    FROM t ORDER BY bin
    """,
)
def drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of the
    events month over fixed equi-width value bins — the per-bin drift
    decomposition plus the headline scalar in one O(bins) result."""
    ev_df = _t(spark, sf_dir, "events")
    # split=: ONE events scan, tagged by the ts predicate — bit-identical
    # proportions to the two-filter form (NULL ts belongs to neither side
    # either way), at half the input I/O (round 14, guide §2.3/§6)
    out = dr_ops.psi_bins(
        ev_df,
        None,
        "value",
        lo=0.0,
        hi=500.0,
        bins=10,
        split=F.col("ts") < F.to_timestamp(F.lit(_DRIFT_SPLIT)),
    )
    return out.select(
        "bin",
        *[
            (F.round(c, 6) + F.lit(0.0)).alias(c)
            for c in ["p_ref", "p_cur", "psi_term", "psi_total"]
        ],
    ).orderBy("bin")


@register(
    "ks_drift_events",
    oracle=f"""
    WITH tagged AS (
      SELECT value AS v, 1 AS in_a FROM events
      WHERE ts < TIMESTAMP '{_DRIFT_SPLIT}' AND value IS NOT NULL
      UNION ALL
      SELECT value AS v, 0 AS in_a FROM events
      WHERE ts >= TIMESTAMP '{_DRIFT_SPLIT}' AND value IS NOT NULL
    ),
    per_v AS (SELECT v, SUM(in_a) AS n_a, SUM(1 - in_a) AS n_b FROM tagged GROUP BY v),
    cdf AS (
      SELECT
        SUM(n_a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          / CAST(SUM(n_a) OVER () AS DOUBLE) AS cdf_a,
        SUM(n_b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          / CAST(SUM(n_b) OVER () AS DOUBLE) AS cdf_b,
        SUM(n_a) OVER () AS tot_a,
        SUM(n_b) OVER () AS tot_b
      FROM per_v
    )
    SELECT ROUND(MAX(ABS(cdf_a - cdf_b)), 6) + 0 AS ks_d,
           CAST(MAX(tot_a) AS BIGINT) AS n_a,
           CAST(MAX(tot_b) AS BIGINT) AS n_b
    FROM cdf
    """,
)
def ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance between the two halves of the events
    month (grouped-value ECDF sweep; see drift.ks_statistic for the binned
    100 TB variant). Round 8: reads the checkpoint-memoized shared ECDF
    relation the whole two-sample family reduces (queries_ext._events_ecdf
    — same values, one build across KS/MW/CvM/AD)."""
    from dataquality_ml_spark.queries_ext import _events_ecdf  # local: no cycle

    out = dr_ops.ks_statistic(None, None, "value", ecdf=_events_ecdf(spark, sf_dir))
    return out.select(
        (F.round("ks_d", 6) + F.lit(0.0)).alias("ks_d"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
    )


@register(
    "chi2_event_type_dow",
    oracle="""
    WITH base AS (
      SELECT event_type AS a, CAST(EXTRACT(dow FROM ts) AS INTEGER) AS dow
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ),
    cont AS (SELECT a, dow, COUNT(*) AS o FROM base GROUP BY a, dow),
    marg_a AS (SELECT a, SUM(o) AS ma FROM cont GROUP BY a),
    marg_b AS (SELECT dow, SUM(o) AS mb FROM cont GROUP BY dow),
    m AS (
      SELECT g.a, g.dow, g.ma, g.mb, COALESCE(c.o, 0) AS o,
        SUM(COALESCE(c.o, 0)) OVER () AS n
      FROM (SELECT * FROM marg_a CROSS JOIN marg_b) g
      LEFT JOIN cont c ON c.a = g.a AND c.dow = g.dow
    ),
    e AS (SELECT a, dow, o, ma * mb / CAST(n AS DOUBLE) AS e, n FROM m)
    SELECT ROUND(SUM((o - e) * (o - e) / e), 4) + 0 AS chi2,
           CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof,
           CAST(MAX(n) AS BIGINT) AS n
    FROM e
    """,
)
def chi2_event_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: is event_type distributed evenly over
    day-of-week? (Spark dayofweek is 1=Sunday; DuckDB dow is 0=Sunday —
    the -1 shift aligns them.)"""
    ev_df = _t(spark, sf_dir, "events").select(
        F.col("event_type"), (F.dayofweek("ts") - 1).alias("dow")
    )
    out = dr_ops.chi2_independence(ev_df, "event_type", "dow")
    return out.select(
        (F.round("chi2", 4) + F.lit(0.0)).alias("chi2"),
        F.col("dof"),
        F.col("n").cast("bigint").alias("n"),
    )


@register(
    "heavy_hitters_users",
    oracle="""
    WITH counts AS (
      SELECT user_id AS value, COUNT(*) AS n
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    r AS (
      SELECT value, n,
        n / CAST(SUM(n) OVER () AS DOUBLE) AS share,
        CAST(ROW_NUMBER() OVER (ORDER BY n DESC, value) AS INTEGER) AS rank
      FROM counts
    )
    SELECT value, n, ROUND(share, 6) + 0 AS share, rank
    FROM r WHERE rank <= 10 ORDER BY rank
    """,
)
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew report: the 10 heaviest user_ids in events with their share of
    all rows — the diagnostic that decides salting/AQE-skew handling."""
    out = prof.heavy_hitters(_t(spark, sf_dir, "events"), "user_id", top_n=10)
    return out.select(
        "value", "n", (F.round("share", 6) + F.lit(0.0)).alias("share"), "rank"
    ).orderBy("rank")


@register(
    "incremental_dedup_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS bow_fp
      FROM toks
    ),
    corpus AS (SELECT DISTINCT bow_fp FROM fp WHERE doc_id % 5 <> 0),
    batch_first AS (
      SELECT bow_fp, MIN(doc_id) AS doc_id FROM fp WHERE doc_id % 5 = 0 GROUP BY 1
    )
    SELECT doc_id FROM batch_first
    WHERE bow_fp NOT IN (SELECT bow_fp FROM corpus)
    ORDER BY doc_id
    """,
)
def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-append dedup: treat doc_id % 5 == 0 as today's batch and the
    rest as the standing corpus; keep only batch docs whose content
    fingerprint is new (vs corpus AND within-batch)."""
    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return dd.incremental_dedup(new_batch, corpus).orderBy("doc_id")


@register(
    "incremental_dedup_bloom_docs",
    # Same oracle as incremental_dedup_docs: the bloom path must match the
    # exact anti-join. Legitimate because the filter is deterministic
    # (xxhash64 positions) and false-negative-free; at this bloom size
    # (8M bits / ~corpus-size items, 5 hashes) the false-positive odds of
    # dropping a genuinely-new doc are ~(n/2^23)^5 — if the hash-check
    # passes once it passes every run.
    oracle=f"""
    WITH {_TOKS_CTE},
    fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS bow_fp
      FROM toks
    ),
    corpus AS (SELECT DISTINCT bow_fp FROM fp WHERE doc_id % 5 <> 0),
    batch_first AS (
      SELECT bow_fp, MIN(doc_id) AS doc_id FROM fp WHERE doc_id % 5 = 0 GROUP BY 1
    )
    SELECT doc_id FROM batch_first
    WHERE bow_fp NOT IN (SELECT bow_fp FROM corpus)
    ORDER BY doc_id
    """,
)
def incremental_dedup_bloom_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-filter scale path of daily-append dedup: ONE shuffle-free
    corpus pass builds a fixed-size bitmap (partition-local bit-set, driver
    OR of O(partitions) 1 MiB maps); the batch is filtered by a broadcast
    vectorized membership check. At 100 TB this replaces re-shuffling the
    corpus's distinct fingerprints every day with a persistable 1 MiB
    artifact."""
    docs = _t(spark, sf_dir, "documents")
    new_batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    bloom = dd.build_fingerprint_bloom(corpus)
    return dd.incremental_dedup_bloom(new_batch, bloom).orderBy("doc_id")


def _rhp_oracle() -> str:
    """Oracle for banded random-hyperplane LSH: the plane literals are
    generated by the SAME deterministic md5 derivation the Spark operator
    uses, inlined as DOUBLE[] literals."""
    from dataquality_ml_spark.operators.similarity import rhp_planes

    planes = rhp_planes(64, 12)
    bands_sql = []
    for b in range(2):
        bits = []
        for i in range(6):
            lit = "[" + ", ".join(repr(v) for v in planes[b * 6 + i]) + "]"
            bits.append(
                f"(CASE WHEN ROUND(list_dot_product(emb, {lit}), 6) >= 0 "
                f"THEN {2**i} ELSE 0 END)"
            )
        bands_sql.append(" + ".join(bits) + f" AS band_{b}")
    return f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    sig AS (
      SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm,
             {", ".join(bands_sql)}
      FROM vecs
    ),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.band_0 = b.band_0 AND a.vec_id < b.vec_id
      UNION
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.band_1 = b.band_1 AND a.vec_id < b.vec_id
    ),
    verified AS (
      SELECT id_a, id_b,
        ROUND(list_dot_product(sa.emb, sb.emb) / (sa.nrm * sb.nrm), 4) + 0 AS cos_sim
      FROM cand
      JOIN sig sa ON sa.vec_id = id_a
      JOIN sig sb ON sb.vec_id = id_b
    )
    SELECT id_a, id_b, cos_sim FROM verified
    WHERE cos_sim >= 0.4 ORDER BY id_a, id_b
    """


@register("rhp_lsh_pairs", oracle=_rhp_oracle())
def rhp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup candidates via banded random-hyperplane LSH
    (2 bands × 6 sign bits) with exact cosine verification — the
    SimHash-for-vectors alternative to IVF bucketing (embedding_near_dup):
    no centroid fit pass, collision probability driven purely by angle."""
    return sim.rhp_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), n_planes=12, bits_per_band=6, threshold=0.4
    )


# ===========================================================================
# Subword tokenization, decile/Pareto analytics
# ===========================================================================
@register(
    "subword_tokens_docs",
    oracle=f"""
    SELECT doc_id,
      len(regexp_extract_all(trim(lower(nfc_normalize(text))),
        '{{0}}')) AS n_subword_tokens,
      ROUND(CASE WHEN len(regexp_extract_all(trim(lower(nfc_normalize(text))), '{{0}}')) > 0
            THEN length(trim(lower(nfc_normalize(text))))
                 / CAST(len(regexp_extract_all(trim(lower(nfc_normalize(text))), '{{0}}')) AS DOUBLE)
            ELSE 0.0 END, 4) AS chars_per_token
    FROM documents
    ORDER BY doc_id
    """.replace("{0}", r"''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9'']+"),
)
def subword_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token counts per document (GPT-2-style regex split;
    the LLM-pipeline tokenizer-cost proxy)."""
    return tx.subword_token_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "value_deciles",
    oracle="""
    WITH d AS (
      SELECT value, NTILE(10) OVER (ORDER BY value, event_id) AS decile
      FROM events WHERE value IS NOT NULL
    )
    SELECT decile, COUNT(*) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM d GROUP BY decile ORDER BY decile
    """,
)
def value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile boundaries of the event value distribution — the
    ranking-family analytic the reference never had; deterministic
    tie-break via event_id.

    Scale shape (VERDICT r5 item 1, hardened per ADVICE r6): NTILE's
    semantics need every row's GLOBAL rank, but a
    `Window.orderBy(value, event_id)` with no partition key funnels the
    whole fact table through one task.  Decompose the global rank
    instead, with a salt level so no single value funnels either:

    1. rows-before-my-value: exclusive prefix sum over the grouped
       DISTINCT-value relation via ``relational.exclusive_prefix_sum``
       (two-level range-partition decomposition — NO global window
       anywhere in the plan, so even an unbounded distinct-value
       cardinality cannot funnel a task);
    2. rows-before-my-salt-within-my-value: cumulative count over the
       (value, salt) grouped relation (≤ |distinct|·32 rows) — so a
       heavy-hitter value's rows spread over 32 tasks instead of one;
    3. rank-within-(value, salt): `row_number` over the salted key —
       the only window that touches raw rows, and it is fully parallel;
    4. global rank = (1) + (2) + (3); NTILE bucket from the global rank
       with exact `div`/`%` INTEGER arithmetic (first n%10 buckets take
       floor(n/10)+1 rows — standard NTILE fill; bigint `div`, never
       double division, so exact past 2^53), n from a 1-row broadcast.

    Identical output to the single-window form for any tie pattern (min /
    max / count per bucket don't depend on intra-value row order, so the
    salt's reshuffling of tied rows is invisible) — asserted value-wise
    against F.ntile AND plan-shape-wise (no global window over the raw
    events relation) in tests/test_misc_ops.py."""
    from pyspark.sql import Window

    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    n_salt = 32
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("value", "event_id")
        .withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(n_salt)))
    )
    gs = ev.groupBy("value", "_salt").agg(F.count(F.lit(1)).alias("_c"))
    g = gs.groupBy("value").agg(F.sum("_c").alias("_cnt"))
    # round 13: the global row count n rides back from the prefix-sum
    # decomposition's subtotal collect (with_totals) — the former
    # ``g.agg(sum)`` 1-row relation recomputed the whole ev→gs→g
    # pipeline a second time just to count rows (guide §1.2/§2.4)
    cum_v, _tots = exclusive_prefix_sum(
        g, "value", "_cnt", out="_before_v", with_totals=True
    )
    cum_v = cum_v.select("value", "_before_v")
    n_val = int(_tots.get((), [0])[0])
    w_salt = (
        Window.partitionBy("value")
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_s = gs.select(
        "value",
        "_salt",
        F.coalesce(F.sum("_c").over(w_salt), F.lit(0)).alias("_before_s"),
    )
    w_in = Window.partitionBy("value", "_salt").orderBy("event_id")
    decile = F.expr(
        "CASE WHEN _i <= _r * _big THEN (_i - 1) div _big + 1 "
        "ELSE _r + (_i - _r * _big - 1) div greatest(_q, 1L) + 1 END"
    )
    return (
        # No broadcast hints on off_s / cum_v (ADVICE r7): both scale with
        # |distinct values|, which is unbounded for continuous doubles — a
        # forced broadcast would collect an unbounded relation driver-side.
        # AQE picks broadcast when they measure small, shuffle join when not.
        ev.withColumn("_rn", F.row_number().over(w_in).cast("bigint"))
        .join(off_s, ["value", "_salt"])
        .join(cum_v, "value")
        .withColumn("_n", F.lit(n_val).cast("bigint"))
        .withColumn("_i", F.col("_before_v") + F.col("_before_s") + F.col("_rn"))
        .withColumn("_q", F.expr("_n div 10"))
        .withColumn("_r", F.col("_n") % 10)
        .withColumn("_big", F.col("_q") + F.lit(1))
        .select("value", decile.cast("bigint").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
        .orderBy("decile")
    )


@register(
    "event_type_pareto",
    oracle="""
    WITH s AS (SELECT event_type, SUM(value) AS tot FROM events
               WHERE value IS NOT NULL GROUP BY 1)
    SELECT event_type,
      ROUND(tot, 4) AS tot,
      ROUND(tot / SUM(tot) OVER (), 6) + 0 AS share,
      ROUND(SUM(tot) OVER (ORDER BY tot DESC, event_type
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            / SUM(tot) OVER (), 6) + 0 AS cum_share
    FROM s ORDER BY cum_share
    """,
)
def event_type_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (cumulative-share) breakdown of total value by event_type:
    running share ordered heaviest-first — the 'which 20% carries 80%'
    report, all windows over the tiny grouped relation."""
    from pyspark.sql import Window

    s = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.sum("value").alias("tot"))
    )
    run = Window.orderBy(F.desc("tot"), F.asc("event_type")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot_w = Window.partitionBy()
    return s.select(
        "event_type",
        F.round("tot", 4).alias("tot"),
        (F.round(F.col("tot") / F.sum("tot").over(tot_w), 6) + F.lit(0.0)).alias("share"),
        (F.round(F.sum("tot").over(run) / F.sum("tot").over(tot_w), 6) + F.lit(0.0)).alias(
            "cum_share"
        ),
    ).orderBy("cum_share")


# ===========================================================================
# Duplicate-cluster resolution (connected components over near-dup pairs)
# ===========================================================================
from dataquality_ml_spark.operators import graph as gr  # noqa: E402


@register(
    "dup_clusters_docs",
    oracle=f"""
    WITH RECURSIVE {_TOKS_CTE},
    {_SH_CTE},
    sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
    ex AS (SELECT doc_id, CAST('0x' || substr(md5(unnest(shs)), 1, 15) AS BIGINT) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.r FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (SELECT node AS doc_id, MIN(r) AS keep_id FROM reach GROUP BY node)
    SELECT doc_id, keep_id,
           COUNT(*) OVER (PARTITION BY keep_id) AS cluster_size
    FROM comp ORDER BY doc_id
    """,
)
def dup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS resolved into duplicate CLUSTERS via iterative
    min-label connected components — (doc_id, keep_id=min id in component,
    cluster_size). The step that turns pairwise dedup output into the
    keep/drop decision a corpus build actually executes."""
    return _dup_clusters_shared(spark, sf_dir).orderBy("doc_id")


# ===========================================================================
# Corpus hygiene: decontamination, repetition filtering, quota sampling
# ===========================================================================
from dataquality_ml_spark.operators import decontam as dc  # noqa: E402


@register(
    "decontam_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    {_SH_CTE},
    ex AS (SELECT doc_id, CAST('0x' || substr(md5(unnest(shs)), 1, 15) AS BIGINT) AS s FROM sh),
    bench AS (SELECT DISTINCT s FROM ex JOIN documents USING (doc_id) WHERE source = 'src0'),
    corp AS (SELECT ex.doc_id, ex.s FROM ex JOIN documents USING (doc_id) WHERE source <> 'src0')
    SELECT doc_id, COUNT(DISTINCT s) AS n_overlap
    FROM corp JOIN bench USING (s)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def decontam_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 5-gram with the
    held-out set (source='src0' stands in for an eval benchmark). The
    benchmark reduces to a broadcast set of shingle hashes — the corpus
    side never shuffles."""
    from dataquality_ml_spark.functions.scalar import pre_normalized

    with pre_normalized():
        docs = _docs_nfc(spark, sf_dir)
        return dc.contamination_report(
            docs.where(F.col("source") != "src0"),
            docs.where(F.col("source") == "src0"),
            k=5,
        ).orderBy("doc_id")


@register(
    "repetition_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    base AS (
      SELECT doc_id, t, len(t) AS n_tokens,
             ROUND(1 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 4) AS dup_token_frac
      FROM toks WHERE len(t) >= 2
    ),
    bg AS (
      SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]) AS bg
      FROM base
    ),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    top AS (
      SELECT doc_id, ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 4) AS top_bigram_frac
      FROM cnt GROUP BY 1
    )
    SELECT b.doc_id, b.n_tokens, b.dup_token_frac, t.top_bigram_frac,
           (b.dup_token_frac > 0.7 OR t.top_bigram_frac > 0.18) AS is_repetitive
    FROM base b JOIN top t USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: duplicate-token fraction +
    top-bigram share per doc, with the drop decision as a boolean."""
    return tx.repetition_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "quota_sample_sources",
    oracle="""
    WITH h AS (
      SELECT doc_id, source, (doc_id * 2654435761) % 4294967296 AS hv
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS sample_rank
      FROM h
    )
    SELECT doc_id, source, sample_rank FROM r
    WHERE sample_rank <= 10
    ORDER BY source, sample_rank
    """,
)
def quota_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling (corpus domain balancing): keep the 10
    hash-smallest docs per source. Two-phase (broadcast hash cutoff, then
    exact rank over ~4x10 survivors/group) so the window never sorts the
    full corpus; the oracle computes the naive single-window form — equal
    output proves the pruning is lossless."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        rel.quota_sample(docs, "source", "doc_id", 10)
        .select("doc_id", "source", "sample_rank")
        .orderBy("source", "sample_rank")
    )


@register(
    "unigram_logprob_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    cnt AS (SELECT tok, COUNT(*) AS tf FROM tk GROUP BY tok),
    tot AS (SELECT SUM(tf) AS total FROM cnt),
    v AS (SELECT tok, ln(tf / CAST(total AS DOUBLE)) AS logp FROM cnt, tot)
    SELECT doc_id, COUNT(*) AS n_tokens, ROUND(AVG(logp), 4) AS mean_logprob
    FROM tk JOIN v USING (tok)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality score: per-doc mean unigram
    log-probability under the corpus's own token distribution (model-free
    perplexity filter). Vocab agg is broadcast back against the corpus."""
    return tx.unigram_logprob(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "chunk_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    st AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 4, 1), 12)) AS s FROM toks),
    ch AS (SELECT doc_id, s, t[s:s+15] AS c FROM st)
    SELECT doc_id, CAST((s - 1) / 12 AS BIGINT) AS chunk_idx,
           len(c) AS n_chunk_tokens, array_to_string(c, ' ') AS chunk_text
    FROM ch
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (chunk=16, overlap=4) — the
    long-document split step before packing/tokenization."""
    return tx.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk=16, overlap=4
    ).orderBy("doc_id", "chunk_idx")


@register(
    "pack_sequences_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    n AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
      FROM n
    )
    SELECT doc_id, n_tokens, strt // 256 AS seq_id, strt % 256 AS seq_offset
    FROM c
    ORDER BY doc_id
    """,
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (budget=256) in doc_id order via the
    distributed prefix sum — the oracle computes the naive single-window
    form; equality proves the partition-offset recomposition is exact."""
    from dataquality_ml_spark.functions.scalar import pre_normalized
    from dataquality_ml_spark.operators.packing import pack_sequences

    with pre_normalized():
        n_df = tx.token_stats(_docs_nfc(spark, sf_dir)).select(
            "doc_id", "n_tokens"
        )
        return pack_sequences(n_df, budget=256).orderBy("doc_id")


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue by nation for one region and
    one order year. The customer-nation = supplier-nation predicate makes
    this the classic join-reordering test; all dims broadcast, the only
    shuffle is lineitem x orders, and the date filter pushes to the
    orders scan."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = F.broadcast(_t(spark, sf_dir, "customer"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(
        _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "nation")
    )


def _kmeans_oracle(k: int = 4) -> str:
    """Unrolled 2-iteration Lloyd k-means in DuckDB: init (hash-smallest k
    vectors) -> assign -> recompute means -> assign -> recompute -> final
    assignment. Mirrors kmeans_fit(iters=2) + kmeans_assign exactly."""

    return f"""
    WITH {_kmeans_cte(k)}
    SELECT vec_id, cluster FROM a3 ORDER BY vec_id
    """


def _kmeans_cte(k: int) -> str:
    """The unrolled-kmeans CTE chain alone (vecs .. a3), shared by every
    oracle that builds on the deterministic cluster assignment."""

    def assign(src_vecs: str, cents: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_distance(v.emb, c.emb), c.cid
               ) AS rn
        FROM {src_vecs} v CROSS JOIN {cents} c
      ) WHERE rn = 1
    )"""

    def update(assign_t: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT cid, list(m ORDER BY pos) AS emb FROM (
        SELECT cluster AS cid, pos, AVG(val) AS m FROM (
          SELECT a.cluster, unnest(v.emb) AS val,
                 generate_subscripts(v.emb, 1) AS pos
          FROM {assign_t} a JOIN vecs v USING (vec_id)
        ) GROUP BY cluster, pos
      ) GROUP BY cid
    )"""

    return f"""vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    init AS (
      SELECT emb, rk - 1 AS cid FROM (
        SELECT emb, ROW_NUMBER() OVER (
          ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS rk
        FROM vecs
      ) WHERE rk <= {k}
    ),
    {assign("vecs", "init", "a1")},
    {update("a1", "c1")},
    {assign("vecs", "c1", "a2")},
    {update("a2", "c2")},
    {assign("vecs", "c2", "a3")}"""


@register("kmeans_clusters", oracle=_kmeans_oracle(4))
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k=4, 2 iterations, deterministic
    hash init) then final assignment — the IVF codebook trainer as a
    fully oracle-checked iterative algorithm."""
    from dataquality_ml_spark.operators import similarity as sim_ops

    emb = _t(spark, sf_dir, "embeddings")
    from dataquality_ml_spark.queries import _memo_kmeans

    cents = _memo_kmeans(spark, sf_dir, k=4, iters=2)
    return sim_ops.kmeans_assign(emb, cents).orderBy("vec_id")


@register(
    "errors_after_purchase",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, ts AS s, ts + INTERVAL 1 HOUR AS e
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, COUNT(er.event_id) AS n_errors_1h
    FROM p LEFT JOIN events er
      ON er.event_type = 'error' AND er.ts >= p.s AND er.ts < p.e
    GROUP BY p.purchase_id
    ORDER BY p.purchase_id
    """,
)
def errors_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: error events landing within 1 hour after each
    purchase, zero-preserving counts. The inequality join becomes an
    equi-join on exploded hour buckets + exact range post-filter
    (operators.interval) — no nested-loop, no cartesian; the oracle runs
    the naive inequality join."""
    from dataquality_ml_spark.operators.interval import interval_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("e"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("err_ts")
    )
    hits = (
        interval_join(errors, purchases, "err_ts", "s", "e", 3600)
        .groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("n_errors_1h"))
    )
    return (
        purchases.select("purchase_id")
        .join(hits, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce("n_errors_1h", F.lit(0)).alias("n_errors_1h"),
        )
        .orderBy("purchase_id")
    )


@register(
    "melt_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, ROUND(value, 2) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
      FROM lineitem WHERE l_orderkey % 100 = 0
    ) UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount))
    ORDER BY l_orderkey, l_linenumber, measure
    """,
)
def melt_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (melt) of lineitem measures — the reshape every
    per-column profiler runs before a grouped aggregate. Native `unpivot`
    (one narrow generate, no shuffle); the 1-in-100 orderkey filter only
    bounds result transfer."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "value",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "measure",
            F.round("value", 2).alias("value"),
        )
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


@register(
    "user_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(DATE_TRUNC('month', ts)) AS cohort_month
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_month, DATE_TRUNC('month', e.ts) AS act_month
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_month,
           CAST(DATE_DIFF('month', cohort_month, act_month) AS BIGINT) AS months_since,
           COUNT(*) AS n_active_users
    FROM activity
    GROUP BY cohort_month, months_since
    ORDER BY cohort_month, months_since
    """,
)
def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen month,
    counted per month-offset of later activity. Two aggregations keyed by
    user_id then (cohort, offset) — the first-seen relation joins back
    broadcast (distinct users << events)."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort_month")
    )
    activity = (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_month",
            F.date_trunc("month", F.col("ts")).alias("act_month"),
        )
        .distinct()
    )
    months_since = (
        (F.year("act_month") - F.year("cohort_month")) * 12
        + (F.month("act_month") - F.month("cohort_month"))
    ).cast("bigint")
    return (
        activity.select(
            F.to_date("cohort_month").alias("cohort_month"),
            months_since.alias("months_since"),
        )
        .groupBy("cohort_month", "months_since")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_month", "months_since")
    )


@register(
    "monthly_revenue_growth",
    oracle="""
    WITH m AS (
      SELECT DATE_TRUNC('month', o_orderdate) AS month,
             SUM(o_totalprice) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, ROUND(revenue, 2) AS revenue,
           ROUND(100.0 * (revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month), 4) AS pct_change
    FROM m ORDER BY month
    """,
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: monthly revenue with LAG percent change.
    The global-order window runs over the AGGREGATED relation (one row per
    month) — never over the raw fact table."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        F.round("revenue", 2).alias("revenue"),
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias("pct_change"),
    ).orderBy("month")


# Extended catalog (registers additional queries into this module's
# registry on import). Round-3+ additions go AFTER this import so every
# pre-existing query keeps its registration position (the driver records
# correctness in registration order).
from dataquality_ml_spark import queries_ext as _queries_ext  # noqa: E402,F401


# ===========================================================================
# Product quantization (round 3): compressed-domain ANN
# ===========================================================================
def _pq_cents_ctes(m: int = 2, k: int = 4, sub: int = 32, include_vecs: bool = True) -> str:
    """Unrolled deterministic PQ training in DuckDB: per subspace, slice the
    vectors and run the 1-iteration Lloyd fit (hash-smallest init → assign
    → rounded-mean update) — mirrors pq_train(m=2, k=4, iters=1,
    round_dp=6) exactly. Ends with cents(s, cid, emb)."""
    parts = (
        ["vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)"]
        if include_vecs
        else []
    )
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(
            f"v{s} AS (SELECT vec_id, emb[{lo}:{hi}] AS emb FROM vecs)"
        )
        parts.append(f"""
    init{s} AS (
      SELECT emb, rk - 1 AS cid FROM (
        SELECT emb, ROW_NUMBER() OVER (
          ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS rk
        FROM v{s}
      ) WHERE rk <= {k}
    )""")
        parts.append(f"""
    a{s} AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_distance(v.emb, c.emb), c.cid
               ) AS rn
        FROM v{s} v CROSS JOIN init{s} c
      ) WHERE rn = 1
    )""")
        parts.append(f"""
    cb{s} AS (
      SELECT cid, list(mv ORDER BY pos) AS emb FROM (
        SELECT a.cid, pos, ROUND(AVG(val), 6) AS mv FROM (
          SELECT a.cid, a.vec_id FROM a{s} a
        ) a JOIN (
          SELECT vec_id, unnest(emb) AS val, generate_subscripts(emb, 1) AS pos
          FROM v{s}
        ) x USING (vec_id) GROUP BY a.cid, pos
      ) GROUP BY cid
    )""")
    union = " UNION ALL ".join(
        f"SELECT {s} AS s, cid, emb FROM cb{s}" for s in range(m)
    )
    parts.append(f"cents AS ({union})")
    return ",\n    ".join(parts)


_PQ_SQDIST = (
    "(list_dot_product(a, a) - 2 * list_dot_product(a, b) + list_dot_product(b, b))"
)


def _pq_codes_cte(m: int = 2, sub: int = 32) -> str:
    """codes(vec_id, s, c): per-subspace argmin codeword vs cents."""
    slices = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, emb[{s * sub + 1}:{(s + 1) * sub}] AS emb FROM vecs"
        for s in range(m)
    )
    return f"""
    sliced AS ({slices}),
    codes AS (
      SELECT vec_id, s, cid AS c FROM (
        SELECT v.vec_id, v.s, ct.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id, v.s
                 ORDER BY list_distance(v.emb, ct.emb), ct.cid
               ) AS rn
        FROM sliced v JOIN cents ct ON ct.s = v.s
      ) WHERE rn = 1
    )"""


@register(
    "pq_codes_embeddings",
    oracle=f"""
    WITH {_pq_cents_ctes()},
    {_pq_codes_cte()}
    SELECT vec_id,
           MAX(CASE WHEN s = 0 THEN c END) AS code_0,
           MAX(CASE WHEN s = 1 THEN c END) AS code_1
    FROM codes GROUP BY vec_id ORDER BY vec_id
    """,
)
def pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: 64-dim float vectors → 2 codeword ids
    (the 128x compression that makes 100 TB ANN RAM-resident). Training is
    the deterministic per-subspace k-means, so the full train+encode
    pipeline is oracle-checked against its unrolled SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    cbs = _memo_pq(spark, sf_dir, m=2, k=4, iters=1)
    codes = sim.pq_encode(emb, cbs)
    return codes.select(
        "vec_id",
        F.col("codes")[0].cast("bigint").alias("code_0"),
        F.col("codes")[1].cast("bigint").alias("code_1"),
    ).orderBy("vec_id")


@register(
    "pq_adc_topk",
    oracle=f"""
    WITH {_pq_cents_ctes()},
    {_pq_codes_cte()},
    q AS (SELECT vec_id AS query_id, emb FROM vecs WHERE vec_id < 10),
    lut AS (
      SELECT query_id, ct.s, ct.cid AS c,
             ROUND((SELECT {_PQ_SQDIST} FROM (
               SELECT q.emb[ct.s * 32 + 1 : (ct.s + 1) * 32] AS a, ct.emb AS b
             )), 6) AS pd
      FROM q CROSS JOIN cents ct
    ),
    scored AS (
      SELECT l.query_id, c.vec_id AS neighbor_id,
             ROUND(SUM(l.pd), 4) AS adc_dist
      FROM codes c JOIN lut l ON l.s = c.s AND l.c = c.c
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search in the compressed domain: per-query LUT of partial
    distances (broadcast, |q|*m*k rows) joined to the exploded code table —
    raw vectors are never touched at search time."""
    emb = _t(spark, sf_dir, "embeddings")
    cbs = _memo_pq(spark, sf_dir, m=2, k=4, iters=1)
    codes = sim.pq_encode(emb, cbs)
    queries_df = emb.where(F.col("vec_id") < 10)
    out = sim.pq_adc_topk(queries_df, codes, cbs, topk=5)
    return out.select(
        "query_id", "neighbor_id", "adc_dist", F.col("rank").cast("int").alias("rank")
    )


# ===========================================================================
# Token-budget data mixture (round 3): domain mixing in token units
# ===========================================================================
_MIX_TOTAL_W = float(sum(1.0 + (i % 3) for i in range(20)))  # = 39


@register(
    "mixture_sample_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    nt AS (
      SELECT d.doc_id, d.source, len(t.t) AS n_tokens,
             (d.doc_id * 2654435761) % 4294967296 AS h
      FROM documents d JOIN toks t USING (doc_id)
    ),
    alloc AS (
      SELECT source, 5000.0 * (1.0 + (CAST(substr(source, 4) AS INT) % 3))
                     / {_MIX_TOTAL_W} AS alloc
      FROM (SELECT DISTINCT source FROM documents)
      WHERE CAST(substr(source, 4) AS INT) < 20
    ),
    cum AS (
      SELECT n.doc_id, n.source, n.n_tokens, a.alloc,
             SUM(n.n_tokens) OVER (
               PARTITION BY n.source ORDER BY n.h, n.doc_id) AS cum_tokens
      FROM nt n JOIN alloc a USING (source)
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= alloc
    ORDER BY source, cum_tokens
    """,
)
def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture in TOKEN units: fill a 5000-token budget with docs
    per source proportional to weights (sources src0..src19 weighted
    1/2/3 cyclically). Oracle = the naive per-source cumulative window;
    the engine runs the two-phase hash-cutoff form that never shuffles
    non-candidates (operators.packing.mixture_sample)."""
    from dataquality_ml_spark.operators.packing import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    weights = {f"src{i}": 1.0 + (i % 3) for i in range(20)}
    return mixture_sample(docs, weights, token_budget=5000).orderBy(
        "source", "cum_tokens"
    )


# ===========================================================================
# Remaining expressible TPC-H shapes (round 3): Q4, Q12 — adapted to the
# driver's synthetic schema (lineitem ships only l_shipdate; no commit/
# receipt dates, no shipmode; Q2/Q9/Q11/Q16/Q20 need partsupp, not shipped).
# ===========================================================================
@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate >= TIMESTAMP '1996-06-01'
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: "late" = any lineitem shipped >= 1996-06-01
    for a 1995 order — the testdata has no commit/receipt dates): priority
    counts over orders having at least one such lineitem. The EXISTS
    becomes a left-semi join, so lineitem never duplicates order rows and
    the agg input stays |orders|-sized; both date predicates push into the
    scans."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.where(
        F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp")
    ).select("l_orderkey")
    filtered = orders.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    return (
        filtered.join(late, filtered.o_orderkey == late.l_orderkey, "semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_returnflag_priority",
    oracle="""
    SELECT l.l_returnflag,
      SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
        AS high_line_count,
      SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
        AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q12_returnflag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: classification attribute = l_returnflag,
    the testdata has no shipmode): per-class line counts split by order
    priority via conditional sums in ONE grouped pass; the lineitem date
    range pushes below the join so the shuffle carries only qualifying
    lines."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem")
    filtered = li.where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        filtered.join(orders, filtered.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# ===========================================================================
# IVF-PQ composed ANN (round 3 capstone): coarse probe + compressed search
# ===========================================================================
def _coarse_kmeans_ctes(k: int = 4) -> str:
    """Coarse-quantizer chain mirroring kmeans_fit(k, iters=2, round_dp=6):
    hash-smallest init → (assign → rounded-mean update) ×2 → final
    assignment ka3(vec_id, cluster). Requires a prior vecs CTE."""

    def assign(cents: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_distance(v.emb, c.emb), c.cid
               ) AS rn
        FROM vecs v CROSS JOIN {cents} c
      ) WHERE rn = 1
    )"""

    def update(assign_t: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT cid, list(mv ORDER BY pos) AS emb FROM (
        SELECT a.cluster AS cid, pos, ROUND(AVG(val), 6) AS mv FROM {assign_t} a
        JOIN (
          SELECT vec_id, unnest(emb) AS val, generate_subscripts(emb, 1) AS pos
          FROM vecs
        ) x USING (vec_id) GROUP BY a.cluster, pos
      ) GROUP BY cid
    )"""

    return f"""kinit AS (
      SELECT emb, rk - 1 AS cid FROM (
        SELECT emb, ROW_NUMBER() OVER (
          ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS rk
        FROM vecs
      ) WHERE rk <= {k}
    ),
    {assign("kinit", "ka1")},
    {update("ka1", "kc1")},
    {assign("kc1", "ka2")},
    {update("ka2", "kc2")},
    {assign("kc2", "ka3")}"""


@register(
    "ivf_pq_topk",
    oracle=f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    {_coarse_kmeans_ctes(4)},
    {_pq_cents_ctes(include_vecs=False)},
    {_pq_codes_cte()},
    q AS (
      SELECT v.vec_id AS query_id, v.emb, a.cluster AS q_cluster
      FROM vecs v JOIN ka3 a USING (vec_id) WHERE v.vec_id < 10
    ),
    lut AS (
      SELECT query_id, q_cluster, ct.s, ct.cid AS c,
             ROUND((SELECT {_PQ_SQDIST} FROM (
               SELECT q.emb[ct.s * 32 + 1 : (ct.s + 1) * 32] AS a, ct.emb AS b
             )), 6) AS pd
      FROM q CROSS JOIN cents ct
    ),
    scored AS (
      SELECT l.query_id, c.vec_id AS neighbor_id,
             ROUND(SUM(l.pd), 4) AS adc_dist
      FROM codes c
      JOIN ka3 ca ON ca.vec_id = c.vec_id
      JOIN lut l ON l.s = c.s AND l.c = c.c AND ca.cluster = l.q_cluster
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN: a deterministic coarse k-means (probe=1)
    restricts each query to one inverted list; within the list, distances
    are ADC sums over PQ codes — the corpus contributes a few bytes per
    vector and raw vectors appear in no join. The full train(coarse) +
    train(PQ) + encode + search pipeline is one oracle-checked query."""
    emb = _t(spark, sf_dir, "embeddings")
    coarse = _memo_kmeans(spark, sf_dir, k=4, iters=2, round_dp=6)
    cbs = _memo_pq(spark, sf_dir, m=2, k=4, iters=1)
    queries_df = emb.where(F.col("vec_id") < 10)
    out = sim.ivf_pq_topk(emb, queries_df, coarse, cbs, topk=5)
    return out.select(
        "query_id", "neighbor_id", "adc_dist", F.col("rank").cast("int").alias("rank")
    )


# ===========================================================================
# PII scrub (round 3): the standard pre-training redaction pass
# ===========================================================================
from dataquality_ml_spark.operators.text import PII_PATTERNS as _PII  # noqa: E402


@register(
    "pii_scrub_docs",
    oracle=f"""
    SELECT doc_id,
      len(regexp_extract_all(text, '{_PII["email"]}')) AS n_email,
      len(regexp_extract_all(text, '{_PII["ipv4"]}')) AS n_ipv4,
      len(regexp_extract_all(text, '{_PII["phone"]}')) AS n_phone,
      md5(regexp_replace(regexp_replace(regexp_replace(text,
        '{_PII["email"]}', '[EMAIL]', 'g'),
        '{_PII["ipv4"]}', '[IPV4]', 'g'),
        '{_PII["phone"]}', '[PHONE]', 'g')) AS clean_fp
    FROM documents
    ORDER BY doc_id
    """,
)
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: per-doc counts of emails/IPv4s/phones
    plus the md5 of the scrubbed text (fingerprint, not the full text, so
    the oracle compare stays narrow). One linear regexp scan, no shuffle."""
    from dataquality_ml_spark.operators.text import pii_scrub

    out = pii_scrub(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.md5("clean_text").alias("clean_fp"),
    ).orderBy("doc_id")


# ===========================================================================
# IVF-PQ + exact refine (round 4): the full production ANN shape — ADC
# produces a 20-candidate shortlist per query, true cosine re-ranks only
# those candidates. Raw vectors are touched for |queries|·shortlist rows
# via broadcast joins; the corpus-wide search stays pure PQ codes.
# ===========================================================================
@register(
    "ivf_pq_refine_topk",
    oracle=f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    {_coarse_kmeans_ctes(4)},
    {_pq_cents_ctes(include_vecs=False)},
    {_pq_codes_cte()},
    q AS (
      SELECT v.vec_id AS query_id, v.emb, a.cluster AS q_cluster
      FROM vecs v JOIN ka3 a USING (vec_id) WHERE v.vec_id < 10
    ),
    lut AS (
      SELECT query_id, q_cluster, ct.s, ct.cid AS c,
             ROUND((SELECT {_PQ_SQDIST} FROM (
               SELECT q.emb[ct.s * 32 + 1 : (ct.s + 1) * 32] AS a, ct.emb AS b
             )), 6) AS pd
      FROM q CROSS JOIN cents ct
    ),
    adc_scored AS (
      SELECT l.query_id, c.vec_id AS neighbor_id,
             ROUND(SUM(l.pd), 4) AS adc_dist
      FROM codes c
      JOIN ka3 ca ON ca.vec_id = c.vec_id
      JOIN lut l ON l.s = c.s AND l.c = c.c AND ca.cluster = l.q_cluster
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc_scored
      ) WHERE rn <= 20
    ),
    refined AS (
      SELECT s.query_id, s.neighbor_id,
             ROUND(list_dot_product(qv.emb, cv.emb)
               / (sqrt(list_dot_product(qv.emb, qv.emb))
                  * sqrt(list_dot_product(cv.emb, cv.emb))), 4) + 0 AS sim
      FROM short s
      JOIN vecs qv ON qv.vec_id = s.query_id
      JOIN vecs cv ON cv.vec_id = s.neighbor_id
    ),
    rranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM refined
    )
    SELECT query_id, neighbor_id, sim, rank
    FROM rranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ivf_pq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search + exact cosine re-rank of the 20-candidate ADC
    shortlist (the FAISS refine-index pattern): quantization error decides
    shortlist membership, never the final ordering. The whole chain —
    coarse k-means train, PQ train, encode, ADC search, refine — is one
    oracle-checked query."""
    emb = _t(spark, sf_dir, "embeddings")
    coarse = _memo_kmeans(spark, sf_dir, k=4, iters=2, round_dp=6)
    cbs = _memo_pq(spark, sf_dir, m=2, k=4, iters=1)
    queries_df = emb.where(F.col("vec_id") < 10)
    out = sim.ivf_pq_refine_topk(emb, queries_df, coarse, cbs, topk=5, shortlist=20)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank")
    )


# ===========================================================================
# M11 grid search as an oracle-gated query (round 10, VERDICT r9 item 4):
# stability-ranked hyperparameter sweep over a deterministic, fully
# SQL-expressible scoring family.
# ===========================================================================
_STAB_FEAT = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_STAB_GRID = [
    (0, 1, "var"), (1, 1, "std"), (2, 1, "none"),
    (3, 2, "var"), (4, 2, "std"), (5, 2, "none"),
]


def _stability_grid_oracle() -> str:
    def err_sql(p: int, norm: str) -> str:
        terms = []
        for c in _STAB_FEAT:
            diff = f"ABS(l.{c} - s.{c}_mu)"
            e = diff if p == 1 else f"({diff} * {diff})"
            if norm == "var":
                e = f"{e} / s.{c}_var"
            elif norm == "std":
                e = f"{e} / s.{c}_sd"
            terms.append(e)
        return f"({' + '.join(terms)}) / {float(len(_STAB_FEAT))}"

    stat_cols = ", ".join(
        f"AVG({c}) AS {c}_mu, GREATEST(VAR_SAMP({c}), 1e-6) AS {c}_var, "
        f"GREATEST(STDDEV_SAMP({c}), 1e-6) AS {c}_sd"
        for c in _STAB_FEAT
    )
    e_cols = ", ".join(
        f"{err_sql(p, nm)} AS e{pid}" for pid, p, nm in _STAB_GRID
    )
    ss_cols = ", ".join(
        f"AVG(e{pid}) AS m{pid}, STDDEV_POP(e{pid}) AS s{pid}, "
        f"MAX(e{pid}) - MIN(e{pid}) AS r{pid}"
        for pid, _p, _nm in _STAB_GRID
    )
    res_rows = " UNION ALL ".join(
        f"SELECT {pid} AS pid, CAST({p} AS DOUBLE) AS p_exp, '{nm}' AS norm, "
        f"1.0 / (1.0 + s{pid} / (m{pid} + 1e-8) + r{pid} / (m{pid} + 1e-8)) "
        f"AS stab FROM ss"
        for pid, p, nm in _STAB_GRID
    )
    return f"""
    WITH stats AS (SELECT {stat_cols} FROM lineitem),
    scored AS (SELECT {e_cols} FROM lineitem l, stats s),
    ss AS (SELECT {ss_cols} FROM scored),
    res AS ({res_rows}),
    best AS (SELECT pid AS bpid FROM res ORDER BY stab DESC, pid ASC LIMIT 1)
    SELECT r.pid, r.p_exp, r.norm,
           ROUND(r.stab, 4) + 0 AS stability,
           r.pid = b.bpid AS is_best
    FROM res r, best b ORDER BY r.pid
    """


@register("stability_grid_lineitem", oracle=_stability_grid_oracle())
def stability_grid_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 hyperparameter grid search with the reference's stability
    selection rule (app/IsolationForest_AE_enhanced.py:49-146: score the
    NORMAL slice under each param set, rank by
    1/(1 + std/(mean+1e-8) + range/(mean+1e-8)), strict-> update keeps
    the earliest max), re-expressed Spark-first so it is FULLY
    oracle-checkable: the scoring family is the variance/std-normalized
    MAE with exponent p in {1,2} (exact mul/div ops only — no POWER), all
    six param sets' (mean, stddev_pop, range) fuse into ONE scan, and the
    sweep itself runs through ml.augment.grid_search (one Spark task per
    param set, the M11 machinery) on the bounded per-set stats. Output:
    one row per param set with its stability and the strict-max winner
    flagged."""
    from dataquality_ml_spark.ml import augment as aug_m

    li = _t(spark, sf_dir, "lineitem")
    srow = li.agg(
        *[F.avg(c).alias(f"{c}_mu") for c in _STAB_FEAT],
        *[F.var_samp(c).alias(f"{c}_var") for c in _STAB_FEAT],
        *[F.stddev_samp(c).alias(f"{c}_sd") for c in _STAB_FEAT],
    ).first()

    def err_expr(p: int, norm: str):
        terms = []
        for c in _STAB_FEAT:
            diff = F.abs(F.col(c) - F.lit(float(srow[f"{c}_mu"])))
            e = diff if p == 1 else diff * diff
            if norm == "var":
                e = e / F.lit(max(float(srow[f"{c}_var"]), 1e-6))
            elif norm == "std":
                e = e / F.lit(max(float(srow[f"{c}_sd"]), 1e-6))
            terms.append(e)
        total = terms[0]
        for t in terms[1:]:
            total = total + t
        return total / F.lit(float(len(_STAB_FEAT)))

    aggs = []
    for pid, p, nm in _STAB_GRID:
        e = err_expr(p, nm)
        aggs += [
            F.avg(e).alias(f"m{pid}"),
            F.stddev_pop(e).alias(f"s{pid}"),
            (F.max(e) - F.min(e)).alias(f"r{pid}"),
        ]
    row = li.agg(*aggs).first()
    statmap = {
        pid: (float(row[f"m{pid}"]), float(row[f"s{pid}"]), float(row[f"r{pid}"]))
        for pid, _p, _nm in _STAB_GRID
    }
    grid = [{"pid": pid, "p": p, "norm": nm} for pid, p, nm in _STAB_GRID]

    def fit_eval(params):
        m, s, r = statmap[params["pid"]]
        return aug_m.stability_from_stats(m, s, r)

    best, _bval, results = aug_m.grid_search(spark, grid, fit_eval, maximize=True)
    out_rows = [
        (
            g["pid"],
            float(g["p"]),
            g["norm"],
            round(v, 4) + 0.0,
            g["pid"] == best["pid"],
        )
        for g, v in results
    ]
    return local_frame(
        spark,
        sorted(out_rows),
        "pid int, p_exp double, norm string, stability double, is_best boolean",
    )


# ===========================================================================
# Mixed numeric+categorical feature drift (round 10, VERDICT r9 item 5):
# the one-pass feature panel extended with string columns.
# ===========================================================================
_MIX_SPLIT = "1998-01-01"  # same shipdate split as feature_drift_lineitem


@register(
    "feature_drift_mixed_lineitem",
    oracle=f"""
    WITH melted AS (
      SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v, l_shipdate FROM lineitem
    ),
    tagged AS (
      SELECT col_name, v, CASE WHEN l_shipdate < TIMESTAMP '{_MIX_SPLIT}' THEN 1 ELSE 0 END AS in_a
      FROM melted WHERE v IS NOT NULL
    ),
    per_v AS (
      SELECT col_name, v, SUM(in_a) AS n_a, SUM(1 - in_a) AS n_b
      FROM tagged GROUP BY col_name, v
    ),
    cum AS (
      SELECT col_name, n_a, n_b,
             SUM(n_a) OVER (PARTITION BY col_name ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(n_b) OVER (PARTITION BY col_name ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
             SUM(n_a) OVER (PARTITION BY col_name) AS tot_a,
             SUM(n_b) OVER (PARTITION BY col_name) AS tot_b
      FROM per_v
    ),
    s AS (
      SELECT col_name,
             MAX(ABS(ca / CAST(tot_a AS DOUBLE) - cb / CAST(tot_b AS DOUBLE))) AS ks_d,
             SUM(n_a * (ca + cb - (n_a + n_b) + (n_a + n_b + 1) / 2.0)) AS ra,
             CAST(SUM((n_a + n_b) * (n_a + n_b) * (n_a + n_b) - (n_a + n_b)) AS DOUBLE) AS ties,
             SUM(CAST(n_a + n_b AS HUGEINT)
                 * (CAST(ca AS HUGEINT) * tot_b - CAST(cb AS HUGEINT) * tot_a)
                 * (CAST(ca AS HUGEINT) * tot_b - CAST(cb AS HUGEINT) * tot_a)) AS cvm_s,
             MAX(CAST(tot_a + tot_b AS HUGEINT) * (tot_a + tot_b) * tot_a * tot_b) AS cvm_den,
             SUM(CASE WHEN (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)
                            * (tot_a + tot_b - (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                            - (tot_a + tot_b) * (n_a + n_b) / 4.0 > 0 THEN
                   (CAST(n_a + n_b AS DOUBLE) / (tot_a + tot_b))
                   * (((tot_a + tot_b) * (CAST(ca AS DOUBLE) - n_a / 2.0) - tot_a * (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                      * ((tot_a + tot_b) * (CAST(ca AS DOUBLE) - n_a / 2.0) - tot_a * (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)))
                   / ((CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)
                      * (tot_a + tot_b - (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                      - (tot_a + tot_b) * (n_a + n_b) / 4.0)
                   / tot_a
                 ELSE 0 END)
           + SUM(CASE WHEN (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)
                            * (tot_a + tot_b - (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                            - (tot_a + tot_b) * (n_a + n_b) / 4.0 > 0 THEN
                   (CAST(n_a + n_b AS DOUBLE) / (tot_a + tot_b))
                   * (((tot_a + tot_b) * (CAST(cb AS DOUBLE) - n_b / 2.0) - tot_b * (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                      * ((tot_a + tot_b) * (CAST(cb AS DOUBLE) - n_b / 2.0) - tot_b * (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)))
                   / ((CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)
                      * (tot_a + tot_b - (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                      - (tot_a + tot_b) * (n_a + n_b) / 4.0)
                   / tot_b
                 ELSE 0 END) AS ad_inner,
             CAST(MAX(tot_a) AS DOUBLE) AS na,
             CAST(MAX(tot_b) AS DOUBLE) AS nb
      FROM cum GROUP BY col_name
    ),
    cat_melted AS (
      SELECT 'l_returnflag' AS col_name, CAST(l_returnflag AS VARCHAR) AS category, l_shipdate FROM lineitem
      UNION ALL
      SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR), l_shipdate FROM lineitem
    ),
    cat_cells AS (
      SELECT col_name, category,
             SUM(CASE WHEN l_shipdate < TIMESTAMP '{_MIX_SPLIT}' THEN 1 ELSE 0 END) AS n_r,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '{_MIX_SPLIT}' THEN 1 ELSE 0 END) AS n_c
      FROM cat_melted GROUP BY col_name, category
    ),
    cat_p AS (
      SELECT col_name,
             n_r / CAST(SUM(n_r) OVER (PARTITION BY col_name) AS DOUBLE) AS p,
             n_c / CAST(SUM(n_c) OVER (PARTITION BY col_name) AS DOUBLE) AS q,
             n_r, n_c,
             SUM(n_r) OVER (PARTITION BY col_name) AS tot_r,
             SUM(n_c) OVER (PARTITION BY col_name) AS tot_c
      FROM cat_cells
    ),
    cat_s AS (
      SELECT col_name,
             SUM((GREATEST(q, 1e-6) - GREATEST(p, 1e-6))
                 * LN(GREATEST(q, 1e-6) / GREATEST(p, 1e-6))) AS psi,
             (SUM(CASE WHEN p > 0 THEN p * LN(p / ((p + q) / 2)) ELSE 0 END)
              + SUM(CASE WHEN q > 0 THEN q * LN(q / ((p + q) / 2)) ELSE 0 END)) / 2 AS jsd,
             SUM(CASE WHEN CAST(n_r + n_c AS DOUBLE) * tot_r / CAST(tot_r + tot_c AS DOUBLE) > 0
                      THEN (n_r - CAST(n_r + n_c AS DOUBLE) * tot_r / CAST(tot_r + tot_c AS DOUBLE))
                           * (n_r - CAST(n_r + n_c AS DOUBLE) * tot_r / CAST(tot_r + tot_c AS DOUBLE))
                           / (CAST(n_r + n_c AS DOUBLE) * tot_r / CAST(tot_r + tot_c AS DOUBLE))
                      ELSE 0 END
               + CASE WHEN CAST(n_r + n_c AS DOUBLE) * tot_c / CAST(tot_r + tot_c AS DOUBLE) > 0
                      THEN (n_c - CAST(n_r + n_c AS DOUBLE) * tot_c / CAST(tot_r + tot_c AS DOUBLE))
                           * (n_c - CAST(n_r + n_c AS DOUBLE) * tot_c / CAST(tot_r + tot_c AS DOUBLE))
                           / (CAST(n_r + n_c AS DOUBLE) * tot_c / CAST(tot_r + tot_c AS DOUBLE))
                      ELSE 0 END) AS chi2,
             MAX(tot_r) AS n_a,
             MAX(tot_c) AS n_b
      FROM cat_p GROUP BY col_name
    )
    SELECT col_name AS column,
           ROUND(ks_d, 6) + 0 AS ks_d,
           ra - na * (na + 1) / 2 AS u_stat,
           ROUND((ra - na * (na + 1) / 2 - na * nb / 2)
                 / SQRT(na * nb / 12
                        * ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1)))),
                 6) + 0 AS z_score,
           ROUND(CAST(cvm_s AS DOUBLE) / CAST(cvm_den AS DOUBLE), 6) + 0 AS cvm_t,
           ROUND((na + nb - 1) / (na + nb) * ad_inner, 6) + 0 AS ad_a2,
           CAST(NULL AS DOUBLE) AS psi,
           CAST(NULL AS DOUBLE) AS jsd,
           CAST(NULL AS DOUBLE) AS chi2,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b
    FROM s
    UNION ALL
    SELECT col_name,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           ROUND(psi, 6) + 0, ROUND(jsd, 6) + 0, ROUND(chi2, 6) + 0,
           n_a, n_b
    FROM cat_s
    ORDER BY "column"
    """,
)
def feature_drift_mixed_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MIXED-type feature drift report (round 10): one numeric column
    (full four-statistic panel) and two string columns (PSI/JSD/chi²
    homogeneity) across the shipdate split, in the SAME widened relation —
    numeric rows carry NULL categorical stats and vice versa. One keyed
    ECDF pass for the numeric half, one bounded category pass for the
    string half; no per-column job loop (reference lib/utils.py:187-195)."""
    from dataquality_ml_spark.operators import drift as dr

    li = _t(spark, sf_dir, "lineitem")
    # split=: one tagged scan feeds BOTH the numeric panel and the
    # categorical pass instead of two filtered scans each (round 13)
    out = dr.feature_drift_report(
        li, None, ["l_quantity"],
        categorical_columns=["l_returnflag", "l_linestatus"],
        split=F.col("l_shipdate") < F.lit(_MIX_SPLIT).cast("timestamp"),
    )
    r6 = lambda c: (F.round(c, 6) + F.lit(0.0)).alias(c)  # noqa: E731
    return out.select(
        "column",
        r6("ks_d"),
        "u_stat",
        r6("z_score"),
        r6("cvm_t"),
        r6("ad_a2"),
        r6("psi"),
        r6("jsd"),
        r6("chi2"),
        "n_a",
        "n_b",
    ).orderBy("column")


@register(
    "weighted_sample_docs",
    oracle="""
    SELECT doc_id, source, n_chars,
           ROUND(LN((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) AS BIGINT) + 0.5)
                    / 4294967296.0)
                 / CAST(n_chars AS DOUBLE), 8) + 0 AS es_key
    FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
    ORDER BY es_key DESC, doc_id
    LIMIT 200
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus subsample without replacement (Efraimidis-
    Spirakis reservoir key over the engine-portable hash — selection
    probability proportional to n_chars, deterministic across engines and
    cluster sizes, TakeOrdered(k) with no global sort)."""
    from dataquality_ml_spark.operators.selection import weighted_sample_k

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_k(docs, "n_chars", 200, id_col="doc_id").select(
        "doc_id", "source", "n_chars", "es_key"
    )


@register(
    "source_mix_drift_by_lang",
    oracle="""
    WITH r AS (
      SELECT lang, source AS category, COUNT(*) AS n_r
      FROM documents WHERE doc_id % 2 = 0 GROUP BY lang, source
    ),
    c AS (
      SELECT lang, source AS category, COUNT(*) AS n_c
      FROM documents WHERE doc_id % 2 = 1 GROUP BY lang, source
    ),
    j AS (
      SELECT COALESCE(r.lang, c.lang) AS lang,
             COALESCE(n_r, 0) AS n_r, COALESCE(n_c, 0) AS n_c
      FROM r FULL OUTER JOIN c
        ON r.lang IS NOT DISTINCT FROM c.lang
       AND r.category IS NOT DISTINCT FROM c.category
    ),
    cells AS (
      SELECT lang, n_r, n_c,
             CASE WHEN SUM(n_r) OVER (PARTITION BY lang) > 0
                  THEN n_r / CAST(SUM(n_r) OVER (PARTITION BY lang) AS DOUBLE)
                  ELSE 0 END AS p,
             CASE WHEN SUM(n_c) OVER (PARTITION BY lang) > 0
                  THEN n_c / CAST(SUM(n_c) OVER (PARTITION BY lang) AS DOUBLE)
                  ELSE 0 END AS q,
             SUM(n_r) OVER (PARTITION BY lang) AS tot_r,
             SUM(n_c) OVER (PARTITION BY lang) AS tot_c
      FROM j
    ),
    s AS (
      SELECT lang,
             SUM((GREATEST(q, 1e-6) - GREATEST(p, 1e-6))
                 * LN(GREATEST(q, 1e-6) / GREATEST(p, 1e-6))) AS psi,
             (SUM(CASE WHEN p > 0 THEN p * LN(p / ((p + q) / 2)) ELSE 0 END)
              + SUM(CASE WHEN q > 0 THEN q * LN(q / ((p + q) / 2)) ELSE 0 END)) / 2 AS jsd,
             SUM(CASE WHEN CAST(n_r + n_c AS DOUBLE) * tot_r / CAST(tot_r + tot_c AS DOUBLE) > 0
                      THEN (n_r - CAST(n_r + n_c AS DOUBLE) * tot_r / CAST(tot_r + tot_c AS DOUBLE))
                           * (n_r - CAST(n_r + n_c AS DOUBLE) * tot_r / CAST(tot_r + tot_c AS DOUBLE))
                           / (CAST(n_r + n_c AS DOUBLE) * tot_r / CAST(tot_r + tot_c AS DOUBLE))
                      ELSE 0 END
               + CASE WHEN CAST(n_r + n_c AS DOUBLE) * tot_c / CAST(tot_r + tot_c AS DOUBLE) > 0
                      THEN (n_c - CAST(n_r + n_c AS DOUBLE) * tot_c / CAST(tot_r + tot_c AS DOUBLE))
                           * (n_c - CAST(n_r + n_c AS DOUBLE) * tot_c / CAST(tot_r + tot_c AS DOUBLE))
                           / (CAST(n_r + n_c AS DOUBLE) * tot_c / CAST(tot_r + tot_c AS DOUBLE))
                      ELSE 0 END) AS chi2,
             MAX(tot_r) AS n_a, MAX(tot_c) AS n_b
      FROM cells GROUP BY lang
    )
    SELECT lang, 'source' AS "column",
           ROUND(psi, 6) + 0 AS psi,
           ROUND(jsd, 6) + 0 AS jsd,
           ROUND(chi2, 6) + 0 AS chi2,
           n_a, n_b
    FROM s ORDER BY lang
    """,
)
def source_mix_drift_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SEGMENT categorical mix drift (round 10): the source
    distribution per language, even-doc_id half vs odd-doc_id half —
    categorical_drift_report's keys= face. PSI/JSD/chi2 homogeneity per
    (lang, column) from one bounded pass; NULL languages are real
    segments."""
    from dataquality_ml_spark.operators import drift as dr

    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    out = dr.categorical_drift_report(a, b, ["source"], keys=["lang"])
    r6 = lambda c: (F.round(c, 6) + F.lit(0.0)).alias(c)  # noqa: E731
    return out.select(
        "lang", "column", r6("psi"), r6("jsd"), r6("chi2"), "n_a", "n_b"
    ).orderBy("lang")


@register(
    "feature_drift_binned_lineitem",
    oracle=f"""
    WITH melted0 AS (
      SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v, l_shipdate FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE), l_shipdate FROM lineitem
      UNION ALL
      SELECT 'l_discount', CAST(l_discount AS DOUBLE), l_shipdate FROM lineitem
    ),
    bnds AS (
      SELECT col_name, MIN(v) AS lo, MAX(v) AS hi FROM melted0 GROUP BY col_name
    ),
    melted AS (
      SELECT m.col_name,
             LEAST(31, GREATEST(0, CAST(FLOOR((m.v - b.lo) /
               (CASE WHEN b.hi > b.lo THEN (b.hi - b.lo) / 32.0 ELSE 1.0 END)) AS INT))) AS v,
             m.l_shipdate
      FROM melted0 m JOIN bnds b ON m.col_name = b.col_name
      WHERE m.v IS NOT NULL
    ),
    tagged AS (
      SELECT col_name, v, CASE WHEN l_shipdate < TIMESTAMP '{_MIX_SPLIT}' THEN 1 ELSE 0 END AS in_a
      FROM melted
    ),
    per_v AS (
      SELECT col_name, v, SUM(in_a) AS n_a, SUM(1 - in_a) AS n_b
      FROM tagged GROUP BY col_name, v
    ),
    cum AS (
      SELECT col_name, n_a, n_b,
             SUM(n_a) OVER (PARTITION BY col_name ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(n_b) OVER (PARTITION BY col_name ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
             SUM(n_a) OVER (PARTITION BY col_name) AS tot_a,
             SUM(n_b) OVER (PARTITION BY col_name) AS tot_b
      FROM per_v
    ),
    s AS (
      SELECT col_name,
             MAX(ABS(ca / CAST(tot_a AS DOUBLE) - cb / CAST(tot_b AS DOUBLE))) AS ks_d,
             SUM(n_a * (ca + cb - (n_a + n_b) + (n_a + n_b + 1) / 2.0)) AS ra,
             CAST(SUM((n_a + n_b) * (n_a + n_b) * (n_a + n_b) - (n_a + n_b)) AS DOUBLE) AS ties,
             SUM(CAST(n_a + n_b AS HUGEINT)
                 * (CAST(ca AS HUGEINT) * tot_b - CAST(cb AS HUGEINT) * tot_a)
                 * (CAST(ca AS HUGEINT) * tot_b - CAST(cb AS HUGEINT) * tot_a)) AS cvm_s,
             MAX(CAST(tot_a + tot_b AS HUGEINT) * (tot_a + tot_b) * tot_a * tot_b) AS cvm_den,
             SUM(CASE WHEN (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)
                            * (tot_a + tot_b - (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                            - (tot_a + tot_b) * (n_a + n_b) / 4.0 > 0 THEN
                   (CAST(n_a + n_b AS DOUBLE) / (tot_a + tot_b))
                   * (((tot_a + tot_b) * (CAST(ca AS DOUBLE) - n_a / 2.0) - tot_a * (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                      * ((tot_a + tot_b) * (CAST(ca AS DOUBLE) - n_a / 2.0) - tot_a * (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)))
                   / ((CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)
                      * (tot_a + tot_b - (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                      - (tot_a + tot_b) * (n_a + n_b) / 4.0)
                   / tot_a
                 ELSE 0 END)
           + SUM(CASE WHEN (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)
                            * (tot_a + tot_b - (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                            - (tot_a + tot_b) * (n_a + n_b) / 4.0 > 0 THEN
                   (CAST(n_a + n_b AS DOUBLE) / (tot_a + tot_b))
                   * (((tot_a + tot_b) * (CAST(cb AS DOUBLE) - n_b / 2.0) - tot_b * (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                      * ((tot_a + tot_b) * (CAST(cb AS DOUBLE) - n_b / 2.0) - tot_b * (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)))
                   / ((CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0)
                      * (tot_a + tot_b - (CAST(ca + cb AS DOUBLE) - (n_a + n_b) / 2.0))
                      - (tot_a + tot_b) * (n_a + n_b) / 4.0)
                   / tot_b
                 ELSE 0 END) AS ad_inner,
             CAST(MAX(tot_a) AS DOUBLE) AS na,
             CAST(MAX(tot_b) AS DOUBLE) AS nb
      FROM cum GROUP BY col_name
    )
    SELECT col_name AS "column",
           ROUND(ks_d, 6) + 0 AS ks_d,
           ra - na * (na + 1) / 2 AS u_stat,
           ROUND((ra - na * (na + 1) / 2 - na * nb / 2)
                 / SQRT(na * nb / 12
                        * ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1)))),
                 6) + 0 AS z_score,
           ROUND(CAST(cvm_s AS DOUBLE) / CAST(cvm_den AS DOUBLE), 6) + 0 AS cvm_t,
           ROUND((na + nb - 1) / (na + nb) * ad_inner, 6) + 0 AS ad_a2,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b
    FROM s ORDER BY col_name
    """,
)
def feature_drift_binned_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature drift panel on its 100 TB SCALE path (round 10):
    per-column 32-bucket quantization via broadcast-joined (lo, hi)
    bounds BEFORE the keyed ECDF, so the reduce sees <= columns*32 rows
    instead of the full distinct-value relation — and the quantizer is
    bit-replayed by the oracle (same LEAST/GREATEST/FLOOR IEEE sequence),
    so even the approximate path is hash-checked, not just plan-audited."""
    from dataquality_ml_spark.operators import drift as dr

    li = _t(spark, sf_dir, "lineitem")
    # split=: one tagged scan; the knob-bounded bucket ids also take the
    # bounded-window ECDF (no decomposition, no driver collect) (round 13)
    out = dr.feature_drift_report(
        li, None, ["l_quantity", "l_extendedprice", "l_discount"], bins=32,
        split=F.col("l_shipdate") < F.lit(_MIX_SPLIT).cast("timestamp"),
    )
    r6 = lambda c: (F.round(c, 6) + F.lit(0.0)).alias(c)  # noqa: E731
    return out.select(
        "column", r6("ks_d"), "u_stat", r6("z_score"), r6("cvm_t"),
        r6("ad_a2"), "n_a", "n_b",
    ).orderBy("column")


@register(
    "weighted_sample_by_lang",
    oracle="""
    SELECT lang, doc_id, n_chars, es_key, sample_rank
    FROM (
      SELECT lang, doc_id, n_chars, es_key,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY es_key DESC, doc_id) AS INT)
               AS sample_rank
      FROM (
        SELECT lang, doc_id, n_chars,
               ROUND(LN((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) AS BIGINT) + 0.5)
                        / 4294967296.0)
                     / CAST(n_chars AS DOUBLE), 8) + 0 AS es_key
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
      )
    )
    WHERE sample_rank <= 40
    ORDER BY lang, sample_rank
    """,
)
def weighted_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED weighted sampling (round 10): the 40 best-weighted
    (length-proportional, Efraimidis-Spirakis) docs per language —
    per-group window rank executed as WindowGroupLimit, so each task
    keeps a running top-40 per segment and no language's candidate set
    materializes."""
    from dataquality_ml_spark.operators.selection import weighted_sample_k

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_k(
        docs, "n_chars", 40, id_col="doc_id", group_by=["lang"]
    )
    return out.select(
        "lang", "doc_id", "n_chars", "es_key", "sample_rank"
    ).orderBy("lang", "sample_rank")


@register(
    "containment_pairs_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    {_SH_CTE},
    sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
    ex AS (SELECT doc_id, CAST('0x' || substr(md5(unnest(shs)), 1, 15) AS BIGINT) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT id_a, id_b,
             ROUND(n_inter / CAST(sa.n_sh AS DOUBLE), 4) + 0 AS containment_a,
             ROUND(n_inter / CAST(sb.n_sh AS DOUBLE), 4) + 0 AS containment_b,
             ROUND(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) + 0 AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT * FROM scored
    WHERE GREATEST(containment_a, containment_b) >= 0.9
    ORDER BY id_a, id_b
    """,
)
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-containment near-dup pairs (Broder 1997):
    near-SUBSET documents that symmetric Jaccard misses — both
    directions emitted, filtered on max(containment) >= 0.9."""
    return dd.ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), k=5, threshold=0.9,
        on_hot_shingle="exact",  # oracle exactness; bench SF is cool
    )


@register(
    "drift_panel_stream_replay",
    oracle="""
    WITH ref AS (
      SELECT LEAST(24, GREATEST(0, CAST(FLOOR((value - 0.0) / 20.0) AS INT))) AS b,
             COUNT(*) AS c
      FROM events
      WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL AND NOT isnan(value)
      GROUP BY 1
    ),
    cur AS (
      SELECT event_id % 4 AS batch,
             LEAST(24, GREATEST(0, CAST(FLOOR((value - 0.0) / 20.0) AS INT))) AS b,
             COUNT(*) AS c
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL AND NOT isnan(value)
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT batches.batch, gs.b
      FROM (SELECT DISTINCT batch FROM cur) batches
      CROSS JOIN (SELECT range AS b FROM range(25)) gs
    ),
    f AS (
      SELECT g.batch, g.b, COALESCE(r.c, 0) AS rc, COALESCE(c.c, 0) AS cc
      FROM grid g
      LEFT JOIN ref r ON r.b = g.b
      LEFT JOIN cur c ON c.batch = g.batch AND c.b = g.b
    ),
    cumul AS (
      SELECT batch, b, rc, cc,
             SUM(rc) OVER (PARTITION BY batch ORDER BY b) AS ca,
             SUM(cc) OVER (PARTITION BY batch ORDER BY b) AS cb
      FROM f
    ),
    tot AS (SELECT batch, SUM(rc) AS n_a, SUM(cc) AS n_b FROM f GROUP BY 1)
    SELECT
      c.batch AS batch_id,
      CAST(t.n_b AS BIGINT) AS n,
      ROUND(SUM(
        (GREATEST(cc / CAST(t.n_b AS DOUBLE), 1e-6)
           - GREATEST(rc / CAST(t.n_a AS DOUBLE), 1e-6))
        * LN(GREATEST(cc / CAST(t.n_b AS DOUBLE), 1e-6)
             / GREATEST(rc / CAST(t.n_a AS DOUBLE), 1e-6))
      ), 4) + 0 AS psi,
      ROUND(MAX(ABS(ca / CAST(t.n_a AS DOUBLE) - cb / CAST(t.n_b AS DOUBLE))), 4) + 0 AS ks_d,
      ROUND(
        CAST(SUM(CAST(rc + cc AS HUGEINT)
                 * (CAST(ca AS HUGEINT) * t.n_b - CAST(cb AS HUGEINT) * t.n_a)
                 * (CAST(ca AS HUGEINT) * t.n_b - CAST(cb AS HUGEINT) * t.n_a)) AS DOUBLE)
        / (CAST(t.n_a + t.n_b AS DOUBLE) * (t.n_a + t.n_b) * t.n_a * t.n_b)
      , 4) + 0 AS cvm_t
    FROM cumul c JOIN tot t ON t.batch = c.batch
    GROUP BY c.batch, t.n_a, t.n_b
    ORDER BY batch_id
    """,
)
def drift_panel_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift monitor's registered face: the second half of
    the events month replayed through the PRODUCTION foreachBatch fold
    (streaming.score_stream._drift_monitor_fold — shared verbatim with
    drift_monitor_stream) as 4 micro-batches (event_id % 4), each scored
    against the frozen first-half reference histogram: per batch PSI +
    binned KS + binned CvM under the frozen (0, 500, 25) quantizer. Only
    ≤ bins count cells cross to the driver per batch — the 100 TB
    property of the streaming panel."""
    from dataquality_ml_spark.operators.sketch import qsketch_build
    from dataquality_ml_spark.streaming.score_stream import drift_monitor_replay

    # ONE materialized (ts, value, event_id) projection feeds both the
    # frozen-reference histogram build and the replay, instead of two
    # scans of the same table (in production the reference histogram is
    # a frozen training artifact)
    ev_df = _t(spark, sf_dir, "events").select(
        "ts", "value", "event_id"
    ).localCheckpoint(eager=True)
    split = F.to_timestamp(F.lit(_DRIFT_SPLIT))
    ref = ev_df.where(F.col("ts") < split)
    hist = {
        r["qs_bin"]: r["qs_cnt"]
        for r in qsketch_build(ref, "value", 0.0, 500.0, bins=25).collect()
    }
    ref_hist = [hist.get(i, 0) for i in range(25)]
    cur = ev_df.where(F.col("ts") >= split).withColumn(
        "batch", F.col("event_id") % 4
    )
    out = drift_monitor_replay(cur, "batch", ref_hist, "value", 0.0, 500.0)
    return out.select(
        "batch_id",
        "n",
        *[
            (F.round(c, 4) + F.lit(0.0)).alias(c)
            for c in ["psi", "ks_d", "cvm_t"]
        ],
    ).orderBy("batch_id")


@register(
    "ann_index_lifecycle",
    oracle=_ORACLES["ivf_pq_refine_topk"],
)
def ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED ANN index path, end to end (round 11, VERDICT r10
    item 5): construct the index from the same frozen quantizers as
    `ivf_pq_refine_topk`, encode the corpus, write the code table to
    parquet and the index artifact to JSON, then LOAD both back and
    search with exact refine — proving the artifact path stays in
    lockstep with the inline pipeline permanently (same oracle, same
    hash). The reloaded code table is localCheckpointed so the temp dir
    is removed before the result is consumed; raw vectors are touched
    only for the |queries|*shortlist refine rows."""
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    coarse = _memo_kmeans(spark, sf_dir, k=4, iters=2, round_dp=6)
    cbs = _memo_pq(spark, sf_dir, m=2, k=4, iters=1)
    idx = sim.ANNIndex(coarse, cbs, nprobe=1)

    tmp = tempfile.mkdtemp(prefix="ann_idx_")
    try:
        idx.encode(emb).write.parquet(f"{tmp}/codes")
        idx.save(f"{tmp}/index.json")
        idx2 = sim.ANNIndex.load(f"{tmp}/index.json")
        codes = spark.read.parquet(f"{tmp}/codes").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    queries_df = emb.where(F.col("vec_id") < 10)
    out = idx2.search(codes, queries_df, topk=5, refine=20, emb_df=emb)
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank")
    )


@register(
    "benford_lineitem",
    oracle="""
    WITH obs AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
             COUNT(*) AS n
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1
      GROUP BY 1
    ),
    d AS (
      SELECT CAST(g.range AS INT) AS digit, COALESCE(obs.n, 0) AS n
      FROM range(1, 10) g LEFT JOIN obs ON CAST(g.range AS INT) = obs.digit
    ),
    scored AS (
      SELECT digit, n,
             n / CAST(SUM(n) OVER () AS DOUBLE) AS p,
             LOG10(1.0 + 1.0 / digit) AS pb,
             SUM(n) OVER () AS tot
      FROM d
    )
    SELECT digit, n,
           ROUND(p, 6) + 0 AS p,
           ROUND(pb, 6) + 0 AS p_benford,
           ROUND(SUM((n - tot * pb) * (n - tot * pb) / (tot * pb)) OVER (), 6) + 0 AS chi2_total
    FROM scored
    ORDER BY digit
    """,
)
def benford_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of l_extendedprice (round 11): the
    fabricated-data / unit-mixing screen — first-digit shares vs
    log10(1+1/d) with the chi-square misfit riding every row, computed
    over the FULL 1..9 grid so absent digits contribute their expected
    mass (round-12 ADVICE fix). One aggregation to 9 rows; the digit
    comes from an exact integer string head, so the assignment is
    engine-portable by construction."""
    out = prof.benford_check(_t(spark, sf_dir, "lineitem"), "l_extendedprice")
    return out.select(
        "digit",
        "n",
        (F.round("p", 6) + F.lit(0.0)).alias("p"),
        (F.round("p_benford", 6) + F.lit(0.0)).alias("p_benford"),
        (F.round("chi2_total", 6) + F.lit(0.0)).alias("chi2_total"),
    ).orderBy("digit")


@register(
    "woe_iv_lineitem",
    oracle="""
    WITH cells AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR((l_extendedprice - 900.0) / 10410.0) AS INT))) AS bin,
             COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_pos,
             COUNT(*) FILTER (WHERE l_returnflag <> 'R') AS n_neg
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
      GROUP BY 1
    ),
    f AS (
      SELECT bin, n_pos, n_neg,
             GREATEST(n_pos / CAST(SUM(n_pos) OVER () AS DOUBLE), 1e-6) AS fp,
             GREATEST(n_neg / CAST(SUM(n_neg) OVER () AS DOUBLE), 1e-6) AS fn
      FROM cells
    )
    SELECT bin, n_pos, n_neg,
           ROUND(fp, 6) + 0 AS frac_pos,
           ROUND(fn, 6) + 0 AS frac_neg,
           ROUND(LN(fp / fn), 6) + 0 AS woe,
           ROUND((fp - fn) * LN(fp / fn), 6) + 0 AS iv_term,
           ROUND(SUM((fp - fn) * LN(fp / fn)) OVER (), 6) + 0 AS iv_total
    FROM f
    ORDER BY bin
    """,
)
def woe_iv_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value screen of l_extendedprice
    against the 'returned' label (round 11) — the pre-model feature
    ranking: per price decile-bin the class mix, WoE, and the IV total on
    every row. One aggregation to <=10 cells under the frozen
    (900, 105000) quantizer."""
    out = ev.woe_iv(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
        lo=900.0,
        hi=105000.0,
        bins=10,
    )
    return out.select(
        "bin",
        "n_pos",
        "n_neg",
        *[
            (F.round(c, 6) + F.lit(0.0)).alias(c)
            for c in ["frac_pos", "frac_neg", "woe", "iv_term", "iv_total"]
        ],
    ).orderBy("bin")


@register(
    "interarrival_burstiness_users",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS g
      FROM events
    ),
    agg AS (
      SELECT user_id, COUNT(*) AS n_gaps,
             SUM(g) AS s1,
             SUM(CAST(g AS HUGEINT) * g) AS s2
      FROM gaps WHERE g IS NOT NULL
      GROUP BY 1
    ),
    stats AS (
      SELECT user_id, n_gaps,
             CAST(s1 AS DOUBLE) / n_gaps AS mu,
             SQRT(GREATEST((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_gaps) / n_gaps, 0.0)) AS sigma
      FROM agg WHERE n_gaps >= 4
    )
    SELECT user_id,
           n_gaps + 1 AS n_events,
           ROUND(mu / 1e6, 6) + 0 AS mean_gap_s,
           ROUND(CASE WHEN mu > 0 THEN sigma / mu END, 6) + 0 AS cv,
           ROUND(CASE WHEN sigma + mu > 0 THEN (sigma - mu) / (sigma + mu) END, 6) + 0 AS burstiness
    FROM stats
    ORDER BY user_id
    """,
)
def interarrival_burstiness_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival burstiness B = (sigma-mu)/(sigma+mu) + CV
    (round 11): the bot/scraper timing screen. Gaps stay exact
    microsecond integers (sum int64, sum-of-squares DECIMAL), so mu/sigma
    are fixed float expressions over exact sums — engine-portable. One
    keyed lag window + one grouped agg; parallelism grows with users."""
    out = seq.interarrival_burstiness(
        _t(spark, sf_dir, "events"), "ts", "user_id", min_events=5
    )
    return out.select(
        "user_id",
        "n_events",
        *[
            (F.round(c, 6) + F.lit(0.0)).alias(c)
            for c in ["mean_gap_s", "cv", "burstiness"]
        ],
    ).orderBy("user_id")


@register(
    "event_pair_lift_users",
    oracle="""
    WITH b AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events WHERE event_type IS NOT NULL
    ),
    tot AS (SELECT COUNT(*) AS nb FROM (SELECT DISTINCT user_id, day FROM b)),
    singles AS (SELECT event_type, COUNT(*) AS ns FROM b GROUP BY 1),
    pairs AS (
      SELECT x.event_type AS item_a, y.event_type AS item_b, COUNT(*) AS n_both
      FROM b x JOIN b y
        ON x.user_id = y.user_id AND x.day = y.day AND x.event_type < y.event_type
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_both, sa.ns AS n_a, sb.ns AS n_b,
           ROUND(CAST(tot.nb AS DOUBLE) * n_both / (CAST(sa.ns AS DOUBLE) * sb.ns), 6) + 0 AS lift
    FROM pairs, tot
    JOIN singles sa ON sa.event_type = item_a
    JOIN singles sb ON sb.event_type = item_b
    ORDER BY item_a, item_b
    """,
)
def event_pair_lift_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift over (user, day) baskets of event types
    (round 11): which behaviors co-occur beyond chance — the affinity
    screen behind funnel hypotheses. Pair expansion is bounded by the
    per-basket distinct type count (5 types -> <=10 pairs per basket);
    counts exact, lift one fixed float expression."""
    ev_df = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    out = seq.pair_cooccurrence(ev_df, "event_type", ["user_id", "day"])
    return out.select(
        "item_a",
        "item_b",
        "n_both",
        "n_a",
        "n_b",
        (F.round("lift", 6) + F.lit(0.0)).alias("lift"),
    ).orderBy("item_a", "item_b")


@register(
    "vocab_growth_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    flat AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_tokens FROM flat WHERE tok <> '' GROUP BY 1),
    news AS (
      SELECT fd AS doc_id, COUNT(*) AS new_tokens
      FROM (SELECT tok, MIN(doc_id) AS fd FROM flat WHERE tok <> '' GROUP BY 1)
      GROUP BY 1
    )
    SELECT p.doc_id,
           COALESCE(n.new_tokens, 0) AS new_tokens,
           p.n_tokens,
           SUM(COALESCE(n.new_tokens, 0)) OVER (ORDER BY p.doc_id) AS vocab_size,
           SUM(p.n_tokens) OVER (ORDER BY p.doc_id) AS cum_tokens
    FROM per_doc p LEFT JOIN news n USING (doc_id)
    ORDER BY p.doc_id
    """,
)
def vocab_growth_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve over the corpus (round 11):
    per doc the never-seen-before token count, cumulative vocabulary and
    cumulative tokens — when the curve flattens, more same-source data
    stops buying vocabulary. First appearances are min(doc_id) per token
    (one grouped agg); both cumulatives are DISTRIBUTED prefix sums, so
    no global window anywhere."""
    out = tx.vocab_growth(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "new_tokens", "n_tokens", "vocab_size", "cum_tokens"
    ).orderBy("doc_id")


@register(
    "zipf_fit_docs",
    oracle=f"""
    WITH {_TOKS_CTE},
    flat AS (SELECT unnest(t) AS tok FROM toks),
    counts AS (SELECT tok, COUNT(*) AS c FROM flat WHERE tok <> '' GROUP BY 1),
    top AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 200),
    ranked AS (SELECT ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rank, c FROM top),
    s AS (
      SELECT COUNT(*) AS k,
             SUM(LN(CAST(rank AS DOUBLE))) AS sx,
             SUM(LN(CAST(c AS DOUBLE))) AS sy,
             SUM(LN(CAST(rank AS DOUBLE)) * LN(CAST(rank AS DOUBLE))) AS sxx,
             SUM(LN(CAST(rank AS DOUBLE)) * LN(CAST(c AS DOUBLE))) AS sxy
      FROM ranked
    )
    SELECT k AS n_tokens_fit,
           ROUND((sxy - sx * sy / CAST(k AS DOUBLE)) / (sxx - sx * sx / CAST(k AS DOUBLE)), 6) + 0 AS slope,
           ROUND((sy - ((sxy - sx * sy / CAST(k AS DOUBLE)) / (sxx - sx * sx / CAST(k AS DOUBLE))) * sx) / CAST(k AS DOUBLE), 6) + 0 AS intercept
    FROM s
    """,
)
def zipf_fit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus unigram distribution (round 11): OLS
    slope/intercept of ln(count) on ln(rank) over the 200 most frequent
    tokens. Natural language sits near slope -1; large deviations flag
    boilerplate floods or tokenizer damage. The vocabulary relation is
    never globally sorted — orderBy+limit plans as TakeOrderedAndProject;
    the regression runs over exactly 200 rows."""
    out = tx.zipf_fit(_t(spark, sf_dir, "documents"), top_k=200)
    return out.select(
        "n_tokens_fit",
        (F.round("slope", 6) + F.lit(0.0)).alias("slope"),
        (F.round("intercept", 6) + F.lit(0.0)).alias("intercept"),
    )


@register(
    "dow_hour_profile_events",
    oracle="""
    WITH cells AS (
      SELECT dayofweek(ts) + 1 AS dow, EXTRACT(hour FROM ts) AS hour,
             COUNT(*) AS n, SUM(value) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT dow, hour, n,
           ROUND(n / CAST(SUM(n) OVER () AS DOUBLE), 6) + 0 AS n_share,
           ROUND(sv / n, 6) + 0 AS mean_value,
           ROUND((sv / n) / (SUM(sv) OVER () / CAST(SUM(n) OVER () AS DOUBLE)), 6) + 0 AS mean_ratio
    FROM cells
    ORDER BY dow, hour
    """,
)
def dow_hour_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality profile of the event stream (round 11):
    per (day-of-week, hour) cell the volume share and the value mean's
    ratio to the overall mean — the seasonal baseline a rate-anomaly
    monitor subtracts before alarming. ONE aggregation to <=168 cells;
    shares/ratios are windows over that bounded relation."""
    out = seq.dow_hour_profile(_t(spark, sf_dir, "events"), "ts", "value")
    return out.select(
        "dow",
        "hour",
        "n",
        *[
            (F.round(c, 6) + F.lit(0.0)).alias(c)
            for c in ["n_share", "mean_value", "mean_ratio"]
        ],
    ).orderBy("dow", "hour")


@register(
    "silhouette_kmeans_embeddings",
    oracle=f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    {_coarse_kmeans_ctes(4)},
    d AS (
      SELECT v.vec_id, a.cluster, c.cid, list_distance(v.emb, c.emb) AS dist
      FROM vecs v JOIN ka3 a USING (vec_id) CROSS JOIN kc2 c
    ),
    s AS (
      SELECT vec_id, cluster,
             MIN(CASE WHEN cid = cluster THEN dist END) AS a,
             MIN(CASE WHEN cid <> cluster THEN dist END) AS b
      FROM d GROUP BY 1, 2
    )
    SELECT cluster, COUNT(*) AS n,
           ROUND(AVG(CASE WHEN GREATEST(a, b) > 0
                          THEN (b - a) / GREATEST(a, b) ELSE 0.0 END), 6) + 0
             AS mean_silhouette
    FROM s GROUP BY 1 ORDER BY 1
    """,
)
def silhouette_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette of the shared k=4 coarse quantizer
    (round 11): per cluster the mean (b-a)/max(a,b) — are the IVF cells
    real structure or arbitrary cuts? O(n*k) narrow scan, one <=k-row
    aggregation; the O(n^2) classic silhouette cannot run at 100 TB."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _memo_kmeans(spark, sf_dir, k=4, iters=2, round_dp=6)
    out = sim.silhouette_centroid(emb, cents)
    return out.select(
        "cluster",
        "n",
        (F.round("mean_silhouette", 6) + F.lit(0.0)).alias("mean_silhouette"),
    ).orderBy("cluster")


@register(
    "matryoshka_recall_embeddings",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    full_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
          PARTITION BY query_id
          ORDER BY ROUND({_COS_SQL}, 4) + 0 DESC, neighbor_id) AS rn
        FROM q, c WHERE neighbor_id != query_id
      ) WHERE rn <= 5
    ),
    cut_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
          PARTITION BY query_id
          ORDER BY ROUND(
            list_dot_product(qv[1:16], cv[1:16]) /
            (sqrt(list_dot_product(qv[1:16], qv[1:16])) *
             sqrt(list_dot_product(cv[1:16], cv[1:16]))), 4) + 0 DESC,
            neighbor_id) AS rn
        FROM q, c WHERE neighbor_id != query_id
      ) WHERE rn <= 5
    )
    SELECT f.query_id,
           COUNT(t.neighbor_id) / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM full_top f
    LEFT JOIN cut_top t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY 1 ORDER BY 1
    """,
)
def matryoshka_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation recall (round 11): exact top-5 on the first
    16 of 64 embedding dims vs the full-vector top-5, per query — the
    measured basis for shipping a prefix-truncated index. Both sides use
    the deterministic rounded-cosine ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.truncated_recall(emb, _queries_vecs(spark, sf_dir), dims=16, k=5)
    return out.select("query_id", "recall").orderBy("query_id")


@register(
    "dup_triangle_stats",
    oracle=f"""
    WITH pairs AS ({_ORACLES["ngram_jaccard_pairs"]}),
    e AS (SELECT DISTINCT id_a AS a, id_b AS b FROM pairs WHERE id_a < id_b),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY 1
    ),
    w AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    ne AS (SELECT COUNT(*) AS n_edges FROM e)
    SELECT n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END
             AS clustering_coefficient
    FROM ne, w, tri
    """,
)
def dup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup pair graph (round 11): a high
    clustering coefficient says candidate pairs close into genuine
    duplicate cliques; a low one says the generator chains unrelated
    docs through hub shingles. Compact-forward counting — two joins on
    the edge list, wedges from exact degree sums."""
    from dataquality_ml_spark.operators import graph as gr_ops

    pairs = dd.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=5, threshold=0.8,
        on_hot_shingle="exact",
    )
    return gr_ops.triangle_stats(pairs)


@register(
    "neyman_allocation_events",
    oracle="""
    WITH agg AS (
      SELECT event_type, COUNT(*) AS n, SUM(value) AS s1,
             SUM(value * value) AS s2
      FROM events
      WHERE value IS NOT NULL AND NOT isnan(value)
      GROUP BY 1
    ),
    scored AS (
      SELECT event_type, n,
             SQRT(GREATEST((s2 - s1 * s1 / n) / n, 0.0)) AS sigma
      FROM agg
    )
    SELECT event_type, n,
           ROUND(sigma, 6) + 0 AS sigma,
           ROUND(CASE WHEN SUM(n * sigma) OVER () > 0
                 THEN 1000.0 * (n * sigma) / SUM(n * sigma) OVER ()
                 ELSE 0.0 END, 4) + 0 AS alloc
    FROM scored
    ORDER BY event_type
    """,
)
def neyman_allocation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation of a 1000-row budget
    across event types by value variance (round 11): the principled
    eval-sample design (uniform and proportional allocation over-sample
    low-variance strata). One aggregation; sigma from exact sums."""
    from dataquality_ml_spark.operators.selection import neyman_allocation

    out = neyman_allocation(_t(spark, sf_dir, "events"), "value", "event_type", 1000)
    return out.select(
        "event_type",
        "n",
        (F.round("sigma", 6) + F.lit(0.0)).alias("sigma"),
        (F.round("alloc", 4) + F.lit(0.0)).alias("alloc"),
    ).orderBy("event_type")


@register(
    "robust_scale_lineitem",
    oracle="""
    WITH st AS (
      SELECT quantile_cont(l_quantity, 0.5) AS m_q,
             quantile_cont(l_quantity, 0.25) AS q1_q,
             quantile_cont(l_quantity, 0.75) AS q3_q,
             quantile_cont(l_extendedprice, 0.5) AS m_p,
             quantile_cont(l_extendedprice, 0.25) AS q1_p,
             quantile_cont(l_extendedprice, 0.75) AS q3_p
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           ROUND((l_quantity - m_q) / (q3_q - q1_q), 6) + 0 AS l_quantity,
           ROUND((l_extendedprice - m_p) / (q3_p - q1_p), 6) + 0 AS l_extendedprice
    FROM lineitem, st
    WHERE l_orderkey % 97 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def robust_scale_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustScaler — (v - median)/IQR — on two lineitem measures
    (round 11): the outlier-immune StandardScaler sibling. Q1/median/Q3
    for BOTH columns come out of the shared histogram-refine selection
    scans (one engine, exact, no single-buffer percentile); the transform
    is a broadcast-scalar projection. Output restricted to a deterministic
    order-key subset to keep the compare narrow."""
    li = _t(spark, sf_dir, "lineitem")
    scaled = feat.robust_scale(li, ["l_quantity", "l_extendedprice"])
    return scaled.where(F.col("l_orderkey") % 97 == 0).select(
        "l_orderkey",
        "l_linenumber",
        (F.round("l_quantity", 6) + F.lit(0.0)).alias("l_quantity"),
        (F.round("l_extendedprice", 6) + F.lit(0.0)).alias("l_extendedprice"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "ngram_diversity_by_source",
    oracle="""
    WITH toks AS (
      SELECT source,
             string_split_regex(trim(lower(nfc_normalize(text))), '\\s+') AS t
      FROM documents
    ),
    uni AS (
      SELECT source, g FROM (SELECT source, unnest(t) AS g FROM toks)
      WHERE g <> ''
    ),
    big AS (
      SELECT source, g FROM (
        SELECT source,
               unnest([array_to_string(t[i:i+1], ' ')
                       for i in generate_series(1, len(t) - 1)]) AS g
        FROM toks WHERE len(t) >= 2
      )
    ),
    u AS (SELECT source, COUNT(*) AS n_unigrams,
                 COUNT(DISTINCT g) AS d_unigrams FROM uni GROUP BY 1),
    b AS (SELECT source, COUNT(*) AS n_bigrams,
                 COUNT(DISTINCT g) AS d_bigrams FROM big GROUP BY 1)
    SELECT u.source, n_unigrams, d_unigrams,
           ROUND(d_unigrams / CAST(n_unigrams AS DOUBLE), 6) + 0 AS ttr_unigram,
           n_bigrams, d_bigrams,
           ROUND(d_bigrams / CAST(n_bigrams AS DOUBLE), 6) + 0 AS ttr_bigram
    FROM u JOIN b ON u.source = b.source
    ORDER BY u.source
    """,
)
def ngram_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token diversity per source at unigram and bigram order
    (round 11): template spam collapses the bigram TTR long before the
    unigram mix looks odd — the Self-BLEU signal without O(n^2) pairwise
    scoring. Two explode+count-distinct aggregations keyed by source."""
    out = tx.ngram_diversity(
        _t(spark, sf_dir, "documents"), group_col="source"
    )
    return out.select(
        "source",
        "n_unigrams",
        "d_unigrams",
        (F.round("ttr_unigram", 6) + F.lit(0.0)).alias("ttr_unigram"),
        "n_bigrams",
        "d_bigrams",
        (F.round("ttr_bigram", 6) + F.lit(0.0)).alias("ttr_bigram"),
    ).orderBy("source")


@register(
    "quantile_map_events",
    oracle="""
    WITH ref AS (
      SELECT value AS v FROM events
      WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL AND NOT isnan(value)
    ),
    kn AS (
      SELECT quantile_cont(v, [0.0, 0.0625, 0.125, 0.1875, 0.25, 0.3125,
        0.375, 0.4375, 0.5, 0.5625, 0.625, 0.6875, 0.75, 0.8125, 0.875,
        0.9375, 1.0]) AS ks
      FROM ref
    ),
    cur AS (
      SELECT value AS v, COUNT(*) AS n FROM events
      WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL AND NOT isnan(value)
      GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS n_tot FROM cur),
    pre AS (
      SELECT v, n,
             COALESCE(SUM(n) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM cur
    ),
    t AS (
      SELECT v, n,
             (CASE WHEN n_tot > 1 THEN CAST(cum AS DOUBLE) / (n_tot - 1)
                   ELSE 0.0 END) * 16 AS tt, ks
      FROM pre, tot, kn
    )
    SELECT v AS value, n,
           ROUND(ks[LEAST(15, CAST(FLOOR(tt) AS INT)) + 1]
                   * (1 - (tt - LEAST(15, CAST(FLOOR(tt) AS INT))))
                 + ks[LEAST(15, CAST(FLOOR(tt) AS INT)) + 2]
                   * (tt - LEAST(15, CAST(FLOOR(tt) AS INT))), 6) + 0 AS mapped
    FROM t
    ORDER BY value
    """,
)
def quantile_map_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the second half of the events month onto
    the first half's distribution (round 11): drift REPAIR, not just
    detection — values are remapped through 17 exact reference-quantile
    knots (shared selection engine) with rank-preserving piecewise-linear
    interpolation; percent ranks come from the distributed prefix sum."""
    ev_df = _t(spark, sf_dir, "events")
    split = F.to_timestamp(F.lit(_DRIFT_SPLIT))
    # ONE materialized (value, side) projection feeds both sides
    # (round 14, guide §2.3/§6): the reference side's selection engine
    # makes SEVERAL refinement passes over its input, so without the
    # barrier this face re-scanned events once per refinement pass plus
    # once for the current side. Rows per side are identical to the
    # two-filter form (NULL ts belongs to neither side either way).
    base = ev_df.select(
        "value", (F.col("ts") >= split).alias("__cur")
    ).localCheckpoint(eager=True)
    out = feat.quantile_map(
        base.where(F.col("__cur")).select("value"),
        "value",
        base.where(~F.col("__cur")).select("value"),
        knots=16,
    )
    return out.select(
        "value",
        "n",
        (F.round("mapped", 6) + F.lit(0.0)).alias("mapped"),
    ).orderBy("value")


@register(
    "keyed_drift_stream_replay",
    oracle="""
    WITH ref AS (
      SELECT event_type,
             LEAST(19, GREATEST(0, CAST(FLOOR((value - 0.0) / 25.0) AS INT))) AS b,
             COUNT(*) AS c
      FROM events
      WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL AND NOT isnan(value)
      GROUP BY 1, 2
    ),
    cur AS (
      SELECT event_id % 3 AS batch, event_type,
             LEAST(19, GREATEST(0, CAST(FLOOR((value - 0.0) / 25.0) AS INT))) AS b,
             COUNT(*) AS c
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL AND NOT isnan(value)
      GROUP BY 1, 2, 3
    ),
    segs AS (SELECT DISTINCT batch, event_type FROM cur),
    grid AS (
      SELECT s.batch, s.event_type, g.b
      FROM segs s CROSS JOIN (SELECT range AS b FROM range(20)) g
    ),
    f AS (
      SELECT g.batch, g.event_type, g.b,
             COALESCE(r.c, 0) AS rc, COALESCE(c.c, 0) AS cc
      FROM grid g
      LEFT JOIN ref r ON r.event_type = g.event_type AND r.b = g.b
      LEFT JOIN cur c ON c.batch = g.batch AND c.event_type = g.event_type AND c.b = g.b
    ),
    cumul AS (
      SELECT *,
             SUM(rc) OVER (PARTITION BY batch, event_type ORDER BY b) AS ca,
             SUM(cc) OVER (PARTITION BY batch, event_type ORDER BY b) AS cb
      FROM f
    ),
    tot AS (SELECT batch, event_type, SUM(rc) AS n_a, SUM(cc) AS n_b FROM f GROUP BY 1, 2),
    j AS (
      SELECT c.*, t.n_a, t.n_b,
             CAST(t.n_a + t.n_b AS DOUBLE) AS nd,
             CAST(c.rc + c.cc AS DOUBLE) AS l,
             CAST(c.ca + c.cb AS DOUBLE) - CAST(c.rc + c.cc AS DOUBLE) / 2 AS bb
      FROM cumul c JOIN tot t USING (batch, event_type)
    ),
    j2 AS (SELECT *, bb * (nd - bb) - (nd * l) / 4 AS den FROM j)
    SELECT batch AS batch_id, event_type AS key, FALSE AS new_segment,
           CAST(MAX(n_b) AS BIGINT) AS n,
           ROUND(SUM(
             (GREATEST(cc / CAST(n_b AS DOUBLE), 1e-6)
                - GREATEST(rc / CAST(n_a AS DOUBLE), 1e-6))
             * LN(GREATEST(cc / CAST(n_b AS DOUBLE), 1e-6)
                  / GREATEST(rc / CAST(n_a AS DOUBLE), 1e-6))), 6) + 0 AS psi,
           ROUND(MAX(ABS(ca / CAST(n_a AS DOUBLE) - cb / CAST(n_b AS DOUBLE))), 6) + 0 AS ks_d,
           ROUND(
             CAST(SUM(CAST(rc + cc AS HUGEINT)
                  * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
                  * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)) AS DOUBLE)
             / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b) * n_a * n_b), 6) + 0 AS cvm_t,
           ROUND(
             (CAST(n_a + n_b AS DOUBLE) - 1) / (n_a + n_b) * (
               SUM(CASE WHEN l > 0 AND den > 0 THEN
                 (((l / nd) * (nd * (ca - rc / 2.0) - CAST(n_a AS DOUBLE) * bb))
                  * (nd * (ca - rc / 2.0) - CAST(n_a AS DOUBLE) * bb) / den) / n_a
                 ELSE 0 END)
             + SUM(CASE WHEN l > 0 AND den > 0 THEN
                 (((l / nd) * (nd * (cb - cc / 2.0) - CAST(n_b AS DOUBLE) * bb))
                  * (nd * (cb - cc / 2.0) - CAST(n_b AS DOUBLE) * bb) / den) / n_b
                 ELSE 0 END)), 6) + 0 AS ad_a2
    FROM j2
    GROUP BY batch, event_type, n_a, n_b
    ORDER BY batch_id, key
    """,
)
def keyed_drift_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEYED streaming drift panel's registered face (the keyed twin
    of drift_panel_stream_replay): the second half of the events month
    replayed through the PRODUCTION per-segment foreachBatch fold
    (streaming.score_stream._drift_panel_fold, shared verbatim with
    drift_panel_stream) as 3 micro-batches scored per event_type against
    frozen per-segment first-half histograms — PSI + binned KS + binned
    CvM + binned AD A^2 per (batch, segment). Only <= segments*bins count
    cells cross to the driver per batch."""
    from dataquality_ml_spark.operators.sketch import qsketch_build
    from dataquality_ml_spark.streaming.score_stream import drift_panel_replay

    # one materialized projection for both the frozen per-segment
    # histograms and the replay — same rationale as
    # drift_panel_stream_replay
    ev_df = _t(spark, sf_dir, "events").select(
        "ts", "value", "event_id", "event_type"
    ).localCheckpoint(eager=True)
    split = F.to_timestamp(F.lit(_DRIFT_SPLIT))
    ref = ev_df.where(F.col("ts") < split)
    hists: dict = {}
    for r in qsketch_build(
        ref, "value", 0.0, 500.0, bins=20, group_cols=["event_type"]
    ).collect():
        hists.setdefault(r["event_type"], [0] * 20)[r["qs_bin"]] = r["qs_cnt"]
    cur = ev_df.where(F.col("ts") >= split).withColumn(
        "batch", F.col("event_id") % 3
    )
    out = drift_panel_replay(
        cur, "batch", hists, "value", "event_type", 0.0, 500.0
    )
    return out.select(
        "batch_id",
        "key",
        "new_segment",
        "n",
        *[
            (F.round(c, 6) + F.lit(0.0)).alias(c)
            for c in ["psi", "ks_d", "cvm_t", "ad_a2"]
        ],
    ).orderBy("batch_id", "key")


@register(
    "survival_purchase_gap",
    oracle="""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
    ),
    durs AS (
      SELECT CASE WHEN nxt IS NOT NULL THEN (nxt - us) / 3.6e9
                  ELSE (epoch_us(TIMESTAMP '2024-02-01') - us) / 3.6e9 END AS t_raw,
             CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS e
      FROM (
        SELECT user_id, us,
               LEAD(us) OVER (PARTITION BY user_id ORDER BY us) AS nxt
        FROM p
      )
    ),
    cells AS (
      SELECT CAST(0.0 AS DOUBLE) + (LEAST(47, GREATEST(0, CAST(FLOOR((t_raw - CAST(0.0 AS DOUBLE)) / CAST(15.0 AS DOUBLE)) AS INT))) + 1) * CAST(15.0 AS DOUBLE) AS t,
             COUNT(*) FILTER (WHERE e = 1) AS d_events,
             COUNT(*) FILTER (WHERE e = 0) AS c_censored
      FROM durs WHERE t_raw IS NOT NULL
      GROUP BY 1
    ),
    km AS (
      SELECT t, d_events, c_censored,
             SUM(d_events + c_censored) OVER ()
               - COALESCE(SUM(d_events + c_censored) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
      FROM cells
    )
    SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d_events, c_censored,
           ROUND(CASE WHEN MAX(CASE WHEN d_events > 0 AND d_events >= n_at_risk
                                    THEN 1 ELSE 0 END)
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                 THEN 0.0
                 ELSE EXP(SUM(
                   CASE WHEN d_events > 0 AND n_at_risk > 0
                             AND d_events < n_at_risk
                        THEN LN(1.0 - d_events / CAST(n_at_risk AS DOUBLE))
                        ELSE 0.0 END
                 ) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 END, 6) + 0 AS survival
    FROM km
    ORDER BY t
    """,
)
def survival_purchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-next-purchase curve (round 11): per-user gaps
    between consecutive purchases (observed) plus the right-censored gap
    from each user's last purchase to the end of the observation month —
    the churn/repeat-rate estimate a mean-of-gaps gets wrong under
    censoring. Binned 15-hour grid (the 100 TB face: every window runs
    over <=48 rows); the ln/exp cumulative form makes the ordered float
    accumulation engine-identical."""
    from pyspark.sql import Window

    ev_df = _t(spark, sf_dir, "events")
    end_us = F.unix_micros(F.to_timestamp(F.lit("2024-02-01")))
    w = Window.partitionBy("user_id").orderBy("us")
    p = ev_df.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    durs = p.withColumn("nxt", F.lead("us").over(w)).select(
        F.when(
            F.col("nxt").isNotNull(), (F.col("nxt") - F.col("us")) / 3.6e9
        ).otherwise((end_us - F.col("us")) / 3.6e9).alias("dur_h"),
        F.when(F.col("nxt").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    out = seq.survival_km(durs, "dur_h", "observed", bins=48, lo=0.0, hi=720.0)
    return out.select(
        "t",
        "n_at_risk",
        "d_events",
        "c_censored",
        (F.round("survival", 6) + F.lit(0.0)).alias("survival"),
    ).orderBy("t")


@register(
    "ab_test_purchase_rate",
    oracle="""
    WITH peruser AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'v0' ELSE 'v1' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1, 2
    ),
    agg AS (
      SELECT variant, COUNT(*) AS n,
             COUNT(*) FILTER (WHERE converted = 1) AS k
      FROM peruser GROUP BY 1
    ),
    ctl AS (SELECT n AS n_control, k AS k_control FROM agg WHERE variant = 'v0'),
    v AS (SELECT * FROM agg WHERE variant <> 'v0')
    SELECT variant,
           n_control,
           ROUND(k_control / CAST(n_control AS DOUBLE), 6) + 0 AS conv_control,
           n AS n_variant,
           ROUND(k / CAST(n AS DOUBLE), 6) + 0 AS conv_variant,
           ROUND(k / CAST(n AS DOUBLE) - k_control / CAST(n_control AS DOUBLE), 6) + 0 AS lift,
           ROUND(
             (k / CAST(n AS DOUBLE) - k_control / CAST(n_control AS DOUBLE))
             / SQRT(((k + k_control) / CAST(n + n_control AS DOUBLE))
                    * (1 - (k + k_control) / CAST(n + n_control AS DOUBLE))
                    * (1.0 / n_control + 1.0 / n)), 6) + 0 AS z
    FROM v, ctl
    ORDER BY variant
    """,
)
def ab_test_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of per-user purchase conversion between the
    even/odd user cohorts (round 11) — the A/B readout: variant
    conversion vs control, lift, and the pooled-proportion z statistic.
    Exact counts in, one fixed float expression out."""
    ev_df = _t(spark, sf_dir, "events")
    peruser = ev_df.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "v0").otherwise("v1").alias("variant"),
        F.col("converted") == 1,
    ).toDF("variant", "converted")
    out = ev.conversion_ztest(peruser, "variant", "converted", control="v0")
    return out.select(
        "variant",
        "n_control",
        *[
            (F.round(c, 6) + F.lit(0.0)).alias(c)
            for c in ["conv_control"]
        ],
        "n_variant",
        *[
            (F.round(c, 6) + F.lit(0.0)).alias(c)
            for c in ["conv_variant", "lift", "z"]
        ],
    ).orderBy("variant")


@register(
    "conformal_price_interval",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n, SUM(l_quantity) AS sx, SUM(l_extendedprice) AS sy,
             SUM(l_quantity * l_extendedprice) AS sxy,
             SUM(l_quantity * l_quantity) AS sxx
      FROM lineitem
    ),
    co AS (
      SELECT ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS b,
             ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS a
      FROM s
    ),
    resid AS (
      SELECT l_orderkey,
             ABS(l_extendedprice - (a + b * l_quantity)) AS r
      FROM lineitem, co
    ),
    cal AS (SELECT r FROM resid WHERE l_orderkey % 2 = 0),
    nq AS (
      SELECT COUNT(*) AS n_cal,
             LEAST(COUNT(*), CAST(CEIL((COUNT(*) + 1) * 0.9) AS BIGINT)) AS k
      FROM cal
    ),
    qh AS (
      SELECT n_cal, r AS qhat FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn FROM cal
      ), nq WHERE rn = k
    )
    SELECT n_cal,
           ROUND(qhat, 6) + 0 AS qhat,
           (SELECT COUNT(*) FROM resid WHERE l_orderkey % 2 = 1) AS n_test,
           ROUND((SELECT AVG(CASE WHEN r <= qhat THEN 1.0 ELSE 0.0 END)
                  FROM resid WHERE l_orderkey % 2 = 1), 6) + 0 AS coverage
    FROM qh
    """,
)
def conformal_price_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the price~quantity linear
    model (round 11): q-hat = the ceil((n+1)(1-alpha))-th smallest
    calibration |residual| (alpha=0.1), located through the shared
    exact-selection engine, with the empirical test-half coverage of the
    distribution-free >=90% guarantee. Coefficients are frozen at 6 dp so
    the residual relation is engine-exact."""
    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    ).first()
    raw_b = (s["n"] * s["sxy"] - s["sx"] * s["sy"]) / (
        s["n"] * s["sxx"] - s["sx"] * s["sx"]
    )
    b = round(raw_b, 6)
    a = round((s["sy"] - raw_b * s["sx"]) / s["n"], 6)
    resid = li.select(
        "l_orderkey",
        F.abs(y - (F.lit(a) + F.lit(b) * x)).alias("resid"),
    )
    cal = resid.where(F.col("l_orderkey") % 2 == 0)
    test = resid.where(F.col("l_orderkey") % 2 == 1)
    out = ev.conformal_interval(cal, test, "resid", alpha=0.1)
    return out.select(
        "n_cal",
        (F.round("qhat", 6) + F.lit(0.0)).alias("qhat"),
        "n_test",
        (F.round("coverage", 6) + F.lit(0.0)).alias("coverage"),
    )


@register(
    "sorted_neighborhood_docs",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, substr(trim(lower(nfc_normalize(text))), 1, 24) AS k
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1 AS r
      FROM keyed
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.r - a.r AS rank_distance
    FROM ranked a JOIN ranked b
      ON b.r > a.r AND b.r - a.r <= 3
    ORDER BY id_a, id_b
    """,
)
def sorted_neighborhood_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking over the corpus (round 11): candidate
    pairs within 3 positions of the normalized-prefix sort order — the
    record-linkage blocking method that catches near-duplicates whose
    shingle sets diverge, complementary to MinHash/SimHash banding. The
    global rank is a distributed prefix sum (no single-task window); each
    row meets at most 2*window candidates."""
    from dataquality_ml_spark.functions.scalar import normalize_text

    docs = _t(spark, sf_dir, "documents")
    out = dd.sorted_neighborhood_pairs(
        docs.withColumn("__k", F.substring(normalize_text("text"), 1, 24)),
        "__k",
        window=3,
    )
    return out.orderBy("id_a", "id_b")
