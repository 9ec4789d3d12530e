"""Array-native feature pipeline (SURVEY.md §2.8 M1-M6, §7 step 3).

Re-provides the reference's feature pipeline — role inference
(reference lib/utils.py:17-36), valid-column filtering (lib/utils.py:187-203),
mean/median imputation (lib/utils.py:209-213, app/IsolationForest_AE.py:116-121),
frequency-ordered categorical indexing with unseen-kept semantics
(lib/utils.py:205-208, handleInvalid="keep"), z-score scaling
(lib/utils.py:233-238), and the assembler's keep-vs-skip row behavior
(lib/utils.py:228-232 vs app/IsolationForest_AE.py:124-129) — with two
deliberate engineering changes:

1. **One stats pass.** The reference runs one Spark job per column for
   validity plus one per ML stage for stats (~40+ jobs). Here a single
   column-keyed aggregation computes every count/mean/median/σ, and one
   stacked groupBy computes every categorical column's frequency table.
2. **array<double> features, not VectorUDT.** Features stay SQL-queryable
   (and DuckDB-checkable); convert with ``array_to_vector`` only at an
   MLlib boundary.

The fitted model is a plain JSON-serializable dict — the artifact registry
the reference lacked (its test path *refit* the pipeline, SURVEY §3.3
drift hazard; loading the artifact makes train/test transforms identical
by construction).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, NumericType, StringType

from dataquality_ml_spark.operators.relational import local_frame


@dataclass
class FeatureModel:
    """Fitted feature-pipeline parameters (the only state that crosses the
    driver boundary — O(cols + categories) scalars, never rows)."""

    numeric_cols: list[str] = field(default_factory=list)
    bool_cols: list[str] = field(default_factory=list)
    categorical_cols: list[str] = field(default_factory=list)
    impute: dict[str, float] = field(default_factory=dict)
    mean: dict[str, float] = field(default_factory=dict)
    std: dict[str, float] = field(default_factory=dict)
    # cat col -> ordered category list (descending frequency, ties by value)
    categories: dict[str, list[str]] = field(default_factory=dict)
    strategy: str = "mean"
    # cat col -> FULL distinct cardinality, recorded only for columns whose
    # category list was truncated to fit_features' max_categories cap (the
    # overflow tail routes to the handleInvalid="keep" bucket at transform)
    overflow: dict[str, int] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "FeatureModel":
        return cls(**json.loads(s))

    @property
    def feature_names(self) -> list[str]:
        return (
            [f"{c}_idx" for c in self.categorical_cols]
            + [f"{c}_scaled" for c in self.numeric_cols]
            + [f"{c}_int" for c in self.bool_cols]
        )


def infer_roles(df: DataFrame, label_col: str | None = "failure", exclude: tuple[str, ...] = ()) -> dict[str, list[str]]:
    """Column roles from Spark types (reference lib/utils.py:9-36:
    StringType → categorical, NumericType → numerical, BooleanType →
    boolean; the label column is identified by name)."""
    roles: dict[str, list[str]] = {"categorical": [], "numeric": [], "boolean": []}
    for f_ in df.schema.fields:
        if f_.name == label_col or f_.name in exclude:
            continue
        if isinstance(f_.dataType, BooleanType):
            roles["boolean"].append(f_.name)
        elif isinstance(f_.dataType, NumericType):
            roles["numeric"].append(f_.name)
        elif isinstance(f_.dataType, StringType):
            roles["categorical"].append(f_.name)
    return roles


def fit_features(
    df: DataFrame,
    roles: dict[str, list[str]] | None = None,
    label_col: str | None = "failure",
    strategy: str = "mean",
    exact_median: bool = True,
    min_valid: int = 1,
    max_categories: int | None = 65536,
    on_overflow: str = "error",
) -> FeatureModel:
    """Fit the pipeline: ONE aggregation for numeric stats (validity +
    impute value + μ/σ), one tiny groupBy per categorical column for
    frequency tables. Fit-on-normal is the caller's contract (pass the
    ``failure == 0`` slice, reference app/AE_model.py:42-48).

    ``max_categories`` caps what the driver ever collects per categorical
    column (round 9 — this was the last unbounded driver collect reachable
    from a core reference operator: MLlib StringIndexer's own contract
    keeps labels as a driver-side model array, fine for the reference's 26
    bounded-cardinality categoricals, but an ultra-high-cardinality column
    at 100 TB would OOM the driver with no guardrail). Columns over the
    cap hit the ``on_overflow`` contract:

    - ``"error"`` (default): raise ValueError naming the columns and their
      cardinalities — an exact full index over the cap is a deliberate,
      loud failure, never an OOM. Raise the cap or pass ``"keep"``.
    - ``"keep"``: index only the top ``max_categories`` categories
      (descending frequency, ties by value — the same frequencyDesc cut,
      so it equals the full fit truncated); every overflow value routes to
      the existing handleInvalid="keep" bucket at transform time, and
      ``model.overflow`` records the column's full cardinality.

    The top-k cut itself never funnels: a two-level salted row_number
    (the ``profile.heavy_hitters`` shape) keeps top-k per (col, salt)
    bucket in parallel, then ranks the ≤ 32·k survivors per column —
    driver state is O(cols · max_categories) by construction.
    ``max_categories=None`` opts out (explicitly unbounded)."""
    if on_overflow not in ("error", "keep"):
        raise ValueError(
            f"fit_features: on_overflow={on_overflow!r} — must be 'error' "
            "or 'keep' (anything else would silently truncate like 'keep')"
        )
    from dataquality_ml_spark.operators.profile import _collect_column_stats, _melt_sql

    roles = roles or infer_roles(df, label_col)
    num, cats, bools = roles["numeric"], roles["categorical"], roles["boolean"]

    # one column-keyed aggregation for every numeric column: see
    # profile._column_stats
    stats = ["n_valid", "mean", "stddev"]
    if strategy == "median":
        stats.append("median" if exact_median else "median_approx")
    rows = _collect_column_stats(df, num, stats) if num else []

    model = FeatureModel(strategy=strategy, bool_cols=list(bools))
    for c, r in zip(num, rows):
        if (r["n_valid"] if r else 0) < min_valid:
            # 100%-invalid columns are dropped, reference lib/utils.py:187-199
            continue
        model.numeric_cols.append(c)
        model.mean[c] = float(r["mean"])
        model.std[c] = float(r["stddev"] or 0.0)
        model.impute[c] = float(r[stats[-1]] if strategy == "median" else r["mean"])

    if cats:
        # ONE melt (profile._melt_sql) + groupBy for every categorical
        # column — not one job per column (the reference's per-column-job
        # pattern, lib/utils.py:187-195, repeated here until round 3). The
        # result is O(total categories) rows: tiny relative to the corpus.
        stacked = df.selectExpr(
            _melt_sql(cats, col="{name}", val="CAST({col} AS STRING)")
        ).where("val IS NOT NULL")
        counts = stacked.groupBy("col", "val").count()
        if max_categories is not None:
            from pyspark.sql import Window

            # consumed twice (cardinality collect, then the frequency
            # collect) — lazy checkpoint so the stack+groupBy scan runs once
            counts = counts.localCheckpoint(eager=False)

            # cardinalities first: ≤ |cats| rows to the driver, and the
            # overflow contract fires BEFORE anything category-sized moves
            card = {
                r["col"]: r["n"]
                for r in counts.groupBy("col")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            over = {c: n for c, n in card.items() if n > max_categories}
            if over:
                if on_overflow == "error":
                    raise ValueError(
                        "fit_features: categorical cardinality over "
                        f"max_categories={max_categories}: "
                        + ", ".join(f"{c}={n}" for c, n in sorted(over.items()))
                        + " — raise max_categories or pass "
                        "on_overflow='keep' (top-k index, overflow values "
                        "take the handleInvalid='keep' bucket)"
                    )
                model.overflow = dict(sorted(over.items()))
                # two-level salted top-k (profile.heavy_hitters shape): a
                # global per-col row_number over an unbounded distinct-value
                # relation would be a single-task funnel. Only when a column
                # is over the cap: under it the cut keeps every row.
                order = [F.desc("count"), F.asc("val")]
                w1 = Window.partitionBy("col", "_salt").orderBy(*order)
                pruned = (
                    counts.withColumn("_salt", F.pmod(F.hash("val"), F.lit(32)))
                    .withColumn("_r1", F.row_number().over(w1))
                    .where(F.col("_r1") <= max_categories)
                    .drop("_r1", "_salt")
                )
                w2 = Window.partitionBy("col").orderBy(*order)
                counts = (
                    pruned.withColumn("_r2", F.row_number().over(w2))
                    .where(F.col("_r2") <= max_categories)
                    .drop("_r2")
                )
        freq = counts.collect()
        by_col: dict[str, list] = {c: [] for c in cats}
        for r in freq:
            by_col[r["col"]].append((-r["count"], r["val"]))
        for c in cats:
            # descending frequency, ties broken by value — StringIndexer
            # frequencyDesc order (reference lib/utils.py:205-208)
            model.categorical_cols.append(c)
            model.categories[c] = [v for _, v in sorted(by_col[c])]
    return model


def apply_features(
    df: DataFrame,
    model: FeatureModel,
    mode: str = "keep",
    out: str = "features",
    broadcast_cutoff: int = 100,
) -> DataFrame:
    """Transform with fitted parameters — pure column expressions, fully
    parallel; the only non-map operation is a broadcast hash join per
    high-cardinality categorical column (no shuffle of the corpus).

    ``mode="keep"``: unseen categories get index = n_categories (the
    StringIndexer handleInvalid="keep" extra bucket); numeric nulls/NaNs are
    imputed. ``mode="skip"``: rows with any invalid numeric are dropped
    (VectorAssembler handleInvalid="skip", the IF/LSTM path's silent
    row-drop the reference depends on).

    Categorical encoding picks its physical form by cardinality: at or
    below ``broadcast_cutoff`` categories, one ``CASE <col> WHEN ...``
    expression (stays inside whole-stage codegen — cheapest for the
    reference's 26 low-cardinality columns); above it, a broadcast-joined (value → idx)
    mapping table, because a 10k-branch CASE expression blows up codegen
    (JVM 64KB method limit forces interpreted mode) while a broadcast hash
    join is O(1) per row at any cardinality.

    The whole projection is built as SQL text (the ``CASE`` expressions,
    the imputed/scaled numerics, the bool casts, the ``skip`` predicate
    and the final ``array``) in one ``selectExpr`` plus one
    ``withColumn``: a few dozen py4j round trips, where a ``Column``-API
    build costs one per expression node. Column names are
    backtick-quoted wherever they are resolved, so names with dots or
    backticks work. ``out`` follows ``withColumn``: an existing column of
    that name is replaced.
    """
    from dataquality_ml_spark.operators.profile import (
        _double_lit,
        _ident,
        _str_lit,
        _valid_sql,
    )

    feats: list[str] = []
    joined: list[str] = []
    for c in model.categorical_cols:
        cats = model.categories[c]
        keep = _double_lit(len(cats))  # unseen/null → the "keep" bucket
        if len(cats) > broadcast_cutoff:
            from pyspark.sql.types import DoubleType, StringType, StructField, StructType

            spark = df.sparkSession
            # StructType, not a DDL f-string: column names with spaces or
            # other non-identifier characters must not break only above
            # the cardinality cutoff
            mapping = local_frame(
                spark,
                [(v, float(i)) for i, v in enumerate(cats)],
                schema=StructType(
                    [
                        StructField(f"__{c}_val", StringType()),
                        StructField(f"__{c}_joined", DoubleType()),
                    ]
                ),
            )
            df = df.join(
                F.broadcast(mapping),
                F.col(_ident(c)) == mapping[_ident(f"__{c}_val")],
                "left",
            ).drop(f"__{c}_val")
            joined.append(f"__{c}_joined")
            idx = f"coalesce({_ident(joined[-1])}, {keep})"
        elif cats:
            whens = " ".join(
                f"WHEN {_str_lit(v)} THEN {_double_lit(i)}" for i, v in enumerate(cats)
            )
            idx = f"CASE {_ident(c)} {whens} ELSE {keep} END"
        else:
            idx = keep
        feats.append(f"{idx} AS {_ident(f'{c}_idx')}")

    if mode == "skip" and model.numeric_cols:
        df = df.where(" AND ".join(_valid_sql(df, c) for c in model.numeric_cols))

    for c in model.numeric_cols:
        v = f"CAST({_ident(c)} AS DOUBLE)"
        imputed = f"coalesce(CASE WHEN NOT isnan({v}) THEN {v} END, {_double_lit(model.impute[c])})"
        sd = model.std[c] if model.std[c] > 0 else 1.0
        feats.append(
            f"(({imputed} - {_double_lit(model.mean[c])}) / {_double_lit(sd)})"
            f" AS {_ident(f'{c}_scaled')}"
        )

    for c in model.bool_cols:
        # bool→int cast, reference app/AE_model.py:33-40; distinct alias so
        # select("*", ...) never duplicates the source column name
        feats.append(f"CAST(CAST({_ident(c)} AS INT) AS DOUBLE) AS {_ident(f'{c}_int')}")

    named = df.selectExpr("*", *feats)
    if joined:
        named = named.drop(*joined)
    vec = ", ".join(_ident(n) for n in model.feature_names)
    return named.withColumn(out, F.expr(f"array({vec})"))


def save_model(model: FeatureModel, path: str) -> None:
    with open(path, "w") as f:
        f.write(model.to_json())


def load_model(path: str) -> FeatureModel:
    with open(path) as f:
        return FeatureModel.from_json(f.read())


def robust_scale(
    df: DataFrame, cols: list[str], exact: bool = True
) -> DataFrame:
    """RobustScaler: (v − median) / IQR per column — the outlier-immune
    sibling of StandardScaler (μ/σ are dragged by the very anomalies a
    detector is trying to find; median/IQR have 25% breakdown). Constant
    columns (IQR 0) pass through centered only, mirroring
    StandardScaler's σ=0 convention.

    ``exact=True`` locates every column's Q1/median/Q3 in the SHARED
    histogram-refine selection scans (profile.exact_quantiles_multi —
    one engine, round 11); the transform itself is an embarrassingly
    parallel projection of broadcast scalars. ``exact=False`` is the
    one-pass percentile_approx sketch, in the column-keyed aggregation of
    ``profile._column_stats``."""
    from dataquality_ml_spark.operators.profile import (
        _collect_column_stats,
        _ident,
        exact_quantiles_multi,
    )

    if exact:
        # checkpoint=False: the melt sits on a raw scan — re-reading the
        # parquet per selection level beats materializing the melt first
        qs = exact_quantiles_multi(
            df, cols, [0.25, 0.5, 0.75], checkpoint=False
        )
        stats = {c: (qs[c][0.5], qs[c][0.25], qs[c][0.75]) for c in cols}
    else:
        rows = _collect_column_stats(df, cols, ["quartiles"])
        stats = {
            c: (r["quartiles"][1], r["quartiles"][0], r["quartiles"][2])
            if r is not None and r["quartiles"] is not None
            else (None,) * 3
            for c, r in zip(cols, rows)
        }
    out = {}
    for c in cols:
        med, q1, q3 = stats[c]
        if med is None:
            continue  # all-null column: leave untouched
        iqr = q3 - q1
        centered = F.col(_ident(c)) - F.lit(float(med))
        out[c] = centered / F.lit(float(iqr)) if iqr > 0 else centered
    return df.withColumns(out)


def quantile_map(
    df: DataFrame,
    col: str,
    ref_df: DataFrame,
    knots: int = 16,
) -> DataFrame:
    """Quantile normalization: map ``df[col]``'s distribution onto
    ``ref_df[col]``'s by piecewise-linear interpolation through ``knots``
    equally spaced reference quantiles — the batch-effect / drift-repair
    transform (a shifted or stretched feature is remapped so its
    quantiles coincide with the training distribution's, preserving rank
    order). Returns one row per DISTINCT value: (value, n, mapped).

    Scale shape: the reference collapses to ``knots + 1`` scalars through
    the shared exact-quantile selection engine (one more caller of
    ``_select_chains``); the current side reduces to distinct-value
    counts whose percent rank comes from the DISTRIBUTED prefix sum —
    no global window anywhere. The interpolation is one fixed float
    expression over broadcast knot literals.
    """
    from dataquality_ml_spark.operators.profile import exact_quantiles_select
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    qs = [j / knots for j in range(knots + 1)]
    kvals = exact_quantiles_select(
        ref_df.select(F.col(col).alias("v")), "v", qs
    )
    if kvals[0] is None:
        raise ValueError("quantile_map: empty/all-null reference")
    karr = F.array(*[F.lit(float(v)) for v in kvals])
    cur = (
        df.where(F.col(col).isNotNull() & ~F.isnan(col))
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # round 13: N rides back from the prefix-sum decomposition's subtotal
    # collect (with_totals) — the former ``cur.agg(sum)`` branch re-ran
    # the corpus scan + groupBy a second time (guide §1.2/§2.4)
    pre, _tots = exclusive_prefix_sum(
        cur, "value", "n", out="__cum", with_totals=True
    )
    n_total = int(_tots.get((), [0])[0])
    pr = (
        (F.col("__cum").cast("double") / F.lit(float(n_total - 1)))
        if n_total > 1
        else F.lit(0.0)
    )
    t = pr * knots
    i = F.least(F.lit(knots - 1), F.floor(t).cast("int"))
    frac = t - i
    mapped = F.element_at(karr, i + 1) * (1 - frac) + F.element_at(
        karr, i + 2
    ) * frac
    return pre.select("value", "n", mapped.alias("mapped"))
