"""Declarative data-quality rule engine.

The reference hard-codes its checks inside scripts (null scans, label
splits); a reusable DQ engine states them as data: each rule compiles to a
boolean violation expression or an aggregation, and ALL row-level rules
evaluate in ONE pass over the table (one aggregation of conditional
counts). Cross-table rules (referential integrity) compile to anti-join
counts; uniqueness compiles to a grouped count.

Rule kinds:
- ``not_null(col)``                    — col IS NULL (+ NaN for floats)
- ``in_range(col, lo, hi)``            — col outside [lo, hi]
- ``in_set(col, values)``              — col not in the allowed set
- ``matches(col, regex)``              — col doesn't match
- ``unique(cols)``                     — duplicate key tuples (count > 1)
- ``references(cols, other, other_cols)`` — FK rows missing from ``other``

Output: one row per rule — (rule, kind, n_violations, violation_frac).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from dataquality_ml_spark.operators.relational import local_frame


@dataclass
class Rule:
    name: str
    kind: str
    params: dict = field(default_factory=dict)


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", "not_null", {"col": col})


def in_range(col: str, lo, hi) -> Rule:
    return Rule(f"in_range({col})", "in_range", {"col": col, "lo": lo, "hi": hi})


def in_set(col: str, values: list) -> Rule:
    return Rule(f"in_set({col})", "in_set", {"col": col, "values": values})


def matches(col: str, pattern: str) -> Rule:
    return Rule(f"matches({col})", "matches", {"col": col, "pattern": pattern})


def unique(cols: list[str]) -> Rule:
    return Rule(f"unique({','.join(cols)})", "unique", {"cols": cols})


def references(cols: list[str], other: DataFrame, other_cols: list[str], label: str) -> Rule:
    return Rule(
        f"references({','.join(cols)}->{label})",
        "references",
        {"cols": cols, "other": other, "other_cols": other_cols},
    )


def _violation_expr(df: DataFrame, rule: Rule):
    p = rule.params
    c = F.col(p["col"]) if "col" in p else None
    if rule.kind == "not_null":
        cond = c.isNull()
        if isinstance(df.schema[p["col"]].dataType, (DoubleType, FloatType)):
            cond = cond | F.isnan(c)
        return cond
    if rule.kind == "in_range":
        return c.isNull() | (c < F.lit(p["lo"])) | (c > F.lit(p["hi"]))
    if rule.kind == "in_set":
        return c.isNull() | ~c.isin(*p["values"])
    if rule.kind == "matches":
        return c.isNull() | ~c.rlike(p["pattern"])
    raise ValueError(f"not a row-level rule: {rule.kind}")


def run_checks(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate every rule; returns (rule, kind, n_violations,
    violation_frac) ordered by rule name. Row-level rules share one scan."""
    spark = df.sparkSession
    row_rules = [r for r in rules if r.kind in ("not_null", "in_range", "in_set", "matches")]
    results: list[DataFrame] = []

    if row_rules:
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.count(F.when(_violation_expr(df, r), 1)).alias(f"v{i}")
            for i, r in enumerate(row_rules)
        ]
        row = df.agg(*aggs)
        structs = [
            F.struct(
                F.lit(r.name).alias("rule"),
                F.lit(r.kind).alias("kind"),
                F.col(f"v{i}").cast("bigint").alias("n_violations"),
                F.round(F.col(f"v{i}") / F.col("__n"), 6).alias("violation_frac"),
            )
            for i, r in enumerate(row_rules)
        ]
        results.append(
            row.select(F.explode(F.array(*structs)).alias("r")).select("r.*")
        )

    n_total = None
    for rule in rules:
        if rule.kind == "unique":
            cols = rule.params["cols"]
            dup = (
                df.groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("cnt"))
                .where(F.col("cnt") > 1)
                .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("nv"))
            )
            if n_total is None:
                n_total = df.count()
            results.append(
                dup.select(
                    F.lit(rule.name).alias("rule"),
                    F.lit("unique").alias("kind"),
                    F.col("nv").cast("bigint").alias("n_violations"),
                    F.round(F.col("nv") / F.lit(n_total), 6).alias("violation_frac"),
                )
            )
        elif rule.kind == "references":
            p = rule.params
            other = p["other"].select(
                *[F.col(oc).alias(c) for c, oc in zip(p["cols"], p["other_cols"])]
            ).distinct()
            orphans = df.join(other, p["cols"], "left_anti")
            if n_total is None:
                n_total = df.count()
            results.append(
                orphans.agg(F.count(F.lit(1)).alias("nv")).select(
                    F.lit(rule.name).alias("rule"),
                    F.lit("references").alias("kind"),
                    F.col("nv").cast("bigint").alias("n_violations"),
                    F.round(F.col("nv") / F.lit(n_total), 6).alias("violation_frac"),
                )
            )

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.orderBy("rule")


def suggest_rules(
    df: DataFrame,
    columns: list[str],
    max_set_card: int = 10,
    null_tol: float = 0.0,
    range_q: tuple[float, float] = (0.01, 0.99),
) -> DataFrame:
    """Mine candidate DQ rules from the data — the missing half of the rule
    engine: profile → suggest → ``run_checks``.  Emits per column:

    - ``not_null`` when the observed null fraction ≤ ``null_tol``;
    - ``in_set`` for string columns with ≤ ``max_set_card`` distinct
      values (the sorted value list rides in ``vals`` as a JSON array —
      delimiter-safe for values containing commas);
    - ``in_range`` for numeric columns, bounds = the (q1, q99) exact
      percentiles, with the observed in-range fraction as support
      (nulls count as out of range, identically in the oracle).

    Pass structure, regardless of column count: one agg for counts and
    distincts, one shared histogram-refine selection
    (``profile.exact_quantiles_multi``) for ALL numeric columns'
    percentiles (round 8: the former in-agg
    ``F.percentile`` buffered each column's full value-count map in one
    merge buffer), then one pass-2 agg computing set membership lists
    and range supports only for the columns that qualified.  Everything
    returned is aggregate-sized — the suggestions themselves are model
    parameters, assembled driver-side.

    Output: (column, rule, lo, hi, vals, support), floats rounded 4 dp.
    """
    from pyspark.sql.types import NumericType, StringType

    from dataquality_ml_spark.operators.profile import exact_quantiles_multi

    q1, q2 = range_q
    numeric = [c for c in columns if isinstance(df.schema[c].dataType, NumericType)]
    strings = [c for c in columns if isinstance(df.schema[c].dataType, StringType)]

    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
    for c in strings:
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
    s1 = df.agg(*aggs).collect()[0]
    n = s1["_n"]

    pq: dict[str, tuple[float, float]] = {}
    if numeric:
        got = exact_quantiles_multi(df, numeric, [q1, q2])
        pq = {
            c: (got[c][q1], got[c][q2])
            for c in numeric
            if got[c][q1] is not None
        }

    set_cols = [c for c in strings if s1[f"nd_{c}"] <= max_set_card]
    # A fully-null numeric column yields no quantile rows — no in_range
    # rule can be mined for it (and unpacking None would crash).
    range_cols = [c for c in numeric if c in pq]
    aggs2 = []
    for c in set_cols:
        aggs2.append(F.sort_array(F.collect_set(F.col(c))).alias(f"set_{c}"))
    for c in range_cols:
        lo, hi = pq[c]
        aggs2.append(
            F.avg(
                F.when(F.col(c).between(F.lit(lo), F.lit(hi)), 1.0).otherwise(0.0)
            ).alias(f"sup_{c}")
        )
    s2 = df.agg(*aggs2).collect()[0] if aggs2 else {}

    rows = []
    for c in columns:
        nn_frac = s1[f"nn_{c}"] / n if n else 0.0
        if nn_frac >= 1.0 - null_tol:
            rows.append((c, "not_null", None, None, None, round(nn_frac, 4)))
    for c in set_cols:
        # JSON-encode the value list: values containing the delimiter must
        # survive the round-trip into rules_from_suggestions unsplit.
        rows.append(
            (c, "in_set", None, None, json.dumps(s2[f"set_{c}"], separators=(",", ":")),
             round(s1[f"nn_{c}"] / n, 4))
        )
    for c in range_cols:
        lo, hi = pq[c]
        rows.append(
            (c, "in_range", round(float(lo), 4), round(float(hi), 4), None,
             round(float(s2[f"sup_{c}"]), 4))
        )
    spark = df.sparkSession
    return local_frame(
        spark,
        rows,
        "column string, rule string, lo double, hi double, vals string, support double",
    ).orderBy("column", "rule")


def rules_from_suggestions(sug_df: DataFrame) -> list[Rule]:
    """Materialize suggested rules as engine Rule objects, closing the
    profile → suggest → run_checks loop."""
    out = []
    for r in sug_df.collect():
        if r["rule"] == "not_null":
            out.append(not_null(r["column"]))
        elif r["rule"] == "in_set":
            out.append(in_set(r["column"], json.loads(r["vals"])))
        elif r["rule"] == "in_range":
            out.append(in_range(r["column"], r["lo"], r["hi"]))
    return out


def fd_violations(
    df: DataFrame,
    determinant: list[str],
    dependent: str,
) -> DataFrame:
    """Approximate functional-dependency audit X → Y: how badly does
    ``determinant`` fail to determine ``dependent``? Reports the number
    of X-groups, the groups holding >1 distinct Y, and the g₃ error
    (Kivinen & Mannila 1995) — the minimum fraction of rows to delete
    for the FD to hold exactly, i.e. Σ_g (n_g − max_y n_{g,y}) / n. The
    schema-discovery / data-entry-drift screen: a decaying FD (g₃
    creeping up release over release) is how "one order, one customer"
    silently stops being true. Returns one row: (n_rows, n_groups,
    n_violating_groups, g3_rows, g3_error).

    Scale shape: one groupBy (X, Y) to the distinct-pair counts, one
    groupBy X over those (both map-side combinable), one 1-row reduce.
    NULL Y counts as a value (an FD to NULL-or-value is still a
    violation); NULL Xs form their own group, null-safe.
    """
    pairs = df.groupBy(
        *[F.col(c) for c in determinant], F.col(dependent).alias("__y")
    ).agg(F.count(F.lit(1)).alias("c"))
    per_x = pairs.groupBy(*[F.col(c) for c in determinant]).agg(
        F.sum("c").alias("n_g"),
        F.max("c").alias("max_y"),
        F.count(F.lit(1)).alias("n_y"),
    )
    return per_x.agg(
        F.sum("n_g").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.count(F.when(F.col("n_y") > 1, 1)).cast("bigint").alias(
            "n_violating_groups"
        ),
        F.sum(F.col("n_g") - F.col("max_y")).cast("bigint").alias("g3_rows"),
        (
            F.sum(F.col("n_g") - F.col("max_y"))
            / F.sum("n_g").cast("double")
        ).alias("g3_error"),
    )
