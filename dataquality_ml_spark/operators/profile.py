"""Single-pass data-quality profiler (SURVEY.md §2.2 P4/P10, §2.4 A2/A9/A10).

The engine's flagship DQ operator. The reference computes per-column validity
with one Spark job per column (reference lib/utils.py:187-195 — a ~40-job
loop) and zero/missing fractions driver-side in pandas
(app/LSTM_AE_enhanced.py:32-39). Here the whole profile — count, null/NaN
fraction, zero fraction, mean, stddev, min, max, p25/p50/p75/p90/p95 — is ONE
aggregation over the table: one scan, one reduce, no shuffle of row data.

At 100 TB this is the difference between 40 full scans and 1.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, NumericType

PROFILE_QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.95)


def numeric_columns(df: DataFrame) -> list[str]:
    """Numeric column roles from the schema (reference lib/utils.py:17-36
    infers categorical vs numerical from Spark types at runtime)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]


def _is_float(df: DataFrame, c: str) -> bool:
    return isinstance(df.schema[c].dataType, (DoubleType, FloatType))


def _ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (backticks doubled), so
    spaces, dots and quotes in column names survive SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _str_lit(s: str) -> str:
    """``s`` as a single-quoted SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _double_lit(v) -> str:
    """A Python float (or None) as an exact SQL DOUBLE literal."""
    if v is None:
        return "CAST(NULL AS DOUBLE)"
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    return "CAST('%s' AS DOUBLE)" % ("NaN" if v != v else "Infinity" if v > 0 else "-Infinity")


def _valid_sql(df: DataFrame, c: str) -> str:
    """Non-null and (for float types) non-NaN — the reference's validity
    predicate (lib/utils.py:191: ``isNotNull() & ~isnan()``) — as SQL text.

    The per-column statistics operators splice it into the SQL text of the
    column-keyed relation (:func:`_column_stats`): building the same
    expressions through the ``Column`` API costs several py4j round trips
    per call (tens of thousands for a 40-column profile)."""
    q = _ident(c)
    if _is_float(df, c):
        return f"({q} IS NOT NULL AND NOT isnan({q}))"
    return f"({q} IS NOT NULL)"


def _valid(df: DataFrame, c: str):
    """:func:`_valid_sql` as a Column, for Column-API callers."""
    return F.expr(_valid_sql(df, c))


PROFILE_STATS = ("null_frac", "zero_frac", "mean", "stddev", "min", "max")

# Per-column statistics over the column-keyed relation (i, v, ok): ``v`` is
# the column's value as DOUBLE, ``ok`` its validity. Stats of the valid
# population read ``IF(ok, v, NULL)``; quantiles read the raw ``v`` (NaN
# included), as ``percentile_approx`` over the column itself would.
_VALID_V = "IF(ok, v, NULL)"
_STAT_SQL = {
    "n_rows": "count(ok)",
    "n_valid": "count_if(ok)",
    "null_frac": "avg(CAST(NOT ok AS DOUBLE))",
    "zero_frac": "avg(CAST(ok AND v = 0 AS DOUBLE))",
    "mean": f"avg({_VALID_V})",
    "stddev": f"stddev_samp({_VALID_V})",
    "min": f"min({_VALID_V})",
    "max": f"max({_VALID_V})",
    # feeds the exact-quantile selection's low-cardinality collect fast path
    "nd": f"approx_count_distinct({_VALID_V})",
    # all quantiles in ONE sketch per column, not one each
    "pcts": "percentile_approx(v, array(" + ", ".join(str(q) for q in PROFILE_QUANTILES) + "))",
    "quartiles": "percentile_approx(v, array(0.25, 0.5, 0.75))",
    "median": "percentile(v, 0.5)",
    "median_approx": "percentile_approx(v, 0.5)",
}


def _column_stats(
    df: DataFrame, cols: list[str], stats: list[str], every_column: bool = False
) -> DataFrame:
    """``stats`` (keys of ``_STAT_SQL``) per column, one row per column
    index ``i`` (column ``cols[i]``).

    The columns are melted into ONE long relation (i, v, ok) by a single
    ``inline(array(named_struct(...), ...))`` generate, then grouped by
    ``i`` with a fixed list of aggregates whatever the column count, so
    the per-task projection stays ~10 expressions (see :func:`profile`
    for why that matters); only per-column partial buffers are shuffled.

    ``groupBy`` yields no row for a column with no input rows: callers
    that collect treat a missing ``i`` as "no rows"; ``every_column=True``
    adds one neutral (i, NULL, NULL) row per column instead, which every
    aggregate ignores (which is why ``n_rows`` is ``count(ok)``)."""
    melt = ", ".join(
        f"named_struct('i', {i}, 'v', CAST({_ident(c)} AS DOUBLE), 'ok', {_valid_sql(df, c)})"
        for i, c in enumerate(cols)
    )
    long = df.selectExpr(f"inline(array({melt}))")
    if every_column:
        long = long.union(
            df.sparkSession.range(0, len(cols), 1, 1).selectExpr(
                "CAST(id AS INT) AS i", "CAST(NULL AS DOUBLE) AS v", "CAST(NULL AS BOOLEAN) AS ok"
            )
        )
    return long.groupBy("i").agg(*[F.expr(_STAT_SQL[s]).alias(s) for s in stats])


def _collect_column_stats(df: DataFrame, cols: list[str], stats: list[str]) -> list:
    """:func:`_column_stats` collected in column order; ``None`` for a
    column without input rows."""
    got = {r["i"]: r for r in _column_stats(df, cols, stats).collect()}
    return [got.get(i) for i in range(len(cols))]


def profile(df: DataFrame, columns: list[str] | None = None, exact_quantiles: bool = False) -> DataFrame:
    """Profile numeric columns in a single aggregation.

    Returns one row per column, in ``columns`` order: (column, n_rows,
    n_valid, null_frac, zero_frac, mean, stddev, min, max, p25, p50, p75,
    p90, p95). A frame with no rows still gives one row per column
    (n_rows 0, NULL stats).

    ``exact_quantiles=True`` computes EXACT quantiles for every column in
    the shared histogram-refine selection scans (round 8:
    :func:`exact_quantiles_multi` — formerly one single-buffer
    ``percentile`` merge buffer per column inside the agg, the VERDICT r7
    item-2 hazard; values bit-equal on NaN-free columns, NaNs excluded);
    default ``percentile_approx`` with a 10k accuracy parameter is the
    one-pass sketch path (t-digest-style, mergeable, bounded memory).

    Plan construction: the statistics are ONE column-keyed aggregation
    (:func:`_column_stats`): the columns are melted to (i, v, ok) rows and
    grouped by column index with a fixed list of ~10 aggregates. The
    former wide form — one row of 9 aggregates per column, unpivoted
    afterwards — ran without whole-stage codegen and regenerated a
    several-hundred-expression projection in every task, which cost more
    than the data work. Values are aggregated as DOUBLE (what ``avg`` and
    ``stddev_samp`` do anyway for non-decimal inputs; DECIMAL means may
    move in the last ulp). The output keeps the column order with one
    ``coalesce(1).sortWithinPartitions`` over the per-column rows.
    """
    cols = columns or numeric_columns(df)
    stats = ["n_rows", "n_valid", *PROFILE_STATS]
    stats.append("nd" if exact_quantiles else "pcts")
    per_col = _column_stats(df, cols, stats, every_column=True)

    if exact_quantiles:
        # the aggregation already computed every column's (n_valid, min,
        # max) over exactly the valid population — collect it (O(cols)
        # rows) and hand those to the selection so it skips its own stats
        # scan; the collected rows are reused, not recomputed
        rows = per_col.collect()
        per_col = df.sparkSession.createDataFrame(rows, per_col.schema)
        pre = {(cols[r["i"]],): (r["n_valid"], r["min"], r["max"], r["nd"]) for r in rows}
        exact_pcts = exact_quantiles_multi(
            df, cols, PROFILE_QUANTILES, stats=pre, checkpoint=False
        )
        pcts = [
            "element_at(array("
            + ", ".join(_double_lit(exact_pcts[c][q]) for c in cols)
            + "), i + 1)"
            for q in PROFILE_QUANTILES
        ]
    else:
        pcts = [f"pcts[{j}]" for j in range(len(PROFILE_QUANTILES))]

    names = "array(" + ", ".join(_str_lit(c) for c in cols) + ")"
    return (
        per_col.coalesce(1)
        .sortWithinPartitions("i")
        .selectExpr(
            # coalesce: i is always in range, but with ANSI off element_at
            # is typed nullable, and ``column`` is a non-null field
            f"coalesce(element_at({names}, i + 1), '') AS column",
            "n_rows",
            "n_valid",
            *PROFILE_STATS,
            *[f"CAST({v} AS DOUBLE) AS p{int(q * 100)}" for q, v in zip(PROFILE_QUANTILES, pcts)],
        )
    )


def valid_columns(df: DataFrame, columns: list[str] | None = None, min_valid: int = 1) -> list[str]:
    """Columns with at least ``min_valid`` non-null/non-NaN values — the
    reference's feature-validity filter (lib/utils.py:187-203), collapsed
    from one job per column into one column-keyed aggregation."""
    cols = columns or numeric_columns(df)
    if not cols:
        return []
    rows = _collect_column_stats(df, cols, ["n_valid"])
    return [c for c, r in zip(cols, rows) if (r["n_valid"] if r else 0) >= min_valid]


def prune_low_quality(
    df: DataFrame,
    columns: list[str] | None = None,
    max_zero_frac: float = 0.95,
    max_missing_frac: float = 0.95,
) -> list[str]:
    """Feature-quality pruning (reference P10, app/LSTM_AE_enhanced.py:32-39:
    drop features >95% zero or >95% missing) in one column-keyed
    aggregation. A frame without rows prunes nothing."""
    cols = columns or numeric_columns(df)
    if not cols:
        return []
    rows = _collect_column_stats(df, cols, ["null_frac", "zero_frac"])
    return [
        c
        for c, r in zip(cols, rows)
        if r is None
        or ((r["null_frac"] or 0.0) <= max_missing_frac and (r["zero_frac"] or 0.0) <= max_zero_frac)
    ]


def categorical_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Distribution-shape profile of categorical columns: cardinality,
    Shannon entropy (nats), and Gini impurity — one row per column.

    Complements :func:`heavy_hitters` (which shows the head of the
    distribution) with scalar summaries of the WHOLE distribution: entropy
    near 0 flags a near-constant column, entropy near ln(n_distinct) flags a
    uniform one — the signal used to pick partition/salt keys.

    Single scan: each row is exploded into (column, value) pairs (a narrow
    generate — no shuffle), then ONE groupBy collapses to O(Σ distinct)
    rows; the entropy sum itself is a second agg over those grouped rows,
    which is negligible at any scale.
    """
    from pyspark.sql import Window

    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.*")
    counts = pairs.groupBy("column", "value").agg(F.count(F.lit(1)).alias("c"))
    tot = Window.partitionBy("column")
    p = F.col("c") / F.sum("c").over(tot)
    return (
        counts.withColumn("p", p)
        .groupBy("column")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            (-F.sum(F.col("p") * F.log(F.col("p")))).alias("entropy"),
            (1 - F.sum(F.col("p") * F.col("p"))).alias("gini"),
        )
    )


def heavy_hitters(df: DataFrame, col: str, top_n: int = 10) -> DataFrame:
    """Top-N most frequent values of ``col`` with their share of all rows —
    the skew report that decides whether a key needs salting (SURVEY §7
    'skewed keys → salting or AQE skew-join': this operator finds them).

    One scan: groupBy collapses to |distinct| rows; the rank runs as a
    TWO-LEVEL salted window (round 8 — a high-cardinality column's
    distinct relation is unbounded, so the former global row_number was
    a single-task funnel: level 1 keeps top_n per hash bucket in
    parallel, level 2 ranks the ≤ 32·top_n survivors — the ``_bottomk``
    shape from operators/sketch.py, identical output).  The share total
    is a 1-row aggregate broadcast back, not a partition-less window.
    Deterministic tie-break on the value keeps the cut stable across
    engines.
    """
    from pyspark.sql import Window

    # two consumers (total + the pruned top-k path) — checkpoint so the
    # corpus scan + groupBy run once (round 13, guide §2.4)
    counts = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(F.sum("n").alias("_tot"))
    order = [F.desc("n"), F.asc("value")]
    w1 = Window.partitionBy("_salt").orderBy(*order)
    pruned = (
        counts.withColumn("_salt", F.pmod(F.hash("value"), F.lit(32)))
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= top_n)
        .drop("_r1")
    )
    rnk = Window.orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(rnk))
        .where(F.col("rank") <= top_n)
        .crossJoin(F.broadcast(tot))
        .withColumn("share", F.col("n") / F.col("_tot"))
        .select("value", "n", "share", "rank")
        .orderBy("rank")
    )


def exact_quantiles_grouped(
    df: DataFrame,
    columns: list[str],
    qs: list[float] | tuple[float, ...] = PROFILE_QUANTILES,
    group_by: list[str] | None = None,
) -> DataFrame:
    """EXACT linear-interpolated quantiles that scale: grouped value counts
    instead of Spark's ``percentile`` aggregate.

    ``percentile(c, ...)`` funnels every (value, count) pair of every column
    into a single final aggregation buffer — O(distinct values) memory on
    one task, which is exactly the pattern that dies at 100 TB. Here the
    heavy lifting is a ``groupBy(column, value)`` count (map-side combined,
    fully parallel shuffle) followed by a per-column cumulative window over
    the DISTINCT values only; each value row knows its sorted index range
    [cum-cnt, cum), so the two order statistics every quantile needs
    (floor/ceil of q·(n-1)) are picked up with a conditional aggregation.
    Matches ``percentile`` / DuckDB ``quantile_cont`` bit-for-bit (same
    lo + frac·(hi-lo) interpolation on IEEE doubles).

    Returns (*group_by, column, q, val). ``group_by`` adds per-group
    quantiles with the same machinery — the window keys on (groups,
    column), so parallelism GROWS with group count instead of funneling
    per-group buffers through one task the way grouped ``percentile``
    does. At bench SF the single-buffer aggregate is faster (fewer
    stages); this operator is the documented path once distinct values
    per column (or per group) stop fitting one executor's memory.
    """
    from pyspark.sql import Window

    g = list(group_by or [])
    if len(columns) == 1:
        # no Generate node for the common single-column case (the explode
        # below costs a per-row struct alloc + generate before the groupBy)
        pairs = df.select(
            *g,
            F.lit(columns[0]).alias("column"),
            F.col(columns[0]).cast("double").alias("v"),
        ).where(F.col("v").isNotNull() & ~F.isnan("v"))
    else:
        pairs = (
            df.select(
                *g,
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(c).alias("column"), F.col(c).cast("double").alias("v"))
                            for c in columns
                        ]
                    )
                ).alias("p")
            )
            .select(*g, "p.*")
            .where(F.col("v").isNotNull() & ~F.isnan("v"))
        )
    keys = [*g, "column"]
    gc = pairs.groupBy(*keys, "v").agg(F.count(F.lit(1)).alias("cnt"))
    # Cumulative counts over the distinct-value relation via the keyed
    # distributed prefix sum (VERDICT r7: a Window.partitionBy(column)
    # with one column is a single-partition window over |distinct v| rows
    # — for continuous columns that is ≈ the whole table through one
    # task). The prefix restarts per (groups, column); integer sums, so
    # `cum` is bit-identical to the former window.
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    # Per-key valid-row totals ride back from the prefix-sum decomposition's
    # OWN driver-side subtotal collect (with_totals) — the former
    # ``gc.groupBy(keys).agg(sum)`` branch re-ran the whole upstream scan +
    # (keys, v) groupBy a second time per quantile call (round 13, guide
    # §1.2/§2.4: the subtotal job already computed these numbers).
    cum, tot_map = exclusive_prefix_sum(
        gc, "v", "cnt", out="_before", keys=keys, with_totals=True
    )
    cum = cum.withColumn("cum", F.col("_before") + F.col("cnt")).drop("_before")
    # null-safe join: a NULL group key is a real group (grouped
    # ``percentile`` keeps it; a plain equi-join silently dropped it —
    # latent until round 8's grouped-selection differential caught it)
    key_schema = ", ".join(
        f"_n_{k} {gc.schema[k].dataType.simpleString()}" for k in keys
    )
    nn = df.sparkSession.createDataFrame(
        [(*kt, int(v[0])) for kt, v in tot_map.items()],
        f"{key_schema}, n bigint",
    )
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"_n_{k}"))
        cond = c if cond is None else (cond & c)
    cum = cum.join(F.broadcast(nn), cond).drop(*[f"_n_{k}" for k in keys])

    q_arr = F.array(*[F.lit(float(q)) for q in qs])
    # Keep only the value rows whose index range contains k or k+1 for some
    # quantile — everything else is dropped before the final (tiny) agg.
    targets = F.filter(
        F.transform(
            q_arr,
            lambda q: F.struct(
                q.alias("q"),
                F.floor(q * (F.col("n") - 1)).alias("k"),
                (q * (F.col("n") - 1) - F.floor(q * (F.col("n") - 1))).alias("frac"),
            ),
        ),
        lambda s: (
            (s["k"] >= F.col("cum") - F.col("cnt")) & (s["k"] < F.col("cum"))
        )
        | ((s["k"] + 1 >= F.col("cum") - F.col("cnt")) & (s["k"] + 1 < F.col("cum"))),
    )
    tagged = cum.select(
        *keys,
        "v",
        (F.col("cum") - F.col("cnt")).alias("start"),
        F.col("cum").alias("end"),
        F.explode(targets).alias("s"),
    )
    return (
        tagged.groupBy(*keys, F.col("s.q").alias("q"))
        .agg(
            F.max(
                F.when(
                    (F.col("s.k") >= F.col("start")) & (F.col("s.k") < F.col("end")),
                    F.col("v"),
                )
            ).alias("v_lo"),
            F.max(
                F.when(
                    (F.col("s.k") + 1 >= F.col("start")) & (F.col("s.k") + 1 < F.col("end")),
                    F.col("v"),
                )
            ).alias("v_hi"),
            F.first("s.frac").alias("frac"),
        )
        .select(
            *keys,
            "q",
            # Spark's percentile and DuckDB's quantile_cont both evaluate
            # lo*(1-f) + hi*f (not lo + f*(hi-lo) — one ulp apart on IEEE
            # doubles); the equality guard avoids re-rounding lo when both
            # order statistics land on the same value.
            F.when(
                F.col("v_hi").isNull() | (F.col("v_hi") == F.col("v_lo")), F.col("v_lo")
            )
            .otherwise(
                F.col("v_lo") * (1 - F.col("frac")) + F.col("v_hi") * F.col("frac")
            )
            .alias("val"),
        )
    )


def join_skew_report(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    top_n: int = 10,
) -> DataFrame:
    """Pre-join skew diagnosis: per-key cardinalities of BOTH sides and the
    output rows each key would produce (their product). The top offender's
    share of total join output is the number that decides between a plain
    shuffle join, AQE skew splitting, and an explicit salted join
    (``relational.salted_join``) — measured from two map-side-combined
    aggs over the keys only, never by running the join.
    """
    lc = left.groupBy(F.col(left_key).alias("key")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    rc = right.groupBy(F.col(right_key).alias("key")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    # two consumers (total + the ranked report) — checkpoint so both key
    # aggregations + their join run once (round 13, guide §2.4)
    both = lc.join(rc, "key").select(
        "key", "n_left", "n_right", (F.col("n_left") * F.col("n_right")).alias("out_rows")
    ).localCheckpoint(eager=False)
    tot = both.agg(F.sum("out_rows").alias("total_out"))
    return (
        both.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n_left",
            "n_right",
            "out_rows",
            (F.round(F.col("out_rows") / F.col("total_out"), 6) + F.lit(0.0)).alias(
                "out_share"
            ),
        )
        .orderBy(F.desc("out_rows"), F.asc("key"))
        .limit(top_n)
    )


def _qplan(stats, qs_f):
    """Per-group quantile plans and level-0 chains (shared by both
    selection membership strategies): plans[gkey] = ([(q, k, frac)], n);
    chain dicts carry (gkey, path, ancestry, base, cnt, lo, hi, ks)."""
    import math

    plans: dict = {}
    chains: list = []
    for r in stats:
        gkey, n, glo, ghi = r["gkey"], r["n"], r["lo"], r["hi"]
        nd = r.get("nd")
        plan, needs = [], set()
        for q in qs_f:
            i = q * (n - 1)
            k = int(math.floor(i))
            frac = i - k
            plan.append((q, k, frac))
            needs.add(k)
            if frac > 0 and k + 1 <= n - 1:
                needs.add(k + 1)
        plans[gkey] = (plan, n)
        if n > 0:
            chains.append(
                {
                    "gkey": gkey,
                    "path": (),
                    "anc": [],
                    "base": 0,
                    "cnt": n,
                    "nd": nd,
                    "lo": glo,
                    "hi": ghi,
                    "ks": sorted(needs),
                }
            )
    return plans, chains


def _walk_hist(hist: dict, base: int, lo: float, hi: float, ks, bins: int):
    """Locate each target index's child bucket in one chain's histogram;
    yields (bucket, cum_before, count, child_lo, child_hi, child_ks).
    Child bounds are refinement HINTS only — membership stays decided by
    the bucket-id expression, so float edge error cannot misplace a row."""
    w0 = (hi - lo) / bins
    cum = base
    kiter = iter(ks)
    k = next(kiter)
    done = False
    for bi in range(bins):
        c = hist.get(bi, 0)
        child_ks = []
        while not done and k < cum + c:
            child_ks.append(k)
            try:
                k = next(kiter)
            except StopIteration:
                done = True
        if child_ks:
            yield (bi, cum, c, lo + bi * w0, lo + (bi + 1) * w0, child_ks)
        cum += c
        if done:
            break


def _select_grouped_many(vals, gnames, stats, qs_f, bins, collect_limit):
    """Histogram-refine selection for MANY segments (round 9, VERDICT r8
    item 3): the ≤max_groups path encodes chain membership as one
    WHEN-chain condition per chain, which stops being cheap past a few
    dozen groups (a groups×targets-branch CASE expression blows up
    codegen). Here membership is a broadcast JOIN instead: each
    refinement level joins a driver-built spec relation keyed on
    (group key…, bucket path so far) carrying that chain's (lo, hi), and
    the bucket id is ONE shared expression over the joined bounds — so a
    100-segment (or 100k-segment) drift panel's medians still move only
    chains·bins COUNT rows per level, never the distinct-value relation
    (which is what the former fallback to ``exact_quantiles_grouped``
    shuffled).

    Bit-parity with the WHEN-chain path: (hi−lo)/bins, (v−lo)/w, floor,
    clamp are the same IEEE-double expressions whether the bounds arrive
    as literals or joined columns, and the driver walk is shared
    (``_walk_hist``). Level L replays L broadcast joins (depth-capped at
    8); group keys join null-safely, so NULL segment keys are real
    segments. Depth-capped chains still above ``collect_limit`` resolve
    distributed via per-chain exclusive prefix sums — the driver never
    receives more than collect_limit + |targets| rows from any path.
    """
    plans, chains = _qplan(stats, qs_f)
    return _select_chains(
        vals, gnames, plans, chains, qs_f, bins, collect_limit
    )


def _select_chains(
    vals,
    gnames,
    plans,
    chains,
    qs_f,
    bins,
    collect_limit,
    weight_col=None,
    join_membership=True,
):
    """Shared join-membership refinement engine behind
    :func:`_select_grouped_many` (row counts) and the >max_groups path of
    :func:`weighted_quantiles_select` (round 10: ``weight_col`` swaps
    every COUNT for SUM(weight); the weighted 1-based rank
    r = max(q·W, 1) is mapped by the CALLER to the 0-based index
    convention as k = ceil(r) − 1, which is exact for integer cumulative
    weights: cumw ≥ r ⟺ cumw > k ⟺ unweighted "value holding index k")."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    spark = vals.sparkSession
    gfields = [vals.schema[g] for g in gnames]

    def _cexpr():
        return (
            F.sum(weight_col) if weight_col else F.count(F.lit(1))
        ).alias("c")

    resolved: dict = {}

    def _spec_df(rows, n_path, with_id):
        fields = (
            [StructField(f"__s{i}", f.dataType) for i, f in enumerate(gfields)]
            + [StructField(f"__sp{j}", IntegerType()) for j in range(n_path)]
            + [StructField("__lo", DoubleType()), StructField("__hi", DoubleType())]
            + ([StructField("__cid", IntegerType())] if with_id else [])
        )
        return spark.createDataFrame(rows, StructType(fields))

    def _join_cond(n_path):
        # ungrouped selection (round 11): no group conjuncts — start from
        # lit(True) so the level-0 join is a broadcast-1-row scalar join
        cond = None
        for i, g in enumerate(gnames):
            c = F.col(g).eqNullSafe(F.col(f"__s{i}"))
            cond = c if cond is None else cond & c
        for j in range(n_path):
            c = F.col(f"__p{j}") == F.col(f"__sp{j}")
            cond = c if cond is None else cond & c
        return cond if cond is not None else F.lit(True)

    def _bucket_joined():
        w = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
        raw = F.floor((F.col("v") - F.col("__lo")) / w).cast("int")
        return F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))

    def _bucket_lit(lo: float, hi: float):
        w = (hi - lo) / bins
        raw = F.floor((F.col("v") - F.lit(lo)) / F.lit(w)).cast("int")
        return F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))

    def _tagged_literal(active):
        """Few-groups membership (round 11 — the fast tagger inside the
        ONE shared loop): each chain's membership is a literal condition
        (group eqNullSafe + per-level literal-bounds bucket equations) in
        one disjoint WHEN-chain, and the chain's (lo, hi) attach as CASE
        literals so the downstream bucket algebra (`_bucket_joined`) is
        byte-identical to the join tagger's. One scan, zero joins — the
        shape the flagship single-table profiles want; the WHEN-chain
        stops being cheap past a few dozen groups (codegen blowup), where
        the caller flips to join membership."""
        tag, lo_e, hi_e = None, None, None
        for idx, ch in enumerate(active):
            cond = None
            for i, gv in enumerate(ch["gkey"]):
                c = F.col(gnames[i]).eqNullSafe(F.lit(gv))
                cond = c if cond is None else cond & c
            for lev, (llo, lhi) in enumerate(ch["anc"]):
                b = _bucket_lit(llo, lhi) == F.lit(ch["path"][lev])
                cond = b if cond is None else cond & b
            if cond is None:
                cond = F.lit(True)
            hit = F.col("__cid") == idx
            tag = F.when(cond, idx) if tag is None else tag.when(cond, idx)
            lo_e = (
                F.when(hit, F.lit(ch["lo"]))
                if lo_e is None
                else lo_e.when(hit, F.lit(ch["lo"]))
            )
            hi_e = (
                F.when(hit, F.lit(ch["hi"]))
                if hi_e is None
                else hi_e.when(hit, F.lit(ch["hi"]))
            )
        return (
            vals.withColumn("__cid", tag)
            .where(F.col("__cid").isNotNull())
            .withColumn("__lo", lo_e)
            .withColumn("__hi", hi_e)
        )

    def _tagged(active):
        """Rows belonging to the active chains, tagged __cid — membership
        replayed through one broadcast join per completed level (or, for
        few groups, one literal WHEN-chain scan — same downstream
        algebra, no joins)."""
        if not join_membership:
            return _tagged_literal(active)
        depth_l = len(active[0]["path"])
        t = vals
        for lev in range(depth_l):
            seen: dict = {}
            for ch in active:
                seen[(ch["gkey"], ch["path"][:lev])] = ch["anc"][lev]
            rows = [
                tuple(gk) + tuple(p) + (lo, hi)
                for (gk, p), (lo, hi) in seen.items()
            ]
            t = t.join(F.broadcast(_spec_df(rows, lev, False)), _join_cond(lev))
            t = t.withColumn(f"__p{lev}", _bucket_joined()).drop(
                *[f"__s{i}" for i in range(len(gnames))],
                *[f"__sp{j}" for j in range(lev)],
                "__lo",
                "__hi",
            )
        rows = [
            tuple(ch["gkey"]) + tuple(ch["path"]) + (ch["lo"], ch["hi"], idx)
            for idx, ch in enumerate(active)
        ]
        return t.join(
            F.broadcast(_spec_df(rows, depth_l, True)), _join_cond(depth_l)
        )

    depth = 0
    while chains:
        force = depth >= 8
        refine, collectable, fallback = [], [], []
        for ch in chains:
            # nd: level-0 (approximate) distinct count — the grouped
            # collect returns (value, count) RUNS, so a chain whose
            # distinct count fits the budget collects directly however
            # many rows it holds; 0.8 margin absorbs the sketch error
            nd = ch.get("nd")
            if ch["lo"] == ch["hi"]:
                for k in ch["ks"]:
                    resolved[(ch["gkey"], k)] = ch["lo"]
            elif ch["cnt"] <= collect_limit or (
                nd is not None and nd <= collect_limit * 0.8
            ):
                collectable.append(ch)
            elif force:
                fallback.append(ch)
            else:
                refine.append(ch)

        if collectable:
            # defensive driver bound (round-12 ADVICE): chains admitted
            # via the approximate distinct count ride an HLL estimate
            # whose error tail is unbounded — cap the collect at the
            # budget the admission rule promised, and on overflow kick
            # every nd-admitted chain back to refinement (nd cleared so
            # it cannot re-enter the fast path). cnt-admitted chains are
            # exact row counts, bounded by construction.
            n_fast = sum(1 for ch in collectable if ch["cnt"] > collect_limit)
            budget = collect_limit * (len(collectable) + n_fast) + 1
            got_rows = (
                _tagged(collectable)
                .groupBy("__cid", "v")
                .agg(_cexpr())
                .limit(budget)
                .collect()
            )
            if len(got_rows) >= budget:
                retry = []
                for ch in collectable:
                    if ch["cnt"] <= collect_limit:
                        retry.append(ch)
                    else:
                        ch["nd"] = None
                        (fallback if force else refine).append(ch)
                collectable = retry
                got_rows = (
                    _tagged(collectable)
                    .groupBy("__cid", "v")
                    .agg(_cexpr())
                    .collect()
                    if collectable
                    else []
                )
            runs: dict = {}
            for r in got_rows:
                runs.setdefault(r["__cid"], []).append((r["v"], r["c"]))
            for idx, ch in enumerate(collectable):
                got = sorted(runs.get(idx, []))
                cum = ch["base"]
                it = iter(got)
                v, c = next(it)
                for k in ch["ks"]:
                    while k >= cum + c:
                        cum += c
                        v, c = next(it)
                    resolved[(ch["gkey"], k)] = v

        if fallback:
            from dataquality_ml_spark.operators.relational import (
                exclusive_prefix_sum,
            )

            per_v = (
                _tagged(fallback)
                .groupBy("__cid", "v")
                .agg(_cexpr())
            )
            pre = exclusive_prefix_sum(per_v, "v", "c", out="_pfx", keys=["__cid"])
            spec = spark.createDataFrame(
                [
                    (idx, ch["base"], [int(k) for k in ch["ks"]])
                    for idx, ch in enumerate(fallback)
                ],
                StructType(
                    [
                        StructField("__fcid", IntegerType()),
                        StructField("__fbase", LongType()),
                        StructField("__fks", ArrayType(LongType())),
                    ]
                ),
            )
            hits = (
                pre.join(F.broadcast(spec), F.col("__cid") == F.col("__fcid"))
                .select(
                    "__cid",
                    "v",
                    (F.col("_pfx") + F.col("__fbase")).alias("start"),
                    "c",
                    "__fks",
                )
                .where(
                    F.exists(
                        "__fks",
                        lambda k: (k >= F.col("start"))
                        & (k < F.col("start") + F.col("c")),
                    )
                )
                .collect()
            )
            for r in hits:
                ch = fallback[r["__cid"]]
                for k in ch["ks"]:
                    if r["start"] <= k < r["start"] + r["c"]:
                        resolved[(ch["gkey"], k)] = r["v"]

        chains = []
        depth += 1
        if not refine:
            break
        hist_rows = (
            _tagged(refine)
            .select(
                "__cid",
                _bucket_joined().alias("b"),
                *([weight_col] if weight_col else []),
            )
            .groupBy("__cid", "b")
            .agg(_cexpr())
            .collect()
        )
        by_chain: dict = {}
        for r in hist_rows:
            by_chain.setdefault(r["__cid"], {})[r["b"]] = r["c"]
        for idx, ch in enumerate(refine):
            for bi, cum, c, clo, chi, child_ks in _walk_hist(
                by_chain.get(idx, {}), ch["base"], ch["lo"], ch["hi"],
                ch["ks"], bins,
            ):
                chains.append(
                    {
                        "gkey": ch["gkey"],
                        "path": ch["path"] + (bi,),
                        "anc": ch["anc"] + [(ch["lo"], ch["hi"])],
                        "base": cum,
                        "cnt": c,
                        "lo": clo,
                        "hi": chi,
                        "ks": child_ks,
                    }
                )

    out = {}
    for gkey, (plan, n) in plans.items():
        if n == 0:
            out[gkey] = [None for _ in qs_f]
            continue
        row = []
        for q, k, frac in plan:
            vlo = resolved[(gkey, k)]
            vhi = resolved.get((gkey, k + 1))
            if frac == 0 or vhi is None or vhi == vlo:
                row.append(vlo)
            else:
                row.append(vlo * (1 - frac) + vhi * frac)
        out[gkey] = row
    return out


def exact_quantiles_select(
    df: DataFrame,
    col: str,
    qs: list[float] | tuple[float, ...],
    bins: int = 4096,
    collect_limit: int = 65536,
    group_by: list[str] | None = None,
    max_groups: int = 64,
    stats: dict | None = None,
    checkpoint: bool = True,
):
    """EXACT linear-interpolated quantiles of one column by iterative
    histogram-refine SELECTION — the scalar-threshold fast path
    (reference A7/A8 thresholds, ``np.percentile`` app/AE_model.py:197).

    ``exact_quantiles_grouped`` is the general machinery, but it shuffles
    the whole distinct-value relation (for continuous columns that is an
    O(rows) shuffle). Selection never does: every order statistic the
    quantiles need is located by repeatedly histogramming the value range
    (Munro-Paterson-style refinement):

    1. one narrow scan: per-group (n, min, max);
    2. per refinement level, ONE narrow scan computes equi-width bucket
       counts inside every still-active bucket chain (map-side combined —
       the shuffle moves ≤ chains·bins count rows, never data rows); the
       driver walks the histogram to find each target index's child
       bucket;
    3. chains holding ≤ ``collect_limit`` rows are batch-collected as
       grouped (value, count) runs — ONE scan per level for all of them —
       and the driver reads the order statistics off the sorted runs.

    Driver state is O(chains·bins + collect_limit) regardless of data
    size; depth is log_bins(n / collect_limit) — 0 extra levels at bench
    SF, ≤2 at 10¹² rows. Values are bit-equal to ``percentile`` / DuckDB
    QUANTILE_CONT (same floor/ceil order statistics, same
    lo·(1−f) + hi·f interpolation); NaNs/nulls excluded exactly like
    ``exact_quantiles_grouped``. Ties are free: a bucket whose value
    range has collapsed resolves without collecting. A depth cap stops
    the refinement at 8 levels: capped chains at or below
    ``collect_limit`` collect as usual, and chains STILL above the limit
    (possible when a range straddles 0/denormals, where a tiny relative
    width holds vast numbers of representable doubles) resolve
    DISTRIBUTED — grouped value counts + a per-chain exclusive prefix
    sum pick the target order statistics, so the driver never receives
    more than ``collect_limit`` + |targets| rows from any path.

    Ungrouped (``group_by=None``): returns ``[val for q in qs]`` (None
    on empty input). Grouped: returns ``{group_key_tuple: [vals]}`` —
    per-SEGMENT thresholds located in the same shared scans. ONE
    selection loop serves every face (``_select_chains``, round 11 —
    scalar, grouped, many-group and weighted callers alike);
    ``max_groups`` selects only the chain-membership tagger inside it:
    at or below it, membership is a literal WHEN-chain condition per
    chain (one scan, zero joins — cheapest for few groups); above it,
    broadcast-JOIN replay (a driver-built spec relation per level —
    codegen-safe at ANY segment count). Either way shuffles carry only
    chains·bins count rows, never the distinct-value relation.

    ``stats``: precomputed ``{group_key_tuple: (n, min, max)}`` over the
    SAME valid-value population (non-null, non-NaN) — callers that
    already aggregated those (e.g. ``profile``) pass them in and save
    the stats scan. Ungrouped callers use key ``()``.
    """
    import math

    groups = list(group_by or [])
    gcols = [F.col(g).alias(f"_g{i}") for i, g in enumerate(groups)]
    gnames = [f"_g{i}" for i in range(len(groups))]
    vals = df.select(*gcols, F.col(col).cast("double").alias("v")).where(
        F.col("v").isNotNull() & ~F.isnan("v")
    )
    # scanned once per refinement level + batched collects — materialize
    # once when the input is derived (joins/UDFs upstream); callers whose
    # input is a raw scan pass checkpoint=False (re-reading parquet twice
    # beats writing the projection to block storage first)
    if checkpoint:
        vals = vals.localCheckpoint(eager=False)
    if stats is not None:
        # optional 4th element: (approximate) distinct count — lets the
        # loop collect low-cardinality chains directly (see below)
        stats = [
            {"gkey": gk, "n": v[0], "lo": v[1], "hi": v[2],
             "nd": v[3] if len(v) > 3 else None}
            for gk, v in stats.items()
        ]
    else:
        # approx_count_distinct rides the same stats agg for ~free and
        # unlocks the low-cardinality fast path: a chain whose DISTINCT
        # count fits the collect budget resolves in one grouped collect
        # even when its ROW count is billions (quantity/discount-style
        # columns — the common DQ threshold shape)
        stats = [
            {"gkey": tuple(r[g] for g in gnames) if groups else (), "n": r["n"],
             "lo": r["lo"], "hi": r["hi"], "nd": r["nd"]}
            for r in (
                vals.groupBy(*gnames).agg(
                    F.count("v").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"),
                    F.approx_count_distinct("v").alias("nd"),
                )
                if groups
                else vals.agg(
                    F.count("v").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"),
                    F.approx_count_distinct("v").alias("nd"),
                )
            ).collect()
        ]

    # ONE selection engine (round 11, VERDICT r10 item 3): every face
    # runs the SAME loop (_qplan → _select_chains — plan, walk, collect,
    # depth-cap fallback all shared); max_groups now selects only the
    # chain-membership TAGGER inside it: ≤max_groups uses the literal
    # WHEN-chain scan (zero joins — the flagship single-table shape),
    # above it the broadcast-JOIN replay (codegen-safe at any segment
    # count). Both taggers feed byte-identical downstream bucket algebra.
    qs_f = [float(q) for q in qs]
    plans, chains = _qplan(stats, qs_f)
    got = _select_chains(
        vals, gnames, plans, chains, qs_f, bins, collect_limit,
        join_membership=len(stats) > max_groups,
    )
    if not groups:
        # empty input: the ungrouped stats agg returns one n=0 row, which
        # plans to [None]*len(qs); .get guards the impossible no-row case
        return got.get((), [None for _ in qs_f])
    return got


def weighted_quantiles_select(
    df: DataFrame,
    col: str,
    weight_col: str,
    qs: list[float] | tuple[float, ...],
    bins: int = 4096,
    collect_limit: int = 65536,
    checkpoint: bool = True,
    group_by: list[str] | None = None,
    max_groups: int = 64,
):
    """EXACT weighted quantiles by the same histogram-refine SELECTION as
    :func:`exact_quantiles_select` — value thresholds where every row
    counts with a WEIGHT (token counts, byte sizes, sampling weights):
    "the quality score below which 10% of TOKENS (not documents) sit" is
    the cut a token-budgeted corpus pass actually needs, and it is not
    expressible with ``percentile`` (row-weighted only).

    Convention: the LOWER weighted quantile — the smallest value v whose
    cumulative weight (ordered by value) reaches q·W, with W the total
    weight. No interpolation (the weighted analogue of QUANTILE_DISC),
    so a DuckDB cumulative-sum window replays it bit-for-bit: both
    engines compare exact integer cumulative weights against the same
    IEEE double q·W.

    Scaling: identical to the unweighted selection — per level ONE
    narrow scan computes weighted bucket sums inside active chains
    (map-side combined; the shuffle carries ≤ chains·bins SUM rows),
    the driver walks ≤ bins rows per chain; chains whose WEIGHT is at or
    below ``collect_limit`` collect as grouped (value, weight) runs
    (weight ≥ distinct count, so the driver bound holds), and
    depth-capped chains still above it resolve distributed via per-chain
    weight prefix sums. Weights must be non-negative integers (cast to
    long; rows with null/NaN values or weight ≤ 0 are excluded).

    Ungrouped: returns ``[val for q in qs]`` (None on empty/zero-weight
    input). ``group_by``: per-SEGMENT weighted cuts located in the same
    shared scans — returns ``{group_key_tuple: [vals]}``; NULL group
    keys are real segments (eqNullSafe chain conditions). Membership is
    a per-chain WHEN-chain up to ``max_groups`` segments; beyond the cap
    it switches to the broadcast-JOIN membership engine
    (``_select_chains`` with SUM(weight) — round 10), so any number of
    segments still moves only chains·bins SUM rows per level.
    """
    import math

    bad_qs = [
        q for q in qs if math.isnan(float(q)) or not (0.0 <= float(q) <= 1.0)
    ]
    if bad_qs:
        raise ValueError(
            "weighted_quantiles_select: qs must satisfy 0 <= q <= 1 "
            f"(q=0 clamps to the minimum, QUANTILE_DISC-style); got {bad_qs}"
        )
    qs_f = [float(q) for q in qs]
    groups = list(group_by or [])
    gcols = [F.col(g).alias(f"_g{i}") for i, g in enumerate(groups)]
    gnames = [f"_g{i}" for i in range(len(groups))]
    vals = df.select(
        *gcols,
        F.col(col).cast("double").alias("v"),
        F.col(weight_col).cast("long").alias("w"),
    ).where(
        F.col("v").isNotNull()
        & ~F.isnan("v")
        & F.col("w").isNotNull()
        & (F.col("w") > 0)
    )
    if checkpoint:
        vals = vals.localCheckpoint(eager=False)
    if groups:
        stat_rows = (
            vals.groupBy(*gnames)
            .agg(
                F.sum("w").alias("W"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
                F.approx_count_distinct("v").alias("nd"),
            )
            .collect()
        )
        stats = [
            (tuple(r[g] for g in gnames), r["W"], r["lo"], r["hi"], r["nd"])
            for r in stat_rows
        ]
    else:
        row = vals.agg(
            F.sum("w").alias("W"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.approx_count_distinct("v").alias("nd"),
        ).first()
        stats = [((), row["W"], row["lo"], row["hi"], row["nd"])]
    if not groups and not stats[0][1]:
        return [None for _ in qs_f]

    # ONE loop for the weighted face too (round 11, completing VERDICT
    # r10 item 3 — this was the last inline copy of the selection loop):
    # weighted 1-based ranks map to the engine's 0-based indices as
    # k = ceil(max(q*W, 1)) - 1, exact for integer cumulative weights
    # (cumw >= r  <=>  cumw > k — the round-10 equivalence); the
    # membership tagger is chosen by max_groups exactly like the
    # unweighted face, and nd feeds the low-cardinality direct-collect
    # path (grouped (v, SUM w) runs are distinct-sized regardless of
    # total weight).
    import math as _math

    plans: dict = {}
    w_chains: list = []
    for gk, W, glo, ghi, nd in stats:
        plan = [(q, int(_math.ceil(max(q * W, 1.0))) - 1, 0.0) for q in qs_f]
        plans[gk] = (plan, W)
        if W:
            w_chains.append(
                {
                    "gkey": gk,
                    "path": (),
                    "anc": [],
                    "base": 0,
                    "cnt": W,
                    "nd": nd,
                    "lo": glo,
                    "hi": ghi,
                    "ks": sorted({k for _q, k, _f in plan}),
                }
            )
    got = _select_chains(
        vals, gnames, plans, w_chains, qs_f, bins, collect_limit,
        weight_col="w", join_membership=len(stats) > max_groups,
    )
    if not groups:
        return got.get((), [None for _ in qs_f])
    return got


def exact_quantiles_multi(
    df: DataFrame,
    columns: list[str],
    qs: list[float] | tuple[float, ...],
    **select_kw,
) -> dict:
    """{col: {q: val}} for several columns in the SAME selection scans:
    melt to (column, value) — a narrow generate, no shuffle — then the
    grouped :func:`exact_quantiles_select` treats each column as a
    segment, so one histogram pass per refinement level serves every
    column at once. Columns that are entirely null/NaN map to
    {q: None}. The multi-column face of the scalar-threshold fast path
    (reference A7/A8 on many features; ``profile``'s exact quantiles)."""
    pairs = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(_ident(c)).cast("double").alias("v"),
                        )
                        for c in columns
                    ]
                )
            ).alias("p")
        ).select("p.*")
    )
    qs_f = [float(q) for q in qs]
    got = exact_quantiles_select(
        pairs, "v", qs_f, group_by=["column"], **select_kw
    )
    out = {}
    for c in columns:
        vals = got.get((c,))
        out[c] = (
            {q: vals[i] for i, q in enumerate(qs_f)}
            if vals is not None
            else {q: None for q in qs_f}
        )
    return out


def benford_check(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-digit audit of a positive numeric column —
    (digit, n, p, p_benford, chi2_total): the classic fabricated-data /
    unit-mixing screen for financial-style measures (naturally grown
    magnitudes follow P(d) = log10(1 + 1/d); keyed-in or truncated data
    does not). chi2_total = Σ_d (n_d − n·p_d)²/(n·p_d) is repeated on
    every row for one-relation consumption.

    Values below 1 are excluded so the first digit comes from the exact
    integer part via a string head — no pow(10, floor(log10 x)) float
    round-trip, so the digit assignment is engine-portable by
    construction. ONE aggregation to ≤9 rows; every ratio is computed
    over that bounded relation. The observed counts are left-joined onto
    the full 1..9 digit grid (n=0 fill) BEFORE the chi-square: a missing
    digit contributes its full expected mass (0 − n·p_d)²/(n·p_d) = n·p_d
    to the statistic — dropping absent digits would understate the misfit
    exactly when the fabrication signal is strongest (round-12 ADVICE).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    observed = (
        df.where(F.col(col).isNotNull() & (F.col(col) >= 1))
        .select(
            F.substring(
                F.floor(F.col(col)).cast("long").cast("string"), 1, 1
            ).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    d = grid.join(observed, "digit", "left").select(
        "digit", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    w = Window.partitionBy()
    tot = F.sum("n").over(w)
    p_benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    e = tot * p_benford
    chi2_term = (F.col("n") - e) * (F.col("n") - e) / e
    return d.select(
        "digit",
        "n",
        (F.col("n") / tot).alias("p"),
        p_benford.alias("p_benford"),
        F.sum(chi2_term).over(w).alias("chi2_total"),
    )


def hill_tail_index(
    df: DataFrame,
    col: str,
    k: int = 500,
    id_col: str | None = None,
) -> DataFrame:
    """Hill estimator of the Pareto tail exponent over the k largest
    values — α̂ = k / Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎) (Hill 1975): the
    heavy-tail screen for doc lengths / order values / cluster sizes
    (α ≤ 2 ⇒ infinite variance — means and z-scores stop being
    meaningful summaries; a sampler or packer keyed on that column needs
    quantile logic instead). Returns one row: (k_used, threshold,
    hill_alpha, tail_mean_log).

    Scale shape: ONE TakeOrderedAndProject of k+1 rows (no global sort
    of the corpus); the rank window and final aggregate run over that
    bounded relation. Tie determinism: with ``id_col`` both engines pick
    the identical k ROWS; without it, ties at the k/k+1 boundary make
    the row selection engine/rerun-dependent, but the STATISTIC is still
    deterministic — only ``v`` flows into threshold and the log-mean,
    and any tie-respecting selection yields the same sorted value
    multiset. Pass ``id_col`` whenever row identity must be reproducible
    (e.g. a face that also reports which rows sit in the tail). A corpus
    with fewer than k+1 positive values RAISES at execution
    (raise_error, loud-contract convention) instead of returning a
    silently-empty frame.
    """
    from pyspark.sql import Window

    order = [F.desc("v")] + ([F.col("i")] if id_col else [])
    base = df.where(F.col(col).isNotNull() & (F.col(col) > 0)).select(
        F.col(col).cast("double").alias("v"),
        *([F.col(id_col).alias("i")] if id_col else []),
    )
    top = base.orderBy(*order).limit(k + 1)
    ranked = top.withColumn("rk", F.row_number().over(Window.orderBy(*order)))
    thr = ranked.where(F.col("rk") == k + 1).select(F.col("v").alias("thr"))
    guarded = (
        ranked.where(F.col("rk") <= k)
        .join(F.broadcast(thr), F.lit(True), "left")
        .withColumn(
            "thr",
            F.when(
                F.col("thr").isNull(),
                F.raise_error(
                    F.lit(
                        f"hill_tail_index: fewer than k+1={k + 1} positive "
                        f"values in {col!r} — lower k or widen the filter"
                    )
                ).cast("double"),
            ).otherwise(F.col("thr")),
        )
    )
    h = F.avg(F.log(F.col("v") / F.col("thr")))
    return guarded.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.min("thr").alias("threshold"),
        F.when(h > 0, F.lit(1.0) / h).alias("hill_alpha"),
        h.alias("tail_mean_log"),
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """Exact Gini concentration coefficient of a non-negative measure —
    G = 2·Σᵢ rᵢxᵢ / (n·Σx) − (n+1)/n with x ascending and ranks 1..n:
    the inequality summary behind "how concentrated is revenue across
    customers / tokens across sources" that a mean-vs-median glance
    understates. Returns one row: (n, total, gini).

    Scale shape: the global rank is the DISTRIBUTED prefix sum (range
    partition + per-partition subtotals — no single-task window); the
    rest is one aggregation. Tied values take consecutive ranks whose
    within-tie order cannot change Σ rᵢxᵢ (equal x multiplies the same
    rank sum), so the statistic is deterministic without an id
    tie-break; pass ``id_col`` anyway when the ordering must be
    reproducible row-for-row.
    """
    from dataquality_ml_spark.operators.relational import exclusive_prefix_sum

    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("v"),
        *([F.col(id_col).alias("i")] if id_col else []),
    )
    ordk = (
        F.struct(F.col("v"), F.col("i")).alias("__ord")
        if id_col
        else F.col("v").alias("__ord")
    )
    ranked = exclusive_prefix_sum(
        base.select("v", ordk).withColumn("__one", F.lit(1)),
        "__ord",
        "__one",
        out="__r0",
    )
    r = F.col("__r0") + 1  # 1-based ascending rank
    return ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("total"),
        (
            F.lit(2.0) * F.sum(r * F.col("v"))
            / (F.count(F.lit(1)) * F.sum("v"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1))
        ).alias("gini"),
    )


def gpd_tail_fit(
    df: DataFrame,
    col: str,
    q: float = 0.95,
    threshold: float | None = None,
) -> DataFrame:
    """Peaks-over-threshold extreme-value fit: method-of-moments
    Generalized Pareto parameters over the exceedances y = x − u of a
    high threshold u (Pickands 1975; Hosking & Wallis 1987 MoM:
    ξ = (1 − m²/s²)/2, β = m(m²/s² + 1)/2) — WHAT the tail looks like
    beyond the data you've seen, where :func:`hill_tail_index` only says
    how heavy it is. ξ > 0 heavy tail, ξ ≈ 0 exponential, ξ < 0 bounded.
    Returns one row: (threshold, n, n_exceed, mean_excess, xi, beta).

    Scale shape: u comes from the shared exact-quantile selection engine
    (no single-buffer percentile, no global sort); the exceedance
    moments are ONE filtered aggregation of exact float sums with fixed
    final expressions.
    """
    from dataquality_ml_spark.operators.thresholds import percentile_threshold

    u = (
        float(threshold)
        if threshold is not None
        else percentile_threshold(df, col, q, exact=True)
    )
    if u is None:
        raise ValueError(f"gpd_tail_fit: no valid values in {col!r}")
    x = F.col(col).cast("double")
    base = df.where(_valid(df, col))
    y = x - F.lit(u)
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(y > 0, 1)).alias("n_exceed"),
        F.sum(F.when(y > 0, y)).alias("s1"),
        F.sum(F.when(y > 0, y * y)).alias("s2"),
    )
    m = F.col("s1") / F.col("n_exceed")
    v = F.col("s2") / F.col("n_exceed") - m * m
    ratio = m * m / v
    ok = (F.col("n_exceed") >= 2) & (v > 0)
    return agg.select(
        F.lit(u).alias("threshold"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_exceed").cast("bigint").alias("n_exceed"),
        F.when(F.col("n_exceed") > 0, m).alias("mean_excess"),
        F.when(ok, (F.lit(1.0) - ratio) / 2).alias("xi"),
        F.when(ok, m * (ratio + 1) / 2).alias("beta"),
    )


def concentration_panel(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    top_k: int = 4,
    max_groups: int = 100_000,
) -> DataFrame:
    """Share-concentration panel over a categorical key — the corpus-mix
    governance numbers (how dominated is the training mix by its top
    sources?) in ONE aggregation pass: HHI (Herfindahl Σs², + its
    0-1 normalization), CR-1/CR-k top-share ratios, Shannon entropy of
    the mix (nats, + /ln g normalization), and the Theil index
    (= ln g − H over shares — the inequality view of the same entropy).
    Weights default to row counts; pass ``weight_col`` (e.g. chars or
    tokens) to measure MASS concentration rather than document counts.
    Returns one row: (n_groups, total, hhi, hhi_norm, cr1, crk,
    entropy, entropy_norm, theil).

    Scale shape + contract: one groupBy collapses the corpus to the
    per-key relation; the reduce computes every statistic from closed
    forms (HHI = Σw²/W², H = ln W − Σw·ln w / W) with the CR-k top
    shares from ONE sort_array over the collected per-key weights — a
    driver-free but GROUP-BOUNDED step, so the operator enforces the
    categorical-enum contract loudly: > ``max_groups`` distinct keys
    raises (an id-like key would make the collect unbounded; that is a
    different question — use gini_coefficient for high-cardinality
    inequality).
    """
    valid = df.where(F.col(key_col).isNotNull())
    wexpr = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    if weight_col is not None:
        valid = valid.where(
            F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        )
    approx = valid.agg(
        F.approx_count_distinct(key_col).alias("g")
    ).first()["g"]
    if approx and approx > max_groups:
        raise ValueError(
            f"concentration_panel: ~{approx} distinct {key_col!r} values "
            f"exceed max_groups={max_groups} — the CR-k collect is "
            "group-bounded; this key looks id-like (use gini_coefficient "
            "for high-cardinality inequality), or raise max_groups "
            "deliberately"
        )
    cells = valid.groupBy(key_col).agg(F.sum(wexpr).alias("wk"))
    g = F.count(F.lit(1)).cast("bigint")
    W = F.sum("wk")
    sq = F.sum(F.col("wk") * F.col("wk"))
    slw = F.sum(F.col("wk") * F.log("wk"))
    topk = F.slice(
        F.sort_array(F.collect_list("wk"), asc=False), 1, int(top_k)
    )
    agg = cells.agg(
        g.alias("g"),
        W.alias("W"),
        (sq / (W * W)).alias("hhi"),
        F.max("wk").alias("w1"),
        F.aggregate(topk, F.lit(0.0), lambda a, v: a + v).alias("wk_top"),
        (F.log(W) - slw / W).alias("entropy"),
    )
    hhi_norm = F.when(
        F.col("g") > 1,
        (F.col("hhi") - 1.0 / F.col("g")) / (1.0 - 1.0 / F.col("g")),
    ).otherwise(F.lit(1.0))
    ent_norm = F.when(
        F.col("g") > 1, F.col("entropy") / F.log(F.col("g").cast("double"))
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("g").alias("n_groups"),
        F.col("W").alias("total"),
        "hhi",
        hhi_norm.alias("hhi_norm"),
        (F.col("w1") / F.col("W")).alias("cr1"),
        (F.col("wk_top") / F.col("W")).alias("crk"),
        "entropy",
        ent_norm.alias("entropy_norm"),
        (F.log(F.col("g").cast("double")) - F.col("entropy")).alias("theil"),
    )


def loso_mean_delta(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Leave-one-segment-out mean-impact panel — the cheapest honest
    answer to "which source is dragging the corpus metric": for each
    key, the corpus mean recomputed WITHOUT that segment, and the
    delta it causes. The closed form ((S − s_k)/(N − n_k) − S/N) makes
    all k leave-one-out corpora ONE groupBy + one broadcast totals
    join — no k-pass loop, no resampling; the sign/magnitude ranking
    is what a curation decision (drop, downweight, investigate) reads
    first, ahead of the expensive ablation retrain it motivates.
    Returns (key, n_k, mean_k, mean_without, delta); ``mean_without``
    is NULL for a segment that IS the whole corpus.
    """
    valid = df.where(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col))
        & F.col(key_col).isNotNull()
    )
    # two consumers (totals + the per-key report) — checkpoint so the
    # corpus scan + groupBy run once (round 13, guide §2.4)
    cells = valid.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum(F.col(value_col).cast("double")).alias("s_k"),
    ).localCheckpoint(eager=False)
    tot = cells.agg(
        F.sum("n_k").alias("N"), F.sum("s_k").alias("S")
    )
    j = cells.crossJoin(F.broadcast(tot))
    mean_all = F.col("S") / F.col("N")
    mean_wo = F.when(
        F.col("N") > F.col("n_k"),
        (F.col("S") - F.col("s_k")) / (F.col("N") - F.col("n_k")),
    )
    return j.select(
        F.col(key_col),
        "n_k",
        (F.col("s_k") / F.col("n_k")).alias("mean_k"),
        mean_wo.alias("mean_without"),
        (mean_wo - mean_all).alias("delta"),
    )
