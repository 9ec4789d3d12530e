"""Relational core operators (SURVEY.md §2.2 P1-P10, §2.6 L1-L7).

Projections, predicates, casts, schema alignment, deterministic sampling,
shuffling, and set ops — the reference performs several of these driver-side
in pandas/numpy (P9, L4-L6); here they are all distributed DataFrame plans.
"""

from __future__ import annotations

import logging
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from dataquality_ml_spark.operators.profile import _ident

_log = logging.getLogger(__name__)

# Knuth multiplicative-hash constant: portable deterministic pseudo-random
# stream computable identically in Spark SQL and DuckDB (plain bigint math),
# unlike engine-specific hash()/rand(seed).
_KNUTH = 2654435761
_MOD = 4294967296  # 2^32


def _hash_bucket(df: DataFrame, key: str):
    """Deterministic engine-portable hash of ``key`` into [0, 2^32).

    Numeric/boolean keys use the Knuth multiplicative hash (plain bigint
    math, identical in DuckDB). String (and any other non-numeric) keys use
    the md5-based ``portable_hash32`` — the previous bigint cast turned
    strings into NULL and silently dropped every row.
    """
    from pyspark.sql.types import BooleanType, NumericType

    from dataquality_ml_spark.functions.scalar import portable_hash32

    if isinstance(df.schema[key].dataType, (NumericType, BooleanType)):
        return (F.col(key).cast("bigint") * F.lit(_KNUTH)) % F.lit(_MOD)
    return portable_hash32(F.col(key))


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition only if the scan produced fewer partitions than the
    cluster can use — guards CPU-heavy per-row operators (tokenization,
    hashing, decoding) against few-fat-files inputs without paying a
    shuffle when the input is already well partitioned.

    The partition count comes from ``df.rdd.getNumPartitions()``. On a
    scan or a checkpoint that launches no Spark job; on a relation whose
    plan holds an exchange (a join, an aggregation, a repartition),
    adaptive execution runs that relation's shuffle stages as jobs to
    settle the final partitioning, and their output is thrown away —
    the returned frame runs them again. Pass a scan, a narrow projection
    of one, or a checkpoint."""
    want = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, want // 2):
        return df.repartition(want)
    return df


def size_scaled_parallelism(
    df: DataFrame,
    row_multiplier: float = 1.0,
    bytes_per_task: int = 32 << 20,
) -> int:
    """Partition width derived from the optimizer's input-size estimate,
    NOT the core count: ceil(estimated bytes × row_multiplier /
    bytes_per_task), clamped to [2, defaultParallelism].

    For operators whose per-row work is LIGHT (melts, projections), a
    defaultParallelism-wide repartition of a tiny input pays one task
    launch per core for no compute win — a driver benchmark measured the
    drift panel running faster at 8 cores than at 32 because of exactly
    that (a shuffle's cost is fixed per task, so width must follow data
    volume).
    ``row_multiplier`` accounts for row-multiplying downstream work
    (e.g. a melt of k columns). At data scale the estimate exceeds
    ``defaultParallelism × bytes_per_task`` and the clamp returns
    defaultParallelism — i.e. the guard only narrows SMALL inputs.
    Without a readable size estimate it logs a warning and returns
    defaultParallelism."""
    sc = df.sparkSession.sparkContext
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception as e:  # noqa: BLE001 — stats introspection is best-effort
        _log.warning(
            "size_scaled_parallelism: no size estimate (%s); falling back to "
            "defaultParallelism=%d",
            e,
            sc.defaultParallelism,
        )
        return sc.defaultParallelism
    want = int(est * row_multiplier + bytes_per_task - 1) // bytes_per_task
    return max(2, min(sc.defaultParallelism, want))


def project(df: DataFrame, columns: list[str]) -> DataFrame:
    """Explicit column projection (reference P1, app/IsolationForest_AE.py:25-75).

    Catalyst pushes this down to the scan's ReadSchema — at 100 TB selecting
    43 of 170 columns is a ~4× I/O cut on columnar storage.
    """
    return df.select(*columns)


def split_by_label(df: DataFrame, label: str = "failure") -> tuple[DataFrame, DataFrame]:
    """Normal/failure split (reference P3, app/AE_model.py:42-43).

    Both filters push down to the scan; the two branches share the cached
    upstream plan if the caller persists it.
    """
    normal = df.where(F.col(label) == F.lit(0))
    anomalous = df.where(F.col(label) == F.lit(1))
    return normal, anomalous


def cast_columns(df: DataFrame, columns: list[str], dtype: DataType | str) -> DataFrame:
    """Bulk cast (reference P5 bool→int app/AE_model.py:33-40, P6 ts→string).

    One ``withColumns`` call (single projection node) instead of the
    reference's per-column ``withColumn`` loop, which builds a deep plan.
    """
    return df.withColumns({c: F.col(c).cast(dtype) for c in columns})


def align_schema(df: DataFrame, reference: DataFrame) -> DataFrame:
    """Schema alignment (reference P7+P8, app/test_AE.py:50-67).

    Adds reference-only columns as typed nulls, drops extras, and orders
    columns to match — the training schema is the source of truth.
    """
    ref_fields = {f.name: f.dataType for f in reference.schema.fields}
    have = set(df.columns)
    missing = {name: F.lit(None).cast(t) for name, t in ref_fields.items() if name not in have}
    if missing:
        df = df.withColumns(missing)
    return df.select(*[F.col(name).cast(t) for name, t in ref_fields.items()])


def sample_fraction(df: DataFrame, fraction: float, seed: int = 42, with_replacement: bool = False) -> DataFrame:
    """Bernoulli/Poisson row sampling (reference L4, driver-side pandas
    ``df.sample`` in app/data_augmentation_enhanced.py:229-237). Fully
    distributed, no shuffle."""
    return df.sample(withReplacement=with_replacement, fraction=fraction, seed=seed)


def sample_exact(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """Exact-n random sample via sort on rand(seed) + limit (TakeOrdered —
    no full sort materialization)."""
    return df.orderBy(F.rand(seed)).limit(n)


def sample_hash(df: DataFrame, key: str, percent: int) -> DataFrame:
    """Deterministic engine-portable sample: keep rows whose Knuth
    multiplicative hash of ``key`` falls in the lowest ``percent``% of the
    32-bit space. Reproducible across engines (oracle-checkable, unlike
    rand(seed)) and across runs — the property the reference reaches for
    with ``random_state=42`` (app/data_augmentation_enhanced.py:230).

    Works on numeric keys (Knuth multiplicative hash) and string keys
    (md5-based portable hash) — see ``_hash_bucket``."""
    return df.where(_hash_bucket(df, key) < F.lit(int(_MOD * percent / 100)))


def shuffle_rows(df: DataFrame, seed: int = 42) -> DataFrame:
    """Full-row shuffle (reference L5, pandas ``sample(frac=1)``)."""
    return df.orderBy(F.rand(seed))


def union_aligned(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union by name with automatic null-fill for missing columns
    (reference L6, pandas ``pd.concat`` in app/data_augmentation_enhanced.py:246)."""
    return a.unionByName(b, allowMissingColumns=True)


def top_k(df: DataFrame, order_col: str, k: int, *tiebreak: str) -> DataFrame:
    """Top-k by a score column, descending (reference W3: anomaly report
    sorted by reconstruction_error desc). Spark executes sort+limit as
    TakeOrderedAndProject — O(k) memory per partition, no global sort."""
    cols = [F.desc(order_col)] + [F.asc(c) for c in tiebreak]
    return df.orderBy(*cols).limit(k)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-resistant equi-join: the left side gets a deterministic salt in
    [0, salt) derived from a row hash; the (small-ish) right side is
    replicated ``salt`` times so every (key, salt) bucket joins locally.
    Breaks a single hot key into ``salt`` shuffle partitions.

    Result is row-identical to ``left.join(right, key, how)``. AQE's skew
    handling covers most cases at runtime; explicit salting is for when a
    single key exceeds what one task can hold even after AQE splits.
    """
    l_salted = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    r_salted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = l_salted.join(r_salted, [key, "__salt"], how)
    return out.drop("__salt")


def quota_sample(
    df: DataFrame,
    group_col: str,
    key: str,
    n_per_group: int,
    margin: int = 4,
) -> DataFrame:
    """Deterministic per-group quota sample: keep the ``n_per_group`` rows
    with the smallest Knuth hash of ``key`` within each group (per-domain /
    per-source caps in corpus balancing). Engine-portable: the same rows
    win in any engine, any partitioning, any run.

    Scale shape: a naive `row_number() over (partition by group)` sorts
    EVERY row of a 100 TB corpus inside few fat group partitions — the
    window itself becomes the skew bottleneck. Instead: (1) aggregate
    per-group counts (map-side combinable, tiny result), (2) broadcast a
    per-group hash cutoff admitting ~margin*n candidates, (3) filter the
    corpus with a narrow scan (no shuffle of non-candidates), (4) exact
    row_number only over the ~margin*n survivors per group. The window
    input shrinks from |corpus| to ~margin*n*|groups| rows.

    margin=4 makes the hash cutoff miss a true top-n row only if the n-th
    smallest of cnt uniform hashes exceeds 4x its expectation — vanishing
    for n >= 10 (Chernoff).  The probabilistic cutoff is backstopped by a
    deterministic shortfall check (one cheap aggregate over the candidate
    scan): any group whose candidate count falls below its quota is
    re-run with the cutoff wide open, so the result ALWAYS equals the
    naive full-window form (asserted in tests and by the DuckDB oracle).
    """
    quota_df = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_quota", F.lit(int(n_per_group)))
    )
    return _two_phase_quota_window(df, group_col, key, quota_df, margin)


def _two_phase_quota_window(
    df: DataFrame,
    group_col: str,
    key: str,
    quota_df: DataFrame,
    margin: int,
) -> DataFrame:
    """Shared engine for quota_sample / temperature_sample.  ``quota_df``
    is (group_col, _cnt, _quota).  Broadcast per-group hash cutoffs sized
    to admit ~margin·quota candidates, verify no group fell short (an
    aggregate-only check — the group cardinality never visits the driver,
    so per-host caps over millions of hosts stay distributed), widen the
    cutoff for any group that did, then rank only the candidates.  The
    row_number window never sees more than ~margin·quota rows per group,
    yet the output is bit-identical to the full-corpus window."""
    h = _hash_bucket(df, key)
    cutoff = quota_df.select(
        group_col,
        "_quota",
        F.when(F.col("_cnt") <= F.lit(margin) * F.col("_quota"), F.lit(_MOD))
        .otherwise(
            (F.lit(_MOD).cast("double") * margin * F.col("_quota") / F.col("_cnt"))
            .cast("bigint")
        )
        .alias("_cut"),
    ).localCheckpoint(eager=False)

    def _cand(co: DataFrame) -> DataFrame:
        return (
            df.withColumn("_h", h)
            .join(F.broadcast(co), group_col)
            .where(F.col("_h") < F.col("_cut"))
        )

    # Candidates are ~margin·quota rows per group — bounded — so pin them
    # once; the shortfall check and the rank window share the same scan.
    cand = _cand(cutoff).localCheckpoint(eager=False)
    got = cand.groupBy(group_col).agg(F.count(F.lit(1)).alias("_got"))
    short = (
        cutoff.join(got, group_col, "left")
        .where(
            (F.col("_cut") < F.lit(_MOD))
            & (F.coalesce(F.col("_got"), F.lit(0)) < F.col("_quota"))
        )
        .select(group_col, F.lit(True).alias("_w"))
    )
    if short.limit(1).count() > 0:
        widened = cutoff.join(F.broadcast(short), group_col, "left").select(
            group_col,
            "_quota",
            F.when(F.col("_w"), F.lit(_MOD)).otherwise(F.col("_cut")).alias("_cut"),
        )
        cand = _cand(widened)
    w = Window.partitionBy(group_col).orderBy("_h", key)
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.col("_quota"))
        .drop("_h", "_cut", "_quota")
        .withColumnRenamed("_rn", "sample_rank")
    )


def leakage_safe_split(
    df: DataFrame,
    group_col: str,
    splits: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Group-aware train/val/test assignment: the split is a deterministic
    hash of the GROUP key, so every member of a group — in practice a
    near-duplicate cluster from `graph.dedup_clusters` — lands in the same
    split. Splitting on the row id instead is the classic evaluation leak:
    a test document's near-duplicate sits in train and the held-out loss
    silently measures memorization.

    ``splits`` maps name -> fraction (must sum to ~1); assignment takes
    cumulative intervals over u = md5-hash(salt|group)/2^32, so it is
    engine-portable, independent of partitioning, and STABLE UNDER CORPUS
    GROWTH — a group's split never changes when other groups appear,
    which is what makes the held-out set durable across corpus versions.
    Narrow scan, zero shuffle, no UDF.
    """
    from dataquality_ml_spark.functions.scalar import portable_hash32

    if splits is None:
        splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    u = portable_hash32(
        F.concat(F.lit(salt + "|"), F.col(group_col).cast("string"))
    ) / F.lit(float(_MOD))
    names = list(splits)
    expr = F.lit(names[-1])  # last bucket takes the remainder exactly
    acc = 0.0
    conds = []
    for name in names[:-1]:
        acc += splits[name]
        conds.append((name, acc))
    for name, bound in reversed(conds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    content_col: str | Sequence[str] = "text",
) -> DataFrame:
    """Corpus version diff — what changed between two snapshots of the
    same table: ``added`` (id only in new), ``removed`` (only in old),
    ``changed`` (same id, different content hash), ``unchanged``. The
    audit step between corpus releases: dedup/decontam decisions are made
    against content, so the diff compares an md5 CONTENT hash, not
    row equality — column order or metadata churn doesn't alarm.

    ``content_col`` may be a list of columns: each is cast to string and
    coalesced to a sentinel BEFORE the unit-separator concat — a plain
    ``concat_ws`` skips nulls, which would let (a, NULL, b) alias
    (a, b, NULL) across columns.

    One full-outer shuffle join on the id; each side carries only
    (id, 16-byte hash), so the shuffle is narrow no matter how wide the
    documents are. NULL content hashes compare via null-safe equality
    (two null-text versions are 'unchanged', not 'changed').
    """
    if isinstance(content_col, str):
        fp = F.md5(F.col(content_col))
    else:
        fp = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>"))
                    for c in content_col
                ],
            )
        )
    o = old_df.select(
        F.col(id_col), fp.alias("_h_old"), F.lit(True).alias("_in_old")
    )
    n = new_df.select(
        F.col(id_col), fp.alias("_h_new"), F.lit(True).alias("_in_new")
    )
    return (
        o.join(n, id_col, "full_outer")
        .select(
            id_col,
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(
                F.col("_h_old").eqNullSafe(F.col("_h_new")), F.lit("unchanged")
            )
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key: str,
    budget: int,
    alpha: float = 0.5,
    margin: int = 4,
) -> DataFrame:
    """Temperature-based source re-balancing (the multilingual-pretraining
    sampling rule, q_s ∝ n_s^α — Conneau & Lample 2019): allocate a total
    ``budget`` of rows across groups proportional to count^alpha, so
    alpha=1 preserves the natural mix, alpha→0 approaches uniform, and the
    head domains are down-weighted in between.  Per-group quota =
    min(n_s, floor(budget·q_s)).

    Selection inside each group is the deterministic hash-rank quota
    sample, with quota_sample's two-phase broadcast-cutoff shape — the
    rank window only ever sees ~margin·quota candidate rows per group,
    never the corpus — plus the same deterministic shortfall backstop
    (a group whose candidates undershoot its quota re-runs with the
    cutoff wide open), so the output always equals the naive full-window
    form.  Group counts are collected once (a few rows of model
    parameters) to compute quotas driver-side.

    Quotas are floor-based: up to |groups|−1 budget rows may go unused.
    That is deliberate — quota_g stays a pure per-group function of the
    published rule (min(n_s, ⌊budget·q_s⌋)), engine-portable and stable
    under corpus growth; largest-remainder top-up would make a group's
    quota depend on every other group's fractional part.
    """
    import math

    counts = {
        r[group_col]: r["_cnt"]
        for r in df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cnt")).collect()
    }
    tot_w = sum(c**alpha for c in counts.values())
    quotas = {
        g: min(c, math.floor(budget * (c**alpha) / tot_w)) for g, c in counts.items()
    }
    spark = df.sparkSession
    group_type = df.schema[group_col].dataType.simpleString()
    quota_df = local_frame(
        spark,
        [(g, int(counts[g]), int(quotas[g])) for g in counts],
        f"{group_col} {group_type}, _cnt bigint, _quota int",
    )
    return _two_phase_quota_window(df, group_col, key, quota_df, margin)


def local_frame(spark, rows, schema) -> DataFrame:
    """A table built on the driver (offsets, totals, quotas, a model's
    parameters), as a JVM-side ``LocalRelation``.

    ``schema`` is DDL text or a ``StructType``; its nullability is kept.
    Each row is verified and converted by PySpark's own row path (tuples,
    lists, dicts and ``Row`` objects alike; DATE and TIMESTAMP values
    through ``DataType.toInternal``, so a naive ``datetime`` is read in
    the process's local time zone), then shipped as one Arrow table.  A
    list of rows handed to ``createDataFrame`` instead plans as a
    ``LogicalRDD`` over a Python RDD: every job that reads it, a
    broadcast included, starts Python workers to unpickle the rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _create_converter, _make_type_verifier

    struct = schema if isinstance(schema, StructType) else spark._parse_ddl(schema)
    verify, to_tuple = _make_type_verifier(struct), _create_converter(struct)
    internal = []
    for r in rows:
        verify(r)
        internal.append(struct.toInternal(to_tuple(r)))
    cols = list(zip(*internal)) if internal else [()] * len(struct.fields)
    arrow = to_arrow_schema(struct)
    arrays = [pa.array(vals, type=af.type) for vals, af in zip(cols, arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)


def materialize(df: DataFrame, *, caller: str, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, unless ``df`` already is a
    materialized relation — its plan root a ``LogicalRDD`` (a checkpointed
    frame) or a ``LocalRelation`` (a :func:`local_frame` table).  A
    second persist of those would double their executor memory/disk
    footprint (and, eager, launch a job) for no recompute saved.  If the
    plan root cannot be read, it logs a warning naming ``caller`` and
    checkpoints."""
    try:
        root = df._jdf.queryExecution().logical().getClass().getSimpleName()
    except Exception as e:  # noqa: BLE001 — plan introspection is best-effort
        _log.warning(
            "%s: cannot read the plan root (%s); checkpointing the input", caller, e
        )
        root = ""
    if root in ("LogicalRDD", "LocalRelation"):
        return df
    return df.localCheckpoint(eager=eager)


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    val_col: str | list[str],
    out: str | list[str] = "_before",
    descending: bool = False,
    keys: list[str] | None = None,
    with_totals: bool = False,
) -> DataFrame:
    """Distributed exclusive prefix sum of ``val_col`` in ``order_col``
    order: every row gains ``out`` = sum of val over all rows strictly
    before it.  The single-task killer this replaces is
    ``sum() over (order by order_col)`` with no partition key — the
    whole relation through one window task.

    Two-level decomposition (the ``packing.pack_sequences`` shape,
    extracted for reuse): range-repartition on the order key (ranges are
    totally ordered across partitions, so partition id IS rank order),
    aggregate per-partition subtotals (|partitions| rows — the only
    thing the driver ever sees), exclusive-prefix them driver-side,
    broadcast the partition offsets back, and add an intra-partition
    running sum (window PARTITIONED by partition id — parallel).  Output
    is invariant to where the sampled range boundaries land.

    ``val_col``/``out`` accept parallel lists to prefix-sum several
    integral measures in ONE decomposition (one range shuffle, one
    subtotal job — e.g. cumulative TP and FP of a threshold sweep).
    ``descending=True`` runs the prefix in descending ``order_col``
    order ("sum of all rows strictly greater") without negating keys.
    ``keys`` makes the prefix PER GROUP (restart at 0 for each distinct
    key tuple) while still range-partitioning on (keys…, order) — the
    driver sees one offset row per (partition, key-tuple-in-partition),
    bounded by |partitions| + |keys| (each key spans contiguous
    partitions, so a key adds rows only where it straddles a boundary).

    ``order_col`` must be unique per row (within its key group when
    ``keys`` is given) for a deterministic result; values must be
    integral (counts/tokens — subtotals are exact-summed driver-side).
    Adds one range shuffle; the result keeps the range partitioning, so
    a downstream orderBy(order_col) is nearly free.

    ``with_totals=True`` returns ``(result, totals)`` where ``totals``
    maps each key tuple (``()`` when unkeyed) to the exact grand total
    of every val column.  The decomposition already collects per-
    partition subtotals to the driver — the grand totals are their final
    accumulator values, FREE of any extra job.  Callers that previously
    re-aggregated the *upstream* relation just to attach totals (the
    ``_ecdf_counts`` tot_a/tot_b join) re-ran the whole upstream scan;
    reading them from the subtotals removes that second computation.
    """
    val_cols = [val_col] if isinstance(val_col, str) else list(val_col)
    outs = [out] if isinstance(out, str) else list(out)
    if len(val_cols) != len(outs):
        raise ValueError("val_col and out must have the same length")
    keys = list(keys or [])
    kcols = [F.col(_ident(k)) for k in keys]
    rng_exprs = kcols + [
        F.col(order_col).desc() if descending else F.col(order_col)
    ]
    sort_exprs = [c.asc() for c in kcols] + [
        F.desc(order_col) if descending else F.asc(order_col)
    ]
    # Lazy-checkpoint the INPUT before range-partitioning it:
    # repartitionByRange runs a separate boundary-sampling job over its
    # child, then the exchange map stage recomputes the child again — an
    # un-checkpointed upstream (scan + melt + groupBy in the ECDF
    # callers) would execute TWICE per decomposition.  The sampling job
    # materializes the persisted blocks; the exchange reads them.
    df = materialize(df, caller="exclusive_prefix_sum")
    # Lazy-checkpoint the range-partitioned relation too: it is consumed
    # twice (the subtotal collect below is its own job, then the final
    # plan reads it again) — without the checkpoint the range shuffle
    # runs twice.  The subtotal job materializes it; the second pass
    # reads executor-local partitions.  Also load-bearing for
    # determinism: both passes must see identical range boundaries.
    parts = (
        df.repartitionByRange(*rng_exprs)
        .sortWithinPartitions(*sort_exprs)
        .localCheckpoint(eager=False)
    )
    with_pid = parts.withColumn("_pid", F.spark_partition_id())
    subtotals = with_pid.groupBy("_pid", *kcols).agg(
        *[F.sum(c).alias(f"_psum_{i}") for i, c in enumerate(val_cols)]
    ).collect()
    accs: dict = {}
    offsets = []
    for r in sorted(subtotals, key=lambda r: (r["_pid"],)):
        kt = tuple(r[k] for k in keys)
        acc = accs.setdefault(kt, [0] * len(val_cols))
        offsets.append((r["_pid"], *kt, *acc))
        accs[kt] = [
            a + int(r[f"_psum_{i}"] or 0) for i, a in enumerate(acc)
        ]
    key_schema = "".join(
        f"{_ident(k)} {df.schema[k].dataType.simpleString()}, " for k in keys
    )
    off_schema = (
        "_pid int, "
        + key_schema
        + ", ".join(f"_off_{i} long" for i in range(len(val_cols)))
    )
    off_df = F.broadcast(
        local_frame(
            df.sparkSession,
            offsets or [(0, *([None] * len(keys)), *([0] * len(val_cols)))],
            off_schema,
        )
    )
    w = (
        Window.partitionBy("_pid", *kcols)
        .orderBy(sort_exprs[-1])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    if keys:
        # null-safe key equality: a NULL key tuple is a real group (a
        # plain equi-join would silently drop null-keyed rows here)
        off2 = off_df
        for k in keys:
            off2 = off2.withColumnRenamed(k, f"_off_k_{k}")
        cond = with_pid["_pid"] == off2["_pid"]
        for k in keys:
            cond = cond & F.col(_ident(k)).eqNullSafe(F.col(_ident(f"_off_k_{k}")))
        res = with_pid.join(F.broadcast(off2), cond).drop(off2["_pid"]).drop(
            *[f"_off_k_{k}" for k in keys]
        )
    else:
        res = with_pid.join(off_df, ["_pid"])
    for i, (c, o) in enumerate(zip(val_cols, outs)):
        res = res.withColumn(
            o, F.coalesce(F.sum(c).over(w), F.lit(0)) + F.col(f"_off_{i}")
        )
    res = res.drop("_pid", *[f"_off_{i}" for i in range(len(val_cols))])
    if with_totals:
        return res, {kt: list(acc) for kt, acc in accs.items()}
    return res
