"""Sources (SURVEY.md §2.1 S1-S5).

The reference loads daily snapshot CSVs with ``inferSchema=True`` everywhere
(reference app/AE_model.py:25-29 and 7 sibling sites) — schema inference costs
an extra full scan per load. This engine's readers take an explicit schema
fast path and fall back to inference only on request.

At 100 TB the scan is the dominant cost: always parquet/Iceberg with column
pruning + predicate pushdown; CSV is an ingest-only format.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_log = logging.getLogger(__name__)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    bigint (``spark.sql.legacy.parquet.nanosAsLong``); we restore proper
    timestamps. Footer-only read, no data scan; a footer that cannot be
    read logs a warning and converts nothing."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception as e:  # noqa: BLE001 — footer introspection is best-effort
        _log.warning(
            "_nanos_ts_columns: cannot read the parquet schema of %s (%s); "
            "converting no TIMESTAMP(NANOS) column",
            path,
            e,
        )
        return []


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Parquet scan; pass ``columns`` to prune at the scan (ReadSchema).

    TIMESTAMP(NANOS) columns are converted back to Spark timestamps
    (truncated to micros, matching what DuckDB/Arrow readers produce).
    """
    # Defensive: the driver may hand us a session built without this conf;
    # it is a dynamic SQL conf, safe to set at read time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive TIMESTAMP(MICROS) columns must surface as TIMESTAMP (LTZ, UTC
    # session), not TIMESTAMP_NTZ: NTZ forbids the epoch casts the engine's
    # time arithmetic uses, and with a UTC session the two are value-equal.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # The value-equality above HOLDS ONLY under a UTC session: a caller-
    # supplied non-UTC session would shift naive stored micros by its UTC
    # offset on read. The factory sets this; mirror it defensively here for
    # plain driver-supplied sessions.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    from pyspark.sql.types import LongType

    # Convert only columns Spark actually read as bigint: INT96 timestamps
    # also look like nanos to Arrow but Spark reads them natively.
    nanos = {
        c
        for c in set(_nanos_ts_columns(path)) & set(df.columns)
        if isinstance(df.schema[c].dataType, LongType)
    }
    if nanos:
        df = df.withColumns(
            {c: F.expr(f"timestamp_micros({c} div 1000)") for c in nanos}
        )
    if columns:
        df = df.select(*columns)
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV scan (reference S1, app/AE_model.py:25-29).

    Explicit ``schema`` avoids the inference double-scan; ``infer=True``
    reproduces the reference behavior for ad-hoc exploration.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Catalog table scan (reference S2, app/main.py:16-22 — Iceberg SQL)."""
    return spark.table(name)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables for one scale factor."""
    return {n: read_parquet(spark, f"{sf_dir}/{n}.parquet") for n in names}


def read_json_with_quarantine(
    spark: SparkSession, path: str, schema: str | StructType
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON ingest that splits clean rows from quarantined ones
    — the data-quality ingest contract: never drop malformed input
    silently (DROPMALFORMED), never fail the batch (FAILFAST); land bad
    rows in a quarantine relation for inspection/replay.

    Returns (good, quarantine): good has exactly ``schema``'s columns;
    quarantine carries the raw offending line in ``raw_record``.

    The parsed frame is lazily checkpointed before splitting — Spark
    refuses a query that references ONLY the corrupt-record column of a
    JSON scan (it would have to re-parse with different semantics), and
    the two outputs would otherwise parse the input twice anyway.  The
    first of them to run materializes it; the other reads those rows.
    """
    if isinstance(schema, str):
        parsed = StructType.fromDDL(schema)
    else:
        parsed = schema
    full = parsed.add("_corrupt_record", "string")
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .localCheckpoint(eager=False)
    )
    good = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_record")
    )
    return good, bad


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """ORC scan — vectorized reader, predicate pushdown and column pruning
    behave like the parquet path (assert via .explain: PushedFilters)."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal raw-asset ingest: Spark's binaryFile source yields one row
    per file — (path, modificationTime, length, content:binary) — which is
    the contract ``operators.multimodal.attach_binary_metadata`` and
    ``decode_features`` build on. Image/audio/video bytes stay opaque
    binary until a (stubbed) decode UDF runs; partition parallelism comes
    from the file listing, so many small assets parallelize for free.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
