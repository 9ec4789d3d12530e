"""Driver-built tables: ``relational.local_frame`` gives the schema and rows
a list of rows handed to ``createDataFrame`` gives, for every type the
package's call sites carry, and plans as a JVM-side ``LocalRelation``;
keyed prefix sums and drift panels over DATE and TIMESTAMP keys are
unchanged when the process's local time zone is not UTC; the package
builds no table from Python rows any other way; and the corpus path's
checkpoints run each NFC normalization and each join exchange once."""

from __future__ import annotations

import ast
import datetime as dt
import math
import pathlib
import time
from decimal import Decimal

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dataquality_ml_spark.operators import drift as dr
from dataquality_ml_spark.operators import relational as rel
from tests.test_engine_facade import counted_nfc  # noqa: F401 — fixture

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "dataquality_ml_spark"

AWKWARD = ["sp ace", "do.t", "back`tick", "it's", "a `b'.c\\d", "é"]

# (DDL, rows): one case per column type the call sites carry
CASES = {
    "string": (
        "s string",
        [("plain",), ("tick`é",), (None,), ("",)],
    ),
    "bigint": ("n bigint", [(0,), (-(2**63),), (2**63 - 1,), (None,)]),
    "double": (
        "x double",
        [(1.5,), (float("nan"),), (float("inf"),), (-float("inf"),), (-0.0,), (None,)],
    ),
    "int": ("i int", [(1,), (-(2**31),), (2**31 - 1,), (None,)]),
    "date": (
        "d date",
        [
            (dt.date(2021, 3, 28),),
            (dt.date(1969, 12, 31),),
            (dt.datetime(2020, 5, 5, 23, 0),),
            (None,),
        ],
    ),
    "timestamp": (
        "t timestamp",
        [
            (dt.datetime(2021, 3, 28, 2, 30, 1, 5),),
            (dt.datetime(1960, 1, 1),),
            (dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc),),
            (None,),
        ],
    ),
    "decimal": (
        "m decimal(10,2)",
        [(Decimal("1.23"),), (Decimal("-99999999.99"),), (Decimal("7"),), (None,)],
    ),
    "array<int>": ("a array<int>", [([1, None, 3],), ([],), (None,)]),
    "boolean": ("f boolean", [(True,), (False,), (None,)]),
    "binary": ("b binary", [(b"\x00hll",), (None,)]),
    "mixed": (
        "piece string, prob double, tid int, cnt bigint",
        [("a", 0.25, 1, 7), ("b", 0.75, 2, None)],
    ),
}


def _same(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = rel.local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert [f.nullable for f in got.schema] == [f.nullable for f in want.schema]
    # repr: NaN != NaN, and -0.0 == 0.0, under ==
    assert repr(got.collect()) == repr(want.collect())
    return got


@pytest.mark.parametrize("case", list(CASES))
def test_local_frame_matches_the_row_path(spark, case):
    ddl, rows = CASES[case]
    _same(spark, rows, ddl)
    _same(spark, [], ddl)


def test_local_frame_awkward_names_struct_schema_and_rows(spark):
    names = ", ".join(f"`{c.replace('`', '``')}` bigint" for c in AWKWARD)
    _same(spark, [tuple(range(len(AWKWARD))), tuple([None] * len(AWKWARD))], names)

    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("v", StringType(), True),
            StructField("ks", ArrayType(IntegerType(), False), False),
            StructField("p", DoubleType(), False),
        ]
    )
    rows = [Row(k=1, v="a", ks=[1, 2], p=0.5), Row(k=2, v=None, ks=[], p=float("nan"))]
    got = _same(spark, rows, schema)
    assert [f.nullable for f in got.schema] == [False, True, False, False]
    _same(spark, [], schema)
    # a NULL in a non-nullable field is refused, as by the row path
    for build in (spark.createDataFrame, lambda r, s: rel.local_frame(spark, r, s)):
        with pytest.raises(ValueError, match="FIELD_NOT_NULLABLE"):
            build([Row(k=None, v="a", ks=[], p=1.0)], schema)


def test_local_frame_plans_a_local_relation(spark):
    df = rel.local_frame(spark, [(1, "a"), (2, "b")], "k bigint, v string")
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert qe.logical().getClass().getSimpleName() == "LocalRelation"
    # materialize recognizes it as already materialized
    assert rel.materialize(df, caller="test") is df


@pytest.fixture()
def local_tz(monkeypatch):
    """The process's local time zone set to one that is not UTC (and has
    a DST shift) for the test, restored afterwards."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    assert time.timezone != 0
    yield
    monkeypatch.undo()
    time.tzset()


def _dated(spark, n_keys=3, n=40):
    """(d DATE, t TIMESTAMP, s STRING key copy, o, v): rows spread over a
    few day keys around a DST change."""
    rows = []
    for i in range(n):
        k = i % n_keys
        shift = dt.timedelta(days=k)
        ts = dt.datetime(2021, 3, 13, 23, 30) + shift
        rows.append((dt.date(2021, 3, 13) + shift, ts, str(k), i, (i * 7) % 11))
    return spark.createDataFrame(rows, "d date, t timestamp, s string, o bigint, v bigint")


@pytest.mark.parametrize("key", ["d", "t"])
def test_keyed_prefix_sum_with_temporal_keys_off_utc(spark, local_tz, key):
    df = _dated(spark)
    got, totals = rel.exclusive_prefix_sum(df, "o", "v", keys=[key], with_totals=True)
    w = Window.partitionBy(key).orderBy("o").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn("_before", F.coalesce(F.sum("v").over(w), F.lit(0)))
    cols = ["d", "t", "s", "o", "v", "_before"]
    assert sorted(got.select(cols).collect()) == sorted(want.select(cols).collect())
    sums = {r[key]: r["tot"] for r in df.groupBy(key).agg(F.sum("v").alias("tot")).collect()}
    assert {kt[0]: v[0] for kt, v in totals.items()} == sums


@pytest.mark.parametrize("key", ["d", "t"])
def test_keyed_drift_panel_with_temporal_keys_off_utc(spark, local_tz, key):
    """A DATE- or TIMESTAMP-keyed panel equals the panel keyed on the
    same segments spelled as strings, whose local tables carry no
    temporal value."""
    df = _dated(spark).withColumn("x", F.col("v").cast("double"))
    a, b = df.where(F.col("o") % 2 == 0), df.where(F.col("o") % 2 == 1)
    seg = {r[key]: r["s"] for r in df.select(key, "s").distinct().collect()}
    got = {r[key]: r for r in dr.drift_panel(a, b, "x", keys=[key]).collect()}
    want = {r["s"]: r for r in dr.drift_panel(a, b, "x", keys=["s"]).collect()}
    assert len(got) == 3 and {seg[k] for k in got} == set(want)
    for k, r in got.items():
        w = want[seg[k]]
        for c in ("ks_d", "u_stat", "z_score", "cvm_t", "n_a", "n_b"):
            assert r[c] == w[c], (k, c)
        assert math.isclose(r["ad_a2"], w["ad_a2"], rel_tol=1e-12), k


def _local_frame_span():
    tree = ast.parse((PACKAGE / "operators" / "relational.py").read_text())
    (fn,) = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "local_frame"]
    return fn.lineno, fn.end_lineno


def test_no_table_from_python_rows_outside_local_frame():
    """Every driver-built table goes through ``local_frame``: the text
    ``createDataFrame(`` appears in the package only inside it."""
    lo, hi = _local_frame_span()
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "createDataFrame(" in line:
                found.append((path.relative_to(PACKAGE).as_posix(), no))
    inside = [(p, n) for p, n in found if p == "operators/relational.py" and lo <= n <= hi]
    assert len(inside) == 1
    assert found == inside, f"createDataFrame( outside local_frame: {found}"


def test_minhash_pairs_normalize_each_document_once(spark, tmp_path, counted_nfc):  # noqa: F811
    from dataquality_ml_spark.operators.dedup import minhash_dedup_pairs
    from tests.test_engine_facade import _corpus_rows

    path = str(tmp_path / "docs.parquet")
    rows = _corpus_rows()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(path)
    pairs = minhash_dedup_pairs(spark.read.parquet(path), threshold=0.5).collect()
    assert counted_nfc.value == len(rows)
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in pairs}


def test_corpus_curation_pipeline_passes_no_exchange_to_ensure_parallelism(
    spark, sf_dir, monkeypatch
):
    """The query hands ``ensure_parallelism`` only scans, narrow
    projections and checkpoints, and its rows equal the query built over
    the un-checkpointed join."""
    from dataquality_ml_spark import queries as q
    from dataquality_ml_spark.functions.scalar import pre_normalized
    from dataquality_ml_spark.operators import dedup as dd
    from dataquality_ml_spark.operators import text as tx

    seen = []
    real = rel.ensure_parallelism

    def spy(df, *args, **kwargs):
        seen.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(rel, "ensure_parallelism", spy)
    monkeypatch.setattr(tx, "ensure_parallelism", spy)
    got = q.queries()["corpus_curation_pipeline"](spark, sf_dir).collect()
    assert seen and not [p for p in seen if "Exchange" in p]
    monkeypatch.undo()

    with pre_normalized():
        docs = q._docs_nfc(spark, sf_dir)
        quality = tx.text_quality(docs).where(
            (F.col("n_tokens") >= 10) & (F.col("digit_ratio") <= 0.2)
        )
        kept = docs.select("doc_id", "text").join(quality.select("doc_id"), "doc_id")
        exact_keep = dd.dedup_exact(kept).select(F.col("keep_id").alias("doc_id"))
        near = dd.ngram_jaccard_pairs(
            kept.join(exact_keep, "doc_id"), k=5, threshold=0.8, on_hot_shingle="exact"
        ).select(F.col("id_b").alias("doc_id"))
        want = exact_keep.join(near, "doc_id", "left_anti").orderBy("doc_id").collect()
    assert got == want and got
