"""End-to-end keyed-table round trips: the reference's test_sql.py shape.

Covers the three write modes, key-range reads (single + composite),
schema evolution, coercion, auto-index, and error paths
(reference:tests/test_sql.py throughout; specific cites inline).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandabase_spark.compare import companda
from pandabase_spark.io import (
    AUTO_INDEX_NAME,
    IntegrityError,
    KeyedCatalog,
)


def test_create_and_read_roundtrip(catalog, simple_pdf):
    catalog.to_table(simple_pdf, "simple", how="create_only")
    back = catalog.read_pandas("simple")
    assert len(back) == len(simple_pdf)
    assert back.index.name == "pk"
    # reference convention: ints/bools return nullable Int64
    assert str(back["integer"].dtype) == "Int64"
    assert back["date"].dt.tz is not None
    np.testing.assert_allclose(
        back["float"].sort_index().to_numpy(), simple_pdf["float"].to_numpy()
    )


def test_create_only_refuses_overwrite(catalog, simple_pdf):
    catalog.to_table(simple_pdf, "t", how="create_only")
    with pytest.raises(NameError):
        catalog.to_table(simple_pdf, "t", how="create_only")


def test_append_then_conflict(catalog, simple_pdf):
    catalog.to_table(simple_pdf, "t", how="create_only")
    nxt = simple_pdf.copy()
    nxt.index = pd.RangeIndex(100, 200, name="pk")
    catalog.to_table(nxt, "t", how="append")
    assert catalog.read_table("t").count() == 200
    # overlapping keys → IntegrityError (reference:pandabase/sql.py:264-266)
    with pytest.raises(IntegrityError):
        catalog.to_table(nxt, "t", how="append")


def test_in_batch_duplicate_rejected(catalog, spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="duplicate"):
        catalog.to_table(df, "t", keys=["k"], how="create_only")


def test_upsert_updates_and_inserts(catalog, simple_pdf):
    catalog.to_table(simple_pdf, "t", how="create_only")
    up = simple_pdf.iloc[:10].copy()
    up["float"] = 99.0
    new = simple_pdf.iloc[:5].copy()
    new.index = pd.RangeIndex(100, 105, name="pk")
    catalog.to_table(pd.concat([up, new]), "t", how="upsert")
    back = catalog.read_pandas("t").sort_index()
    assert len(back) == 105
    assert (back.loc[:9, "float"] == 99.0).all()
    assert back.loc[50, "float"] == simple_pdf.loc[50, "float"]


def test_upsert_nan_overwrites_to_null(catalog, simple_pdf):
    """Incoming NaN must overwrite (reference:pandabase/sql.py:300,
    reference:tests/test_sql.py:503-530)."""
    catalog.to_table(simple_pdf, "t", how="create_only")
    up = simple_pdf.iloc[:3].copy()
    up["float"] = np.nan
    catalog.to_table(up, "t", how="upsert")
    back = catalog.read_pandas("t").sort_index()
    assert back.loc[:2, "float"].isna().all()
    assert back["float"].isna().sum() == 3


def test_upsert_missing_columns_preserved(catalog, simple_pdf):
    """Columns absent from the batch keep their table values
    (reference:tests/test_sql.py:533-560)."""
    catalog.to_table(simple_pdf, "t", how="create_only")
    up = simple_pdf.iloc[:3][["float"]].copy()
    up["float"] = -1.0
    catalog.to_table(up, "t", how="upsert")
    back = catalog.read_pandas("t").sort_index()
    assert (back.loc[:2, "float"] == -1.0).all()
    assert back.loc[2, "string"] == simple_pdf.loc[2, "string"]  # preserved


def test_range_read_single_key(catalog, simple_pdf):
    catalog.to_table(simple_pdf, "t", how="create_only")
    mid = catalog.read_pandas("t", lowest=10, highest=19)
    assert sorted(mid.index) == list(range(10, 20))
    lo_only = catalog.read_pandas("t", lowest=90)
    assert len(lo_only) == 10
    hi_only = catalog.read_pandas("t", highest=9)
    assert len(hi_only) == 10


def test_range_read_composite_key(catalog, spark):
    """Per-column independent bounds, NOT lexicographic
    (reference:tests/test_sql.py:197-219)."""
    rows = [(a, b, float(a * 10 + b)) for a in range(5) for b in range(5)]
    df = spark.createDataFrame(rows, "k1 long, k2 long, v double")
    catalog.to_table(df, "t", keys=["k1", "k2"], how="create_only")
    got = catalog.read_table("t", lowest=(1, 2), highest=(3, None))
    # k1 in [1,3] AND k2 >= 2 — conjunction of per-column bounds
    assert got.count() == 3 * 3
    assert got.agg(F.min("k2")).collect()[0][0] == 2


def test_range_read_bad_bound_shape(catalog, spark):
    rows = [(a, b, 0.0) for a in range(3) for b in range(3)]
    df = spark.createDataFrame(rows, "k1 long, k2 long, v double")
    catalog.to_table(df, "t", keys=["k1", "k2"], how="create_only")
    with pytest.raises(ValueError):
        catalog.read_table("t", lowest=(1,)).count()


def test_range_read_type_guard(catalog, simple_pdf):
    """Incompatible bound type → TypeError
    (reference:pandabase/sql.py:401-404)."""
    catalog.to_table(simple_pdf, "t", how="create_only")
    with pytest.raises(TypeError):
        catalog.read_table("t", lowest="not_an_int")


def test_auto_index_append_continues(catalog):
    """Auto-index keeps counting across appends
    (reference:tests/test_sql.py:824-843)."""
    df = pd.DataFrame({"v": [1.0, 2.0, 3.0]})
    catalog.to_table(df, "t", how="create_only", auto_index=True)
    catalog.to_table(df, "t", how="append", auto_index=True)
    back = catalog.read_pandas("t")
    assert len(back) == 6
    assert sorted(back.index) == list(range(6))


def test_upsert_on_auto_index_forbidden(catalog):
    df = pd.DataFrame({"v": [1.0]})
    catalog.to_table(df, "t", how="create_only", auto_index=True)
    with pytest.raises(IOError):
        catalog.to_table(df, "t", how="upsert", auto_index=True)


def test_schema_evolution(catalog, simple_pdf):
    """New column without flag → NameError; with flag → added
    (reference:pandabase/sql.py:180-197)."""
    catalog.to_table(simple_pdf, "t", how="create_only")
    up = simple_pdf.iloc[:3].copy()
    up["extra"] = [1.0, 2.0, 3.0]
    with pytest.raises(NameError):
        catalog.to_table(up, "t", how="upsert")
    catalog.to_table(up, "t", how="upsert", add_new_columns=True)
    back = catalog.read_pandas("t")
    assert "extra" in back.columns
    assert back["extra"].notna().sum() == 3


def test_coercion_int_to_float(catalog, spark):
    """Table is source of truth (reference:pandabase/sql.py:230-248)."""
    base = spark.createDataFrame([(1, 1.5), (2, 2.5)], "k long, v double")
    catalog.to_table(base, "t", keys=["k"], how="create_only")
    up = spark.createDataFrame([(3, 7)], "k long, v long")
    catalog.to_table(up, "t", keys=["k"], how="upsert")
    back = catalog.read_pandas("t")
    assert back.loc[3, "v"] == 7.0


def test_coercion_incompatible_raises(catalog, spark):
    base = spark.createDataFrame([(1, 1.5)], "k long, v double")
    catalog.to_table(base, "t", keys=["k"], how="create_only")
    up = spark.createDataFrame([(2, "oops")], "k long, v string")
    with pytest.raises(TypeError):
        catalog.to_table(up, "t", keys=["k"], how="upsert")


@pytest.mark.parametrize(
    "case, values, spark_type, generated, expect",
    [
        # {0,1} ints become boolean
        ("bool01", [0, 1, 1], "long", None, [("k", "bigint"), ("v", "boolean")]),
        # all-zero ints become double
        ("allzero", [0, 0, 0], "long", None, [("k", "bigint"), ("v", "double")]),
        # an all-null column carries no type: it is not created
        ("allnull", [None] * 3, "double", None, [("k", "bigint")]),
        # generated columns are computed after narrowing: v is boolean
        # by then, and boolean + int does not resolve
        ("generated", [0, 1, 1], "long", {"g": "v + 1"}, "AnalysisException"),
        # every value column of an empty batch is vacuously all-null
        ("empty", [], "double", None, [("k", "bigint")]),
        # under auto_index, dropping every column leaves the index only
        ("auto_empty", [], "double", None,
         [(AUTO_INDEX_NAME, "bigint")]),
        ("auto_allnull", [None] * 3, "double", None,
         [(AUTO_INDEX_NAME, "bigint")]),
    ],
)
def test_pandas_and_spark_creates_narrow_alike(
    catalog, spark, case, values, spark_type, generated, expect
):
    """The same rows create the same table whether they arrive as
    pandas (narrowed on the driver) or as a Spark frame (narrowed by
    the create's one batch aggregate): same schema and rows, or the
    same refusal."""
    auto = case.startswith("auto_")
    ks = list(range(1, len(values) + 1))
    pdf = pd.DataFrame(
        {
            "k": pd.array(ks, dtype="int64"),
            "v": pd.array(
                values,
                dtype="float64" if spark_type == "double" else "int64",
            ),
        }
    ).set_index("k")
    sdf = spark.createDataFrame(
        list(zip(ks, values)), f"k long, v {spark_type}"
    )

    def outcome(frame, name, **kw):
        try:
            catalog.to_table(frame, name, generated=generated, **kw)
        except Exception as e:
            return type(e).__name__
        return (
            [
                (f.name, f.dataType.simpleString())
                for f in catalog.meta(name).schema.fields
            ],
            sorted(tuple(r) for r in catalog.read_table(name).collect()),
        )

    if auto:
        got_pandas = outcome(pdf.reset_index(drop=True), f"p_{case}",
                             auto_index=True)
        got_spark = outcome(sdf.drop("k"), f"s_{case}", auto_index=True)
    else:
        got_pandas = outcome(pdf, f"p_{case}")
        got_spark = outcome(sdf, f"s_{case}", keys=["k"])
    assert got_pandas == got_spark
    assert (got_spark if isinstance(expect, str) else got_spark[0]) == expect


def test_catalog_utils(catalog, simple_pdf):
    catalog.to_table(simple_pdf, "t1", how="create_only")
    catalog.to_table(simple_pdf, "t2", how="create_only")
    assert catalog.table_names() == ["t1", "t2"]
    assert catalog.has_table("t1")
    assert "float" in catalog.column_names("t1")
    desc = {r["table_name"]: r for r in catalog.describe().collect()}
    assert desc["t1"]["count"] == 100
    assert desc["t1"]["min_pk"] == "0"
    assert desc["t1"]["max_pk"] == "99"
    catalog.drop_table("t2")
    assert catalog.table_names() == ["t1"]
    with pytest.raises(NameError):
        catalog.drop_table("nope")


def test_dirty_table_name_rejected(catalog, simple_pdf):
    with pytest.raises(NameError):
        catalog.to_table(simple_pdf, "Bad Name", how="create_only")


def test_bad_how_rejected(catalog, simple_pdf):
    with pytest.raises(ValueError):
        catalog.to_table(simple_pdf, "t", how="replace")


def test_unnamed_index_rejected(catalog):
    df = pd.DataFrame({"v": [1.0]})
    with pytest.raises(NameError):
        catalog.to_table(df, "t", how="create_only")


def test_nan_in_index_rejected(catalog):
    df = pd.DataFrame({"v": [1.0, 2.0]}, index=pd.Index([1.0, np.nan], name="k"))
    with pytest.raises(ValueError):
        catalog.to_table(df, "t", how="create_only")


def test_non_unique_index_rejected(catalog):
    df = pd.DataFrame({"v": [1.0, 2.0]}, index=pd.Index([1, 1], name="k"))
    with pytest.raises(ValueError):
        catalog.to_table(df, "t", how="create_only")


def test_companda_roundtrip_oracle(catalog, simple_pdf, spark):
    """The reference's own oracle pattern: write, read back, companda
    (reference:tests/test_sql.py:107-121)."""
    catalog.to_table(simple_pdf, "t", how="create_only")
    back = catalog.read_table("t")
    orig = catalog.spark.createDataFrame(
        simple_pdf.reset_index()
    ).withColumn("date", F.col("date").cast("timestamp"))
    res = companda(back, orig.select(*back.columns), keys=["pk"])
    assert res, res.message


def test_companda_check_dtype(spark):
    """check_dtype truth table (reference:tests/test_companda.py:99-106
    test_same_companda_alter_dtype: same values, different dtype →
    equal by default, unequal with check_dtype=True)."""
    a = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["k", "v"])
    b = a.withColumn("v", F.col("v").cast("int"))
    assert companda(a, b, keys=["k"]), "values equal within epsilon"
    res = companda(a, b, keys=["k"], check_dtype=True)
    assert not res
    assert "datatypes not equal" in res.message
    assert res.columns_equal  # dtype failure is NOT a column-set failure
    # matching dtypes still pass under check_dtype
    assert companda(a, a, keys=["k"], check_dtype=True)
    # columns_equal is False only for column-set mismatches
    assert not companda(a.drop("v"), b, keys=["k"]).columns_equal


def test_companda_ignore_index(spark):
    """ignore_index truth table (reference:pandabase/companda.py:94:
    index values are not compared; rows align positionally after the
    index sort)."""
    a = spark.createDataFrame([(1, "x", 1.0), (2, "y", 2.0)], ["k", "s", "v"])
    # same value columns in key-sorted order, entirely different keys
    b = spark.createDataFrame([(10, "x", 1.0), (20, "y", 2.0)], ["k", "s", "v"])
    assert not companda(a, b, keys=["k"]), "key-aligned mode sees disjoint keys"
    assert companda(a, b, keys=["k"], ignore_index=True)
    # a genuine value difference still fails positionally
    c = spark.createDataFrame([(10, "x", 1.0), (20, "z", 2.0)], ["k", "s", "v"])
    res = companda(a, c, keys=["k"], ignore_index=True)
    assert not res
    # row-count mismatch short-circuits
    d = spark.createDataFrame([(10, "x", 1.0)], ["k", "s", "v"])
    assert not companda(a, d, keys=["k"], ignore_index=True)
    # epsilon still applies in positional mode
    e = spark.createDataFrame([(7, "x", 1.0005), (8, "y", 2.0)], ["k", "s", "v"])
    assert companda(a, e, keys=["k"], ignore_index=True)
