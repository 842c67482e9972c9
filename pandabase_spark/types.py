"""Type inference, narrowing, and coercion.

Re-expresses the reference's pandas↔SQLAlchemy type bridge
(reference:pandabase/helpers.py:16-32,84-172) as a pandas/Arrow↔Spark
bridge with the same five logical value types — boolean, integer, float,
datetime(UTC), string — all nullable except key columns
(reference:README.md:45-51, reference:pandabase/helpers.py:264-267).

Distinctive semantic rules preserved (SURVEY.md §1.2):

1. UTC-only datetimes: naive or non-UTC input rejected with ValueError
   (reference:pandabase/sql.py:98-100,130-136).
2. Boolean narrowing: a numeric/object column whose non-null values are a
   subset of {0, 1} AND that contains both a truthy and a falsy value is
   stored as boolean; never applied to key columns
   (reference:pandabase/helpers.py:35-64).
3. All-zero integer columns are stored as double "for added safety"
   (reference:pandabase/helpers.py:105-115).
4. All-NaN columns carry no type — skipped on create, no-op on insert
   (reference:pandabase/helpers.py:95-96, reference:pandabase/sql.py:159-160).
5. Coercion against an existing table (the table is the source of truth,
   reference:README.md:61): int↔float and bool↔int/float incoming columns
   are cast to the table type; a datetime-vs-other mismatch is passed
   through (reference TODO, reference:pandabase/sql.py:223-229); anything
   else raises TypeError (reference:pandabase/sql.py:250-254).

Where the rules run: pandas input is narrowed on the driver
(:func:`infer_schema_pandas`). A keyed write of a Spark frame narrows
inside the one batch aggregate it already runs (io.py): a create folds
:func:`narrowing_aggs_grouped` into its key-validation probe, a write to
an existing table folds :func:`narrowing_aggs` of its new columns into
its batch probe, and both hand the collected row to
:func:`apply_narrowing`. :func:`narrow_spark_schema` is the standalone
form, one aggregation of its own, for the file readers' ``narrow=True``.

Scale note: the narrowing stats are min/max/invalid-count/non-null-count
per candidate column, computed for every column at once (map-side
partial aggregation; no collect of data, only of the 1-row aggregate),
so inference costs no extra scan regardless of column count.
"""

from __future__ import annotations

from typing import Iterable, Mapping, Sequence

import pandas as pd
import numpy as np
from pandas.api.types import (
    is_bool_dtype,
    is_datetime64_any_dtype,
    is_float_dtype,
    is_integer_dtype,
)
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

# Reference cap: ≤253 columns (reference:pandabase/helpers.py:225-226).
# An SQLite-era limit; configurable here, kept as the default for parity.
MAX_COLUMNS = 253

# The five logical value types (reference:README.md:45-51)
LOGICAL_TO_SPARK: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "integer": T.LongType(),
    "float": T.DoubleType(),
    "datetime": T.TimestampType(),
    "string": T.StringType(),
}

_NUMERIC_SPARK = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def spark_to_logical(dt: T.DataType) -> str:
    """Map an arbitrary Spark type onto the engine's logical types.

    Beyond the reference's five scalar types, the extension surface adds
    ``array`` (e.g. ``array<float>`` embedding columns) and ``binary``
    (multimodal payloads) so those tables flow through the keyed-table
    API; they are storage-transparent (parquet round-trips them) but can
    never be key columns and are exempt from narrowing.
    """
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, _NUMERIC_SPARK):
        return "integer"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "datetime"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, (T.MapType, T.StructType)):
        return "nested"
    raise TypeError(f"unsupported Spark type for keyed table: {dt}")


def series_is_boolean(col: pd.Series) -> bool | None:
    """Boolean-narrowing detector (reference:pandabase/helpers.py:35-64).

    Returns None for all-NaN columns (no type), True when the non-null
    values are a subset of {0, 1, True, False} with BOTH truthy and falsy
    present, else False. 20-case behavior table:
    reference:tests/test_helpers.py:34-61.
    """
    if col.isna().all():
        return None
    if is_datetime64_any_dtype(col):
        return False
    values = col.dropna().unique()
    truthy = falsy = False
    for v in values:
        if isinstance(v, str):
            return False
        try:
            if v == 0:
                falsy = True
            elif v == 1:
                truthy = True
            else:
                return False
        except (TypeError, ValueError):
            return False
    return truthy and falsy


def _series_logical_type(col: pd.Series, is_key: bool) -> str | None:
    """Infer the logical type of one pandas Series (write-side rules).

    Mirrors reference:pandabase/helpers.py:84-121 (_get_type_from_df_col):
    narrowing never applies to keys (reference:pandabase/helpers.py:99-102).
    A zero-row key column is typed from its dtype, as a zero-row Spark
    key column keeps its declared type.
    """
    if col.isna().all() and not (is_key and col.empty):
        return None
    if not is_key and series_is_boolean(col):
        return "boolean"
    if is_bool_dtype(col):
        return "boolean"
    if is_integer_dtype(col):
        nonnull = col.dropna()
        # all-zero ints → float "for added safety"
        # (reference:pandabase/helpers.py:105-115); never for keys
        if not is_key and len(nonnull) and (nonnull == 0).all():
            return "float"
        return "integer"
    if is_float_dtype(col):
        return "float"
    if is_datetime64_any_dtype(col):
        return "datetime"
    return "string"


def check_utc(col: pd.Series, name: str) -> None:
    """Reject naive / non-UTC datetimes (reference:pandabase/sql.py:130-136)."""
    if is_datetime64_any_dtype(col):
        tz = getattr(col.dtype, "tz", None)
        if tz is None or str(tz) not in ("UTC", "utc", "UTC+00:00"):
            raise ValueError(
                f"Column {name} is a datetime but not UTC-localized; "
                f"localize with .tz_localize('UTC') or .tz_convert('UTC')"
            )


def infer_schema_pandas(
    df: pd.DataFrame,
    keys: Sequence[str],
    auto_index: bool,
    target_schema: T.StructType | None = None,
) -> tuple[T.StructType, list[str]]:
    """pandas DataFrame (+ index-as-key convention) → Spark schema + key list.

    The reference derives keys from the (Multi)Index
    (reference:pandabase/helpers.py:199-261 make_clean_columns_dict); here
    the caller has already normalized keys to a column-name list (io.py
    handles index extraction). All-NaN columns are typed None → dropped
    by the caller. Enforces the column-count cap
    (reference:pandabase/helpers.py:225-226).
    """
    from pandabase_spark.names import clean_name

    if len(df.columns) > MAX_COLUMNS:
        raise ValueError(
            f"DataFrame has more than {MAX_COLUMNS} columns; raise "
            f"pandabase_spark.types.MAX_COLUMNS to lift this parity guard"
        )
    fields: list[T.StructField] = []
    keyset = set(keys)
    for name in df.columns:
        cleaned = clean_name(name)
        is_key = cleaned in keyset or name in keyset
        col = df[name]
        check_utc(col, cleaned)
        logical = _series_logical_type(col, is_key=is_key)
        if logical is None:
            if is_key:
                raise ValueError(f"Key column {cleaned} is entirely null")
            # all-NaN column: no type → skipped on create
            # (reference:pandabase/sql.py:159-160). Against an EXISTING
            # table the reference upsert writes NULLs
            # (reference:pandabase/sql.py:300,313-318), so borrow the
            # table's type when one is known.
            if target_schema is not None and cleaned in target_schema.names:
                fields.append(
                    T.StructField(
                        cleaned, target_schema[cleaned].dataType, nullable=True
                    )
                )
            continue
        fields.append(
            T.StructField(cleaned, LOGICAL_TO_SPARK[logical], nullable=not is_key)
        )
    return T.StructType(fields), list(keys)


def narrowing_aggs(
    df: DataFrame, keys: Sequence[str]
) -> "tuple[list, list[str], list[str]]":
    """The aggregate expressions behind the narrowing rules for every
    non-key column of ``df``, exposed so a caller that already runs a
    full-batch aggregation (a keyed write's batch probe, io.py) can
    FOLD them into its own pass instead of paying a second batch scan.
    Only ``df``'s schema is read: the expressions name columns, so
    ``df`` may be a projection of the frame they are evaluated on.
    Returns ``(agg_exprs, numeric_cols, candidate_cols)`` — feed the
    collected row to :func:`apply_narrowing`."""
    keyset = set(keys)
    aggs = []
    numeric_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in keyset
        and isinstance(f.dataType, _NUMERIC_SPARK + (T.FloatType, T.DoubleType))
    ]
    all_cols = [f.name for f in df.schema.fields if f.name not in keyset]
    for c in numeric_cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
        aggs.append(
            F.sum(((F.col(c) != 0) & (F.col(c) != 1)).cast("int")).alias(f"__nb_{c}")
        )
    for c in all_cols:
        aggs.append(F.count(F.col(c)).alias(f"__cnt_{c}"))
    return aggs, numeric_cols, all_cols


def narrowing_aggs_grouped(
    df: DataFrame, keys: Sequence[str]
) -> "tuple[list, list, list[str], list[str]]":
    """:func:`narrowing_aggs` split into an algebraic two-level form
    for a caller whose batch is ALREADY clustered by a key-derived
    column: every create's key-validation probe over its
    bucket-partitioned cache (io.py), whatever the input (Spark,
    pandas or auto-index). Level one computes the same
    min/max/non-boolean/non-null aggregates per key group — no
    exchange, the partitioning already satisfies the grouping — and
    level two merges the per-group rows (min of mins, max of maxes,
    sums) into the exact row :func:`apply_narrowing` expects.
    Returns ``(level1, level2, numeric_cols, candidate_cols)``.
    """
    keyset = set(keys)
    numeric_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in keyset
        and isinstance(f.dataType, _NUMERIC_SPARK + (T.FloatType, T.DoubleType))
    ]
    all_cols = [f.name for f in df.schema.fields if f.name not in keyset]
    level1: list = []
    level2: list = []
    for c in numeric_cols:
        level1.append(F.min(c).alias(f"__min_{c}"))
        level1.append(F.max(c).alias(f"__max_{c}"))
        level1.append(
            F.sum(((F.col(c) != 0) & (F.col(c) != 1)).cast("int")).alias(
                f"__nb_{c}"
            )
        )
        level2.append(F.min(f"__min_{c}").alias(f"__min_{c}"))
        level2.append(F.max(f"__max_{c}").alias(f"__max_{c}"))
        # SUM over zero level-1 rows (an empty batch produces zero key
        # groups) is NULL, not 0 — coalesce to the empty-batch identity
        # so apply_narrowing's `== 0` decisions fire exactly as they do
        # for the single-level form (without this an empty Spark create
        # kept every value column while an empty pandas create, typed
        # on the driver, dropped them)
        level2.append(
            F.coalesce(F.sum(f"__nb_{c}"), F.lit(0)).alias(f"__nb_{c}")
        )
    for c in all_cols:
        level1.append(F.count(F.col(c)).alias(f"__cnt_{c}"))
        level2.append(
            F.coalesce(F.sum(f"__cnt_{c}"), F.lit(0)).alias(f"__cnt_{c}")
        )
    return level1, level2, numeric_cols, all_cols


def apply_narrowing(
    df: DataFrame,
    stats: "dict",
    numeric_cols: Sequence[str],
    all_cols: Sequence[str],
) -> DataFrame:
    """Apply the narrowing decisions from a collected
    :func:`narrowing_aggs` row: (a) every non-null value ∈ {0,1} with
    both present → cast BooleanType, (b) integer column all zeros →
    cast DoubleType, (c) all-null → drop."""
    out = df
    for c in all_cols:
        if stats[f"__cnt_{c}"] == 0:
            out = out.drop(c)  # all-null: no type
    for c in numeric_cols:
        if stats[f"__cnt_{c}"] == 0:
            continue
        lo, hi, nb = stats[f"__min_{c}"], stats[f"__max_{c}"], stats[f"__nb_{c}"]
        if nb == 0 and lo == 0 and hi == 1:
            out = out.withColumn(c, F.col(c).cast("boolean"))
        elif (
            isinstance(df.schema[c].dataType, _NUMERIC_SPARK)
            and lo == 0
            and hi == 0
        ):
            out = out.withColumn(c, F.col(c).cast("double"))
    return out


def narrow_spark_schema(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Apply the narrowing rules to a Spark DataFrame in ONE aggregation.

    Distributed analogue of the pandas-side inference: computes, per
    candidate column, (a) whether every non-null value ∈ {0,1} with both
    present → cast BooleanType, (b) for integer columns, whether all
    values are 0 → cast DoubleType, (c) whether the column is all-null →
    drop. One scan, map-side combine, 1-row result on the driver.
    """
    aggs, numeric_cols, all_cols = narrowing_aggs(df, keys)
    if not aggs:
        return df
    stats = df.agg(*aggs).collect()[0].asDict()
    return apply_narrowing(df, stats, numeric_cols, all_cols)


def coercion_class(have: T.DataType, want: T.DataType) -> str:
    """Classify a (incoming, table) type pair under the coercion rules:
    ``"same"`` (no cast), ``"cast"`` (silent cast), ``"datetime"``
    (deliberate-deviation cast, see coerce_to_table_schema), or
    ``"reject"`` (coerce raises TypeError — including types
    spark_to_logical doesn't map, e.g. NullType). Shared by
    :func:`coerce_to_table_schema` and the keyed write path, which
    holds a rejected column back from the pre-probe cast (an all-null
    one is dropped by the probe, a narrowed one may still cast), so
    'would coercion succeed' is decided from schemas alone without
    duplicating the rules."""
    if have == want:
        return "same"
    try:
        have_l, want_l = spark_to_logical(have), spark_to_logical(want)
    except TypeError:
        return "reject"
    ok = (
        (have_l, want_l) in {("integer", "float"), ("float", "integer")}
        or (have_l == "boolean" and want_l in ("integer", "float"))
        or (want_l == "boolean" and have_l in ("integer", "float"))
        or (have_l == want_l)  # e.g. int32 → int64
    )
    if ok:
        return "cast"
    if "datetime" in (have_l, want_l):
        return "datetime"
    return "reject"


def coerce_to_table_schema(
    incoming: DataFrame, table_schema: T.StructType, keys: Sequence[str]
) -> DataFrame:
    """Cast incoming columns to the existing table's types (table wins).

    int↔float and bool↔int/float are cast silently
    (reference:pandabase/sql.py:230-248); datetime-vs-other passes through
    unchanged (reference TODO at pandabase/sql.py:223-229); any other
    mismatch raises TypeError (reference:pandabase/sql.py:250-254).
    Purely a projection — Catalyst folds the casts into the write plan.
    """
    table_types = {f.name: f.dataType for f in table_schema.fields}
    exprs = []
    for f in incoming.schema.fields:
        if f.name not in table_types:
            exprs.append(F.col(f.name))
            continue
        want = table_types[f.name]
        have = f.dataType
        klass = coercion_class(have, want)
        if klass == "same":
            exprs.append(F.col(f.name))
            continue
        if klass == "cast":
            exprs.append(F.col(f.name).cast(want).alias(f.name))
        elif klass == "datetime":
            # deliberate deviation: the reference silently passes a
            # datetime-vs-other mismatch through (its own TODO,
            # reference:pandabase/sql.py:223-229) and lets the database
            # cope; here a passed-through column would write segment
            # files that contradict the table schema and poison reads,
            # so we CAST instead (ANSI mode surfaces unparseable values
            # as a runtime error rather than silent nulls)
            exprs.append(F.col(f.name).cast(want).alias(f.name))
        else:
            raise TypeError(
                f"Column {f.name}: incoming type {have.simpleString()} is not "
                f"coercible to table type {want.simpleString()}"
            )
    return incoming.select(*exprs)


def pandas_to_spark(
    spark,
    pdf: pd.DataFrame,
    keys: Sequence[str],
    target_schema: T.StructType | None = None,
) -> DataFrame:
    """Convert pandas→Spark applying the engine's inference rules.

    Index/MultiIndex handling happens in io.py; this expects keys to be
    ordinary columns already. Arrow path is enabled in session.py.
    """
    schema, _ = infer_schema_pandas(
        pdf, keys, auto_index=False, target_schema=target_schema
    )
    if not schema.fields:
        # every column was dropped (no rows, or all NaN): PySpark cannot
        # build a frame from zero pandas columns, so keep the row count
        return spark.range(len(pdf)).select()
    inferred = {f.name for f in schema.fields}
    use = pdf.reset_index(drop=True)
    use = use[[c for c in use.columns if c in inferred or c in keys]]
    # cast pandas side to match inferred logical types (nullable-safe)
    for f in schema.fields:
        col = use[f.name]
        if isinstance(f.dataType, T.BooleanType) and not is_bool_dtype(col):
            use[f.name] = col.astype("boolean")  # pandas nullable boolean
        elif isinstance(f.dataType, T.LongType) and not is_integer_dtype(col):
            use[f.name] = col.astype("Int64")
        elif isinstance(f.dataType, T.DoubleType) and not is_float_dtype(col):
            use[f.name] = col.astype("float64")
        elif isinstance(f.dataType, T.TimestampType):
            use[f.name] = pd.to_datetime(col, utc=True)
    return spark.createDataFrame(use, schema=schema)


def stat_json(v):
    """JSON form of a min/max stat value: the one rule keyed-table
    manifests and Delta file stats share. None means "no stat" (a
    reader never skips on it).

    - Datetimes and dates become ISO strings, whose lexicographic
      order is their temporal order. An aware datetime first becomes
      naive local wall time (what ``collect()`` returns for a
      timestamp), so an aware bound compares as the same instant.
    - Decimals become floats. ``Decimal -> float`` is monotone: two
      decimals may tie as floats but never swap order, so a skip test
      (a strict inequality) never drops a matching leaf.
    - Non-finite floats are dropped (not valid JSON; Delta omits them).
    - Other numbers, strings and booleans stay; anything else becomes
      its ``str``."""
    import datetime
    import decimal
    import math

    if v is None:
        return None
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone().replace(tzinfo=None)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (int, float, str, bool)):
        return v
    return str(v)
