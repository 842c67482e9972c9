"""Round-15 advisory fixes — focused regression pins.

Each test pins one of the five r14 ADVICE items:
1. word-mode shingles emit NO rows for NULL-text docs (the
   sequence/greatest explode used to emit one (id, NULL) shingle, so
   every NULL-text doc minhashed to the same signature);
2. ``narrowing_aggs_grouped``'s level-2 merges coalesce to the
   empty-batch identity (SUM over zero groups is NULL, not 0), so a
   Spark-frame create drops all-null columns on a zero-row batch
   exactly like a pandas create, whose columns are typed on the
   driver;
3. a create computes generated columns AFTER narrowing, whether the
   batch is a Spark frame or pandas, so an expression over a column
   narrowing drops or re-types resolves (or fails) the same way for
   both;
4. ``_probe_type`` returns None for mixed-type probe values so the
   local-frame fast path defers to classic createDataFrame inference
   (which merges [1, 2.5] to double) instead of pinning LongType and
   raising;
5. standalone ``pq_codebooks`` trains on the same hash-ordered sample
   prefix as ``write_ivfpq_index``'s shared collect, so the persisted
   codebooks equal the standalone ones by construction.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_null_text_docs_emit_no_word_shingles(spark):
    from pandabase_spark.operators.dedup import _shingle_rows

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, ""), (4, "x y")],
        "id long, text string",
    )
    rows = sorted(
        (r["id"], r["sh"])
        for r in _shingle_rows(df, "id", "text", "word", 3).collect()
    )
    # doc 2 (NULL text): zero rows; doc 3 (empty text): one empty
    # shingle (split('') = ['']); doc 4: one partial shingle
    assert rows == [(1, "a b c"), (1, "b c d"), (3, ""), (4, "x y")]


def test_null_text_docs_are_not_near_duplicates(spark):
    from pandabase_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "totally unrelated words here"),
         (4, "completely different content again")],
        "id long, text string",
    )
    pairs = minhash_lsh_pairs(df, "id", "text").collect()
    ids_in_pairs = {r["id_1"] for r in pairs} | {r["id_2"] for r in pairs}
    assert 1 not in ids_in_pairs and 2 not in ids_in_pairs


def test_grouped_narrowing_empty_batch_identity(spark):
    from pandabase_spark.types import (
        apply_narrowing, narrowing_aggs_grouped,
    )

    e = spark.createDataFrame([], "k long, v long, s string")
    l1, l2, nc, ac = narrowing_aggs_grouped(e, ["k"])
    grouped = e.groupBy("k").agg(F.count(F.lit(1)).alias("__c"), *l1)
    stats = grouped.agg(F.sum("__c").alias("n"), *l2).first().asDict()
    assert stats["__cnt_v"] == 0 and stats["__cnt_s"] == 0
    assert stats["__nb_v"] == 0
    # the all-null drop decision fires exactly like the unfolded path
    assert apply_narrowing(e, stats, nc, ac).columns == ["k"]


def test_empty_create_drops_allnull_columns_on_folded_path(catalog, spark):
    """Zero-row Spark-frame create (narrowing rides the create's
    two-level probe): every value column of an empty batch is
    vacuously all-null/typeless, so the created schema keeps only the
    keys — the same decision the single-level aggregate makes (its
    COUNT over an empty ungrouped agg is 0, not NULL)."""
    sdf = spark.createDataFrame([], "k long, v double, s string")
    catalog.to_table(sdf, "t_spark_empty", keys=["k"])
    s1 = [f.name for f in catalog.meta("t_spark_empty").schema.fields]
    assert s1 == ["k"]


def test_generated_referencing_narrowing_candidate_matches_unfolded(
    catalog, spark
):
    """A generated column referencing an all-null (narrowing-dropped)
    value column must behave identically whether the input arrives as
    a Spark frame (narrowed by the create's probe) or pandas
    (narrowed on the driver)."""
    sdf = spark.createDataFrame(
        [(1, None), (2, None)], "k long, v double"
    )
    pdf = pd.DataFrame(
        {"k": pd.array([1, 2], dtype="Int64"),
         "v": pd.array([None, None], dtype="float64")}
    ).set_index("k")
    res = {}
    for name, frame in (("spark", sdf), ("pandas", pdf)):
        try:
            catalog.to_table(
                frame, f"t_gen_{name}", keys=["k"],
                generated={"g": "v + 1"},
            )
            res[name] = sorted(
                [f.name for f in catalog.meta(f"t_gen_{name}").schema.fields]
            )
        except Exception:
            res[name] = "rejected"
    # both must make the same decision: the all-null referenced
    # column is dropped first, so the generated expression cannot
    # resolve (a create that computed generated columns before
    # narrowing would succeed on the Spark frame alone)
    assert res["spark"] == res["pandas"] == "rejected"


def test_probe_type_mixed_values_take_classic_path(spark):
    from pandabase_spark.operators.sketches import _probe_type

    assert _probe_type([1, 2.5]) is None
    assert _probe_type([1, True]) is None
    assert _probe_type([None, None]) is None
    from pyspark.sql import types as T

    assert _probe_type([None, 3]) == T.LongType()
    assert _probe_type([0.5]) == T.DoubleType()
    assert _probe_type(["a", "b"]) == T.StringType()


def test_mixed_probe_rows_defer_to_classic_inference(spark):
    """Whatever classic createDataFrame inference decides for mixed
    int/float rows (on this Spark version: CANNOT_MERGE_TYPE) is the
    contract the probe-frame fast path must reproduce — _probe_type
    returning None routes mixed lists to exactly that path instead of
    pinning the first value's type and failing differently."""
    import pytest as _pytest

    rows = [(1, 10), (2.5, 20)]
    with _pytest.raises(Exception, match="CANNOT_MERGE_TYPE"):
        spark.createDataFrame(rows, ["v", "est_count"])


def test_standalone_pq_codebooks_matches_shared_training(spark, tmp_path):
    """Parity by construction: write_ivfpq_index trains both artifacts
    from ONE collect of the longer hash-ordered prefix (256 × n_cells
    rows here) and the codebooks read its first 256 × n_codes rows, so
    the persisted codebooks equal standalone pq_codebooks exactly. The
    sample is larger than the codebook cap, so the slice matters."""
    import numpy as np

    from pandabase_spark.operators.similarity import (
        _load_index, pq_codebooks, write_ivfpq_index,
    )

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)])
         for i in range(1500)],
        "vec_id long, embedding array<double>",
    )
    standalone = pq_codebooks(emb, m=4, k=2, iters=2, sample_mod=2)
    path = str(tmp_path / "ix")
    write_ivfpq_index(
        emb, path, n_cells=4, m=4, n_codes=2, iters=2, sample_mod=2
    )
    assert standalone == _load_index(spark, path)["codebooks"]
