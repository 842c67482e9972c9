"""Write-path auto-compaction (the Delta autoCompact shape).

High-frequency ingest grows the live segment count one per commit —
the small-file problem. With ``auto_compact_segments=N`` the catalog
bin-packs the small-segment backlog in a follow-up commit whenever a
write pushes the live count past N, bounding read fan-in at the
source. Off by default (maintenance is opt-in; benchmarks measure the
raw write path).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pandabase_spark.io import KeyedCatalog


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )


@pytest.mark.full_tier
def test_auto_compact_bounds_live_segments(spark, tmp_path):
    cat = KeyedCatalog(
        spark, str(tmp_path / "wh"), default_buckets=4,
        auto_compact_segments=3,
    )
    cat.to_table(_batch(spark, 0, 10), "ac_t", keys=["k"])
    for i in range(1, 7):
        cat.to_table(
            _batch(spark, i * 10, i * 10 + 10), "ac_t", keys=["k"],
            how="append",
        )
        assert len(cat._manifest("ac_t")["segments"]) <= 4
    # backlog folded: well under one-per-write
    assert len(cat._manifest("ac_t")["segments"]) <= 3
    got = cat.read_table("ac_t")
    assert got.count() == 70
    assert got.agg(F.sum("v")).first()[0] == sum(i * 2.0 for i in range(70))
    # vacuum=False in the auto pass: pre-compact snapshots stay readable
    assert len(cat.history("ac_t")) >= 7


def test_auto_compact_off_by_default(spark, catalog):
    catalog.to_table(_batch(spark, 0, 10), "ac_off", keys=["k"])
    for i in range(1, 7):
        catalog.to_table(
            _batch(spark, i * 10, i * 10 + 10), "ac_off", keys=["k"],
            how="append",
        )
    assert len(catalog._manifest("ac_off")["segments"]) == 7


def test_auto_compact_through_upsert_and_merge(spark, tmp_path):
    cat = KeyedCatalog(
        spark, str(tmp_path / "wh"), default_buckets=4,
        auto_compact_segments=2,
    )
    cat.to_table(_batch(spark, 0, 20), "ac_m", keys=["k"])
    for i in range(1, 4):
        cat.to_table(
            _batch(spark, i * 20, i * 20 + 20), "ac_m", keys=["k"],
            how="upsert",
        )
    cat.merge_table(_batch(spark, 100, 120), "ac_m")
    assert len(cat._manifest("ac_m")["segments"]) <= 3
    assert cat.read_table("ac_m").count() == 100
