"""table_detail (DESCRIBE DETAIL shape) and vacuum dry-run."""

from __future__ import annotations

import pyspark.sql.functions as F


def _mk(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )


def test_table_detail_metadata_facts(spark, catalog):
    catalog.to_table(
        _mk(spark), "dt_t", keys=["k"], num_buckets=4,
        stats_columns=["v"], constraints={"v_pos": "v >= 0"},
    )
    catalog.to_table(_mk(spark).where("k < 5"), "dt_t", keys=["k"],
                     how="upsert")
    d = catalog.table_detail("dt_t")
    assert d["name"] == "dt_t" and d["format"] == "parquet"
    assert d["version"] == 2 and d["last_operation"] == "upsert"
    assert d["keys"] == ["k"] and d["num_buckets"] == 4
    # the upsert replaced its touched buckets — if the 5-key batch hit
    # all 4 buckets the create segment is fully superseded
    assert d["n_segments"] in (1, 2)
    assert 4 <= d["n_leaves"] <= 8
    assert d["size_bytes"] > 0
    assert d["stats_columns"] == ["v"]
    assert d["constraints"] == ["v_pos"]
    assert d["n_live_dvs"] == 0
    assert d["manifest_bytes"] > 0
    # the live segments' skipping files; the version file lists
    # segments only
    from pandabase_spark.io import SKIP_FILE

    man = catalog._manifest("dt_t")
    assert d["skip_sidecar_bytes"] == sum(
        len(catalog.fs.read_text(f"{catalog._path('dt_t')}/{s}/{SKIP_FILE}"))
        for s in man["segments"]
    ) > 0
    assert d["manifest_bytes"] < 2048
    assert d["generated"] == {}
    catalog.delete_rows("dt_t", "k = 1", strategy="dv")
    assert catalog.table_detail("dt_t")["n_live_dvs"] == 1


def test_vacuum_dry_run_previews_without_deleting(spark, catalog):
    catalog.to_table(_mk(spark), "dt_v", keys=["k"])
    catalog.to_table(_mk(spark), "dt_v", keys=["k"], how="upsert")
    preview = catalog.vacuum("dt_v", dry_run=True)
    assert preview  # the superseded create segment is reclaimable
    # nothing deleted: time travel still works, files still on disk
    assert catalog.read_table("dt_v", version=1).count() == 40
    gone = catalog.vacuum("dt_v")
    assert sorted(gone) == sorted(preview)
    # now the history really is truncated
    import pytest

    with pytest.raises(NameError):
        catalog.read_table("dt_v", version=1).count()
