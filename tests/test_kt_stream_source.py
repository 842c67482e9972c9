"""Keyed table as a Structured Streaming source (kt_stream.py).

Unit-level: offset arithmetic, leaf-diff append-only guard, column
mapping, exactly-once leaf emission. End-to-end: readStream → memory
sink over a live table receiving appends.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
import pytest

from pandabase_spark.sources.kt_stream import (
    KeyedTableStreamSource,
    _KTStreamReader,
    stream_read_table,
)


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )


def _reader(catalog, table, **opts):
    o = {str(k): str(v) for k, v in opts.items()}
    return _KTStreamReader(catalog._path(table), o)


def test_offsets_track_manifest_versions(spark, catalog):
    catalog.to_table(_batch(spark, 0, 10), "st_a", keys=["k"])
    r = _reader(catalog, "st_a")
    assert r.initialOffset() == {"version": 0}
    assert r.latestOffset() == {"version": 1}
    catalog.to_table(_batch(spark, 10, 20), "st_a", keys=["k"], how="append")
    assert r.latestOffset() == {"version": 2}
    # the offset follows the claims, not the hint: a commit whose hint
    # write never happened is offered to the stream at once
    from pandabase_spark.io import LOG_FILE

    hint = f"{catalog._path('st_a')}/{LOG_FILE}"
    saved = catalog.fs.read_text(hint)
    catalog.to_table(_batch(spark, 20, 30), "st_a", keys=["k"], how="append")
    catalog.fs.write_text_atomic(hint, saved)
    assert r.latestOffset() == {"version": 3}


def _drain(reader, start, end):
    rows = []
    for p in reader.partitions({"version": start}, {"version": end}):
        rows.extend(reader.read(p))
    return rows


def test_each_append_emits_exactly_its_new_rows(spark, catalog):
    catalog.to_table(_batch(spark, 0, 10), "st_b", keys=["k"])
    catalog.to_table(_batch(spark, 10, 25), "st_b", keys=["k"], how="append")
    r = _reader(catalog, "st_b")
    first = _drain(r, 0, 1)
    second = _drain(r, 1, 2)
    assert sorted(k for k, _ in first) == list(range(10))
    assert sorted(k for k, _ in second) == list(range(10, 25))
    assert all(v == k * 2.0 for k, v in first + second)
    # the full range replays everything exactly once
    assert sorted(k for k, _ in _drain(r, 0, 2)) == list(range(25))


def test_non_append_history_raises_unless_ignored(spark, catalog):
    catalog.to_table(_batch(spark, 0, 20), "st_c", keys=["k"])
    catalog.to_table(_batch(spark, 10, 30), "st_c", keys=["k"], how="upsert")
    r = _reader(catalog, "st_c")
    with pytest.raises(ValueError, match="append-only"):
        r.partitions({"version": 1}, {"version": 2})
    # DV deletes are changes too
    catalog.to_table(_batch(spark, 0, 20), "st_d", keys=["k"])
    catalog.delete_rows("st_d", "k = 3", strategy="dv")
    rd = _reader(catalog, "st_d")
    with pytest.raises(ValueError, match="append-only"):
        rd.partitions({"version": 1}, {"version": 2})
    # ignore_changes streams the new segments anyway — at-least-once:
    # the upsert's rewrite segment carries survivors of the touched
    # buckets too, so rewritten rows may re-emit (documented; Delta's
    # ignoreChanges has exactly this contract)
    ri = _reader(catalog, "st_c", ignore_changes="true")
    rows = _drain(ri, 1, 2)
    ks = {k for k, _ in rows}
    assert ks >= set(range(10, 30))
    assert all(v == k * 2.0 for k, v in rows)


def test_metadata_only_commits_pass_and_columns_map(spark, catalog):
    catalog.to_table(_batch(spark, 0, 10), "st_e", keys=["k"])
    catalog.rename_column("st_e", "v", "val")
    catalog.to_table(
        spark.range(10, 15).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("val")
        ),
        "st_e", keys=["k"], how="append",
    )
    r = _reader(catalog, "st_e")
    rows = _drain(r, 0, 3)
    assert sorted(k for k, _ in rows) == list(range(15))
    # pre-rename segments surface under the CURRENT logical name
    assert {v for _, v in rows} == {k * 2.0 for k in range(15)}


def test_end_to_end_readstream_into_memory_sink(spark, catalog, tmp_path):
    catalog.to_table(_batch(spark, 0, 30), "st_f", keys=["k"])
    sdf = stream_read_table(catalog, "st_f")
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory")
        .queryName("st_f_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        def _count():
            return spark.sql("SELECT count(*) n FROM st_f_sink").first().n

        deadline = time.time() + 120
        while _count() < 30 and time.time() < deadline:
            time.sleep(1)
        assert _count() == 30
        catalog.to_table(
            _batch(spark, 30, 40), "st_f", keys=["k"], how="append"
        )
        deadline = time.time() + 120
        while _count() < 40 and time.time() < deadline:
            time.sleep(1)
        assert _count() == 40
        got = spark.sql(
            "SELECT sum(v) s FROM st_f_sink"
        ).first().s
        assert got == sum(k * 2.0 for k in range(40))
    finally:
        q.stop()


def test_commit_events_mode_emits_metadata_rows(spark, catalog):
    """commits=true: one (v, op, ts_us, n_segments) row per commit —
    metadata-bound however large the table — and rewrites/DML are
    first-class (no append-only guard)."""
    from pandabase_spark.sources.kt_stream import _CommitEventsReader

    catalog.to_table(_batch(spark, 0, 10), "st_ev", keys=["k"])
    catalog.to_table(_batch(spark, 0, 5), "st_ev", keys=["k"], how="upsert")
    catalog.delete_rows("st_ev", "k = 1")
    r = _CommitEventsReader(catalog._path("st_ev"), {})
    assert r.latestOffset() == {"version": 3}
    rows = []
    for p in r.partitions({"version": 0}, {"version": 3}):
        rows.extend(r.read(p))
    assert [x[0] for x in rows] == [1, 2, 3]
    assert [x[1] for x in rows] == ["create", "upsert", "delete_dv"]
    assert all(isinstance(x[2], int) for x in rows)


def test_stream_replicate_incremental_and_replay_safe(spark, catalog, tmp_path):
    """CDC replication: two availableNow cycles over one checkpoint
    build the replica from two INCREMENTAL diffs (offset persisted);
    a third cycle with nothing new is a no-op; the replica equals the
    source after upserts, appends, and deletes."""
    from pandabase_spark.streaming import stream_replicate

    def drain(q):
        q.awaitTermination(120)

    ck = str(tmp_path / "ckpt")
    catalog.to_table(_batch(spark, 0, 20), "cdc_s", keys=["k"])
    catalog.to_table(
        _batch(spark, 0, 5).withColumn("v", F.col("v") + 100),
        "cdc_s", keys=["k"], how="upsert",
    )
    drain(stream_replicate(catalog, "cdc_s", "cdc_r", checkpoint=ck))
    got1 = {r.k: r.v for r in catalog.read_table("cdc_r").collect()}
    assert got1 == {k: (k * 2.0 + 100 if k < 5 else k * 2.0) for k in range(20)}

    # more commits, second cycle resumes from the checkpointed offset
    catalog.to_table(_batch(spark, 20, 30), "cdc_s", keys=["k"], how="append")
    catalog.delete_rows("cdc_s", "k % 7 = 0 AND k >= 5")
    drain(stream_replicate(catalog, "cdc_s", "cdc_r", checkpoint=ck))
    want = {r.k: r.v for r in catalog.read_table("cdc_s").collect()}
    got2 = {r.k: r.v for r in catalog.read_table("cdc_r").collect()}
    assert got2 == want

    # nothing new: a third cycle must change nothing (and the replica's
    # txn watermark makes even a replayed batch a no-op)
    v_before = catalog._manifest("cdc_r")["v"]
    drain(stream_replicate(catalog, "cdc_s", "cdc_r", checkpoint=ck))
    got3 = {r.k: r.v for r in catalog.read_table("cdc_r").collect()}
    assert got3 == want
    assert catalog._manifest("cdc_r")["v"] == v_before


def test_stream_incremental_agg_maintains_view(spark, catalog, tmp_path):
    """Materialized-view maintenance from the CDC feed: the view
    equals a from-scratch GROUP BY after updates, inserts, and a
    delete that empties one group (its row deletes); a replayed cycle
    with nothing new is a no-op (txn watermark)."""
    from pandabase_spark.streaming import stream_incremental_agg

    def drain(q):
        q.awaitTermination(120)

    src = spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(12)], ["k", "g", "x"]
    )
    catalog.to_table(src, "ivm_s", keys=["k"])
    ck = str(tmp_path / "ck")
    kw = dict(group_col="g", value_col="x", checkpoint=ck)
    drain(stream_incremental_agg(catalog, "ivm_s", "ivm_v", **kw))

    def view():
        return {
            r.g: (r.agg_sum, r.n_rows)
            for r in catalog.read_table("ivm_v").collect()
        }

    def expect():
        rows = catalog.read_table("ivm_s").collect()
        out = {}
        for r in rows:
            s, n = out.get(r.g, (0.0, 0))
            out[r.g] = (s + r.x, n + 1)
        return out

    assert view() == expect()
    # update + insert, then a delete that empties group g=2 entirely
    catalog.to_table(
        spark.createDataFrame([(0, 0, 100.0), (50, 1, 7.0)], ["k", "g", "x"]),
        "ivm_s", keys=["k"], how="upsert",
    )
    catalog.delete_rows("ivm_s", "g = 2")
    drain(stream_incremental_agg(catalog, "ivm_s", "ivm_v", **kw))
    got = view()
    assert got == expect()
    assert 2 not in got  # emptied group's row deleted, not zeroed
    # nothing new: no-op cycle, view version unchanged
    v = catalog._manifest("ivm_v")["v"]
    drain(stream_incremental_agg(catalog, "ivm_s", "ivm_v", **kw))
    assert catalog._manifest("ivm_v")["v"] == v and view() == expect()
