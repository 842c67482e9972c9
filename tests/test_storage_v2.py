"""Storage v2 (segment + manifest commit log) guarantees.

The property under test: a writer crash at ANY point before the
manifest rename leaves the table readable at its previous state —
the reference gets this from DB transactions
(reference:pandabase/sql.py:261,320); v1's in-place dynamic partition
overwrite could not provide it.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandabase_spark.io import KeyedCatalog, LOG_FILE, META_FILE


def _mk(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )


def test_upsert_is_snapshot_atomic(spark, catalog):
    """Simulated mid-upsert crash: new segment written but manifest not
    committed → readers still see the old state; vacuum removes the
    orphan; a re-run upsert then succeeds."""
    from pandabase_spark.io import LOG_DIR

    catalog.to_table(_mk(spark), "t", keys=["k"])
    before = catalog.read_table("t").agg(F.sum("v")).collect()[0][0]
    man_path = f"{catalog._path('t')}/{LOG_FILE}"
    saved_manifest = catalog.fs.read_text(man_path)

    # do a real upsert, then roll BOTH commit artifacts back (the
    # version-file claim is the commit, so a pre-commit crash means
    # segment written, NO claim file, old hint)
    patch = spark.range(50).select(
        F.col("id").alias("k"), F.lit(999.0).alias("v")
    )
    catalog.to_table(patch, "t", keys=["k"], how="upsert")
    catalog.fs.delete(
        f"{catalog._path('t')}/{LOG_DIR}/0000000002.json",
        recursive=False,
    )
    catalog.fs.write_text_atomic(man_path, saved_manifest)

    # old snapshot fully intact
    after_crash = catalog.read_table("t").agg(F.sum("v")).collect()[0][0]
    assert after_crash == before
    assert catalog.read_table("t").count() == 200

    # the orphan segment is vacuumable garbage — but only an OFFLINE
    # vacuum (orphan_age_s=0) may take it: with no claim file it is
    # indistinguishable from an in-flight writer's staged segment, so
    # the default concurrent-safe age gate protects it first
    assert catalog.vacuum("t") == []
    orphans = catalog.vacuum("t", orphan_age_s=0.0)
    assert len(orphans) == 1
    assert catalog.read_table("t").agg(F.sum("v")).collect()[0][0] == before

    # and the upsert applies cleanly afterwards
    catalog.to_table(patch, "t", keys=["k"], how="upsert")
    got = dict(catalog.read_table("t").select("k", "v").collect())
    assert got[10] == 999.0 and got[100] == 200.0


def test_upsert_keeps_old_segments_immutable(spark, catalog):
    """Upsert never rewrites or deletes existing files — only the
    manifest changes ownership (tombstoned segments stay on disk until
    vacuum)."""
    catalog.to_table(_mk(spark), "t2", keys=["k"])
    segs_before = {
        d for d in catalog.fs.list_dirs(catalog._path("t2")) if d.startswith("seg-")
    }
    patch = spark.range(10).select(F.col("id").alias("k"), F.lit(0.0).alias("v"))
    catalog.to_table(patch, "t2", keys=["k"], how="upsert")
    segs_after = {
        d for d in catalog.fs.list_dirs(catalog._path("t2")) if d.startswith("seg-")
    }
    assert segs_before <= segs_after  # nothing deleted
    man = json.loads(catalog.fs.read_text(f"{catalog._path('t2')}/{LOG_FILE}"))
    # manifest bucket sets are disjoint across segments (each bucket has
    # exactly one owner)
    owned = [b for bs in man["segments"].values() for b in bs]
    assert len(owned) == len(set(owned))


def test_append_only_adds_segments(spark, catalog):
    catalog.to_table(_mk(spark, 100), "t3", keys=["k"])
    man1 = json.loads(catalog.fs.read_text(f"{catalog._path('t3')}/{LOG_FILE}"))
    more = spark.range(100, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    catalog.to_table(more, "t3", keys=["k"], how="append")
    man2 = json.loads(catalog.fs.read_text(f"{catalog._path('t3')}/{LOG_FILE}"))
    assert set(man1["segments"]) <= set(man2["segments"])
    assert man2["v"] == man1["v"] + 1
    assert catalog.read_table("t3").count() == 200


def test_file_uri_warehouse(spark, tmp_path):
    """An explicit file:// URI warehouse works end-to-end (all catalog
    I/O goes through the Hadoop FileSystem API, no os.path)."""
    cat = KeyedCatalog(spark, f"file://{tmp_path}/wh_uri", default_buckets=4)
    pdf = pd.DataFrame({"v": [1.0, 2.0, 3.0]}, index=pd.RangeIndex(3, name="k"))
    cat.to_table(pdf, "uri_t")
    assert cat.table_names() == ["uri_t"]
    assert cat.read_table("uri_t").count() == 3
    cat.to_table(
        pd.DataFrame({"v": [9.0]}, index=pd.Index([1], name="k")),
        "uri_t", how="upsert",
    )
    vals = dict(cat.read_table("uri_t").collect())
    assert vals[1] == 9.0
    cat.drop_table("uri_t")
    assert cat.table_names() == []


def test_point_lookup_prunes_paths(spark, catalog):
    """lowest == highest with no None slots reads one bucket's paths."""
    catalog.to_table(_mk(spark, 1000), "t4", keys=["k"], num_buckets=8)
    df = catalog.read_table("t4", lowest=42, highest=42)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["v"] == 84.0
    files = {r[0] for r in df.select(F.input_file_name()).collect()}
    dirs = {f.rsplit("/", 1)[0] for f in files}
    assert len(dirs) == 1  # one (segment, bucket) leaf only


def test_compact_merges_segments(spark, catalog):
    """Many upserts → many segments; compact() folds them into one with
    identical data and vacuums the tombstones."""
    catalog.to_table(_mk(spark, 300), "tc", keys=["k"])
    for i in range(4):
        patch = spark.range(i * 20, i * 20 + 20).select(
            F.col("id").alias("k"), F.lit(float(i)).alias("v")
        )
        catalog.to_table(patch, "tc", keys=["k"], how="upsert")
    before = catalog.read_table("tc").orderBy("k").collect()
    n_segs = len(catalog._manifest("tc")["segments"])
    assert n_segs >= 2

    replaced = catalog.compact("tc")
    assert replaced == n_segs
    man = catalog._manifest("tc")
    assert len(man["segments"]) == 1
    after = catalog.read_table("tc").orderBy("k").collect()
    assert after == before
    # tombstoned segment dirs were vacuumed
    seg_dirs = [
        d for d in catalog.fs.list_dirs(catalog._path("tc")) if d.startswith("seg-")
    ]
    assert seg_dirs == list(man["segments"])


def test_schema_evolution_null_fills_old_segments(spark, catalog):
    catalog.to_table(_mk(spark, 50), "t5", keys=["k"])
    widened = spark.range(50, 60).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        F.lit("new").alias("tag"),
    )
    catalog.to_table(widened, "t5", keys=["k"], how="append", add_new_columns=True)
    back = catalog.read_table("t5")
    assert set(back.columns) == {"k", "v", "tag"}
    assert back.where(F.col("tag").isNull()).count() == 50
    assert back.where(F.col("tag") == "new").count() == 10
    assert catalog.column_names("t5") == ["k", "v", "tag"]


def test_time_travel_read(spark, catalog):
    """read_table(version=N) returns snapshot N exactly: v1 = create,
    v2 = upsert; both concurrently readable after the upsert."""
    catalog.to_table(_mk(spark), "tt", keys=["k"])
    patch = spark.range(50).select(
        F.col("id").alias("k"), F.lit(999.0).alias("v")
    )
    catalog.to_table(patch, "tt", keys=["k"], how="upsert")

    v1 = catalog.read_table("tt", version=1)
    v2 = catalog.read_table("tt", version=2)
    cur = catalog.read_table("tt")
    assert v1.where(F.col("v") == 999.0).count() == 0
    assert v2.where(F.col("v") == 999.0).count() == 50
    assert cur.exceptAll(v2).count() == 0 and v2.exceptAll(cur).count() == 0
    assert v1.count() == v2.count() == 200

    hist = catalog.history("tt")
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[-1]["current"] and not hist[0]["current"]


def test_time_travel_append_history_survives_vacuum(spark, catalog):
    """Appends add segments without tombstoning any — vacuum deletes
    nothing, so append-only history stays fully readable."""
    catalog.to_table(_mk(spark), "ta", keys=["k"])
    extra = spark.range(200, 300).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    catalog.to_table(extra, "ta", keys=["k"], how="append")
    assert catalog.vacuum("ta") == []
    assert catalog.read_table("ta", version=1).count() == 200
    assert catalog.read_table("ta", version=2).count() == 300


def test_vacuum_truncates_upsert_history(spark, catalog):
    """After an upsert tombstones buckets, vacuum deletes the replaced
    segment paths and prunes the now-unreadable snapshot; the current
    snapshot still reads clean and the stale version raises."""
    catalog.to_table(_mk(spark), "tv", keys=["k"])
    patch = spark.range(200).select(
        F.col("id").alias("k"), F.lit(7.0).alias("v")
    )
    catalog.to_table(patch, "tv", keys=["k"], how="upsert")
    assert catalog.vacuum("tv")  # upsert of every key tombstones seg-0
    assert catalog.read_table("tv").where(F.col("v") == 7.0).count() == 200
    versions = [h["version"] for h in catalog.history("tv")]
    assert versions == [2]
    with pytest.raises(NameError, match="snapshot"):
        catalog.read_table("tv", version=1).count()


def test_table_changes_same_version_empty(spark, catalog):
    catalog.to_table(_mk(spark), "tc", keys=["k"])
    patch = spark.range(10).select(
        F.col("id").alias("k"), F.lit(5.0).alias("v")
    )
    catalog.to_table(patch, "tc", keys=["k"], how="upsert")
    assert catalog.table_changes("tc", 2, 2).count() == 0
    ch = catalog.table_changes("tc", 1, 2)
    assert ch.count() == 10
    assert {r["_change_type"] for r in ch.collect()} == {"update"}


def test_snapshot_history_replays_write_sequence(spark, catalog):
    """Randomized (seeded) write sequence: after create + 3 upsert
    batches, read_table(version=k) must equal the reference state after
    the first k batches — the invariant time travel rests on."""
    import random

    rng = random.Random(20260813)
    state: dict[int, float] = {k: float(k) for k in range(100)}
    catalog.to_table(
        spark.createDataFrame(
            [(k, v) for k, v in state.items()], ["k", "v"]
        ),
        "hist", keys=["k"],
    )
    expected = [dict(state)]
    for _ in range(3):
        batch = {
            rng.randrange(0, 150): rng.random() * 100 for _ in range(30)
        }
        state.update(batch)
        catalog.to_table(
            spark.createDataFrame(
                [(k, v) for k, v in batch.items()], ["k", "v"]
            ),
            "hist", keys=["k"], how="upsert",
        )
        expected.append(dict(state))
    for ver, want in enumerate(expected, start=1):
        got = {
            r["k"]: r["v"]
            for r in catalog.read_table("hist", version=ver).collect()
        }
        assert got == want, f"version {ver} diverged"


def test_incremental_agg_equals_full_recompute(spark, catalog):
    """The CDC-driven incremental rollup must equal recomputing the
    aggregate from the final snapshot — the IVM correctness contract."""
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [(i, i % 3, float(10 * i)) for i in range(1, 31)],
        ["k", "grp", "val"],
    )
    catalog.to_table(src, "ivm_t", keys=["k"])
    base = catalog.read_table("ivm_t").groupBy("grp").agg(
        F.sum("val").alias("bal"), F.count(F.lit(1)).alias("n")
    )
    patch = src.where(F.col("k") % 5 == 0).withColumn(
        "val", F.col("val") + 1.0
    )
    ins = src.where(F.col("k") % 7 == 0).withColumn("k", F.col("k") + 1000)
    catalog.to_table(
        patch.unionByName(ins), "ivm_t", keys=["k"], how="upsert"
    )
    ch = catalog.table_changes("ivm_t", 1, 2)
    post = ch.where(F.col("_change_type").isin("insert", "update"))
    pre = catalog.read_table("ivm_t", version=1).join(
        ch.select("k"), on="k", how="left_semi"
    )
    post_d = post.groupBy("grp").agg(
        F.sum("val").alias("pb"),
        F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(0)).alias(
            "ni"
        ),
    )
    pre_d = pre.groupBy("grp").agg(F.sum("val").alias("qb"))
    incr = (
        base.join(pre_d, "grp", "full_outer")
        .join(post_d, "grp", "full_outer")
        .fillna(0, ["bal", "n", "qb", "pb", "ni"])
        .select(
            "grp",
            (F.col("bal") - F.col("qb") + F.col("pb")).alias("bal"),
            (F.col("n") + F.col("ni")).alias("n"),
        )
    )
    full = catalog.read_table("ivm_t").groupBy("grp").agg(
        F.sum("val").alias("bal"), F.count(F.lit(1)).alias("n")
    )
    got = {r["grp"]: (r["bal"], r["n"]) for r in incr.collect()}
    want = {r["grp"]: (r["bal"], r["n"]) for r in full.collect()}
    assert got == want


def test_shallow_clone_is_zero_copy_and_isolated(spark, catalog):
    """CLONE semantics: metadata-only fork (no data files written),
    reads equal the source, writes to the clone never touch the
    source, and compact() materializes the clone so vacuuming the
    source can no longer break it."""
    catalog.to_table(_mk(spark), "src", keys=["k"])
    src_files = set(catalog.fs.list_dirs(catalog._path("src")))

    catalog.clone_table("src", "fork")
    # zero-copy: no seg- directory materialized under the clone
    fork_dirs = set(catalog.fs.list_dirs(catalog._path("fork")))
    assert not any(d.startswith("seg-") for d in fork_dirs)
    assert (
        sorted(catalog.read_table("fork").collect())
        == sorted(catalog.read_table("src").collect())
    )

    # divergence: upsert the clone; source is bit-identical untouched
    patch = spark.range(20).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("v")
    )
    catalog.to_table(patch, "fork", keys=["k"], how="upsert")
    assert set(catalog.fs.list_dirs(catalog._path("src"))) == src_files
    src_sum = catalog.read_table("src").agg(F.sum("v")).collect()[0][0]
    fork_sum = catalog.read_table("fork").agg(F.sum("v")).collect()[0][0]
    assert fork_sum == src_sum - sum(2.0 * k for k in range(20)) - 20.0

    # materialize, then destroy the source: the clone must survive
    catalog.compact("fork")
    catalog.drop_table("src")
    assert catalog.read_table("fork").count() == 200
    assert (
        catalog.read_table("fork").agg(F.sum("v")).collect()[0][0]
        == fork_sum
    )


def test_clone_of_version_and_of_clone(spark, catalog):
    """Time-travel clones fork a historical snapshot; cloning a clone
    re-points at the original segments (no indirection chains)."""
    catalog.to_table(_mk(spark), "vt", keys=["k"])
    patch = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")
    )
    catalog.to_table(patch, "vt", keys=["k"], how="upsert")

    catalog.clone_table("vt", "vt_v1", version=1)
    assert catalog.read_table("vt_v1").agg(F.sum("v")).collect()[0][0] == (
        sum(2.0 * k for k in range(200))
    )

    catalog.clone_table("vt_v1", "vt_v1b")
    man = catalog._manifest("vt_v1b")
    # every reference points at the ORIGINAL table's segments
    assert all(seg.startswith("vt/") for seg in man["segments"])
    assert (
        sorted(catalog.read_table("vt_v1b").collect())
        == sorted(catalog.read_table("vt_v1").collect())
    )


def test_commit_detects_completed_concurrent_writer(spark, catalog):
    """A commit based on a stale snapshot must raise
    ConcurrentWriteError once another writer's commit COMPLETED —
    never silently overwrite the log (lost update)."""
    import pytest as _pytest

    from pandabase_spark.io import ConcurrentWriteError

    df = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    catalog.to_table(df, "occ_t", keys=["k"])                    # v1
    catalog.to_table(
        df.withColumn("k", F.col("k") + 100), "occ_t",
        keys=["k"], how="append",
    )                                                            # v2
    with _pytest.raises(ConcurrentWriteError, match="v2"):
        catalog._commit("occ_t", {"seg-bogus": [0]}, v=1)        # stale base
    # the losing commit must not have clobbered the current snapshot
    assert catalog._manifest("occ_t")["v"] == 2
    assert catalog.read_table("occ_t").count() == 20


def test_crashed_writer_claim_rolls_forward(spark, catalog):
    """A writer that crashed after its claim but before writing the
    hint has COMMITTED (the claim is the commit): readers see the
    version at once, and a stale writer's claim on the same slot loses
    without touching it. The loser's retry from the head lands on
    top."""
    from pandabase_spark.io import ConcurrentWriteError, LOG_FILE, LOG_DIR

    df = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    catalog.to_table(df, "occ_o", keys=["k"])                    # v1
    # simulate the crash: commit v2 for real, then roll ONLY the hint
    # back (claim file stays — the crashed state)
    cur_path = f"{catalog._path('occ_o')}/{LOG_FILE}"
    saved = catalog.fs.read_text(cur_path)
    catalog.to_table(
        df.withColumn("k", F.col("k") + 100), "occ_o",
        keys=["k"], how="append",
    )                                                            # v2
    catalog.fs.write_text_atomic(cur_path, saved)
    v2_path = f"{catalog._path('occ_o')}/{LOG_DIR}/0000000002.json"
    v2_doc = catalog.fs.read_text(v2_path)

    # readers resolve the head past the stale hint
    assert catalog._manifest("occ_o")["v"] == 2
    assert catalog.read_table("occ_o").count() == 20

    # a writer pinned to v1 loses the v2 claim and leaves it intact
    import pytest as _pytest

    man_v1 = catalog._manifest("occ_o", version=1)
    with _pytest.raises(ConcurrentWriteError, match="table is at v2"):
        catalog._commit("occ_o", dict(man_v1["segments"]), v=1)
    assert catalog.fs.read_text(v2_path) == v2_doc
    assert catalog.fs.read_text(cur_path) == saved
    assert catalog.read_table("occ_o").count() == 20
    # the loser's retry from the head lands cleanly
    catalog.to_table(
        df.withColumn("k", F.col("k") + 200), "occ_o",
        keys=["k"], how="append",
    )
    assert catalog.read_table("occ_o").count() == 30


def test_occ_smoke_two_threads(spark, tmp_path):
    """Default-tier OCC smoke: two writers on one table, each through
    its own catalog and thread. Their first commits are held at a
    barrier so both plan against v1 and race for the v2 claim — one
    must lose with ConcurrentWriteError, re-plan and retry; the final
    table holds every row both writers committed."""
    import threading

    from pandabase_spark.io import ConcurrentWriteError

    wh = str(tmp_path / "smoke_wh")
    KeyedCatalog(spark, wh, default_buckets=2).to_table(
        spark.createDataFrame([(0, 0.0)], "k bigint, v double"),
        "smoke", keys=["k"],
    )
    barrier = threading.Barrier(2)
    conflicts: list[int] = []
    errors: list[Exception] = []

    def writer(w: int) -> None:
        cat = KeyedCatalog(spark, wh, default_buckets=2)
        commit = cat._commit
        gate = [True]

        def gated(*args, **kwargs):
            if gate[0]:
                gate[0] = False
                barrier.wait(timeout=300)
            return commit(*args, **kwargs)

        cat._commit = gated
        keys = [1000 * w + i for i in range(5)]
        batches = [
            ("append", [(k, float(w)) for k in keys]),
            ("upsert", [(k, float(k)) for k in keys[:2]]),
        ]
        try:
            for how, rows in batches:
                while True:
                    try:
                        cat.to_table(
                            spark.createDataFrame(rows, "k bigint, v double"),
                            "smoke", keys=["k"], how=how,
                        )
                        break
                    except ConcurrentWriteError:
                        conflicts.append(w)
        except Exception as ex:  # surfaced by the main thread
            errors.append(ex)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "a writer hung"
    assert not errors, errors
    assert conflicts, "both writers claimed without a conflict"
    model = {0: 0.0}
    for w in (1, 2):
        keys = [1000 * w + i for i in range(5)]
        model.update({k: float(w) for k in keys})
        model.update({k: float(k) for k in keys[:2]})
    got = {
        r["k"]: r["v"]
        for r in KeyedCatalog(spark, wh).read_table("smoke").collect()
    }
    assert got == model


def test_write_text_if_absent_put_semantics(spark, catalog):
    p = f"{catalog.warehouse}/_occ_probe.json"
    assert catalog.fs.write_text_if_absent(p, "a") is True
    assert catalog.fs.write_text_if_absent(p, "b") is False
    assert catalog.fs.read_text(p) == "a"


def test_stale_claim_after_vacuum_cannot_roll_back(spark, catalog):
    """Vacuum prunes old version files by overwriting them with stubs,
    never by deleting them, so a stale writer's put-if-absent claim on
    an already-used version loses against the stub — it can neither
    roll the table back nor reappear in the history."""
    import pytest as _pytest

    from pandabase_spark import kt_log
    from pandabase_spark.io import LOG_DIR, ConcurrentWriteError

    df = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    catalog.to_table(df, "occ_v", keys=["k"])                      # v1
    catalog.to_table(
        df.withColumn("v", F.lit(2)), "occ_v", keys=["k"], how="upsert"
    )                                                              # v2
    catalog.to_table(
        df.withColumn("v", F.lit(3)), "occ_v", keys=["k"], how="upsert"
    )                                                              # v3
    catalog.vacuum("occ_v")
    v2_file = f"{catalog._path('occ_v')}/{LOG_DIR}/0000000002.json"
    # precondition: vacuum pruned v2 — its slot now holds a stub
    assert kt_log.is_stub(json.loads(catalog.fs.read_text(v2_file)))
    with _pytest.raises(ConcurrentWriteError, match="v3"):
        catalog._commit("occ_v", {"seg-stale": [0]}, v=1)
    assert kt_log.is_stub(json.loads(catalog.fs.read_text(v2_file)))
    assert catalog._manifest("occ_v")["v"] == 3
    assert [h["version"] for h in catalog.history("occ_v")] == [3]
    with _pytest.raises(NameError, match="truncated by vacuum"):
        catalog.read_table("occ_v", version=2)
    assert catalog.read_table("occ_v").agg(F.max("v")).first()[0] == 3


def test_dml_rewrite_detects_rival_commit_instead_of_absorbing(
    spark, catalog, monkeypatch
):
    """delete_rows plans its rewrite from one manifest snapshot; if a
    rival commit lands between planning and publish, the put-if-absent
    claim must trip ConcurrentWriteError — re-reading a fresher
    manifest at commit time would silently absorb the rival's commit
    while dropping its rows from the rewritten buckets."""
    import pytest as _pytest

    from pandabase_spark.io import ConcurrentWriteError, KeyedCatalog

    df = spark.range(20).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    catalog.to_table(df, "dml_race", keys=["k"])                   # v1

    orig = KeyedCatalog._write_segment
    fired = {}

    def hooked(self, rows, table_name, m, **kw):
        seg = orig(self, rows, table_name, m, **kw)
        if table_name == "dml_race" and not fired.get("x"):
            fired["x"] = True
            # rival writer: append new keys, completing a commit in
            # the window between the rewrite and the publish
            self.to_table(
                df.withColumn("k", F.col("k") + 1000),
                "dml_race", keys=["k"], how="append",
            )
        return seg

    monkeypatch.setattr(KeyedCatalog, "_write_segment", hooked)
    with _pytest.raises(ConcurrentWriteError):
        catalog.delete_rows("dml_race", "k < 5", strategy="rewrite")
    # the rival's commit survived intact; nothing was lost
    assert catalog._manifest("dml_race")["v"] == 2
    assert catalog.read_table("dml_race").count() == 40
    # retried on the fresh snapshot, the delete works and keeps the
    # rival's rows
    monkeypatch.setattr(KeyedCatalog, "_write_segment", orig)
    assert (
        catalog.delete_rows("dml_race", "k < 5", strategy="rewrite") == 5
    )
    assert catalog.read_table("dml_race").count() == 35


def test_incremental_compact_merges_only_small_segments(spark, catalog):
    """target_bytes compaction: the small-file backlog merges into one
    segment while the full-sized base segment is left untouched —
    bounded-IO maintenance, and the table's content is unchanged."""
    big = spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    catalog.to_table(big, "inc_c", keys=["k"])
    base_seg = set(catalog._manifest("inc_c")["segments"])
    for i in range(3):
        patch = spark.range(50).select(
            (F.col("id") + 100_000 + i * 1000).alias("k"),
            F.lit(-1).alias("v"),
        )
        catalog.to_table(patch, "inc_c", keys=["k"], how="append")
    assert len(catalog._manifest("inc_c")["segments"]) == 4
    big_bytes = catalog.fs.du(
        f"{catalog._path('inc_c')}/{next(iter(base_seg))}"
    )
    replaced = catalog.compact("inc_c", target_bytes=big_bytes)
    assert replaced == 3
    man = catalog._manifest("inc_c")
    assert len(man["segments"]) == 2 and base_seg <= set(man["segments"])
    assert catalog.read_table("inc_c").count() == 20_000 + 150
    # idempotent: nothing small left to merge
    assert catalog.compact("inc_c", target_bytes=big_bytes) == 0
    # and the unbounded form still collapses everything to one
    assert catalog.compact("inc_c") == 2
    assert len(catalog._manifest("inc_c")["segments"]) == 1
    assert catalog.read_table("inc_c").count() == 20_000 + 150


def test_delete_rows_null_predicate_keeps_rows(spark, catalog):
    """SQL DELETE semantics: a NULL-valued predicate keeps the row;
    bucket pruning leaves untouched segments alone; time travel still
    reads the pre-delete snapshot."""
    pdf = pd.DataFrame(
        {"k": [1, 2, 3, 4], "v": [10.0, -5.0, None, -1.0]}
    )
    catalog.to_table(spark.createDataFrame(pdf), "del_t", keys=["k"])
    n = catalog.delete_rows("del_t", "v < 0")
    assert n == 2
    left = {
        r["k"]: r["v"] for r in catalog.read_table("del_t").collect()
    }
    assert set(left) == {1, 3}          # NULL predicate row survived
    assert left[3] is None
    # pre-delete snapshot intact
    assert catalog.read_table("del_t", version=1).count() == 4
    # no matches -> version unchanged, nothing rewritten
    v = catalog._manifest("del_t")["v"]
    assert catalog.delete_rows("del_t", "v > 1e9") == 0
    assert catalog._manifest("del_t")["v"] == v


def test_update_rows_guards_and_semantics(spark, catalog):
    import pytest as _pytest

    pdf = pd.DataFrame({"k": [1, 2, 3], "v": [1.0, -2.0, None]})
    catalog.to_table(spark.createDataFrame(pdf), "upd_t", keys=["k"])
    with _pytest.raises(NameError, match="key columns"):
        catalog.update_rows("upd_t", "v < 0", {"k": "0"})
    with _pytest.raises(NameError, match="unknown"):
        catalog.update_rows("upd_t", "v < 0", {"nope": "0"})
    n = catalog.update_rows("upd_t", "v < 0", {"v": "v * 10"})
    assert n == 1
    got = {r["k"]: r["v"] for r in catalog.read_table("upd_t").collect()}
    assert got[1] == 1.0 and got[2] == -20.0 and got[3] is None


def test_check_constraints_enforced_on_every_write_path(spark, catalog):
    """CHECK constraints: declared at create, validated on create/
    append/upsert/update (NULL = violation, Delta's rule); violating
    batches raise IntegrityError BEFORE anything commits;
    add_constraint validates existing data first."""
    import pytest as _pytest

    from pandabase_spark.io import IntegrityError

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, 1.0, "b")], "k LONG, v DOUBLE, s STRING"
    )
    # violating create never materializes the table
    with _pytest.raises(IntegrityError, match="v_pos"):
        catalog.to_table(
            df.withColumn("v", F.lit(-1.0)), "ck_t", keys=["k"],
            constraints={"v_pos": "v > 0"},
        )
    assert not catalog.has_table("ck_t")
    catalog.to_table(df, "ck_t", keys=["k"], constraints={"v_pos": "v > 0"})
    # append: NULL v violates (must be TRUE)
    bad = spark.createDataFrame([(3, None, "c")], "k LONG, v DOUBLE, s STRING")
    with _pytest.raises(IntegrityError, match="1 row"):
        catalog.to_table(bad, "ck_t", keys=["k"], how="append")
    # upsert violation
    with _pytest.raises(IntegrityError):
        catalog.to_table(
            df.withColumn("v", F.lit(0.0)), "ck_t", keys=["k"], how="upsert"
        )
    # update violation rolls back (count unchanged, values intact)
    with _pytest.raises(IntegrityError):
        catalog.update_rows("ck_t", "k = 1", {"v": "-9.0"})
    got = {r["k"]: r["v"] for r in catalog.read_table("ck_t").collect()}
    assert got == {1: 5.0, 2: 1.0}
    # add_constraint validates existing data
    with _pytest.raises(IntegrityError):
        catalog.add_constraint("ck_t", "v_big", "v > 2")
    catalog.add_constraint("ck_t", "s_nonempty", "length(s) > 0")
    with _pytest.raises(IntegrityError, match="s_nonempty"):
        catalog.to_table(
            spark.createDataFrame([(9, 1.0, "")], "k LONG, v DOUBLE, s STRING"),
            "ck_t", keys=["k"], how="append",
        )
    catalog.drop_constraint("ck_t", "s_nonempty")
    catalog.to_table(
        spark.createDataFrame([(9, 1.0, "")], "k LONG, v DOUBLE, s STRING"),
        "ck_t", keys=["k"], how="append",
    )
    assert catalog.read_table("ck_t").count() == 3
    # constraints survive catalog reopen (persisted in meta)
    from pandabase_spark.io import KeyedCatalog

    cat2 = KeyedCatalog(spark, catalog.warehouse)
    assert cat2.meta("ck_t").constraints == {"v_pos": "v > 0"}


def test_delete_rewrite_is_bucket_pruned(spark, catalog):
    """A single-key DELETE must move only that key's bucket to the new
    segment; every other bucket stays owned by the original segment —
    the rewrite-IO-proportional-to-matches claim, asserted on the
    manifest itself."""
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    catalog.to_table(df, "del_prune", keys=["k"], num_buckets=8)
    (base_seg, base_buckets), = catalog._manifest("del_prune")[
        "segments"
    ].items()
    assert (
        catalog.delete_rows("del_prune", "k = 4242", strategy="rewrite")
        == 1
    )
    man = catalog._manifest("del_prune")["segments"]
    assert len(man) == 2
    assert len(man[base_seg]) == len(base_buckets) - 1
    new_seg = next(s for s in man if s != base_seg)
    assert len(man[new_seg]) == 1
    assert catalog.read_table("del_prune").count() == 9_999


def test_timestamp_as_of_time_travel(spark, catalog):
    """TIMESTAMP AS OF resolution: a wall-clock instant between two
    commits reads the earlier snapshot; before the first retained
    commit raises; version= and as_of= are mutually exclusive."""
    import time

    import pytest as _pytest

    df = spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    t0 = time.time() - 1.0
    catalog.to_table(df, "asof_t", keys=["k"])                     # v1
    t_between = time.time() + 0.0005
    time.sleep(0.01)
    catalog.to_table(
        df.withColumn("v", F.lit(2)), "asof_t", keys=["k"], how="upsert"
    )                                                              # v2
    assert catalog.version_as_of("asof_t", t_between) == 1
    assert catalog.version_as_of("asof_t", time.time() + 1) == 2
    got = catalog.read_table("asof_t", as_of=t_between)
    assert got.agg(F.max("v")).first()[0] == 1
    assert catalog.read_table(
        "asof_t", as_of=time.time() + 1
    ).agg(F.max("v")).first()[0] == 2
    with _pytest.raises(NameError, match="no snapshot"):
        catalog.version_as_of("asof_t", t0)
    with _pytest.raises(ValueError, match="not both"):
        catalog.read_table("asof_t", version=1, as_of=t_between)


def test_stats_columns_file_skipping(spark, catalog):
    """Manifest-level data skipping: a table created with
    stats_columns records per-(segment, bucket) min/max in every
    commit; read_table(stats_bounds=) plans only the overlapping
    leaves, and the residual filter keeps semantics exact."""
    a = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 50).alias("v")
    )
    b = spark.range(1000, 1100).select(
        F.col("id").alias("k"), (F.col("id") % 50 + 1000).alias("v")
    )
    catalog.to_table(a, "st_t", keys=["k"], num_buckets=4,
                     stats_columns=["v"])
    catalog.to_table(b, "st_t", keys=["k"], how="append")
    man = catalog._manifest("st_t")
    assert len(man["segments"]) == 2
    stats = catalog._skipping("st_t", man)["stats"]
    assert set(stats) == set(man["segments"])
    for seg, st in stats.items():
        for bucket, cols in st.items():
            lo, hi = cols["v"]
            assert lo is not None and lo <= hi

    # bounds hitting only segment b: segment a's leaves are skipped
    got = catalog.read_table("st_t", stats_bounds={"v": (1000, None)})
    assert got.count() == 100
    files = {r[0] for r in got.select(F.input_file_name()).collect()}
    segs_touched = {f.split("/st_t/")[1].split("/")[0] for f in files}
    assert len(segs_touched) == 1
    # exact residual semantics inside a partially-overlapping range
    mid = catalog.read_table("st_t", stats_bounds={"v": (40, 1005)})
    vals = sorted(r["v"] for r in mid.select("v").distinct().collect())
    assert vals == list(range(40, 50)) + list(range(1000, 1006))
    # unknown column rejected; declared on existing table rejected
    with pytest.raises(NameError, match="stats_bounds"):
        catalog.read_table("st_t", stats_bounds={"nope": (1, 2)}).count()
    with pytest.raises(NameError, match="create time"):
        catalog.to_table(a, "st_t", keys=["k"], how="append",
                         stats_columns=["v"])
    with pytest.raises(NameError, match="not in schema"):
        catalog.to_table(a, "st_bad", keys=["k"], stats_columns=["zz"])


def test_stats_survive_dml_compact_and_clone(spark, catalog):
    """Stats follow every commit path: upsert/delete rewrites compute
    stats for their new segments, compaction re-derives them for the
    merged segment, and a shallow clone carries them without
    rescanning (O(manifest))."""
    import datetime

    base = spark.range(200).select(
        F.col("id").alias("k"),
        F.timestamp_micros(
            (F.col("id") * 86_400_000_000 + 1_600_000_000_000_000)
        ).alias("ts"),
    )
    catalog.to_table(base, "st_d", keys=["k"], num_buckets=4,
                     stats_columns=["ts"])
    catalog.delete_rows("st_d", "k < 10")
    man = catalog._manifest("st_d")
    stats = catalog._skipping("st_d", man)["stats"]
    assert set(stats) == set(man["segments"])
    # timestamp stats serialized as ISO strings, ordered correctly
    for st in stats.values():
        for cols in st.values():
            lo, hi = cols["ts"]
            assert isinstance(lo, str) and lo <= hi
    catalog.compact("st_d")
    man2 = catalog._manifest("st_d")
    assert set(catalog._skipping("st_d", man2)["stats"]) == set(
        man2["segments"]
    )
    catalog.clone_table("st_d", "st_d2")
    man3 = catalog._manifest("st_d2")
    assert set(catalog._skipping("st_d2", man3)["stats"]) == set(
        man3["segments"]
    )
    # timestamp-bounded skipping read on the clone
    cut = datetime.datetime(2020, 9, 23)
    got = catalog.read_table("st_d2", stats_bounds={"ts": (None, cut)})
    assert got.count() == got.where(F.col("ts") <= F.lit(cut)).count()


def test_merge_table_clauses(spark, catalog):
    """Full MERGE semantics: delete-on-predicate, expression update,
    insert-on-no-match, target-only rows untouched, metrics counts,
    and guards (auto-index, key assignment, missing keys)."""
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"), (4, 40.0, "d")],
        ["k", "v", "tag"],
    )
    catalog.to_table(base, "mrg_t", keys=["k"], num_buckets=4)
    src = spark.createDataFrame(
        # k=1 matched (update), k=2 matched (delete flag), k=9 new
        [(1, 100.0, True), (2, 0.0, False), (9, 900.0, True)],
        ["k", "v", "keep"],
    )
    res = catalog.merge_table(
        src, "mrg_t",
        when_matched_update={"v": "t.v + s.v"},
        when_matched_delete="NOT s.keep",
        when_not_matched_insert=True,
    )
    assert res == {"updated": 1, "deleted": 1, "inserted": 1}
    got = {r["k"]: (r["v"], r["tag"]) for r in catalog.read_table("mrg_t").collect()}
    assert got[1] == (110.0, "a")        # t.v + s.v, tag preserved
    assert 2 not in got                  # deleted
    assert got[3] == (30.0, "c") and got[4] == (40.0, "d")  # untouched
    assert got[9] == (900.0, None)       # inserted, missing col null

    # "all" mode = classic upsert through the MERGE path
    src2 = spark.createDataFrame([(3, 333.0)], ["k", "v"])
    res2 = catalog.merge_table(src2, "mrg_t")
    assert res2 == {"updated": 1, "deleted": 0, "inserted": 0}
    got2 = {r["k"]: (r["v"], r["tag"]) for r in catalog.read_table("mrg_t").collect()}
    assert got2[3] == (333.0, "c")       # partial-column: tag preserved

    # update=None leaves matched rows alone and reports 0 updates
    res3 = catalog.merge_table(
        src2, "mrg_t", when_matched_update=None
    )
    assert res3 == {"updated": 0, "deleted": 0, "inserted": 0}

    with pytest.raises(NameError, match="key columns"):
        catalog.merge_table(src2, "mrg_t", when_matched_update={"k": "1"})
    with pytest.raises(NameError, match="lacks key"):
        catalog.merge_table(src2.withColumnRenamed("k", "x"), "mrg_t")
    with pytest.raises(ValueError, match="'all'"):
        catalog.merge_table(src2, "mrg_t", when_matched_update="some")


def test_generated_columns(spark, catalog):
    """GENERATED ALWAYS AS: absent columns computed at write (create,
    append, upsert; chained expressions in declaration order),
    provided columns validated (mismatch -> IntegrityError, nothing
    written), keys ungeneratable, declaration create-only,
    rename/drop of the column or its inputs refused."""
    from pandabase_spark.io import IntegrityError

    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    catalog.to_table(
        df, "gen_t", keys=["k"],
        generated={"v2": "v * 2", "v3": "v2 + 1"},  # v3 chains on v2
    )
    got = {r.k: (r.v2, r.v3) for r in catalog.read_table("gen_t").collect()}
    assert got == {k: (k * 2.0, k * 2.0 + 1) for k in range(10)}

    # append omitting both: computed; upsert providing a CORRECT v2
    catalog.to_table(
        df.withColumn("k", F.col("k") + 100), "gen_t",
        keys=["k"], how="append",
    )
    catalog.to_table(
        spark.createDataFrame([(3, 30.0, 60.0)], ["k", "v", "v2"]),
        "gen_t", keys=["k"], how="upsert",
    )
    got2 = {r.k: (r.v2, r.v3) for r in catalog.read_table("gen_t").collect()}
    assert got2[103] == (6.0, 7.0)   # k shifted, v stays 3.0 -> v2=6
    assert got2[3] == (60.0, 61.0)

    # providing a WRONG value refuses the whole batch
    n_before = catalog.read_table("gen_t").count()
    with pytest.raises(IntegrityError, match="GENERATED ALWAYS AS"):
        catalog.to_table(
            spark.createDataFrame([(999, 1.0, 5.0)], ["k", "v", "v2"]),
            "gen_t", keys=["k"], how="append",
        )
    assert catalog.read_table("gen_t").count() == n_before

    # guards
    with pytest.raises(NameError, match="create time"):
        catalog.to_table(
            df.withColumn("k", F.col("k") + 500), "gen_t",
            keys=["k"], how="append", generated={"x": "v"},
        )
    with pytest.raises(NameError, match="cannot be generated"):
        catalog.to_table(df, "gen_k", keys=["k"], generated={"k": "1"})
    with pytest.raises(NameError, match="generated"):
        catalog.drop_column("gen_t", "v2")
    with pytest.raises(NameError, match="referenced by generated"):
        catalog.drop_column("gen_t", "v")
    with pytest.raises(NameError, match="GENERATED"):
        catalog.rename_column("gen_t", "v2", "v2x")
    with pytest.raises(NameError, match="referenced by generated"):
        catalog.rename_column("gen_t", "v", "vx")
    catalog.drop_table("gen_t")


def test_generated_columns_merge_and_update(spark, catalog):
    """GENERATED invariants survive MERGE and UPDATE (the to_table
    contract extended to every DML verb): mapping assignments to a
    generated column are rejected; updates to a referenced base
    column recompute the generated column in the same rewrite;
    inserts that omit it compute it; source-provided wrong values
    raise before anything is written."""
    from pandabase_spark.io import IntegrityError

    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    catalog.to_table(
        df, "gen_dml", keys=["k"],
        generated={"v2": "v * 2", "v3": "v2 + 1"},
    )

    # mapping assignment to a generated column: rejected, both clauses
    src = spark.createDataFrame([(3, 30.0)], ["k", "v"])
    with pytest.raises(NameError, match="GENERATED"):
        catalog.merge_table(
            src, "gen_dml", when_matched_update={"v2": "s.v"}
        )
    with pytest.raises(NameError, match="GENERATED"):
        catalog.merge_table(
            src, "gen_dml",
            when_not_matched_by_source_update={"v3": "t.v3 + 1"},
        )
    with pytest.raises(NameError, match="GENERATED"):
        catalog.update_rows("gen_dml", "k = 3", {"v2": "99.0"})

    # mapping update of the REFERENCED base column recomputes the
    # chain (v -> v2 -> v3) in the same rewrite
    catalog.merge_table(
        src, "gen_dml", when_matched_update={"v": "s.v"}
    )
    got = {
        r.k: (r.v, r.v2, r.v3)
        for r in catalog.read_table("gen_dml").collect()
    }
    assert got[3] == (30.0, 60.0, 61.0)

    # UPDATE of the base column recomputes too — both strategies
    catalog.update_rows(
        "gen_dml", "k = 4", {"v": "v + 100.0"}, strategy="rewrite"
    )
    catalog.update_rows(
        "gen_dml", "k = 5", {"v": "v + 100.0"}, strategy="dv"
    )
    got = {
        r.k: (r.v, r.v2, r.v3)
        for r in catalog.read_table("gen_dml").collect()
    }
    assert got[4] == (104.0, 208.0, 209.0)
    assert got[5] == (105.0, 210.0, 211.0)

    # insert-by-merge omitting generated columns: computed
    catalog.merge_table(
        spark.createDataFrame([(50, 7.0)], ["k", "v"]), "gen_dml"
    )
    got = {
        r.k: (r.v2, r.v3)
        for r in catalog.read_table("gen_dml").collect()
    }
    assert got[50] == (14.0, 15.0)

    # source-PROVIDED generated values: correct passes, wrong raises
    catalog.merge_table(
        spark.createDataFrame([(60, 8.0, 16.0)], ["k", "v", "v2"]),
        "gen_dml",
    )
    assert got != {}  # table still readable
    n = catalog.read_table("gen_dml").count()
    with pytest.raises(IntegrityError, match="GENERATED ALWAYS AS"):
        catalog.merge_table(
            spark.createDataFrame([(70, 9.0, 5.0)], ["k", "v", "v2"]),
            "gen_dml",
        )
    assert catalog.read_table("gen_dml").count() == n

    # BY SOURCE update of a referenced base column recomputes as well
    catalog.merge_table(
        spark.createDataFrame([(0, 0.0)], ["k", "v"]), "gen_dml",
        when_matched_update=None,
        when_not_matched_insert=False,
        when_not_matched_by_source_update={"v": "t.v + 1000.0"},
    )
    row = (
        catalog.read_table("gen_dml").where("k = 50").collect()[0]
    )
    assert (row.v, row.v2, row.v3) == (1007.0, 2014.0, 2015.0)
    catalog.drop_table("gen_dml")


def test_merge_by_source_delete_false_is_none(spark, catalog):
    """when_not_matched_by_source_delete=False means 'no clause' —
    previously a Python bool fell into the predicate path and raised
    TypeError inside the doomed-row probe."""
    catalog.to_table(_mk(spark, 20), "bsf_t", keys=["k"])
    src = spark.createDataFrame([(5, 1.5)], ["k", "v"])
    out = catalog.merge_table(
        src, "bsf_t", when_not_matched_by_source_delete=False
    )
    assert out == {"updated": 1, "deleted": 0, "inserted": 0}
    assert catalog.read_table("bsf_t").count() == 20
    catalog.drop_table("bsf_t")


def _stage_segment(catalog, spark, name, lo, hi):
    """Write a segment of keys [lo, hi) without committing it — the
    state a writer is in between staging and claiming its version."""
    rows = spark.range(lo, hi).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    return catalog._write_segment(rows, name, catalog.meta(name))


def test_vacuum_spares_inflight_commit_sidecar(spark, catalog):
    """A writer stages its segment — parquet and ``_pb_skip.json`` —
    BEFORE claiming its version. A vacuum racing that window must
    spare the whole staged directory, skipping file included (inside
    ``orphan_age_s``), so the commit that lands afterwards reads its
    rows and prunes with its entries."""
    from pandabase_spark.io import SKIP_FILE

    catalog.to_table(_mk(spark, 50), "vac_t", keys=["k"],
                     stats_columns=["v"])
    seg, buckets = _stage_segment(catalog, spark, "vac_t", 1000, 1040)
    seg_dir = f"{catalog._path('vac_t')}/{seg}"
    assert catalog.fs.exists(f"{seg_dir}/{SKIP_FILE}")

    assert catalog.vacuum("vac_t") == []
    assert catalog.fs.exists(f"{seg_dir}/{SKIP_FILE}")

    man = catalog._manifest("vac_t")
    catalog._commit("vac_t", {**man["segments"], seg: buckets}, v=man["v"])
    assert catalog.read_table("vac_t").count() == 90
    man = catalog._manifest("vac_t")
    assert set(catalog._skipping("vac_t", man)["stats"][seg]) == {
        str(b) for b in buckets
    }
    got = catalog.read_table("vac_t", stats_bounds={"v": (1000.0, None)})
    assert got.count() == 40
    assert len(
        catalog._live_paths("vac_t", stats_bounds={"v": (1000.0, None)})
    ) == len(buckets)
    catalog.drop_table("vac_t")


def test_skipping_sidecar_offload(spark, catalog):
    """A version file stays O(segments) while the skipping entries
    live in the segment: each append adds one segment's name, bucket
    list and column map to the version file — not its per-bucket
    stats, Blooms and sketches, which are written once into
    ``seg-*/_pb_skip.json``. Every skipping consumer (leaf pruning,
    bloom probe, sketch stats, clone, rename, restore) reads them
    there, and vacuum removes them with their segment."""
    from pandabase_spark import kt_log
    from pandabase_spark.io import SKIP_FILE

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )

    catalog.to_table(
        rows(0, 400), "skp_t", keys=["k"], num_buckets=8,
        stats_columns=["v"], bloom_columns=["k"], sketch_columns=["v"],
    )
    tpath = catalog._path("skp_t")
    sizes = []
    for i in range(1, 4):
        catalog.to_table(rows(1000 * i, 1000 * i + 50), "skp_t",
                         keys=["k"], how="append")
        man = catalog._manifest("skp_t")
        assert not {"stats", "blooms", "sketches", "skip"} & set(man)
        sizes.append(
            len(catalog.fs.read_text(kt_log.version_path(tpath, man["v"])))
        )
    skip_bytes = [
        catalog.fs.du(f"{tpath}/{seg}/{SKIP_FILE}")
        for seg in man["segments"]
    ]
    assert all(skip_bytes)
    # one more segment costs the version file a few hundred bytes; its
    # skipping file (8 buckets of stats, Blooms and sketches) is far
    # larger and is never copied into a later version
    growth = sizes[-1] - sizes[-2]
    assert 0 < growth < 400 and growth * 10 < min(skip_bytes), (
        sizes, skip_bytes,
    )
    assert catalog.table_detail("skp_t")["skip_sidecar_bytes"] == sum(
        skip_bytes
    )

    # every skipping consumer reads the segments' files
    got = catalog.read_table("skp_t", stats_bounds={"v": (10.0, 20.0)})
    assert got.count() == 11
    hit = catalog.read_table("skp_t", bloom_point={"k": 7})
    assert hit.where(F.col("k") == 7).count() == 1
    st = catalog.table_sketch_stats("skp_t", "v").first()
    assert st["n_rows"] == 550
    assert [h["version"] for h in catalog.history("skp_t")] == [1, 2, 3, 4]
    catalog.clone_table("skp_t", "skp_c")
    got_c = catalog.read_table("skp_c", stats_bounds={"v": (10.0, 20.0)})
    assert got_c.count() == 11
    assert len(
        catalog._live_paths("skp_c", stats_bounds={"v": (10.0, 20.0)})
    ) < len(catalog._live_paths("skp_c"))
    catalog.rename_column("skp_t", "v", "val")
    assert len(
        catalog._live_paths("skp_t", stats_bounds={"val": (10.0, 20.0)})
    ) < len(catalog._live_paths("skp_t"))
    catalog.restore_table("skp_t", 1)
    assert catalog.table_sketch_stats("skp_t", "v").first()["n_rows"] == 400

    # vacuum deletes a superseded segment's file with its directory
    catalog.drop_table("skp_c")
    old = set(catalog._manifest("skp_t", version=4)["segments"])
    catalog.vacuum("skp_t")
    for seg in old - set(catalog._manifest("skp_t")["segments"]):
        assert not catalog.fs.exists(f"{tpath}/{seg}")
    assert catalog.read_table("skp_t").count() == 400
    catalog.drop_table("skp_t")


def test_merge_by_source_clauses(spark, catalog):
    """WHEN NOT MATCHED BY SOURCE (Delta parity): delete target-only
    rows on a predicate (or unconditionally with True), update
    target-only rows via a mapping, delete-before-update precedence,
    metrics folded into the same counters."""
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"), (4, 40.0, "d"),
         (5, 50.0, "e")],
        ["k", "v", "tag"],
    )
    catalog.to_table(base, "mbs_t", keys=["k"], num_buckets=4)
    src = spark.createDataFrame([(1, 100.0), (9, 900.0)], ["k", "v"])

    # delete-only BY SOURCE with a predicate: k=2..5 are target-only;
    # only v >= 40 (k=4,5) are doomed
    res = catalog.merge_table(
        src, "mbs_t",
        when_not_matched_by_source_delete="t.v >= 40",
    )
    assert res == {"updated": 1, "deleted": 2, "inserted": 1}
    got = {r["k"]: (r["v"], r["tag"]) for r in catalog.read_table("mbs_t").collect()}
    assert set(got) == {1, 2, 3, 9}
    assert got[1] == (100.0, "a") and got[9] == (900.0, None)
    assert got[2] == (20.0, "b") and got[3] == (30.0, "c")

    # BY SOURCE update mapping: flag the rows the source no longer has
    res2 = catalog.merge_table(
        spark.createDataFrame([(1, 111.0)], ["k", "v"]), "mbs_t",
        when_matched_update=None,
        when_not_matched_insert=False,
        when_not_matched_by_source_update={"tag": "concat(t.tag, '!')"},
    )
    assert res2 == {"updated": 3, "deleted": 0, "inserted": 0}
    got2 = {r["k"]: r["tag"] for r in catalog.read_table("mbs_t").collect()}
    assert got2 == {1: "a", 2: "b!", 3: "c!", 9: None}

    # delete evaluated before update; True = unconditional delete
    res3 = catalog.merge_table(
        spark.createDataFrame([(2, 2.0)], ["k", "v"]), "mbs_t",
        when_matched_update=None,
        when_not_matched_insert=False,
        when_not_matched_by_source_delete="t.k = 9",
        when_not_matched_by_source_update={"v": "t.v * 0"},
    )
    assert res3 == {"updated": 2, "deleted": 1, "inserted": 0}
    got3 = {r["k"]: r["v"] for r in catalog.read_table("mbs_t").collect()}
    # k=2 is matched (update=None keeps 20.0); target-only 1,3 zeroed
    assert got3 == {1: 0.0, 2: 20.0, 3: 0.0}

    with pytest.raises(NameError, match="key columns"):
        catalog.merge_table(
            src, "mbs_t", when_not_matched_by_source_update={"k": "0"}
        )
    with pytest.raises(NameError, match="unknown columns"):
        catalog.merge_table(
            src, "mbs_t", when_not_matched_by_source_update={"nope": "0"}
        )
    catalog.drop_table("mbs_t")


def test_merge_schema_evolution(spark, catalog):
    """merge_schema=True admits source-only columns (Delta
    withSchemaEvolution): schema grows, pre-merge segments read NULL
    for the new column, matched rows take source values, inserts carry
    them; without the flag the column stays clause-scope only; retired
    names are rejected."""
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"]
    )
    catalog.to_table(base, "mse_t", keys=["k"], num_buckets=4)
    src = spark.createDataFrame(
        [(2, 200.0, "fr"), (9, 900.0, "de")], ["k", "v", "lang"]
    )

    # default: source-only column is clause-scope, never stored
    catalog.merge_table(src, "mse_t", when_not_matched_insert=False)
    assert "lang" not in catalog.read_table("mse_t").columns

    res = catalog.merge_table(src, "mse_t", merge_schema=True)
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    got = {r["k"]: (r["v"], r["lang"]) for r in catalog.read_table("mse_t").collect()}
    assert got == {
        1: (10.0, None),      # pre-merge segment null-fills
        2: (200.0, "fr"),     # matched: source value
        3: (30.0, None),
        9: (900.0, "de"),     # inserted with the new column
    }
    # evolved schema is durable: a later plain upsert sees the column
    m = catalog.meta("mse_t")
    assert "lang" in m.schema.names

    # cross-era read: time travel to the pre-evolution version still
    # works under the evolved meta (old segments null-fill)
    hist = catalog.history("mse_t")
    v0 = min(h["version"] for h in hist)
    old = catalog.read_table("mse_t", version=v0)
    assert "lang" in old.columns
    assert old.where(F.col("lang").isNotNull()).count() == 0

    # retired names cannot be recycled through merge_schema
    catalog.drop_column("mse_t", "lang")
    with pytest.raises(NameError, match="retired"):
        catalog.merge_table(src, "mse_t", merge_schema=True)
    catalog.drop_table("mse_t")


def test_merge_table_matches_python_reference(spark, catalog):
    """Seeded fuzz: random target/source/clause combinations must match
    a plain-Python MERGE reference (delete > update > insert priority,
    target-only rows kept, metrics consistent)."""
    import random

    rnd = random.Random(42)
    for trial in range(5):
        n_t = rnd.randint(5, 40)
        t_rows = {k: round(rnd.uniform(-50, 50), 2) for k in range(n_t)}
        src_keys = rnd.sample(range(n_t + 20), rnd.randint(3, 25))
        s_rows = {
            k: (round(rnd.uniform(-50, 50), 2), rnd.random() < 0.3)
            for k in src_keys
        }
        insert = rnd.random() < 0.7
        # BY SOURCE clause mix: none / delete-only / update-only / both
        bs_del = rnd.random() < 0.5   # "t.v > 10" on target-only rows
        bs_upd = rnd.random() < 0.5   # v -> round(t.v - 1, 2)
        name = f"fz_{trial}"
        if catalog.has_table(name):
            catalog.drop_table(name)
        catalog.to_table(
            spark.createDataFrame(
                [(k, v) for k, v in t_rows.items()], ["k", "v"]
            ),
            name, keys=["k"], num_buckets=4,
        )
        res = catalog.merge_table(
            spark.createDataFrame(
                [(k, v, d) for k, (v, d) in s_rows.items()],
                ["k", "v", "drop_it"],
            ),
            name,
            when_matched_update={"v": "s.v"},
            when_matched_delete="s.drop_it",
            when_not_matched_insert=insert,
            when_not_matched_by_source_delete="t.v > 10" if bs_del else None,
            when_not_matched_by_source_update=(
                {"v": "round(t.v - 1, 2)"} if bs_upd else None
            ),
        )
        want = {}
        n_upd = n_del = n_ins = 0
        for k, v in t_rows.items():
            if k in s_rows:
                sv, d = s_rows[k]
                if d:
                    n_del += 1
                else:
                    want[k] = sv
                    n_upd += 1
            elif bs_del and v > 10:
                n_del += 1
            elif bs_upd:
                want[k] = round(v - 1, 2)
                n_upd += 1
            else:
                want[k] = v
        for k, (sv, d) in s_rows.items():
            if k not in t_rows and insert:
                want[k] = sv
                n_ins += 1
        got = {r["k"]: r["v"] for r in catalog.read_table(name).collect()}
        assert got == want, f"trial {trial}"
        assert res == {
            "updated": n_upd, "deleted": n_del, "inserted": n_ins
        }, f"trial {trial}"
        catalog.drop_table(name)


def test_history_records_operations(spark, catalog):
    """Every commit records its operation (DESCRIBE HISTORY parity):
    create / append / upsert / delete / compact / merge / clone."""
    df = spark.range(20).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    catalog.to_table(df, "hist_t", keys=["k"], num_buckets=4)
    catalog.to_table(
        df.withColumn("k", F.col("k") + 100), "hist_t",
        keys=["k"], how="append",
    )
    catalog.to_table(df.limit(5), "hist_t", keys=["k"], how="upsert")
    catalog.delete_rows("hist_t", "k = 3")      # auto -> deletion vector
    catalog.merge_table(
        spark.createDataFrame([(999, 9.0)], ["k", "v"]), "hist_t"
    )
    catalog.compact("hist_t", vacuum=False)
    ops = [h["operation"] for h in catalog.history("hist_t")]
    assert ops == [
        "create", "append", "upsert", "delete_dv", "merge", "compact",
    ]
    assert all(h["ts_us"] for h in catalog.history("hist_t"))
    catalog.clone_table("hist_t", "hist_t2")
    assert catalog.history("hist_t2")[0]["operation"] == "clone"

    # operation_parameters (Delta's operationParameters): the commit
    # records the verbs' salient arguments for forensics
    hist = {h["operation"]: h for h in catalog.history("hist_t")}
    assert hist["delete_dv"]["operation_parameters"] == {
        "predicate": "k = 3", "strategy": "dv",
    }
    mp = hist["merge"]["operation_parameters"]
    assert mp["when_matched_update"] == "all"
    assert mp["when_not_matched_insert"] is True
    assert hist["compact"]["operation_parameters"]["merged_segments"] >= 2
    assert (
        catalog.history("hist_t2")[0]["operation_parameters"]["src"]
        == "hist_t"
    )
    catalog.update_rows("hist_t", "k = 4", {"v": "v + 1"})
    up = catalog.history("hist_t")[-1]
    assert up["operation"] in ("update", "update_dv")
    assert up["operation_parameters"]["predicate"] == "k = 4"
    assert up["operation_parameters"]["assignments"] == {"v": "v + 1"}


def test_stats_bounds_without_stats_is_filter_only(spark, catalog):
    """stats_bounds on a table created WITHOUT stats_columns: no
    pruning metadata exists, so every leaf is read — but the residual
    filter still yields exact WHERE semantics (never silent misses)."""
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v")
    )
    catalog.to_table(df, "nostat_t", keys=["k"], num_buckets=4)
    got = catalog.read_table("nostat_t", stats_bounds={"v": (3, 5)})
    assert got.count() == 30
    assert got.agg(F.min("v"), F.max("v")).first() == (3, 5)
    import pytest as _pytest

    with _pytest.raises(NameError, match="no such table"):
        catalog.version_as_of("never_created", 0)


def test_restore_is_forward_commit(spark, catalog):
    """restore_table re-references the target snapshot's segments in a
    NEW commit: content rolls back, the version chain moves forward,
    and the bad versions stay in history()."""
    catalog.to_table(_mk(spark), "res_t", keys=["k"])
    bad = spark.range(200).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("v")
    )
    catalog.to_table(bad, "res_t", keys=["k"], how="upsert")
    catalog.delete_rows("res_t", "k < 50")
    assert catalog.read_table("res_t").count() == 150
    new_v = catalog.restore_table("res_t", 1)
    assert new_v == 4
    got = dict(catalog.read_table("res_t").select("k", "v").collect())
    assert len(got) == 200 and got[10] == 20.0
    hist = catalog.history("res_t")
    assert [h["operation"] for h in hist] == [
        "create", "upsert", "delete_dv", "restore"
    ]
    # restore commits share v1's segment set — metadata-only rollback
    assert (
        catalog._manifest("res_t", version=4)["segments"]
        == catalog._manifest("res_t", version=1)["segments"]
    )
    # and the rolled-back snapshots remain time-travel readable
    assert catalog.read_table("res_t", version=3).count() == 150


def test_restore_refuses_vacuumed_target(spark, catalog):
    """A restore target whose segments were vacuumed fails up front
    (or the pruned manifest itself is gone) — never a committed
    snapshot that cannot be scanned."""
    catalog.to_table(_mk(spark), "resv_t", keys=["k"])
    patch = spark.range(200).select(
        F.col("id").alias("k"), F.lit(7.0).alias("v")
    )
    catalog.to_table(patch, "resv_t", keys=["k"], how="upsert")
    assert catalog.vacuum("resv_t")
    with pytest.raises((ValueError, NameError)):
        catalog.restore_table("resv_t", 1)
    # current state untouched by the refused restore
    assert catalog.read_table("resv_t").where(F.col("v") == 7.0).count() == 200


def test_bloom_point_skips_leaves_exactly(spark, catalog):
    """Two disjoint segments with bloom_columns: a probe for a value
    in only one of them plans strictly fewer leaves, results stay
    exact, and an absent probe returns empty (usually planning zero
    leaves, modulo the ~1% false-positive rate)."""
    a = spark.range(500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("alpha_"), F.col("id")).alias("tag"),
    )
    b = spark.range(500, 1000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("beta_"), F.col("id")).alias("tag"),
    )
    catalog.to_table(a, "bl_t", keys=["k"], bloom_columns=["tag"],
                     num_buckets=4)
    catalog.to_table(b, "bl_t", keys=["k"], how="append")
    man = catalog._manifest("bl_t")
    assert set(catalog._skipping("bl_t", man)["blooms"]) == set(
        man["segments"]
    )
    all_leaves = catalog._live_paths("bl_t")
    probe = {
        "tag": catalog._bloom_positions(
            "beta_777", catalog.meta("bl_t").schema["tag"].dataType
        )
    }
    pruned = catalog._live_paths("bl_t", bloom_probe=probe)
    assert len(pruned) < len(all_leaves)
    got = catalog.read_table("bl_t", bloom_point={"tag": "beta_777"})
    assert [r["k"] for r in got.collect()] == [777]
    assert catalog.read_table("bl_t", bloom_point={"tag": "absent"}).count() == 0


def test_bloom_nulls_set_no_bits_and_carry_through_compact(spark, catalog):
    """NULL values never poison the filter (a NULL row's leaf can still
    be skipped for other probes) and compaction recomputes blooms for
    the merged segment via the commit-time merge discipline."""
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0,
               F.concat(F.lit("t"), F.col("id"))).alias("tag"),
    )
    catalog.to_table(df, "bln_t", keys=["k"], bloom_columns=["tag"],
                     num_buckets=2)
    patch = spark.range(100, 160).select(
        F.col("id").alias("k"),
        F.concat(F.lit("x"), F.col("id")).alias("tag"),
    )
    catalog.to_table(patch, "bln_t", keys=["k"], how="upsert")
    catalog.compact("bln_t")
    man = catalog._manifest("bln_t")
    assert len(man["segments"]) == 1
    assert set(catalog._skipping("bln_t", man)["blooms"]) == set(
        man["segments"]
    )
    got = catalog.read_table("bln_t", bloom_point={"tag": "x120"})
    assert got.count() == 1
    # NULL-tag rows are reachable by ordinary reads, never via bloom
    assert catalog.read_table("bln_t").where(F.col("tag").isNull()).count() == 50


def test_bloom_columns_create_only_and_schema_checked(spark, catalog):
    catalog.to_table(_mk(spark), "blc_t", keys=["k"])
    with pytest.raises(NameError, match="create time"):
        catalog.to_table(
            _mk(spark), "blc_t", keys=["k"], how="append",
            bloom_columns=["v"],
        )
    with pytest.raises(NameError, match="bloom_columns"):
        catalog.to_table(
            _mk(spark), "blc_t2", keys=["k"], bloom_columns=["nope"]
        )
    # a table without bloom_columns ignores bloom_point gracefully?
    # no — unknown column raises; known column just never skips
    with pytest.raises(NameError, match="bloom_point"):
        catalog.read_table("blc_t", bloom_point={"nope": 1})
    got = catalog.read_table("blc_t", bloom_point={"v": 10.0})
    assert [r["k"] for r in got.collect()] == [5]


def test_manifest_sketch_stats_bounds_and_lifecycle(spark, catalog):
    """KLL n is exact; the median tracks the true median within KLL's
    rank-error bound; HLL distinct within ~5%; stats answer from
    metadata across append/compact/clone; a column without sketches
    refuses instead of under-counting."""
    df = spark.range(20000).select(
        F.col("id").alias("k"), (F.col("id") % 997).cast("double").alias("v")
    )
    catalog.to_table(df, "sk_t", keys=["k"], sketch_columns=["v"],
                     num_buckets=4)
    patch = spark.range(20000, 30000).select(
        F.col("id").alias("k"),
        (F.col("id") % 997 + 2000).cast("double").alias("v"),
    )
    catalog.to_table(patch, "sk_t", keys=["k"], how="append")
    r = catalog.table_sketch_stats("sk_t", "v", quantiles=(0.5,)).collect()[0]
    assert r["n_rows"] == 30000
    # exact distinct = 997 + 997 = 1994
    assert abs(r["distinct_est"] - 1994) / 1994 < 0.05
    # true median of the mixture: 30k values, rank 15k → ~747 (the
    # lower block holds 20k values 0..996) — allow KLL rank error
    assert abs(r["q_0_5"] - 747) < 60
    catalog.compact("sk_t")
    r2 = catalog.table_sketch_stats("sk_t", "v", quantiles=(0.5,)).collect()[0]
    assert r2["n_rows"] == 30000
    catalog.clone_table("sk_t", "sk_t2")
    assert catalog.table_sketch_stats("sk_t2", "v").collect()[0]["n_rows"] == 30000
    with pytest.raises(NameError, match="sketch"):
        catalog.table_sketch_stats("sk_t", "k")
    with pytest.raises(NameError, match="create time"):
        catalog.to_table(df, "sk_t", keys=["k"], how="append",
                         sketch_columns=["v"])


def test_estimate_range_rows_tracks_exact_selectivity(spark, catalog):
    """Planner-style selectivity from manifest sketches: estimates
    track exact range counts within the KLL rank-error envelope,
    open bounds work, and uncovered columns refuse."""
    df = spark.range(50000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).cast("double").alias("v")
    )
    catalog.to_table(df, "sel_t", keys=["k"], sketch_columns=["v"],
                     num_buckets=4)
    n = 50000
    for lo, hi, exact in (
        (100.0, 299.0, 10000),     # 200 of 1000 values x 50 each
        (None, 499.0, 25000),
        (900.0, None, 5000),
    ):
        est = catalog.estimate_range_rows("sel_t", "v", lo, hi)
        assert abs(est - exact) <= 0.04 * n, (lo, hi, est, exact)
    with pytest.raises(NameError, match="sketch"):
        catalog.estimate_range_rows("sel_t", "k", 0, 10)


def test_rebucket_atomic_cutover_and_history(spark, catalog):
    """Online bucket-count evolution: rebucket rewrites the layout in
    one atomic commit (manifest-resident nb); point lookups, upserts,
    and deletes after the cutover hash under the NEW layout; time
    travel into pre-rebucket snapshots hashes under the OLD one; and
    restore brings a snapshot's bucketing back with it."""
    catalog.to_table(_mk(spark, 400), "rb_t", keys=["k"], num_buckets=4)
    patch = spark.range(50).select(
        F.col("id").alias("k"), F.lit(-5.0).alias("v")
    )
    catalog.to_table(patch, "rb_t", keys=["k"], how="upsert")  # v2
    v3 = catalog.rebucket_table("rb_t", 16)
    assert v3 == 3
    man = catalog._manifest("rb_t")
    assert man["nb"] == 16 and len(man["segments"]) == 1
    # reads + point lookup under the new layout
    assert catalog.read_table("rb_t").count() == 400
    assert catalog.read_table("rb_t", lowest=7, highest=7).collect()[0]["v"] == -5.0
    # writes after the cutover: upsert replaces the RIGHT rows
    catalog.to_table(
        spark.range(100, 120).select(
            F.col("id").alias("k"), F.lit(77.0).alias("v")
        ),
        "rb_t", keys=["k"], how="upsert",
    )
    got = dict(catalog.read_table("rb_t").select("k", "v").collect())
    assert got[110] == 77.0 and got[7] == -5.0 and got[300] == 600.0
    assert len(got) == 400
    catalog.delete_rows("rb_t", "k >= 390")
    assert catalog.read_table("rb_t").count() == 390
    # time travel into the pre-rebucket snapshot still point-prunes
    # correctly (old nb=4 layout)
    assert catalog.read_table(
        "rb_t", lowest=7, highest=7, version=2
    ).collect()[0]["v"] == -5.0
    # restore to v2 brings the 4-bucket layout back
    catalog.restore_table("rb_t", 2)
    assert catalog._manifest("rb_t")["nb"] == 4
    assert catalog.read_table("rb_t").count() == 400
    assert catalog.read_table("rb_t", lowest=7, highest=7).collect()[0]["v"] == -5.0
    # no-op rebucket returns current version without committing
    v_before = catalog._manifest("rb_t")["v"]
    assert catalog.rebucket_table("rb_t", 4) == v_before
    with pytest.raises(ValueError, match="positive"):
        catalog.rebucket_table("rb_t", 0)


def test_rename_and_drop_column_mapping(spark, catalog):
    """Metadata-only rename/drop: pre-rename segments keep their
    on-disk names and read through the manifest segcols map; new
    writes land under the new name and both eras union cleanly;
    retired names can never be recycled; compaction rewrites old
    segments under current names; time travel still reads."""
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"),
        F.concat(F.lit("t"), F.col("id")).alias("tag"),
    )
    catalog.to_table(df, "cm_t", keys=["k"], num_buckets=4)
    catalog.rename_column("cm_t", "v", "value")
    got = catalog.read_table("cm_t")
    assert set(got.columns) == {"k", "value", "tag"}
    assert dict(got.select("k", "value").collect())[10] == 20.0
    # new-era write under the new name; both eras read together
    patch = spark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") * 3.0).alias("value"),
        F.lit("new").alias("tag"),
    )
    catalog.to_table(patch, "cm_t", keys=["k"], how="append")
    allrows = dict(catalog.read_table("cm_t").select("k", "value").collect())
    assert len(allrows) == 150 and allrows[10] == 20.0 and allrows[120] == 360.0
    # upsert touching BOTH eras' buckets
    up = spark.range(50, 110).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("value"),
        F.lit("up").alias("tag"),
    )
    catalog.to_table(up, "cm_t", keys=["k"], how="upsert")
    rows = dict(catalog.read_table("cm_t").select("k", "value").collect())
    assert rows[55] == -1.0 and rows[105] == -1.0 and rows[10] == 20.0
    # history ops recorded; time travel to v1 reads under CURRENT schema
    ops = [h["operation"] for h in catalog.history("cm_t")]
    assert "rename_column" in ops
    v1 = catalog.read_table("cm_t", version=1)
    assert set(v1.columns) == {"k", "value", "tag"} and v1.count() == 100
    # guards
    with pytest.raises(NameError, match="key column"):
        catalog.rename_column("cm_t", "k", "kk")
    with pytest.raises(NameError, match="retired|in use"):
        catalog.rename_column("cm_t", "tag", "v")  # recycle refused
    with pytest.raises(NameError, match="retired"):
        catalog.to_table(
            spark.range(5).select(
                F.col("id").alias("k"), F.lit(1.0).alias("value"),
                F.lit("x").alias("tag"), F.lit(9.9).alias("v"),
            ),
            "cm_t", keys=["k"], how="upsert", add_new_columns=True,
        )
    # drop: column leaves the logical schema, name retired
    catalog.drop_column("cm_t", "tag")
    assert set(catalog.read_table("cm_t").columns) == {"k", "value"}
    with pytest.raises(NameError, match="retired"):
        catalog.to_table(
            spark.range(5).select(
                F.col("id").alias("k"), F.lit(1.0).alias("value"),
                F.lit("z").alias("tag"),
            ),
            "cm_t", keys=["k"], how="upsert", add_new_columns=True,
        )
    # compaction rewrites everything under current names
    catalog.compact("cm_t")
    final = dict(catalog.read_table("cm_t").select("k", "value").collect())
    assert len(final) == 150 and final[10] == 20.0 and final[55] == -1.0


def test_sketch_stats_exact_after_partial_bucket_dml(spark, catalog):
    """Regression (review finding): a partial-bucket upsert shrinks a
    segment's live bucket list — whole-segment sketches would
    double-count the replaced buckets' rows. Sketches are per
    (segment, bucket) and readers fold only the LIVE buckets, so n
    stays exact through upsert, delete, and merge."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    catalog.to_table(df, "skdml_t", keys=["k"], sketch_columns=["v"],
                     num_buckets=8)
    one = spark.createDataFrame([(5, 999.0)], ["k", "v"])
    catalog.to_table(one, "skdml_t", keys=["k"], how="upsert")
    r = catalog.table_sketch_stats("skdml_t", "v", quantiles=()).collect()[0]
    assert r["n_rows"] == 1000, r
    catalog.delete_rows("skdml_t", "k < 100")
    r2 = catalog.table_sketch_stats("skdml_t", "v", quantiles=()).collect()[0]
    assert r2["n_rows"] == 900, r2


def test_sketch_columns_on_strings(spark, catalog):
    """Regression (review finding): a non-numeric sketch column must
    not crash the KLL cast under ANSI mode — HLL distinct stays
    available, KLL simply sees no values."""
    df = spark.range(500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("user_"), (F.col("id") % 50)).alias("name"),
    )
    catalog.to_table(df, "skstr_t", keys=["k"], sketch_columns=["name"])
    r = catalog.table_sketch_stats("skstr_t", "name", quantiles=()).collect()[0]
    assert abs(r["distinct_est"] - 50) <= 3
    assert r["n_rows"] == 0  # no numeric values entered the KLL


def test_sketch_recompute_reads_renamed_segments_correctly(spark, catalog):
    """Regression (review finding): after a metadata-only rename, a
    partial-bucket DML shrinks a PRE-RENAME segment's bucket list.
    Nothing recomputes: the segment's per-bucket sketches, keyed by
    stable column identity, answer under the new name with the dead
    buckets dropped (an earlier recompute null-filled the renamed
    column and silently zeroed the statistics)."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    catalog.to_table(df, "skren_t", keys=["k"], sketch_columns=["v"],
                     num_buckets=8)
    catalog.rename_column("skren_t", "v", "val")
    # one-row upsert shrinks the old segment's bucket list → recompute
    catalog.to_table(
        spark.createDataFrame([(5, 999.0)], ["k", "val"]),
        "skren_t", keys=["k"], how="upsert",
    )
    r = catalog.table_sketch_stats("skren_t", "val", quantiles=(0.5,)).collect()[0]
    assert r["n_rows"] == 1000, r
    assert abs(r["q_0_5"] - 48) <= 5  # median of id % 97 ≈ 48
    # stats/bloom recompute paths share the same mapped reader: a
    # bloom+stats table survives the same rename+DML sequence
    df2 = spark.range(500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("t"), F.col("id")).alias("tag"),
        (F.col("id") % 50).cast("double").alias("x"),
    )
    catalog.to_table(df2, "skren_b", keys=["k"], bloom_columns=["tag"],
                     stats_columns=["x"], num_buckets=4)
    catalog.rename_column("skren_b", "tag", "label")
    catalog.to_table(
        spark.createDataFrame([(7, "t7x", 1.0)], ["k", "label", "x"]),
        "skren_b", keys=["k"], how="upsert",
    )
    got = catalog.read_table("skren_b", bloom_point={"label": "t300"})
    assert got.count() == 1


def test_sketch_time_travel_across_rename(spark, catalog):
    """Sketch entries are keyed by stable column identity, so a
    version written before a rename answers under the column's
    current name: ``table_sketch_stats`` and ``estimate_range_rows``
    at the create version see all 1000 rows under ``val``."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    catalog.to_table(df, "sktt_t", keys=["k"], sketch_columns=["v"],
                     num_buckets=8)
    created = catalog._manifest("sktt_t")["v"]
    catalog.rename_column("sktt_t", "v", "val")
    catalog.to_table(
        spark.createDataFrame([(5, 999.0)], ["k", "val"]),
        "sktt_t", keys=["k"], how="upsert",
    )
    r = catalog.table_sketch_stats(
        "sktt_t", "val", quantiles=(), version=created
    ).first()
    assert r["n_rows"] == 1000, r
    est = catalog.estimate_range_rows(
        "sktt_t", "val", None, None, version=created
    )
    assert est == 1000
    assert catalog.table_sketch_stats(
        "sktt_t", "val", quantiles=()
    ).first()["n_rows"] == 1000


def test_sketch_stats_empty_table_returns_zero(spark, catalog):
    """Deleting every row leaves zero live segments; metadata stats
    must answer n_rows=0 / distinct_est=0 (NULL quantiles), mirroring
    estimate_range_rows' empty guard — never a NULL-everything row."""
    df = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, "sk_e", keys=["k"], sketch_columns=["v"])
    catalog.delete_rows("sk_e", "k >= 0")
    assert catalog._manifest("sk_e")["segments"] == {}
    r = catalog.table_sketch_stats(
        "sk_e", "v", quantiles=(0.5,)
    ).collect()[0]
    assert r["n_rows"] == 0 and r["distinct_est"] == 0
    assert r["q_0_5"] is None
    assert catalog.estimate_range_rows("sk_e", "v", 0.0, 10.0) == 0


def test_partial_dml_keeps_only_live_bucket_stats(spark, catalog):
    """Partial-bucket DML tombstones buckets inside a segment; the
    stats/bloom entries a reader gets must cover EXACTLY the live
    bucket list — the reader cuts the dead buckets' entries from the
    segment's skipping file, and nothing rescans superseded leaves."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(
        df, "st_p", keys=["k"], num_buckets=8,
        stats_columns=["v"], bloom_columns=["v"],
    )
    catalog.delete_rows("st_p", "k = 7", strategy="rewrite")
    man = catalog._manifest("st_p")
    assert len(man["segments"]) == 2  # tombstoned base + survivors
    skip = catalog._skipping("st_p", man)
    for seg, bs in man["segments"].items():
        live = {str(b) for b in bs}
        assert set(skip["stats"][seg]) == live
        assert set(skip["blooms"][seg]) == live
    # the tombstoned bucket is gone from the base segment's entries
    base = min(man["segments"], key=lambda s: len(man["segments"][s]) * -1)
    assert len(man["segments"][base]) >= 7
    # reads and skipping still correct after the prune
    assert catalog.read_table("st_p").count() == 999
    assert catalog.read_table(
        "st_p", stats_bounds={"v": (500.0, 510.0)}
    ).where("v between 500 and 510").count() == 11


def test_cluster_by_zorder_rowgroup_skipping_survives_dml(spark, catalog):
    """cluster_by=... Z-orders every segment write: parquet row-group
    min/max stats on BOTH clustered dims stay tight (a narrow 2-D
    predicate overlaps few row groups, vs ~all of them in a key-sorted
    twin), and because the layout lives in _write_segment, compaction
    after DML preserves it without a separate OPTIMIZE job."""
    import pyarrow.parquet as pq

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 32 * 1024)
    try:
        df = spark.range(40000).select(
            F.col("id").alias("k"),
            (F.col("id") % 64).cast("int").alias("x"),
            (F.floor(F.col("id") / 64) % 64).cast("int").alias("y"),
        )
        catalog.to_table(df, "zc_t", keys=["k"], num_buckets=2,
                         cluster_by=["x", "y"])
        catalog.to_table(df.withColumn("k", F.col("k") + 100000),
                         "zc_plain", keys=["k"], num_buckets=2)

        def overlap_frac(table):
            """Fraction of row groups whose x AND y stats overlap the
            narrow box x<=7, y<=7."""
            root = catalog._path(table)
            hit = tot = 0
            for d in catalog.fs.list_dirs(root):
                if not d.startswith("seg-"):
                    continue
                for b in catalog.fs.list_dirs(f"{root}/{d}"):
                    for f in catalog.fs.list_files(f"{root}/{d}/{b}"):
                        if not f.endswith(".parquet"):
                            continue
                        pf = pq.ParquetFile(
                            f"{root}/{d}/{b}/{f}".replace("file:", "")
                        )
                        names = pf.schema_arrow.names
                        xi, yi = names.index("x"), names.index("y")
                        for i in range(pf.metadata.num_row_groups):
                            rg = pf.metadata.row_group(i)
                            sx = rg.column(xi).statistics
                            sy = rg.column(yi).statistics
                            tot += 1
                            if sx.min <= 7 and sy.min <= 7:
                                hit += 1
            assert tot >= 8, f"need multiple row groups, got {tot}"
            return hit / tot

        plain = overlap_frac("zc_plain")
        clustered = overlap_frac("zc_t")
        # key-sorted layout: x cycles 0..63 within every row group, so
        # essentially every group overlaps; z-order confines the box
        assert plain > 0.8, plain
        assert clustered < 0.5 * plain, (clustered, plain)

        # roundtrip correctness is untouched by layout
        assert catalog.read_table("zc_t").count() == 40000
        got = catalog.read_table("zc_t").where(
            "x <= 7 and y <= 7"
        ).count()
        assert got == df.where("x <= 7 and y <= 7").count()

        # DML + compaction preserve the clustering (THE segment
        # writer applies it; no OPTIMIZE re-run needed)
        catalog.delete_rows("zc_t", "k = 5", strategy="rewrite")
        catalog.to_table(
            df.withColumn("k", F.col("k") + 200000).limit(5000),
            "zc_t", keys=["k"], how="append",
        )
        catalog.compact("zc_t")
        assert overlap_frac("zc_t") < 0.5 * plain
        assert catalog.read_table("zc_t").count() == 44999

        # ALTER CLUSTER BY: the key-sorted twin adopts the layout via
        # cluster_table (meta first, rewrite via compact), dropping its
        # overlap to clustered levels; rewrite=False changes only the
        # declaration (future segments), leaving current files alone
        catalog.cluster_table("zc_plain", ["x", "y"])
        catalog.vacuum("zc_plain")  # overlap_frac walks ON-DISK segs
        assert overlap_frac("zc_plain") < 0.5 * plain
        assert catalog.read_table("zc_plain").count() == 40000
        catalog.cluster_table("zc_plain", [], rewrite=False)
        assert catalog.meta("zc_plain").cluster_by == []
        with pytest.raises(NameError, match="not in schema"):
            catalog.cluster_table("zc_plain", ["nope"])

        # guards: create-time only, integer dims only, drop refused
        with pytest.raises(NameError, match="create time"):
            catalog.to_table(df, "zc_t", keys=["k"], how="append",
                             cluster_by=["x"])
        with pytest.raises(ValueError, match="integer"):
            catalog.to_table(df.withColumn("f", F.rand()), "zc_f",
                             keys=["k"], cluster_by=["f"])
        with pytest.raises(NameError, match="cluster_by"):
            catalog.drop_column("zc_t", "x")
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)


def test_restore_brings_schema_back_past_rename_and_drop(spark, catalog):
    """RESTORE carries the logical schema with the segment set (Delta
    parity): restoring past a rename_column + drop_column resurrects
    the old names and the dropped column's data; names vacated AFTER
    the restore target stay unrecyclable (union of retired_names)."""
    df = spark.range(50).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        (F.col("id") * 2).alias("w"),
    )
    catalog.to_table(df, "rs_t", keys=["k"])              # v1
    catalog.rename_column("rs_t", "v", "val")             # v2
    catalog.drop_column("rs_t", "w")                      # v3
    assert set(catalog.read_table("rs_t").columns) == {"k", "val"}
    catalog.restore_table("rs_t", 1)                      # v4
    out = catalog.read_table("rs_t")
    assert set(out.columns) == {"k", "v", "w"}
    assert out.where("k = 3").collect()[0]["w"] == 6
    assert out.where("k = 3").collect()[0]["v"] == 3.0
    # names vacated after v1 stay retired — no recycling ever
    with pytest.raises(NameError, match="retired|in use"):
        catalog.rename_column("rs_t", "w", "val")
    # restoring FORWARD to the post-rename snapshot re-applies it
    catalog.restore_table("rs_t", 2)                      # v5
    out2 = catalog.read_table("rs_t")
    assert set(out2.columns) == {"k", "val", "w"}
    assert out2.where("k = 3").collect()[0]["val"] == 3.0
    # writes after the roundtrip still work under the restored schema
    catalog.to_table(
        spark.range(50, 60).select(
            F.col("id").alias("k"),
            F.col("id").cast("double").alias("val"),
            (F.col("id") * 2).alias("w"),
        ),
        "rs_t", keys=["k"], how="append",
    )
    assert catalog.read_table("rs_t").count() == 60


def test_rename_allowed_when_name_only_in_constraint_literal(spark, catalog):
    """Constraint-reference detection is by RESOLUTION, not regex: a
    column whose name appears only inside another constraint's STRING
    LITERAL renames/drops fine; a genuine reference still refuses."""
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.lit("status ok").alias("status"),
        F.col("id").cast("double").alias("v"),
    )
    catalog.to_table(
        df, "cl_t", keys=["k"],
        constraints={"c_lit": "status != 'bad v status'"},
    )
    # "v" appears only inside the literal — rename and re-check pass
    catalog.rename_column("cl_t", "v", "value")
    assert set(catalog.read_table("cl_t").columns) == {
        "k", "status", "value"
    }
    catalog.drop_column("cl_t", "value")
    # a genuine reference still refuses
    with pytest.raises(NameError, match="constraint"):
        catalog.rename_column("cl_t", "status", "state")


def test_range_read_consumes_selectivity_estimate(spark, catalog):
    """read_table(stats_bounds=...) consults the manifest-sketch
    selectivity estimate before probing leaves: a selective range
    probes (and actually skips leaves); an unselective one skips the
    probe and warns. Results are identical either way."""
    import warnings as _w

    df = spark.range(40000).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    # append in two value-disjoint halves so min/max CAN prune
    catalog.to_table(
        df.where("v < 500"), "sel_r", keys=["k"], num_buckets=4,
        stats_columns=["v"], sketch_columns=["v"],
    )
    catalog.to_table(
        df.where("v >= 500"), "sel_r", keys=["k"], how="append",
    )
    all_leaves = len(catalog._live_paths("sel_r"))
    # selective range: estimate says ~10% → probe runs, leaves skip
    got = catalog.read_table(
        "sel_r", stats_bounds={"v": (0.0, 99.0)}
    )
    dec = catalog._last_range_decision["v"]
    assert dec["probed"] and dec["frac"] < 0.3, dec
    assert got.count() == df.where("v <= 99").count()
    pruned = len(
        catalog._live_paths("sel_r", stats_bounds={"v": (0.0, 99.0)})
    )
    assert pruned < all_leaves
    # unselective range: probe skipped, warning raised, same answer
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        got2 = catalog.read_table(
            "sel_r", stats_bounds={"v": (0.0, 2000.0)}
        )
        dec2 = catalog._last_range_decision["v"]
        assert not dec2["probed"] and dec2["frac"] > 0.9, dec2
        assert any("skipping the" in str(w.message) for w in rec)
    assert got2.count() == 40000


def test_key_range_reads_prune_timestamp_and_date_keys(spark, catalog):
    """``read_table(lowest=, highest=)`` on a timestamp key prunes leaves
    by their recorded key ranges (kept as epoch microseconds) and
    returns exactly the rows the bounds select; a date bound on the
    timestamp key and a datetime bound on a date key prune nothing and
    still select the right rows."""
    import datetime

    base = datetime.datetime(2024, 3, 1)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.timestamp_seconds(
                F.lit(int(base.timestamp())) + F.col("id") * 3600
            ).alias("ts"),
            F.col("id").cast("double").alias("v"),
        )

    catalog.to_table(batch(0, 48), "ts_t", keys=["ts"], num_buckets=2)
    catalog.to_table(batch(48, 96), "ts_t", keys=["ts"], how="append")
    catalog.to_table(
        batch(0, 96).select(F.to_date("ts").alias("d"), "v")
        .groupBy("d").agg(F.max("v").alias("v")),
        "d_t", keys=["d"], num_buckets=2,
    )
    catalog.to_table(
        spark.range(1).select(
            F.to_date(F.lit("2024-03-10")).alias("d"), F.lit(0.0).alias("v")
        ),
        "d_t", keys=["d"], how="append",
    )

    def check(name, lo, hi, n_segments):
        got = catalog.read_table(name, lowest=lo, highest=hi)
        key = catalog.meta(name).keys[0]
        want = catalog.read_table(name).where(
            (F.col(key) >= F.lit(lo)) & (F.col(key) <= F.lit(hi))
        )
        assert sorted(got.collect()) == sorted(want.collect()) != []
        assert len({
            p.split(f"/{name}/")[1].split("/")[0] for p in got.inputFiles()
        }) == n_segments, (name, lo, hi)

    hour = datetime.timedelta(hours=1)
    check("ts_t", base + 50 * hour, base + 60 * hour, 1)
    check("ts_t", datetime.date(2024, 3, 3), datetime.date(2024, 3, 4), 2)
    check("d_t", datetime.date(2024, 3, 10), datetime.date(2024, 3, 11), 1)
    check("d_t", base, base + 24 * hour, 2)


def test_range_read_loads_skipping_metadata_once(spark, catalog):
    """One read_table(stats_bounds=...) on a stats + sketch table reads
    each live segment's skipping file once and the table meta once:
    the selectivity gate and the leaf pruning share one load."""
    from pandabase_spark.io import META_FILE, SKIP_FILE

    df = spark.range(400).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(
        df.where("v < 200"), "once_t", keys=["k"], num_buckets=2,
        stats_columns=["v"], sketch_columns=["v"],
    )
    catalog.to_table(df.where("v >= 200"), "once_t", keys=["k"], how="append")
    assert len(catalog._manifest("once_t")["segments"]) == 2

    class CountingFS:
        def __init__(self, inner):
            self._inner = inner
            self.reads: list[str] = []

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def read_text(self, path, *args, **kwargs):
            self.reads.append(path)
            return self._inner.read_text(path, *args, **kwargs)

    real = catalog.fs
    catalog.fs = counting = CountingFS(real)
    try:
        got = catalog.read_table("once_t", stats_bounds={"v": (0.0, 20.0)})
    finally:
        catalog.fs = real
    assert catalog._last_range_decision["v"]["probed"]
    assert got.count() == 21
    names = [p.rsplit("/", 1)[1] for p in counting.reads]
    assert names.count(SKIP_FILE) == 2, counting.reads
    assert names.count(META_FILE) == 1, counting.reads


def test_write_verbs_read_meta_and_head_once(spark, catalog):
    """Each keyed write verb reads the table meta once and walks the
    log head once, and passes both down to its probe, its pinned reads
    and its commit: append, upsert and merge through ``to_table`` and
    ``merge_table``, and ``compact`` without its vacuum. The head walk starts at the hint
    file, so a walk is one read of it."""
    from pandabase_spark import kt_log
    from pandabase_spark.io import META_FILE

    df = spark.range(200).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, "once_w", keys=["k"], num_buckets=4,
                     stats_columns=["v"])
    hint = kt_log.hint_path(catalog._path("once_w")).rsplit("/", 1)[1]

    class CountingFS:
        def __init__(self, inner):
            self._inner = inner
            self.reads: list[str] = []

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def read_text(self, path, *args, **kwargs):
            self.reads.append(path.rsplit("/", 1)[1])
            return self._inner.read_text(path, *args, **kwargs)

    verbs = {
        "append": lambda: catalog.to_table(
            df.withColumn("k", F.col("k") + 1000), "once_w", keys=["k"],
            how="append"),
        "upsert": lambda: catalog.to_table(
            df.where("k < 10").withColumn("v", F.col("v") + 1.0), "once_w",
            keys=["k"], how="upsert"),
        "merge": lambda: catalog.merge_table(
            df.where("k >= 190").withColumn("k", F.col("k") + 20),
            "once_w", when_matched_update="all"),
        # vacuum, which compact runs by default, walks the versions
        # on its own
        "compact": lambda: catalog.compact("once_w", vacuum=False),
    }
    real = catalog.fs
    reads = {}
    for verb, fn in verbs.items():
        catalog.fs = counting = CountingFS(real)
        try:
            fn()
        finally:
            catalog.fs = real
        reads[verb] = (
            counting.reads.count(META_FILE), counting.reads.count(hint)
        )
    assert reads == {verb: (1, 1) for verb in verbs}, reads
    assert catalog.read_table("once_w").count() == 410


def test_vacuum_retention_window_protects_time_travel(spark, catalog):
    """vacuum(retain_last=N) truncates only history OLDER than the
    window: the last N versions below current stay readable and
    restorable while segments exclusive to older snapshots are
    reclaimed — a nightly vacuum can coexist with readers pinned to
    recent snapshots. retain_last=0 keeps the old all-truncating
    semantics."""
    df = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, "vr_t", keys=["k"], num_buckets=2)   # v1
    for i in range(3):  # v2..v4: each upsert rewrites both buckets
        catalog.to_table(
            df.withColumn("v", F.col("v") + i + 1),
            "vr_t", keys=["k"], how="upsert",
        )
    assert catalog.read_table("vr_t", version=1).count() == 100
    gone = catalog.vacuum("vr_t", retain_last=2)
    assert gone  # v1's exclusive segments reclaimed
    # inside the window: v2, v3, v4 all read and restore
    for v in (2, 3, 4):
        assert catalog.read_table("vr_t", version=v).count() == 100
    assert catalog.read_table("vr_t", version=3).where(
        "k = 0"
    ).collect()[0]["v"] == 2.0
    # outside the window: truncated
    with pytest.raises(NameError, match="vacuum"):
        catalog.read_table("vr_t", version=1)
    with pytest.raises(NameError, match="vacuum"):
        catalog.restore_table("vr_t", 1)
    # restore INSIDE the window still works after the vacuum
    catalog.restore_table("vr_t", 2)                          # v5
    assert catalog.read_table("vr_t").where(
        "k = 0"
    ).collect()[0]["v"] == 1.0
    # retain_last=0 (default) then truncates the rest
    catalog.vacuum("vr_t")
    with pytest.raises(NameError):
        catalog.read_table("vr_t", version=3)


def test_compact_passes_retention_to_vacuum(spark, catalog):
    """compact(retain_last=N) merges the live segments but keeps the
    last N pre-compact snapshots readable — OPTIMIZE without
    truncating the time travel recent readers are pinned to."""
    df = spark.range(80).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, "cr_t", keys=["k"])                  # v1
    catalog.to_table(
        df.withColumn("k", F.col("k") + 1000),
        "cr_t", keys=["k"], how="append",
    )                                                         # v2
    assert catalog.compact("cr_t", retain_last=2) == 2        # v3
    assert catalog.read_table("cr_t").count() == 160
    # both pre-compact snapshots survive inside the window
    assert catalog.read_table("cr_t", version=1).count() == 80
    assert catalog.read_table("cr_t", version=2).count() == 160


@pytest.mark.full_tier
def test_occ_two_driver_race(spark, catalog, tmp_path):
    """THE 100 TB contention mode, for real: two INDEPENDENT Spark
    drivers (separate JVMs via subprocess, separate KeyedCatalog
    objects, real filesystem visibility — nothing shared but the
    warehouse directory) race appends/upserts/deletes/compactions on
    one table. The in-process hook tests above exercise the OCC logic;
    this exercises the actual races. Asserts: every op eventually
    applies (retry-on-ConcurrentWriteError converges), at least one
    genuine conflict was detected across the run, zero rows lost or
    duplicated — the final table equals the order-independent model of
    both workers' op sequences."""
    import subprocess
    import sys as _sys
    import os as _os

    wh = str(tmp_path / "occ_wh")
    boot = KeyedCatalog(spark, wh, default_buckets=4)
    seed = spark.range(1).select(
        F.lit(0).cast("long").alias("k"), F.lit(0.0).alias("v")
    )
    boot.to_table(seed, "occ_t", keys=["k"])

    env = dict(_os.environ)
    env["PYTHONPATH"] = _os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__)))
    script = _os.path.join(env["PYTHONPATH"], "scripts", "occ_worker.py")
    n_ops = 8
    procs = [
        subprocess.Popen(
            [_sys.executable, script, wh, "occ_t", str(wid), str(n_ops)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env,
        )
        for wid in (1, 2)
    ]
    outs = [p.communicate(timeout=900)[0].decode() for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    reports = [json.loads(o.strip().splitlines()[-1]) for o in outs]
    assert all(len(r["applied"]) == n_ops for r in reports), reports
    total_conflicts = sum(r["conflicts"] for r in reports)
    assert total_conflicts >= 1, (
        f"two drivers interleaved {2 * n_ops} commits with zero "
        f"detected conflicts — OCC not exercised: {reports}"
    )

    # order-independent model: per worker w the sequence
    # append[+0,+50) / upsert[+100,+150) / delete[+0,+10) / compact /
    # append[+400,+450) / upsert[+500,+550) / delete(no-op) / compact
    # leaves keys {10..49, 100..149, 400..449, 500..549} + 100000*w,
    # each v = k + w; plus the boot row (k=0, v=0).
    expected = {0: 0.0}
    for w in (1, 2):
        for d in (
            list(range(10, 50)) + list(range(100, 150))
            + list(range(400, 450)) + list(range(500, 550))
        ):
            k = 100_000 * w + d
            expected[k] = float(k + w)
    got = {
        r["k"]: r["v"] for r in boot.read_table("occ_t").collect()
    }
    assert got == expected, (
        f"lost/extra rows: {len(got)} vs {len(expected)} expected; "
        f"conflicts={total_conflicts}"
    )
    boot.drop_table("occ_t")


@pytest.mark.full_tier
def test_occ_three_writer_vacuum_soak(spark, catalog, tmp_path):
    """r10 verdict ask #8: THREE independent Spark drivers race
    appends/upserts/deletes on one table while the third interleaves
    a WINDOWED, AGE-GATED VACUUM into the same rounds — maintenance
    racing live ingest, the shape a nightly vacuum takes on a hot
    100 TB table. The age gate (vacuum only reclaims never-referenced
    segment dirs past the orphan retention) is what makes this safe:
    an in-flight rival's staged-but-unclaimed segment must survive the
    sweep. Asserts: every op applies, at least one genuine conflict,
    and zero rows lost or duplicated vs the order-independent
    model."""
    import subprocess
    import sys as _sys
    import os as _os

    wh = str(tmp_path / "occ3_wh")
    boot = KeyedCatalog(spark, wh, default_buckets=4)
    seed = spark.range(1).select(
        F.lit(0).cast("long").alias("k"), F.lit(0.0).alias("v")
    )
    boot.to_table(seed, "occ3_t", keys=["k"])

    env = dict(_os.environ)
    env["PYTHONPATH"] = _os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__)))
    script = _os.path.join(env["PYTHONPATH"], "scripts", "occ_worker.py")
    n_ops = 8
    procs = [
        subprocess.Popen(
            [
                _sys.executable, script, wh, "occ3_t", str(wid),
                str(n_ops), "3", ("vacuum" if wid == 3 else "writer"),
            ],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env,
        )
        for wid in (1, 2, 3)
    ]
    outs = [p.communicate(timeout=900)[0].decode() for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    reports = [json.loads(o.strip().splitlines()[-1]) for o in outs]
    assert all(len(r["applied"]) == n_ops for r in reports), reports
    total_conflicts = sum(r["conflicts"] for r in reports)
    assert total_conflicts >= 1, (
        f"three drivers interleaved {3 * n_ops} commits with zero "
        f"detected conflicts — OCC not exercised: {reports}"
    )
    # order-independent model (same cycle as the two-driver test, one
    # more worker; vacuum slots change no rows)
    expected = {0: 0.0}
    for w in (1, 2, 3):
        for d in (
            list(range(10, 50)) + list(range(100, 150))
            + list(range(400, 450)) + list(range(500, 550))
        ):
            k = 100_000 * w + d
            expected[k] = float(k + w)
    got = {
        r["k"]: r["v"] for r in boot.read_table("occ3_t").collect()
    }
    assert got == expected, (
        f"lost/extra rows: {len(got)} vs {len(expected)} expected; "
        f"conflicts={total_conflicts}; reports={reports}"
    )
    boot.drop_table("occ3_t")


def test_key_equality_bucket_parser(spark, catalog):
    """_key_equality_buckets pins a bucket ONLY when confinement is
    provable: full-key equality conjunctions pin (extra narrowing
    conjuncts welcome); any OR, partial key cover, non-key column,
    literal/key type mismatch, or non-string predicate falls back to
    None (full probe). The pinned bucket must agree with the layout's
    own hash."""
    from pandabase_spark.io import _bucket_expr

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    catalog.to_table(df, "keq_t", keys=["k"], num_buckets=8)
    m = catalog.meta("keq_t")

    def true_bucket(kval: int) -> list[int]:
        r = (
            spark.range(1)
            .select(F.lit(kval).cast("long").alias("k"))
            .select(_bucket_expr(["k"], 8).alias("b"))
            .first()
        )
        return [int(r["b"])]

    kb = catalog._key_equality_buckets
    assert kb("k = 42", m) == true_bucket(42)
    assert kb("k == 42", m) == true_bucket(42)
    assert kb("(k = 42) AND v > 1.0", m) == true_bucket(42)
    assert kb("`k` = 7 and s like 'x%'", m) == true_bucket(7)
    # not provable -> None
    assert kb("k = 42 OR k = 43", m) is None
    assert kb("v = 42", m) is None                 # not a key
    assert kb("k > 42", m) is None                 # not equality
    assert kb("k = '42'", m) is None               # string vs long key
    assert kb("k = v", m) is None                  # non-literal rhs
    assert kb(F.col("k") == 42, m) is None         # Column predicate
    assert kb("k = 1 AND x = 2 OR k = 3", m) is None  # OR anywhere

    # composite keys: every key column must be pinned
    catalog.to_table(
        df.withColumn("k2", F.col("k") % 10), "keq_c",
        keys=["k", "k2"], num_buckets=8,
    )
    mc = catalog.meta("keq_c")
    got = catalog._key_equality_buckets("k = 42 AND k2 = 2", mc)
    want = (
        spark.range(1)
        .select(
            F.lit(42).cast("long").alias("k"),
            F.lit(2).cast("long").alias("k2"),
        )
        .select(_bucket_expr(["k", "k2"], 8).alias("b"))
        .first()
    )
    assert got == [int(want["b"])]
    assert catalog._key_equality_buckets("k = 42", mc) is None

    # string key: quoted literal pins, unquoted number does not
    catalog.to_table(
        df.select(F.col("s").alias("sk"), "v"), "keq_s",
        keys=["sk"], num_buckets=8,
    )
    ms = catalog.meta("keq_s")
    assert catalog._key_equality_buckets("sk = 's7'", ms) is not None
    assert catalog._key_equality_buckets("sk = 7", ms) is None

    # end to end: the pinned path returns the same answers
    assert catalog.delete_rows("keq_t", "k = 42 AND v < 0.0") == 0
    assert catalog.delete_rows("keq_t", "k = 42") == 1
    assert catalog.read_table("keq_t").count() == 99
    assert catalog.update_rows("keq_t", "k = 43", {"v": "v + 0.5"}) == 1
    row = catalog.read_table("keq_t").where("k = 43").first()
    assert row["v"] == 86.5
    for t in ("keq_t", "keq_c", "keq_s"):
        catalog.drop_table(t)


def _stale_hint_table(spark, catalog, name):
    """A three-version table (v = k, k + 1, k + 2) whose hint is forced
    back to v1 while the log is at v3. Returns the hint's path."""
    from pandabase_spark.io import LOG_DIR

    df = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, name, keys=["k"], num_buckets=2)              # v1
    catalog.to_table(df.withColumn("v", F.col("v") + 1), name,
                     keys=["k"], how="upsert")                         # v2
    catalog.to_table(df.withColumn("v", F.col("v") + 2), name,
                     keys=["k"], how="upsert")                         # v3
    tpath = catalog._path(name)
    cur_path = f"{tpath}/{LOG_FILE}"
    v1_doc = catalog.fs.read_text(f"{tpath}/{LOG_DIR}/{1:010d}.json")
    catalog.fs.write_text_atomic(cur_path, v1_doc)
    assert json.loads(catalog.fs.read_text(cur_path))["v"] == 1
    return cur_path


def test_repair_regressed_pointer(spark, catalog):
    """A regressed hint (forced back to v1 while the log is at v3) is
    advisory only: reads resolve the head through the version chain,
    an append plans on the head and claims v4, and that commit — the
    only writer of the hint — repairs it by rewriting it."""
    cur_path = _stale_hint_table(spark, catalog, "rp_t")
    head = {k: float(k + 2) for k in range(10)}
    assert catalog._manifest("rp_t")["v"] == 3
    assert {r["k"]: r["v"] for r in catalog.read_table("rp_t").collect()} == head
    catalog.to_table(
        spark.range(100, 110).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("v")
        ),
        "rp_t", keys=["k"], how="append",
    )                                                                  # v4
    assert json.loads(catalog.fs.read_text(cur_path))["v"] == 4
    assert catalog._manifest("rp_t")["v"] == 4
    got = {r["k"]: r["v"] for r in catalog.read_table("rp_t").collect()}
    assert got == {**head, **{k: float(k) for k in range(100, 110)}}
    catalog.drop_table("rp_t")


def test_vacuum_repairs_regressed_pointer_before_pruning(spark, catalog):
    """Vacuum under a regressed hint must not strand the table: it
    reclaims against the head (v3), never against the hint (v1). It no
    longer rewrites the hint; the stubs it leaves in v1's and v2's
    slots keep the log free of holes, so the chase from the stale hint
    still reaches v3 and the table reads the head's data — before this,
    pruning under a regressed pointer left it stranded at v1 with v1's
    segments gone (a PATH_NOT_FOUND read)."""
    from pandabase_spark import kt_log
    from pandabase_spark.io import LOG_DIR

    cur_path = _stale_hint_table(spark, catalog, "vrp_t")
    tpath = catalog._path("vrp_t")
    gone = catalog.vacuum("vrp_t")
    assert gone, "tombstoned segments should still be reclaimed"
    for v in (1, 2):
        doc = catalog.fs.read_text(f"{tpath}/{LOG_DIR}/{v:010d}.json")
        assert kt_log.is_stub(json.loads(doc)), f"v{v} was not stubbed"
    assert json.loads(catalog.fs.read_text(cur_path))["v"] == 1
    assert catalog._manifest("vrp_t")["v"] == 3
    got = {r["k"]: r["v"] for r in catalog.read_table("vrp_t").collect()}
    assert got == {k: float(k + 2) for k in range(10)}
    catalog.drop_table("vrp_t")


def test_vacuum_stale_snapshot_never_eats_newer_commits(spark, catalog):
    """r11 review findings #1/#2: a commit that lands while vacuum is
    running (i.e. ABOVE vacuum's manifest snapshot) must be fully
    protected — its young segment must not be classified as
    committed-and-superseded garbage, and its claim file must not be
    pruned as 'history'. Deterministic repro: pin vacuum to a STALE
    snapshot while a newer commit exists on disk."""
    from pandabase_spark.io import LOG_DIR

    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, "vst_t", keys=["k"], num_buckets=2)           # v1
    catalog.to_table(df.withColumn("v", F.col("v") + 1), "vst_t",
                     keys=["k"], how="upsert")                         # v2
    stale = catalog._manifest("vst_t")  # snapshot BEFORE the rival
    catalog.to_table(df.withColumn("v", F.col("v") + 2), "vst_t",
                     keys=["k"], how="upsert")                         # v3
    tpath = catalog._path("vst_t")
    v3_file = f"{tpath}/{LOG_DIR}/{3:010d}.json"
    v3_segs = set(json.loads(catalog.fs.read_text(v3_file))["segments"])
    assert catalog.fs.exists(v3_file)
    # vacuum runs against the stale v2 snapshot (the mid-run race)
    real = catalog._manifest
    catalog._manifest = lambda tn, version=None, **kw: stale
    try:
        gone = catalog.vacuum("vst_t")
    finally:
        del catalog._manifest  # restore the bound method
        assert catalog._manifest is not None
    assert gone, "v1's tombstoned segments should still be reclaimed"
    # the racing commit survives intact: claim file + segments + data
    assert catalog.fs.exists(v3_file), "v3's claim was pruned"
    on_disk = {
        d for d in catalog.fs.list_dirs(tpath) if d.startswith("seg-")
    }
    assert v3_segs <= on_disk, "v3's young segment was deleted"
    got = {r["k"]: r["v"] for r in catalog.read_table("vst_t").collect()}
    assert got == {k: float(k + 2) for k in range(20)}
    assert real is not None
    catalog.drop_table("vst_t")


def test_vacuum_dry_run_stays_readonly_under_regression(spark, catalog):
    """dry_run is the safety PREVIEW — even with a stale hint it must
    neither rewrite the hint nor delete or stub anything (an operator
    previews on a possibly-live table; writes from a preview would
    defeat its purpose)."""
    from pandabase_spark.io import LOG_DIR

    df = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, "vdr_t", keys=["k"], num_buckets=2)           # v1
    catalog.to_table(df.withColumn("v", F.col("v") + 1), "vdr_t",
                     keys=["k"], how="upsert")                         # v2
    tpath = catalog._path("vdr_t")
    cur_path = f"{tpath}/{LOG_FILE}"
    v1_doc = catalog.fs.read_text(f"{tpath}/{LOG_DIR}/{1:010d}.json")
    catalog.fs.write_text_atomic(cur_path, v1_doc)
    preview = catalog.vacuum("vdr_t", dry_run=True)
    assert preview, "tombstoned segment should appear in the preview"
    # hint untouched, nothing deleted
    assert json.loads(catalog.fs.read_text(cur_path))["v"] == 1
    segs = [d for d in catalog.fs.list_dirs(tpath) if d.startswith("seg-")]
    assert set(preview) <= set(segs), "dry run must not delete"
    assert catalog.history("vdr_t")[0]["version"] == 1  # no stub
    # readers still reach the head through the chain walk
    assert catalog._manifest("vdr_t")["v"] == 2
    catalog.drop_table("vdr_t")


def test_vacuum_reclaims_aged_orphan_sidecar(spark, catalog):
    """A staged segment no version references is spared while younger
    than ``orphan_age_s`` (possibly an in-flight commit), but one
    whose writer crashed before its claim must not leak forever on a
    cold table: past the age it is reclaimed, its skipping file with
    it, while a FRESH staged segment survives."""
    import os
    import time

    from pandabase_spark.io import SKIP_FILE, STAGED_SEGMENT_RETENTION_S

    catalog.to_table(_mk(spark, 10), "sv_t", keys=["k"], num_buckets=2,
                     bloom_columns=["v"])                                # v1
    tpath = catalog._path("sv_t")
    aged, _ = _stage_segment(catalog, spark, "sv_t", 100, 110)
    fresh, _ = _stage_segment(catalog, spark, "sv_t", 200, 210)
    for seg in (aged, fresh):
        assert catalog.fs.exists(f"{tpath}/{seg}/{SKIP_FILE}")
    old = time.time() - STAGED_SEGMENT_RETENTION_S - 60
    os.utime(f"{tpath}/{aged}", (old, old))
    assert catalog.vacuum("sv_t") == [aged]
    assert not catalog.fs.exists(f"{tpath}/{aged}")    # crashed writer's leak
    assert catalog.fs.exists(f"{tpath}/{fresh}/{SKIP_FILE}")  # in flight
    assert catalog.read_table("sv_t").count() == 10
    catalog.drop_table("sv_t")


def test_upsert_shapes_are_equivalent(spark, catalog, monkeypatch):
    """The adaptive upsert (round 10) picks between two merge shapes —
    broadcast anti+union for full-column broadcastable batches,
    full-outer otherwise (quiet-box A/B: the full-outer join can never
    hash-broadcast, so it loses ~20% whenever the batch keys fit the
    broadcast threshold). The shapes must be answer-IDENTICAL on every
    contract point: batch NULLs win on matched keys, unmatched keys
    insert, generated columns recompute, re-upserted deleted keys
    return. Pinned by running the same mixed batch through each forced
    shape on identically-prepared tables."""
    src = spark.createDataFrame(
        [(k, k * 2.0, f"s{k}") for k in range(100)],
        schema="k bigint, v double, s string",
    )
    # the batch must carry EVERY table column (including the generated
    # one, with correct values — provided generated values are
    # validated) or full_column is False and the antiunion force is a
    # no-op, making the equivalence vacuous (first draft's mistake,
    # caught in review); _last_upsert_shape asserts the force landed.
    # The shape is forced through the broadcast gate it is decided by.
    batch = spark.createDataFrame(
        # matched+changed, matched+NULL (null must WIN), brand new key
        [(10, 999.0, None, 30), (20, None, "upd", 60),
         (500, 5.0, "new", 1500)],
        schema="k bigint, v double, s string, g bigint",
    )
    results = {}
    for shape in ("antiunion", "fullouter"):
        t = f"shape_{shape}"
        catalog.to_table(src, t, keys=["k"], generated={"g": "k * 3"})
        catalog.delete_rows(t, "k = 10")  # re-insert path
        with monkeypatch.context() as mp:
            mp.setattr(
                catalog, "_keys_broadcastable",
                lambda *a, **kw: shape == "antiunion",
            )
            catalog.to_table(batch, t, keys=["k"], how="upsert")
        assert catalog._last_upsert_shape == shape
        results[shape] = {
            r["k"]: (r["v"], r["s"], r["g"])
            for r in catalog.read_table(t).collect()
        }
        catalog.drop_table(t)
    assert results["antiunion"] == results["fullouter"]
    got = results["antiunion"]
    assert got[10] == (999.0, None, 30)   # batch NULL won; generated fresh
    assert got[20] == (None, "upd", 60)   # batch NULL won on v
    assert got[500] == (5.0, "new", 1500)
    assert len(got) == 101


def test_upsert_adaptive_dispatch_picks_by_batch(spark, catalog, monkeypatch):
    """Dispatch facts: a full-column broadcastable batch takes the
    anti+union branch (no full-outer join in any job), a
    partial-column batch must take the full-outer branch regardless of
    size (anti+union has no carry for preserved columns), and forcing
    antiunion on a partial-column batch falls back to full-outer
    rather than losing preserved values."""
    src = spark.createDataFrame(
        [(k, float(k), f"s{k}") for k in range(50)],
        schema="k bigint, v double, s string",
    )
    catalog.to_table(src, "disp", keys=["k"])
    # partial-column + forced antiunion: fallback keeps preserved cols
    with monkeypatch.context() as mp:
        mp.setattr(catalog, "_keys_broadcastable", lambda *a, **kw: True)
        part = spark.createDataFrame(
            [(5, 123.0)], schema="k bigint, v double"
        )
        catalog.to_table(part, "disp", keys=["k"], how="upsert")
    row = {r["k"]: (r["v"], r["s"]) for r in catalog.read_table("disp").collect()}
    assert row[5] == (123.0, "s5"), "preserved column must survive"
    assert catalog._last_upsert_shape == "fullouter"

    # size dispatch: a batch whose key frame exceeds the session
    # broadcast threshold routes to full-outer even when full-column
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64b")
        m = catalog.meta("disp")
        assert not catalog._keys_broadcastable(50, m)
        assert catalog._keys_broadcastable(2, m)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    full = spark.createDataFrame(
        [(7, 7.0, "x7")], schema="k bigint, v double, s string"
    )
    catalog.to_table(full, "disp", keys=["k"], how="upsert")
    got = {r["k"]: (r["v"], r["s"]) for r in catalog.read_table("disp").collect()}
    assert got[7] == (7.0, "x7") and len(got) == 50
    assert catalog._last_upsert_shape == "antiunion"


def test_folded_probe_keeps_narrowing_semantics(spark, catalog):
    """An existing-table write narrows inside its one batch probe
    (the batch is scanned ONCE). The narrowing rules' live effects
    hold there: an all-null Spark batch column is treated as ABSENT
    (upsert preserves target values — reference
    make_clean_columns_dict drops all-None columns), even a new one
    without add_new_columns, and a genuinely NEW column under
    add_new_columns is type-narrowed (0/1 ints evolve the schema as
    boolean). A non-null new column still needs add_new_columns."""
    src = spark.createDataFrame(
        [(k, float(k), f"s{k}") for k in range(40)],
        schema="k bigint, v double, s string",
    )
    catalog.to_table(src, "fold", keys=["k"])

    # all-null column on the folded path: preserve, don't null out
    batch = spark.createDataFrame(
        [(5, None, "upd5"), (6, None, "upd6")],
        schema="k bigint, v double, s string",
    )
    catalog.to_table(batch, "fold", keys=["k"], how="upsert")
    got = {r["k"]: (r["v"], r["s"]) for r in catalog.read_table("fold").collect()}
    assert got[5] == (5.0, "upd5") and got[6] == (6.0, "upd6")

    # a PARTIALLY-null column still overwrites with its nulls
    batch2 = spark.createDataFrame(
        [(7, None, "u7"), (8, 88.0, "u8")],
        schema="k bigint, v double, s string",
    )
    catalog.to_table(batch2, "fold", keys=["k"], how="upsert")
    got = {r["k"]: (r["v"], r["s"]) for r in catalog.read_table("fold").collect()}
    assert got[7] == (None, "u7") and got[8] == (88.0, "u8")

    # new column of 0/1 ints: the probe's stats narrow it to boolean
    batch3 = spark.createDataFrame(
        [(1, 1), (2, 0)], schema="k bigint, flag int"
    )
    catalog.to_table(
        batch3, "fold", keys=["k"], how="upsert", add_new_columns=True
    )
    assert dict(catalog.read_table("fold").dtypes)["flag"] == "boolean"

    # an all-null column whose DECLARED type coercion would reject —
    # NullType from F.lit(None), and an all-null string against the
    # double column — is DROPPED (preserve) before coercion, not
    # exploded in coerce_to_table_schema
    nulltype = spark.range(3).select(
        F.col("id").alias("k"), F.lit(None).alias("v")
    )
    catalog.to_table(nulltype, "fold", keys=["k"], how="upsert")
    strnull = spark.createDataFrame(
        [(1, None), (2, None)], schema="k bigint, v string"
    )
    catalog.to_table(strnull, "fold", keys=["k"], how="upsert")
    got = {r["k"]: r["v"] for r in catalog.read_table("fold").collect()}
    assert got[1] == 1.0 and got[2] == 2.0, "all-null mismatch must preserve"

    # an all-null NEW column without add_new_columns is absent too:
    # dropped, not refused
    newnull = spark.range(3).select(
        F.col("id").alias("k"), F.lit(None).cast("string").alias("extra")
    )
    catalog.to_table(newnull, "fold", keys=["k"], how="upsert")
    assert "extra" not in catalog.read_table("fold").columns

    # a non-null new column without add_new_columns is still refused
    extra = spark.createDataFrame([(1, "x")], schema="k bigint, extra string")
    with pytest.raises(NameError, match="add_new_columns"):
        catalog.to_table(extra, "fold", keys=["k"], how="upsert")


def test_batch_probe_refuses_uncast_keys(spark, catalog):
    """xxhash64 of an int differs from xxhash64 of the equal long, so
    the batch probe refuses a key whose type differs from the
    table's before it hashes anything; to_table casts the keys
    first, so the same int-keyed batch upserts into the long table."""
    catalog.to_table(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"),
        "kt_long", keys=["k"],
    )
    batch = spark.createDataFrame([(2, 20.0), (3, 3.0)], "k int, v double")
    with pytest.raises(TypeError, match="key column k is int"):
        catalog._batch_probe(batch, catalog.meta("kt_long"))
    catalog.to_table(batch, "kt_long", keys=["k"], how="upsert")
    got = {r["k"]: r["v"] for r in catalog.read_table("kt_long").collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0}


def test_vacuum_spares_inflight_staged_dv(spark, catalog):
    """ADVICE r11 (high): a DV-path delete/update/merge stages its
    dv-* parquet BEFORE claiming the manifest (io.py _delete_dv), so a
    dv dir no version references is indistinguishable from an
    in-flight commit's staged sidecar. The age-gated (default) vacuum
    must keep a FRESH unreferenced dv dir and reclaim an AGED one (a
    crashed writer's leak); the offline vacuum (orphan_age_s=0)
    reclaims the fresh one too — exactly the segment dirs' contract."""
    import os
    import time

    from pandabase_spark.io import DV_DIR

    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, "dvr_t", keys=["k"], num_buckets=2)
    tpath = catalog._path("dvr_t")
    fresh = f"{tpath}/{DV_DIR}/dv-inflight00000001"
    aged = f"{tpath}/{DV_DIR}/dv-crashed00000002"
    for d in (fresh, aged):
        os.makedirs(d)
        with open(f"{d}/part-0.parquet", "wb") as fh:
            fh.write(b"x")
    old = time.time() - 7200
    os.utime(aged, (old, old))
    gone = catalog.vacuum("dvr_t")
    assert f"{DV_DIR}/dv-crashed00000002" in gone
    assert catalog.fs.exists(fresh), "in-flight staged DV was reclaimed"
    assert not catalog.fs.exists(aged)
    gone2 = catalog.vacuum("dvr_t", orphan_age_s=0.0)
    assert f"{DV_DIR}/dv-inflight00000001" in gone2
    catalog.drop_table("dvr_t")


def test_vacuum_spares_dv_committed_above_snapshot(
    spark, catalog, monkeypatch
):
    """ADVICE r11 (high): a rival's DV claimed ABOVE the vacuum's
    manifest snapshot is absent from live_dvs; reclaiming it leaves
    the rival's committed version unreadable (missing sidecar) under
    the advertised concurrent mode. Simulate the race window — rival
    claims between vacuum's _manifest read and its DV scan — by
    pinning the vacuum's head resolution at v1 while disk holds the
    DV-delete's v2. The dv dir is AGED past the orphan retention so
    only the above-snapshot protection (not the age gate) can save
    it."""
    import os
    import time

    from pandabase_spark.io import DV_DIR, KeyedCatalog

    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, "dvf_t", keys=["k"], num_buckets=2)        # v1
    catalog.delete_rows("dvf_t", "k < 5", strategy="dv")            # v2
    tpath = catalog._path("dvf_t")
    dv_dirs = catalog.fs.list_dirs(f"{tpath}/{DV_DIR}")
    assert len(dv_dirs) == 1
    dv_path = f"{tpath}/{DV_DIR}/{dv_dirs[0]}"
    old = time.time() - 7200
    os.utime(dv_path, (old, old))

    orig = KeyedCatalog._manifest

    def pinned(self, table_name, version=None):
        if version is None and table_name.endswith("dvf_t"):
            return orig(self, table_name, version=1)
        return orig(self, table_name, version)

    monkeypatch.setattr(KeyedCatalog, "_manifest", pinned)
    catalog.vacuum("dvf_t")
    monkeypatch.undo()
    assert catalog.fs.exists(dv_path), (
        "DV committed above the vacuum snapshot was reclaimed"
    )
    # the rival's commit stays fully readable: v2's DV still applies
    got = {r["k"] for r in catalog.read_table("dvf_t").collect()}
    assert got == set(range(5, 20))
    catalog.drop_table("dvf_t")


def test_vacuum_spares_segments_restored_above_snapshot(
    spark, catalog, monkeypatch
):
    """r12 review finding (the segment twin of the DV race): a racing
    restore_table is METADATA-ONLY — it re-references OLD segments in
    a commit above the vacuum's snapshot. Those segments are
    past-superseded at the snapshot (so the young-orphan age gate
    never protects them) and absent from live; without the
    future-segments protection the vacuum deletes them and the
    restored head becomes unreadable. Simulate the race window by
    pinning the vacuum's head resolution at v2 while disk holds the
    restore's v3."""
    from pandabase_spark.io import KeyedCatalog

    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    catalog.to_table(df, "vrs_t", keys=["k"], num_buckets=2)          # v1
    df2 = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )
    catalog.to_table(df2, "vrs_t", keys=["k"], how="upsert")          # v2
    catalog.restore_table("vrs_t", 1)                                 # v3
    want = {r["k"]: r["v"] for r in catalog.read_table("vrs_t").collect()}
    assert want == {i: float(i) for i in range(20)}  # v1 content back

    orig = KeyedCatalog._manifest

    def pinned(self, table_name, version=None):
        if version is None and table_name.endswith("vrs_t"):
            return orig(self, table_name, version=2)
        return orig(self, table_name, version)

    monkeypatch.setattr(KeyedCatalog, "_manifest", pinned)
    catalog.vacuum("vrs_t")
    monkeypatch.undo()
    got = {r["k"]: r["v"] for r in catalog.read_table("vrs_t").collect()}
    assert got == want, "restored head lost its re-referenced segments"
    catalog.drop_table("vrs_t")


def test_vacuum_history_summary_cache_bounds_and_survives(spark, catalog):
    """r12 verdict ask #4: vacuum's past-history union is cached in a
    summary sidecar so a later vacuum reads only manifests ABOVE the
    cached floor instead of every version ever committed. Pins:
    (a) the cache file appears after a reclaiming vacuum and is
    excluded from history()/time-travel/version walks; (b) a second
    vacuum with the cache present reclaims correctly (same result as
    a cold scan); (c) a CORRUPT cache falls back to the full scan;
    (d) a cache whose floor is AHEAD of the current snapshot (stale
    hint) is ignored — future data must never be classified
    past."""
    import json as _json

    catalog.to_table(_mk(spark), "tvc", keys=["k"])
    for i in range(3):
        patch = spark.range(200).select(
            F.col("id").alias("k"), F.lit(float(i)).alias("v")
        )
        catalog.to_table(patch, "tvc", keys=["k"], how="upsert")
    assert catalog.vacuum("tvc", retain_last=1)
    from pandabase_spark.io import LOG_DIR

    summ_path = f"{catalog._path('tvc')}/{LOG_DIR}/_vacuum_history.summary.json"
    # (a) written, excluded from the version surface
    assert catalog.fs.exists(summ_path)
    assert all(
        isinstance(h["version"], int) for h in catalog.history("tvc")
    )
    v_now = catalog._manifest("tvc")["v"]
    summ = _json.loads(catalog.fs.read_text(summ_path))
    assert summ["upto"] <= v_now
    # (b) warm-cache vacuum after more churn reclaims like a cold one
    patch = spark.range(200).select(
        F.col("id").alias("k"), F.lit(9.0).alias("v")
    )
    catalog.to_table(patch, "tvc", keys=["k"], how="upsert")
    gone_warm = set(catalog.vacuum("tvc", dry_run=True))
    catalog.fs.delete(summ_path, recursive=False)
    gone_cold = set(catalog.vacuum("tvc", dry_run=True))
    assert gone_warm == gone_cold
    # (c) corrupt cache: full scan fallback, vacuum still correct
    catalog.fs.write_text_atomic(summ_path, "{not json")
    assert set(catalog.vacuum("tvc")) == gone_cold
    assert catalog.read_table("tvc").where("v = 9.0").count() == 200
    # (d) floor ahead of snapshot is ignored (poisoned cache must not
    # reclassify above-snapshot segments as past garbage)
    catalog.fs.write_text_atomic(summ_path, _json.dumps({
        "upto": 10_000, "past_segs": ["seg-00000099"], "past_dvs": [],
    }))
    catalog.to_table(
        spark.range(5).select(F.col("id").alias("k"),
                              F.lit(1.5).alias("v")),
        "tvc", keys=["k"], how="upsert",
    )
    catalog.vacuum("tvc")
    assert catalog.read_table("tvc").count() == 200


def test_vacuum_noop_skips_manifest_walk(spark, catalog):
    """Append-heavy fast path: when nothing is reclaimed and no skip
    sidecars exist, vacuum must not prune (or even re-read) history —
    every version stays restorable afterwards."""
    catalog.to_table(_mk(spark), "tnw", keys=["k"])
    for i in range(4):
        batch = spark.range(1000 + 100 * i, 1100 + 100 * i).select(
            F.col("id").alias("k"), F.lit(float(i)).alias("v")
        )
        catalog.to_table(batch, "tnw", keys=["k"], how="append")
    versions_before = [h["version"] for h in catalog.history("tnw")]
    assert catalog.vacuum("tnw") == []
    assert [h["version"] for h in catalog.history("tnw")] == versions_before
    # every historical snapshot still time-travels
    for v in versions_before:
        assert catalog.read_table("tnw", version=v).count() >= 200


def test_merge_casts_source_keys_to_table_key_types(spark, catalog):
    """An int-keyed source merged into a long-keyed table must match
    on key VALUE: uncast, the int keys hash to other buckets, never
    match, and insert as duplicates (144 rows for 100 keys)."""
    catalog.to_table(
        spark.range(100).select(
            F.col("id").alias("k"), F.lit(0.0).alias("v")
        ),
        "mk_t", keys=["k"], num_buckets=4,
    )
    src = spark.range(0, 100, 2).select(
        F.col("id").cast("int").alias("k"), F.lit(1.0).alias("v")
    )
    out = catalog.merge_table(src, "mk_t")
    assert out == {"updated": 50, "deleted": 0, "inserted": 0}
    got = catalog.read_table("mk_t")
    assert got.count() == 100
    assert got.select("k").distinct().count() == 100
    assert got.where("v = 1.0").count() == 50
    assert got.schema["k"].dataType.simpleString() == "bigint"


def test_stats_bounds_accept_time_zone_aware_datetimes(spark, catalog):
    """Stored timestamp stats are naive local wall-time strings; an
    aware bound must be compared as the same instant, not as its
    offset-suffixed string. Point reads at every row's instant, given
    in UTC, +09:00 and -07:00, each return exactly that row."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    rows = [(i, t0 + dt.timedelta(hours=i)) for i in range(40)]
    catalog.to_table(
        spark.createDataFrame(rows, "k bigint, ts timestamp"),
        "tz_t", keys=["k"], num_buckets=4, stats_columns=["ts"],
    )
    misses = []
    for i, t in rows:
        for tz in (0, 9, -7):
            b = t.astimezone(dt.timezone(dt.timedelta(hours=tz)))
            got = catalog.read_table(
                "tz_t", stats_bounds={"ts": (b, b)}
            ).select("k").collect()
            if [r["k"] for r in got] != [i]:
                misses.append((i, tz, got))
    assert not misses, misses


def test_stats_bounds_on_decimal_columns(spark, catalog, monkeypatch):
    """DECIMAL stats compare as numbers: point and range reads over a
    decimal column with Decimal, int and float bounds return exactly
    the matching rows, and the leaves below the range are still
    skipped. A manifest written when decimal stats were stored as
    strings is read without a wrong skip and without a TypeError."""
    from decimal import Decimal

    import pandabase_spark.io as kio

    prices = [Decimal(50 + 23 * i) / 100 for i in range(48)]  # 0.50..11.31
    rows = list(enumerate(prices))
    frame = lambda part: spark.createDataFrame(
        part, "k bigint, price decimal(12,2)"
    )

    def build(name):
        catalog.to_table(frame(rows[:24]), name, keys=["k"],
                         num_buckets=4, stats_columns=["price"])
        catalog.to_table(frame(rows[24:]), name, keys=["k"], how="append")

    build("dec_t")
    legacy_stat = kio.stat_json
    monkeypatch.setattr(
        kio, "stat_json",
        lambda v: str(v) if isinstance(v, Decimal) else legacy_stat(v),
    )
    build("dec_legacy")
    monkeypatch.undo()

    def keys(name, lo, hi):
        got = catalog.read_table(name, stats_bounds={"price": (lo, hi)})
        return sorted(r["k"] for r in got.select("k").collect())

    def want(lo, hi):
        return [
            k for k, p in rows
            if (lo is None or p >= Decimal(str(lo)))
            and (hi is None or p <= Decimal(str(hi)))
        ]

    bounds = [(p, p) for p in prices[::5]]
    bounds += [(float(p), float(p)) for p in prices[1::5]]
    bounds += [(1, 1), (Decimal("9.20"), None), (9.2, None), (None, 2),
               (Decimal("3.5"), 7.0), (9, 12)]
    misses = [
        (name, lo, hi)
        for name in ("dec_t", "dec_legacy")
        for lo, hi in bounds
        if keys(name, lo, hi) != want(lo, hi)
    ]
    assert not misses, misses
    assert len(want(Decimal("9.20"), None)) == 10

    # every leaf of the first segment sits below 5.80 and is skipped
    got = catalog.read_table("dec_t", stats_bounds={"price": (9.2, None)})
    files = {r[0] for r in got.select(F.input_file_name()).collect()}
    assert len({f.split("/dec_t/")[1].split("/")[0] for f in files}) == 1


def _skipping_from_rows(spark, catalog, name):
    """The stats, blooms and first-key ranges a table's segments should
    record, derived without the write's aggregate: each live leaf's
    rows are read back, bucketed with ``_bucket_expr``, summarized in
    pandas, and every non-NULL bloom value is hashed with
    ``_bloom_positions``."""
    from pandabase_spark.io import (
        BLOOM_K, BLOOM_M, PART_DIR, _bloom_b64, _bucket_expr,
    )

    m = catalog.meta(name)
    man = catalog._manifest(name)
    nb = man.get("nb") or m.num_buckets
    k0 = m.keys[0]
    stats, blooms, keys, positions = {}, {}, {}, {}
    for seg, live in man["segments"].items():
        pdf = (
            spark.read.parquet(f"{catalog._path(name)}/{seg}")
            .drop(PART_DIR)
            .withColumn("_b", _bucket_expr(m.keys, nb))
            .where(F.col("_b").isin(list(live)))
            .toPandas()
        )
        st, bl = stats.setdefault(seg, {}), blooms.setdefault(seg, {})
        ks = keys.setdefault(seg, {})
        for b, grp in pdf.groupby("_b"):
            ks[str(b)] = {k0: [int(grp[k0].min()), int(grp[k0].max())]}
            st[str(b)] = {
                c: ([None, None] if grp[c].isna().all()
                    else [float(grp[c].min()), float(grp[c].max())])
                for c in m.stats_columns
            }
            for c in m.bloom_columns:
                bits = set()
                for val in grp[c].dropna():
                    if val not in positions:
                        positions[val] = catalog._bloom_positions(
                            val, m.schema[c].dataType
                        )
                    bits.update(positions[val])
                if bits:
                    bl.setdefault(str(b), {})[c] = {
                        "m": BLOOM_M, "k": BLOOM_K, "b64": _bloom_b64(bits),
                    }
    return stats, blooms, keys


def test_skipping_metadata_matches_rows_after_every_write(spark, catalog):
    """The per-(segment, bucket) stats and blooms each segment records
    equal an independent recompute from the rows on disk after create,
    append, upsert and compact — including a bucket whose bloom column
    is all NULL (no bloom entry) and one whose stats column is all NULL
    ([None, None]). The entries live only in each live segment's
    ``_pb_skip.json``: no version file carries them, and each stays
    small. A head written in the old inline format (entries in the
    version file, a ``skip`` reference, no segment files) still reads
    the right rows, never prunes, and prunes again after a compact."""
    import json

    from pandabase_spark import kt_log
    from pandabase_spark.io import SKIP_FILE, _bucket_expr

    tpath = catalog._path("sk_t")

    def batch(lo, hi, shift=0.0):
        b = _bucket_expr(["k"], 4)
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.when(b != 1, F.col("id") * 1.5 + shift).alias("v"),
            F.when(b != 0, F.concat(F.lit("p"), F.col("id") % 37)).alias("p"),
        )

    def check():
        man = catalog._manifest("sk_t")
        skip = catalog._skipping("sk_t", man)
        stats, blooms, keys = _skipping_from_rows(spark, catalog, "sk_t")
        assert skip["stats"] == stats
        assert skip["blooms"] == blooms
        assert skip["keys"] == keys
        for seg in man["segments"]:
            assert stats[seg]["1"]["v"] == [None, None]
            assert "0" in stats[seg] and "0" not in blooms[seg]
            assert catalog.fs.exists(f"{tpath}/{seg}/{SKIP_FILE}")
        for v in catalog.history("sk_t"):
            text = catalog.fs.read_text(
                kt_log.version_path(tpath, v["version"])
            )
            assert len(text) < 2048, (v, len(text))
            assert not {"stats", "blooms", "sketches", "skip"} & set(
                json.loads(text)
            )

    catalog.to_table(batch(0, 60), "sk_t", keys=["k"], num_buckets=4,
                     stats_columns=["v"], bloom_columns=["p"])
    check()
    catalog.to_table(batch(100, 130), "sk_t", keys=["k"], how="append")
    check()
    catalog.to_table(batch(50, 110, shift=0.25), "sk_t", keys=["k"],
                     how="upsert")
    check()
    catalog.to_table(batch(200, 230), "sk_t", keys=["k"], how="append")
    check()

    # the old inline format at the head, with no segment files
    man = catalog._manifest("sk_t")
    skip = catalog._skipping("sk_t", man)
    legacy = json.dumps({
        **man, "stats": skip["stats"], "blooms": skip["blooms"],
        "skip": f"{man['v']:010d}-deadbeef.skip.json",
    })
    catalog.fs.write_text_atomic(kt_log.version_path(tpath, man["v"]), legacy)
    catalog.fs.write_text_atomic(kt_log.hint_path(tpath), legacy)
    for seg in man["segments"]:
        catalog.fs.delete(f"{tpath}/{seg}/{SKIP_FILE}", recursive=False)
    def table_rows():
        return sorted(
            tuple(r) for r in catalog.read_table("sk_t").select(
                "k", "v", "p"
            ).collect()
        )

    want = table_rows()
    assert len(want) == 160 and len(man["segments"]) == 2
    # a range above every value: each leaf with stats could be skipped
    bounds = {"v": (1e6, None)}
    assert catalog._live_paths("sk_t", stats_bounds=bounds) == (
        catalog._live_paths("sk_t")
    )
    got = catalog.read_table("sk_t", stats_bounds={"v": (0.0, 10.0)})
    assert got.count() == sum(
        1 for _, v, _ in want if v is not None and 0.0 <= v <= 10.0
    ) > 0
    catalog.compact("sk_t")
    assert len(catalog._manifest("sk_t")["segments"]) == 1
    assert len(catalog._live_paths("sk_t", stats_bounds=bounds)) < len(
        catalog._live_paths("sk_t")
    )
    assert table_rows() == want
    check()

    from pyspark.sql import types as T

    # creates whose skipping columns take their final type or value
    # only after the batch probe: a Bloom column narrowed from {0, 1}
    # to boolean, and a generated stats column
    base = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("f"),
        (F.col("id") * 0.5).alias("v"),
    )
    for name, kw in (
        ("sk_narrow", dict(bloom_columns=["f"], stats_columns=["v"])),
        ("sk_gen", dict(stats_columns=["w"], generated={"w": "v * 3 - k"})),
    ):
        catalog.to_table(base, name, keys=["k"], num_buckets=4, **kw)
        man = catalog._manifest(name)
        skip = catalog._skipping(name, man)
        stats, blooms, keys = _skipping_from_rows(spark, catalog, name)
        if "bloom_columns" not in kw:
            blooms = {}
        assert (skip["stats"], skip["blooms"], skip["keys"]) == (
            stats, blooms, keys
        ), name
        assert all(len(keys[seg]) == 4 for seg in man["segments"])
    assert isinstance(
        catalog.meta("sk_narrow").schema["f"].dataType, T.BooleanType
    )


def test_skipping_bucket_is_the_leaf_dir_not_the_catalog_path(spark, tmp_path):
    """A catalog whose own path contains ``_pb_b=3/`` still records one
    stats and bloom entry per live bucket, each with that bucket's real
    range — not one entry for bucket 3 spanning the whole segment."""
    cat = KeyedCatalog(spark, str(tmp_path / "_pb_b=3" / "wh"))
    df = spark.range(800).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"),
        (F.col("id") % 11).alias("p"),
    )
    cat.to_table(df, "pb_t", keys=["k"], num_buckets=4,
                 stats_columns=["v"], bloom_columns=["p"])
    man = cat._manifest("pb_t")
    skip = cat._skipping("pb_t", man)
    stats, blooms, _ = _skipping_from_rows(spark, cat, "pb_t")
    (seg, live), = man["segments"].items()
    assert sorted(live) == [0, 1, 2, 3]
    assert set(skip["stats"][seg]) == set(skip["blooms"][seg]) == {
        "0", "1", "2", "3"
    }
    assert skip["stats"] == stats
    assert skip["blooms"] == blooms
