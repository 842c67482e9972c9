"""Persisted-ANN-index compaction (r12 verdict ask #2).

``compact_index`` folds a streaming-maintained index's accumulated
``txn=`` leaves (one per cell per micro-batch under
``_append_index_batch``) into one ``txn=compact-<gen>`` leaf per
cell — O(live leaves), not the O(corpus) retrain+rewrite that used to
be the only mitigation. Contracts pinned here:

- serve results are IDENTICAL before/after compaction, for both the
  raw IVF index and the IVFPQ index (shared layout);
- a replayed batch at-or-below the compaction watermark is a NO-OP
  (its rows live in a compact leaf; a dynamic-overwrite replay of a
  vanished sub-partition would otherwise duplicate them);
- batches ABOVE the watermark keep their own leaves and their replay
  idempotence;
- crash at any point (uncommitted fold leaves, committed-but-pending
  deletes) is never served wrong and a re-run converges;
- reserved label shapes (base / adhoc-* / compact-*) cannot be
  aliased by a user txn app id.

The reference has no index maintenance surface at all (pandas +
SQLAlchemy, reference:pandabase/pandabase.py); this is engine
extension surface modeled on FAISS add-after-train plus Delta-style
layout-derived idempotence.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pandabase_spark.operators.similarity import (
    _load_compaction_state,
    ann_topk_indexed,
    ann_topk_ivfpq_indexed,
    append_ivf_index,
    append_ivfpq_index,
    compact_index,
    cosine_topk,
    write_ivf_index,
    write_ivfpq_index,
)
from tests.conftest import SF_DIR


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _leaves(path):
    out = {}
    data = f"{path}/data"
    for cd in os.listdir(data):
        if cd.startswith("cell="):
            out[cd] = sorted(
                td for td in os.listdir(f"{data}/{cd}")
                if td.startswith("txn=")
            )
    return out


def _topk_set(df):
    cols = df.columns
    score = "cosine" if "cosine" in cols else "approx_dist"
    return {
        (r["query_id"], r["vec_id"], round(r[score], 6), r["rank"])
        for r in df.collect()
    }


def test_compact_raw_ivf_serves_identical_and_shrinks_leaves(
    spark, tmp_path
):
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(
        emb.where("vec_id % 4 = 0"), path, n_cells=6, iters=2,
        sample_mod=2,
    )
    # a streaming horizon in miniature: tagged batches + an untagged
    # (adhoc) backfill, several leaves per cell
    for b in range(4):
        append_ivf_index(
            emb.where(f"vec_id % 4 = 1 and vec_id % 7 = {b % 7}"),
            path, txn=("app", b),
        )
    append_ivf_index(emb.where("vec_id % 4 = 2"), path)
    append_ivf_index(emb.where("vec_id % 4 = 3"), path)
    corpus = (
        emb.where("vec_id % 4 in (0, 2, 3)")
        .union(emb.where("vec_id % 4 = 1 and vec_id % 7 < 4"))
    )
    q = emb.where("vec_id < 3")
    before = _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=6)
    )
    # full probe over the appended index == brute force (sanity)
    assert before == _topk_set(cosine_topk(corpus, q, k=8))
    n_before = sum(len(v) for v in _leaves(path).values())

    stats = compact_index(spark, path, keep_last=2)
    assert stats["folded_labels"] > 0
    assert stats["leaves_after"] < stats["leaves_before"] == n_before

    after = _topk_set(ann_topk_indexed(spark, path, q, k=8, nprobe=6))
    assert after == before
    # every cell now holds exactly: one compact leaf + the retained
    # (above-watermark) batch leaves
    for cd, tds in _leaves(path).items():
        assert "txn=compact-1" in tds
        assert "txn=base" not in tds
        assert all(
            td == "txn=compact-1" or td.startswith("txn=app")
            for td in tds
        ), tds
    state = _load_compaction_state(spark, path)
    assert state["gen"] == 1 and state["exclude"] == []
    assert state["watermarks"] == {"app": 1}  # batches 0,1 folded

    # a second compaction with nothing newly foldable is a no-op
    stats2 = compact_index(spark, path, keep_last=2)
    assert stats2["folded_labels"] == 0
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=6)
    ) == before


def test_compact_ivfpq_serves_identical(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "pq")
    write_ivfpq_index(
        emb.where("vec_id % 3 = 0"), path, n_cells=4, m=4,
        n_codes=8, iters=2, sample_mod=2,
    )
    for b in range(3):
        append_ivfpq_index(
            emb.where(f"vec_id % 3 = 1 and vec_id % 5 = {b}"),
            path, txn=("ing", b),
        )
    append_ivfpq_index(emb.where("vec_id % 3 = 2"), path)
    q = emb.where("vec_id < 3")
    before = _topk_set(
        ann_topk_ivfpq_indexed(spark, path, q, k=8, nprobe=4)
    )
    stats = compact_index(spark, path, keep_last=1)
    assert stats["folded_labels"] > 0
    after = _topk_set(
        ann_topk_ivfpq_indexed(spark, path, q, k=8, nprobe=4)
    )
    assert after == before


def test_replay_below_watermark_is_noop_above_still_idempotent(
    spark, tmp_path
):
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(
        emb.where("vec_id % 2 = 0"), path, n_cells=4, iters=1,
        sample_mod=2,
    )
    batches = {
        b: emb.where(f"vec_id % 2 = 1 and vec_id % 4 = {2 * b + 1}")
        for b in range(2)
    }
    for b, df in batches.items():
        append_ivf_index(df, path, txn=("app", b))
    compact_index(spark, path, keep_last=1)  # folds batch 0, keeps 1
    state = _load_compaction_state(spark, path)
    assert state["watermarks"] == {"app": 0}
    data = lambda: spark.read.parquet(f"{path}/data")
    n = data().count()

    # lost checkpoint restarted from epoch 0: the pre-watermark batch
    # re-delivered — MUST be a no-op (no leaves recreated, no dupes)
    leaves0 = _leaves(path)
    append_ivf_index(batches[0], path, txn=("app", 0))
    assert data().count() == n
    assert _leaves(path) == leaves0
    assert (
        data().groupBy("vec_id").count().where("count > 1").count()
        == 0
    )
    # the retained batch keeps dynamic-overwrite replay idempotence
    append_ivf_index(batches[1], path, txn=("app", 1))
    assert data().count() == n
    # and the stream continues past the watermark normally
    append_ivf_index(
        emb.where("vec_id % 2 = 1 and vec_id % 4 = 1").limit(0),
        path, txn=("app", 2),
    )  # empty batch: fine
    q = emb.where("vec_id < 2")
    got = _topk_set(ann_topk_indexed(spark, path, q, k=5, nprobe=4))
    corpus = emb.where(
        "vec_id % 2 = 0 or (vec_id % 2 = 1 and vec_id % 4 in (1, 3))"
    )
    assert got == _topk_set(cosine_topk(corpus, q, k=5))


def test_crash_windows_never_served_wrong_and_rerun_converges(
    spark, tmp_path
):
    import shutil

    from pandabase_spark.operators.similarity import (
        _commit_compaction_state,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(
        emb.where("vec_id % 2 = 0"), path, n_cells=4, iters=1,
        sample_mod=2,
    )
    append_ivf_index(emb.where("vec_id % 2 = 1"), path, txn=("a", 0))
    append_ivf_index(emb.limit(0), path, txn=("a", 1))
    q = emb.where("vec_id < 3")
    truth = _topk_set(ann_topk_indexed(spark, path, q, k=8, nprobe=4))

    # crash window 1: fold leaves written for an UNCOMMITTED
    # generation (no state sidecar yet) — serve must ignore them
    data = f"{path}/data"
    victim = next(
        cd for cd, tds in _leaves(path).items() if "txn=base" in tds
    )
    fake = f"{data}/{victim}/txn=compact-1"
    shutil.copytree(f"{data}/{victim}/txn=base", fake)
    _commit_compaction_state(
        spark, path, {"gen": 0, "watermarks": {}, "exclude": []}
    )
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth

    # crash window 2: compaction COMMITTED (gen=1, folded labels in
    # exclude) but physical deletes didn't run — serve must exclude
    # the superseded leaves, not double-count them
    shutil.rmtree(fake)
    stats = compact_index(spark, path, keep_last=0)
    assert stats["gen"] == 1 and stats["folded_labels"] > 0
    # recreate a superseded leaf as if its delete never happened
    comp = next(
        cd for cd, tds in _leaves(path).items()
        if "txn=compact-1" in tds
    )
    shutil.copytree(
        f"{data}/{comp}/txn=compact-1", f"{data}/{comp}/txn=base"
    )
    _commit_compaction_state(
        spark, path,
        {"gen": 1, "watermarks": {"a": 1}, "exclude": ["base"]},
    )
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    # a re-run resumes: finishes the pending delete, then no-ops
    stats2 = compact_index(spark, path, keep_last=0)
    assert not os.path.exists(f"{data}/{comp}/txn=base")
    state = _load_compaction_state(spark, path)
    assert state["exclude"] == []
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    assert stats2["folded_labels"] == 0


def test_reserved_txn_app_prefixes_raise(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(emb.limit(50), path, n_cells=2, iters=1)
    for bad in ("base", "compact-7", "adhoc-x"):
        with pytest.raises(ValueError, match="reserved"):
            append_ivf_index(emb.limit(5), path, txn=(bad, 0))


def test_compact_residual_ivfpq_serves_identical(spark, tmp_path):
    """Compaction is payload-agnostic, but the RESIDUAL index adds an
    anchors sidecar and a residual flag the fold must not disturb —
    pin serve identity across compaction on the residual
    configuration too (the production-recommended encoding)."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    # clustered corpus: separated integer centers + ternary offsets
    center = F.expr(
        "transform(sequence(1, 16), i -> cast(case "
        "when (i - 1) % 4 = vec_id % 4 then 8 * (vec_id % 4 + 1) "
        "else 0 end as double))"
    )
    tern = F.expr(
        "transform(sequence(1, 16), i -> "
        "cast(pmod(hash(vec_id, i), 3) - 1 as double))"
    )
    corpus = emb.select(
        "vec_id",
        F.zip_with(center, tern, lambda a, b: a + b).alias("embedding"),
    )
    path = str(tmp_path / "res")
    write_ivfpq_index(
        corpus.where("vec_id % 3 = 0"), path, n_cells=4, m=4,
        n_codes=8, iters=2, residual=True,
    )
    for b in range(3):
        append_ivfpq_index(
            corpus.where(f"vec_id % 3 = 1 and vec_id % 5 = {b}"),
            path, txn=("r", b),
        )
    append_ivfpq_index(corpus.where("vec_id % 3 = 2"), path)
    q = corpus.where("vec_id < 3")
    before = _topk_set(
        ann_topk_ivfpq_indexed(spark, path, q, k=8, nprobe=4)
    )
    stats = compact_index(spark, path, keep_last=1)
    assert stats["folded_labels"] > 0
    after = _topk_set(
        ann_topk_ivfpq_indexed(spark, path, q, k=8, nprobe=4)
    )
    assert after == before


def test_stale_uncommitted_fold_leaf_deleted_under_new_watermark(
    spark, tmp_path
):
    """r13 review finding: a crashed fold leaves UNCOMMITTED
    compact-<g+1> leaves; a re-run under a DIFFERENT watermark whose
    fold set misses that cell must DELETE the stale leaf rather than
    let its own commit flip it live (which would serve the stale
    partial fold's rows as duplicates)."""
    import shutil

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(
        emb.where("vec_id % 2 = 0"), path, n_cells=4, iters=1,
        sample_mod=2,
    )
    for b in range(3):
        append_ivf_index(
            emb.where(f"vec_id % 2 = 1 and vec_id % 3 = {b}"), path,
            txn=("a", b),
        )
    q = emb.where("vec_id < 3")
    truth = _topk_set(ann_topk_indexed(spark, path, q, k=8, nprobe=4))
    # simulate run A's crash mid-rename: an uncommitted compact-1
    # leaf holding a COPY of batch a:2's rows in one cell
    data = f"{path}/data"
    victim = next(
        cd for cd, tds in _leaves(path).items()
        if any(td.startswith("txn=a") for td in tds)
    )
    src_leaf = next(
        td for td in _leaves(path)[victim] if td.startswith("txn=a")
    )
    shutil.copytree(
        f"{data}/{victim}/{src_leaf}", f"{data}/{victim}/txn=compact-1"
    )
    # run B folds NOTHING from that app (keep_last high) but still
    # folds base+adhoc? nothing movable -> no commit; the stale leaf
    # must STILL be deleted by the entry cleanup
    stats = compact_index(spark, path, keep_last=10)
    assert stats["folded_labels"] == 0
    assert not os.path.exists(f"{data}/{victim}/txn=compact-1")
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    # and a run that DOES commit a new generation can never resurrect
    # it: replant the stale leaf, fold with keep_last=0
    shutil.copytree(
        f"{data}/{victim}/{src_leaf}", f"{data}/{victim}/txn=compact-1"
    )
    stats2 = compact_index(spark, path, keep_last=0)
    assert stats2["gen"] == 1 and stats2["folded_labels"] > 0
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth


def test_retention_defers_physical_deletes(spark, tmp_path):
    """r13 review finding (online serve-vs-compaction race): with
    retention_s > 0 the superseded leaves survive the commit — a
    reader holding the PRE-commit state keeps a consistent snapshot —
    and are reclaimed only by a later run once aged past the window.
    New readers exclude them immediately; the dead copies are never
    re-folded."""
    import time

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(
        emb.where("vec_id % 2 = 0"), path, n_cells=4, iters=1,
        sample_mod=2,
    )
    for b in range(3):
        append_ivf_index(
            emb.where(f"vec_id % 2 = 1 and vec_id % 3 = {b}"), path,
            txn=("a", b),
        )
    q = emb.where("vec_id < 3")
    truth = _topk_set(ann_topk_indexed(spark, path, q, k=8, nprobe=4))
    leaves0 = sum(len(v) for v in _leaves(path).values())
    stats = compact_index(spark, path, keep_last=0, retention_s=3600)
    assert stats["folded_labels"] > 0
    # superseded leaves still on disk (deferred), plus the new fold
    assert sum(len(v) for v in _leaves(path).values()) > leaves0
    state = _load_compaction_state(spark, path)
    assert state["exclude"], "retention must keep the exclude set live"
    # new readers exclude the dead copies: result identical, no dupes
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    # a second run inside the window folds nothing new and keeps them
    stats2 = compact_index(spark, path, keep_last=0, retention_s=3600)
    assert stats2["folded_labels"] == 0
    assert _load_compaction_state(spark, path)["exclude"]
    # age the exclusions out (rewrite timestamps), then reclaim
    from pandabase_spark.operators.similarity import (
        _commit_compaction_state,
    )

    aged = {
        **state,
        "exclude_until": {lb: 1.0 for lb in state["exclude"]},
    }
    _commit_compaction_state(spark, path, aged)
    compact_index(spark, path, keep_last=0, retention_s=3600)
    state3 = _load_compaction_state(spark, path)
    assert state3["exclude"] == []
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    # only the compact leaf (+ nothing else foldable) remains per cell
    for tds in _leaves(path).values():
        assert all(td.startswith("txn=compact-") for td in tds), tds


def test_first_compaction_crash_mid_rename_never_served_wrong(
    spark, tmp_path, monkeypatch
):
    """r13 second review pass: on a NEVER-compacted index the serve
    path applies no generation filter (no state sidecar), so a crash
    during the first fold's rename phase used to expose the partial
    compact-1 leaves as live duplicates. compact_index now commits
    the default state BEFORE staging anything — pinned here by
    crashing the very first rename and asserting the serve result is
    still exact and a re-run converges."""
    import pandabase_spark.fs as fsmod

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(
        emb.where("vec_id % 2 = 0"), path, n_cells=4, iters=1,
        sample_mod=2,
    )
    append_ivf_index(emb.where("vec_id % 2 = 1"), path, txn=("a", 0))
    append_ivf_index(emb.limit(0), path, txn=("a", 1))
    q = emb.where("vec_id < 3")
    truth = _topk_set(ann_topk_indexed(spark, path, q, k=8, nprobe=4))

    real_rename = fsmod.HadoopFS.rename_dir
    calls = {"n": 0}

    def crash_after_first(self, src, dst):
        real_rename(self, src, dst)
        calls["n"] += 1
        raise RuntimeError("injected crash mid-rename")

    monkeypatch.setattr(fsmod.HadoopFS, "rename_dir", crash_after_first)
    with pytest.raises(RuntimeError, match="injected"):
        compact_index(spark, path, keep_last=0)
    monkeypatch.setattr(fsmod.HadoopFS, "rename_dir", real_rename)
    assert calls["n"] == 1
    # the partial compact-1 leaf exists, but the sidecar was committed
    # at entry (gen=0) so the serve filter ignores the uncommitted gen
    assert any(
        "txn=compact-1" in tds for tds in _leaves(path).values()
    )
    state = _load_compaction_state(spark, path)
    assert state is not None and state["gen"] == 0
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    # re-run converges: fold commits, serve still exact
    stats = compact_index(spark, path, keep_last=0)
    assert stats["gen"] == 1 and stats["folded_labels"] > 0
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
