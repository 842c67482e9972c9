"""Persisted-ANN-index compaction and the index log.

Every index write lands its ``data/txn=<label>/cell=<c>`` leaves and
then claims the next version of the index log (``_pb_log/``, the
keyed table's rule in ``kt_log``); readers use only the leaves the
head version lists. ``compact_index`` folds the head's leaves into one
new leaf per cell — O(live leaves), not the O(corpus)
retrain+rewrite. Contracts pinned here:

- serve results are IDENTICAL before/after compaction, for both the
  raw IVF index and the IVFPQ index (shared layout);
- a ``txn=`` batch at or below its app's committed watermark is a
  NO-OP, folded or not, and an empty batch commits its watermark;
- a crash at any point (a fold landed but never claimed, a claim
  whose deletes never ran) is never served wrong, and a re-run
  converges, leaving no leaf the head does not list;
- ``retention_s`` keeps unlisted leaves until they age out;
- any app id is an ordinary app: no label shape is reserved.

The reference has no index maintenance surface at all (pandas +
SQLAlchemy, reference:pandabase/pandabase.py); this is engine
extension surface modeled on FAISS add-after-train plus Delta's log.
"""

from __future__ import annotations

import os
import shutil

import pytest

from pandabase_spark import kt_log
from pandabase_spark.fs import HadoopFS
from pandabase_spark.operators import similarity
from pandabase_spark.operators.similarity import (
    _read_leaves,
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


def index_head(spark, path) -> dict:
    """The index's head version."""
    return kt_log.head(HadoopFS(spark), path)


def index_rows(spark, path):
    """The index's rows as readers see them: the head's leaves."""
    return _read_leaves(spark, path, index_head(spark, path))


def disk_leaves(path) -> "set[tuple[int | None, str]]":
    """Every (cell, label) leaf directory on disk, listed or not, and
    (None, label) for a label directory that holds no leaf."""
    data = f"{path}/data"
    if not os.path.isdir(data):
        return set()
    out = set()
    for td in os.listdir(data):
        cells = [
            int(cd[len("cell="):]) for cd in os.listdir(f"{data}/{td}")
            if cd.startswith("cell=")
        ]
        out |= {(c, td[len("txn="):]) for c in cells or [None]}
    return out


def listed_leaves(head) -> "set[tuple[int, str]]":
    return {
        (c, lb) for lb, leaf in head["leaves"].items() for c in leaf["cells"]
    }


def _topk_set(df):
    cols = df.columns
    score = "cosine" if "cosine" in cols else "approx_dist"
    return {
        (r["query_id"], r["vec_id"], round(r[score], 6), r["rank"])
        for r in df.collect()
    }


def _streamed_ivf(spark, path, n_batches=3):
    """A raw IVF index on the even ids plus ``n_batches`` txn batches
    of odd ids, and the full-probe truth over its 3 first queries."""
    emb = _emb(spark)
    write_ivf_index(
        emb.where("vec_id % 2 = 0"), path, n_cells=4, iters=1,
        sample_mod=2,
    )
    for b in range(n_batches):
        append_ivf_index(
            emb.where(f"vec_id % 2 = 1 and vec_id % 3 = {b}"), path,
            txn=("a", b),
        )
    q = emb.where("vec_id < 3")
    return q, _topk_set(ann_topk_indexed(spark, path, q, k=8, nprobe=4))


def test_compact_raw_ivf_serves_identical_and_shrinks_leaves(
    spark, tmp_path
):
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(
        emb.where("vec_id % 4 = 0"), path, n_cells=6, iters=2,
        sample_mod=2,
    )
    # a streaming horizon in miniature: tagged batches + untagged
    # backfills, several leaves per cell
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
    n_before = len(disk_leaves(path))

    stats = compact_index(spark, path, keep_last=2)
    assert stats["folded_labels"] == 5  # base, 2 backfills, batches 0-1
    assert stats["leaves_after"] < stats["leaves_before"] == n_before

    after = _topk_set(ann_topk_indexed(spark, path, q, k=8, nprobe=6))
    assert after == before
    # the head lists one fold plus the two newest batches, the disk
    # holds exactly those leaves, and the watermark is untouched
    head = index_head(spark, path)
    assert head["v"] == stats["gen"]
    kinds = sorted(
        (leaf["app"], leaf["batch"]) for leaf in head["leaves"].values()
        if leaf["app"] is not None
    )
    assert kinds == [("app", 2), ("app", 3)]
    assert len(head["leaves"]) == 3
    assert disk_leaves(path) == listed_leaves(head)
    assert head["txns"] == {"app": 3}

    # a second compaction with nothing newly foldable is a no-op
    stats2 = compact_index(spark, path, keep_last=2)
    assert stats2["folded_labels"] == 0 and stats2["gen"] == stats["gen"]
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
    compact_index(spark, path, keep_last=1)  # folds base + batch 0
    head = index_head(spark, path)
    assert head["txns"] == {"app": 1}
    n = index_rows(spark, path).count()

    # lost checkpoint restarted from epoch 0: the folded batch and the
    # retained one re-delivered — both no-ops: no leaf, no version
    leaves0 = disk_leaves(path)
    for b in (0, 1):
        append_ivf_index(batches[b], path, txn=("app", b))
        assert index_head(spark, path)["v"] == head["v"]
    assert index_rows(spark, path).count() == n
    assert disk_leaves(path) == leaves0
    assert (
        index_rows(spark, path).groupBy("vec_id").count()
        .where("count > 1").count() == 0
    )
    # an empty batch past the watermark lands no leaf but commits the
    # watermark
    append_ivf_index(
        emb.where("vec_id % 2 = 1 and vec_id % 4 = 1").limit(0),
        path, txn=("app", 2),
    )
    head2 = index_head(spark, path)
    assert head2["v"] == head["v"] + 1
    assert head2["txns"] == {"app": 2}
    assert head2["leaves"] == head["leaves"]
    q = emb.where("vec_id < 2")
    got = _topk_set(ann_topk_indexed(spark, path, q, k=5, nprobe=4))
    corpus = emb.where(
        "vec_id % 2 = 0 or (vec_id % 2 = 1 and vec_id % 4 in (1, 3))"
    )
    assert got == _topk_set(cosine_topk(corpus, q, k=5))


def test_crash_windows_never_served_wrong_and_rerun_converges(
    spark, tmp_path
):
    path = str(tmp_path / "idx")
    q, truth = _streamed_ivf(spark, path, n_batches=2)
    data = f"{path}/data"
    base = next(
        lb for lb in index_head(spark, path)["leaves"]
        if lb.startswith("base-")
    )

    # crash window 1: a fold landed its leaves but never claimed a
    # version — no reader sees them
    shutil.copytree(f"{data}/txn={base}", f"{data}/txn=compact-crashed")
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth

    # crash window 2: the fold claimed its version but its deletes
    # never ran — the folded leaf is on disk and unlisted
    stats = compact_index(spark, path, keep_last=0)
    assert stats["folded_labels"] == 3
    assert not os.path.exists(f"{data}/txn=compact-crashed")
    fold = next(iter(index_head(spark, path)["leaves"]))
    shutil.copytree(f"{data}/txn={fold}", f"{data}/txn={base}")
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    # a re-run finishes the delete and folds nothing
    stats2 = compact_index(spark, path, keep_last=0)
    assert stats2["folded_labels"] == 0
    assert disk_leaves(path) == listed_leaves(index_head(spark, path))
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth


def test_txn_app_ids_are_not_reserved(spark, tmp_path):
    """Leaf labels are generated and the head records each leaf's app
    and batch, so no app id can alias index machinery: ids shaped like
    the labels append and replay like any other app."""
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(emb.where("vec_id % 4 = 0"), path, n_cells=2, iters=1)
    apps = ("base", "compact-7", "adhoc-x")
    for i, app in enumerate(apps):
        append_ivf_index(emb.where(f"vec_id % 4 = {i + 1}"), path, txn=(app, 0))
        append_ivf_index(emb.where(f"vec_id % 4 = {i + 1}"), path, txn=(app, 0))
    assert index_head(spark, path)["txns"] == {app: 0 for app in apps}
    q = emb.where("vec_id < 3")
    got = _topk_set(ann_topk_indexed(spark, path, q, k=8, nprobe=2))
    assert got == _topk_set(cosine_topk(emb, q, k=8))
    compact_index(spark, path, keep_last=0)
    assert _topk_set(ann_topk_indexed(spark, path, q, k=8, nprobe=2)) == got


def test_compact_residual_ivfpq_serves_identical(spark, tmp_path):
    """Compaction is payload-agnostic, but the RESIDUAL index keeps
    anchors and a residual flag in its artifacts the fold must not
    disturb — pin serve identity across compaction on the residual
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
    """A crashed fold leaves leaves no version lists. A later run is
    never fooled by them: one that folds nothing still deletes them,
    and one that folds never lists them."""
    path = str(tmp_path / "idx")
    q, truth = _streamed_ivf(spark, path)
    data = f"{path}/data"
    head = index_head(spark, path)
    batch = next(lb for lb in head["leaves"] if lb.startswith("add-"))
    stale = f"{data}/txn=compact-stale"

    # a copy of batch rows under an unlisted label
    shutil.copytree(f"{data}/txn={batch}", stale)
    stats = compact_index(spark, path, keep_last=10)
    assert stats["folded_labels"] == 0  # only the build's leaf to fold
    assert not os.path.exists(stale)
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    # replant it: a run that DOES fold never picks it up
    shutil.copytree(f"{data}/txn={batch}", stale)
    stats2 = compact_index(spark, path, keep_last=0)
    assert stats2["folded_labels"] == 4
    assert not os.path.exists(stale)
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth


def test_retention_defers_physical_deletes(spark, tmp_path, monkeypatch):
    """With retention_s > 0 the folded leaves survive the commit — a
    reader holding the PRE-commit version keeps a consistent snapshot
    — and are reclaimed only by a later run once the window has
    passed. New readers use the head's leaves at once."""
    import time
    import types

    path = str(tmp_path / "idx")
    q, truth = _streamed_ivf(spark, path)
    leaves0 = disk_leaves(path)
    stats = compact_index(spark, path, keep_last=0, retention_s=3600)
    assert stats["folded_labels"] == 4
    head = index_head(spark, path)
    # the folded leaves are still on disk, beside the new fold
    assert disk_leaves(path) == leaves0 | listed_leaves(head)
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    # a second run inside the window folds nothing and keeps them
    stats2 = compact_index(spark, path, keep_last=0, retention_s=3600)
    assert stats2["folded_labels"] == 0
    assert disk_leaves(path) == leaves0 | listed_leaves(head)
    # two hours later the window has passed: reclaimed
    later = time.time() + 7200
    monkeypatch.setattr(
        similarity, "time", types.SimpleNamespace(time=lambda: later)
    )
    compact_index(spark, path, keep_last=0, retention_s=3600)
    monkeypatch.undo()
    assert disk_leaves(path) == listed_leaves(head)
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth


def test_first_compaction_crash_mid_rename_never_served_wrong(
    spark, tmp_path, monkeypatch
):
    """A crash after the fold's data write and before its claim leaves
    the fold's label directory on disk. No version lists it, so the
    serve result is still exact, and a re-run folds again and deletes
    it. (The fold once landed through per-cell renames; the name keeps
    the crash window it first pinned.)"""
    path = str(tmp_path / "idx")
    q, truth = _streamed_ivf(spark, path, n_batches=2)
    v0 = index_head(spark, path)["v"]

    real_commit = similarity._commit
    calls = {"n": 0}

    def crash_before_claim(*args, **kwargs):
        calls["n"] += 1
        raise RuntimeError("injected crash before the claim")

    monkeypatch.setattr(similarity, "_commit", crash_before_claim)
    with pytest.raises(RuntimeError, match="injected"):
        compact_index(spark, path, keep_last=0)
    monkeypatch.setattr(similarity, "_commit", real_commit)
    assert calls["n"] == 1
    head = index_head(spark, path)
    assert head["v"] == v0
    assert any(lb.startswith("compact-") for _, lb in disk_leaves(path))
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
    # re-run converges: the fold commits, the partial one is deleted
    stats = compact_index(spark, path, keep_last=0)
    assert stats["gen"] == v0 + 1 and stats["folded_labels"] == 3
    assert disk_leaves(path) == listed_leaves(index_head(spark, path))
    assert _topk_set(
        ann_topk_indexed(spark, path, q, k=8, nprobe=4)
    ) == truth
