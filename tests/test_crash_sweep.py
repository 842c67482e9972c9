"""Crash sweep over the commit seam.

Every catalog metadata mutation goes through four ``HadoopFS`` verbs:
``write_text_if_absent``, ``write_text_atomic``, ``delete`` and
``rename_dir``. For each catalog verb below, a wrapper kills the verb
at its k-th such call, for every k its clean run makes. After each
crash:

1. the table reads exactly its pre-state or its post-state (the dict
   model of ``tests/test_dml_model.py``);
2. a retry with the same ``txn=`` (a plain re-run for compact and
   vacuum, which take none) converges to the post-state;
3. ``vacuum(orphan_age_s=0)`` leaves no ``seg-*`` directory the head
   manifest does not reference.

The table declares stats and Bloom columns, so every segment write
also writes the segment's ``_pb_skip.json`` — one more crash point per
write verb — and every segment the surviving head lists must carry it.

Throughout, every version the log still lists (``history()``) must
reference only segments that exist: vacuum stubs a version before it
deletes the segments, never after.

The persisted ANN index commits through the same claim; its build,
``txn=`` append and compaction get the same sweep at the end of this
file.
"""

from __future__ import annotations

import pytest

from pandabase_spark import kt_log
from pandabase_spark.io import SKIP_FILE, KeyedCatalog
from tests.test_dml_model import _mk_df, _read, _rows

MUTATING = frozenset(
    {"write_text_if_absent", "write_text_atomic", "delete", "rename_dir"}
)
TXN = ("sweep", 1)
T = "t"
SKIP = dict(stats_columns=["v"], bloom_columns=["s"])


class Crash(BaseException):
    """The process dies here. A BaseException, so the best-effort
    ``except Exception`` blocks on the write path cannot swallow it."""


class CrashingFS:
    """Delegates to a real ``HadoopFS`` and raises :class:`Crash` at
    the ``crash_at``-th mutating call (never, when None)."""

    def __init__(self, inner, crash_at: "int | None" = None):
        self._inner = inner
        self.crash_at = crash_at
        self.calls = 0

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name not in MUTATING:
            return attr

        def mutating(*args, **kwargs):
            self.calls += 1
            if self.calls == self.crash_at:
                raise Crash(f"{name} (mutating call #{self.calls})")
            return attr(*args, **kwargs)

        return mutating


def _model(rows):
    return {k: (v, s) for k, v, s in rows}


BASE = _rows(range(40))


def _base(spark, cat, n_segments=1):
    cat.to_table(_mk_df(spark, BASE), T, keys=["k"], num_buckets=2, **SKIP)
    for i in range(1, n_segments):
        cat.to_table(
            _mk_df(spark, _rows(range(1000 * i, 1000 * i + 5))), T,
            keys=["k"], how="append",
        )


def _base_model(n_segments=1):
    model = _model(BASE)
    for i in range(1, n_segments):
        model.update(_model(_rows(range(1000 * i, 1000 * i + 5))))
    return model


APPEND_ROWS = _rows(range(100, 110))
UPSERT_ROWS = [(k, k + 0.5, f"u{k}") for k in (0, 1, 2, 200, 201)]
MERGE_ROWS = [(k, -1.0, f"m{k}") for k in (3, 4, 300)]


def _case(verb: str):
    """(setup(spark, cat), op(spark, cat), pre, post) for one verb."""
    if verb == "create":
        return (
            lambda spark, cat: None,
            lambda spark, cat: cat.to_table(
                _mk_df(spark, BASE), T, keys=["k"], num_buckets=2, txn=TXN,
                **SKIP,
            ),
            {},
            _model(BASE),
        )
    if verb == "append":
        return (
            _base,
            lambda spark, cat: cat.to_table(
                _mk_df(spark, APPEND_ROWS), T, keys=["k"], how="append",
                txn=TXN,
            ),
            _model(BASE),
            {**_model(BASE), **_model(APPEND_ROWS)},
        )
    if verb == "upsert":
        return (
            _base,
            lambda spark, cat: cat.to_table(
                _mk_df(spark, UPSERT_ROWS), T, keys=["k"], how="upsert",
                txn=TXN,
            ),
            _model(BASE),
            {**_model(BASE), **_model(UPSERT_ROWS)},
        )
    if verb == "merge":
        post = {**_model(BASE), **_model(MERGE_ROWS)}
        return (
            _base,
            lambda spark, cat: cat.merge_table(
                _mk_df(spark, MERGE_ROWS), T, txn=TXN
            ),
            _model(BASE),
            post,
        )
    if verb == "compact":
        # three segments to fold; compact's own vacuum stubs the two
        # superseded versions and deletes their segments
        return (
            lambda spark, cat: _base(spark, cat, n_segments=3),
            lambda spark, cat: cat.compact(T),
            _base_model(3),
            _base_model(3),
        )
    if verb == "vacuum":
        def setup(spark, cat):
            _base(spark, cat)
            for i in range(2):
                cat.to_table(
                    _mk_df(spark, _rows(range(10))), T, keys=["k"],
                    how="upsert",
                )
        return (
            setup, lambda spark, cat: cat.vacuum(T), _model(BASE),
            _model(BASE),
        )
    raise AssertionError(verb)


def _state(cat) -> dict:
    return _read(cat, T) if cat.has_table(T) else {}


def _unreferenced_segments(cat) -> "set[str]":
    on_disk = {
        d for d in cat.fs.list_dirs(cat._path(T)) if d.startswith("seg-")
    }
    return on_disk - set(cat._manifest(T)["segments"])


def _segments_without_skip_file(cat) -> "list[str]":
    if not cat.has_table(T):
        return []
    return [
        seg
        for seg in cat._manifest(T)["segments"]
        if not cat.fs.exists(f"{cat._path(T)}/{seg}/{SKIP_FILE}")
    ]


def _dangling_versions(cat) -> "list[int]":
    """Listed versions that reference a segment no longer on disk."""
    on_disk = set(cat.fs.list_dirs(cat._path(T)))
    return [
        man["v"]
        for man in kt_log.live_versions(cat.fs, cat._path(T))
        if not set(man["segments"]) <= on_disk
    ]


VERBS = ["create", "append", "upsert", "merge", "compact", "vacuum"]


@pytest.mark.parametrize("verb", VERBS)
def test_crash_at_every_mutating_call(spark, tmp_path, verb):
    setup, op, pre, post = _case(verb)

    def fresh(name):
        cat = KeyedCatalog(spark, str(tmp_path / name), default_buckets=2)
        setup(spark, cat)
        return cat

    counting = fresh("clean")
    counting.fs = CrashingFS(counting.fs)
    op(spark, counting)
    n_calls = counting.fs.calls
    assert n_calls >= 2, f"{verb} made only {n_calls} mutating calls"
    counting.fs = counting.fs._inner
    assert _state(counting) == post

    for k in range(1, n_calls + 1):
        cat = fresh(f"k{k}")
        real = cat.fs
        cat.fs = CrashingFS(real, crash_at=k)
        with pytest.raises(Crash):
            op(spark, cat)
        cat.fs = real
        got = _state(cat)
        assert got in (pre, post), f"{verb} crashed at call {k}: torn state"
        assert not _dangling_versions(cat), f"{verb} crashed at call {k}"
        assert not _segments_without_skip_file(cat), (
            f"{verb} crashed at call {k}"
        )
        op(spark, cat)
        assert _state(cat) == post, f"{verb} crashed at call {k}: retry"
        cat.vacuum(T, orphan_age_s=0)
        assert not _unreferenced_segments(cat), f"{verb} crashed at call {k}"
        assert _state(cat) == post, f"{verb} crashed at call {k}: vacuum"
        assert not _dangling_versions(cat), f"{verb} crashed at call {k}"


# -- the persisted ANN index -------------------------------------------
#
# The index verbs commit by the same claim (see similarity.py): land
# the leaves, claim the next version. Their crash points are the leaf
# renames, the staging delete, the claim, the hint and compaction's
# deletes. similarity.py builds its ``HadoopFS`` per call, so one
# CrashingFS stands in for the class. The served state is the
# full-probe top-k (nprobe = n_cells) of one query over the whole
# index, None before the build.

DIM, CELLS = 16, 4
INDEX_TXN = ("sweep", 1)


@pytest.fixture(scope="module")
def ann_inputs(spark):
    """200 corpus vectors in 4 clusters, a 30-vector batch, one query
    and prebuilt artifacts (so every build encodes identically)."""
    import numpy as np
    import pandas as pd

    from pandabase_spark.operators.similarity import (
        ivf_assign, ivf_centroids, pq_codebooks,
    )

    rng = np.random.default_rng(11)
    centers = 4 * rng.standard_normal((CELLS, DIM))

    def frame(n, first):
        v = centers[rng.integers(0, CELLS, n)] + rng.standard_normal((n, DIM))
        return spark.createDataFrame(pd.DataFrame({
            "vec_id": np.arange(first, first + n, dtype=np.int64),
            "embedding": list(v),
        }))

    corpus, batch, query = frame(200, 0), frame(30, 200), frame(1, 10_000)
    cents = ivf_centroids(corpus, n_cells=CELLS, iters=2)
    books = pq_codebooks(ivf_assign(corpus, cents), m=4, k=8, iters=2)
    return corpus, batch, query, cents, books


def _served(spark, path, query):
    from pandabase_spark.operators.similarity import ann_topk_ivfpq_indexed

    try:
        rows = ann_topk_ivfpq_indexed(
            spark, path, query, k=1000, nprobe=CELLS
        ).collect()
    except FileNotFoundError:
        return None
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids)), "an id is served twice"
    return {(r["vec_id"], r["approx_dist"], r["rank"]) for r in rows}


def _unlisted(spark, path) -> "set[str]":
    """Label, leaf and artifacts directories on disk that the head
    version does not list."""
    import os

    from pandabase_spark.fs import HadoopFS

    head = kt_log.head(HadoopFS(spark), path)
    listed = {head.get("artifacts")}
    for lb, leaf in head.get("leaves", {}).items():
        listed.add(f"data/txn={lb}")
        listed |= {f"data/txn={lb}/cell={c}" for c in leaf["cells"]}
    on_disk = {d for d in os.listdir(path) if d.startswith("artifacts-")}
    if os.path.isdir(f"{path}/data"):
        for td in os.listdir(f"{path}/data"):
            on_disk |= {f"data/{td}"} | {
                f"data/{td}/{cd}"
                for cd in os.listdir(f"{path}/data/{td}")
                if cd.startswith("cell=")
            }
    return on_disk - listed


def _index_case(verb, inputs, retention_s):
    """(setup(spark, path), op(spark, path)) for one index verb."""
    from pandabase_spark.operators.similarity import (
        append_ivfpq_index, compact_index, write_ivfpq_index,
    )

    corpus, batch, _, cents, books = inputs

    def build(spark, path):
        write_ivfpq_index(
            corpus, path, m=4, centroids=cents, codebooks=books
        )

    def append(spark, path, txn=INDEX_TXN):
        append_ivfpq_index(batch, path, txn=txn)

    def streamed(spark, path):
        build(spark, path)
        append(spark, path, txn=("sweep", 0))

    if verb == "build":
        return lambda spark, path: None, build
    if verb == "append":
        return build, append
    if verb == "compact":
        return streamed, lambda spark, path: compact_index(
            spark, path, keep_last=0, retention_s=retention_s
        )
    raise AssertionError(verb)


@pytest.mark.parametrize(
    "verb,retention_s",
    [("build", 0.0), ("append", 0.0), ("compact", 0.0), ("compact", 3600.0)],
)
def test_index_crash_at_every_mutating_call(
    spark, tmp_path, monkeypatch, ann_inputs, verb, retention_s
):
    import shutil
    import types

    import pandabase_spark.fs as fsmod
    from pandabase_spark.operators import similarity
    from pandabase_spark.operators.similarity import compact_index

    setup, op = _index_case(verb, ann_inputs, retention_s)
    real, real_time = fsmod.HadoopFS, similarity.time

    def served(path):
        return _served(spark, path, ann_inputs[2])

    def crashing(crash_at=None) -> CrashingFS:
        fs = CrashingFS(real(spark), crash_at=crash_at)
        monkeypatch.setattr(fsmod, "HadoopFS", lambda _spark: fs)
        return fs

    seed = str(tmp_path / "seed")
    setup(spark, seed)
    pre = served(seed)
    clean = str(tmp_path / "clean")
    if pre is not None:
        shutil.copytree(seed, clean)
    counting = crashing()
    op(spark, clean)
    monkeypatch.setattr(fsmod, "HadoopFS", real)
    n_calls = counting.calls
    if verb == "build":
        # a build lands only new files in place: its claim is its one
        # mutating call
        assert n_calls == 1, f"build made {n_calls} mutating calls"
    else:
        assert n_calls >= 2, f"{verb} made only {n_calls} mutating calls"
    post = served(clean)
    assert post is not None and len(post) == (
        230 if verb != "build" else 200
    )

    def cleanup(path):
        # what no reader can use goes once it is older than retention
        compact_index(spark, path, keep_last=100, retention_s=retention_s)
        if retention_s:
            later = real_time.time() + 2 * retention_s
            monkeypatch.setattr(
                similarity, "time", types.SimpleNamespace(time=lambda: later)
            )
            compact_index(spark, path, keep_last=100, retention_s=retention_s)
            monkeypatch.setattr(similarity, "time", real_time)
        return _unlisted(spark, path)

    assert not cleanup(clean)
    for k in range(1, n_calls + 1):
        path = str(tmp_path / f"k{k}")
        if pre is not None:
            shutil.copytree(seed, path)
        crashing(crash_at=k)
        with pytest.raises(Crash):
            op(spark, path)
        monkeypatch.setattr(fsmod, "HadoopFS", real)
        got = served(path)
        assert got in (pre, post), f"{verb} crashed at call {k}: torn state"
        op(spark, path)
        assert served(path) == post, f"{verb} crashed at call {k}"
        left = cleanup(path)
        assert not left, f"{verb} crashed at call {k}: {sorted(left)} kept"
