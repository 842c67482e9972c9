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
