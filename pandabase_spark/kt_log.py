"""The keyed-table commit log: one file per version, one commit rule.

Layout under a table directory::

    _pandabase_meta.json      table meta: keys, buckets, schema
    _pb_log/{v:010d}.json     version v's manifest, or a vacuum stub
    _pandabase_log.json       hint: a copy of a recent version's manifest
    seg-<uuid>/_pb_b=<n>/     one segment's rows in hash bucket n
    seg-<uuid>/_pb_skip.json  that segment's skipping entries, per
                              bucket: min/max stats, Blooms, sketches

The rule is the Delta Lake log protocol (Armbrust et al., VLDB 2020):
a writer that planned against version ``v`` commits by creating
``{v+1}.json`` put-if-absent. Winning the claim IS the commit; losing
it means another writer committed ``v+1`` first. Nothing else has to
agree with the claim:

- The hint is written after the claim, best-effort. It may be stale or
  missing; readers start from it and follow ``exists(v+1)`` to the
  head.
- Vacuum never deletes a version file. It overwrites a pruned one with
  a stub (``{"v": n, "vacuumed": true}``), so a used slot can never be
  claimed again and the chain from any hint to the head has no holes.

Every function takes an ``fs`` with ``exists`` / ``read_text`` /
``list_files``: :class:`pandabase_spark.fs.HadoopFS`, or
:class:`LocalFS` where no JVM is at hand (the streaming source's
reader runs in a Python worker).
"""

from __future__ import annotations

import json
import os
from typing import Iterator

META_FILE = "_pandabase_meta.json"
LOG_FILE = "_pandabase_log.json"
LOG_DIR = "_pb_log"
PART_DIR = "_pb_b"
SKIP_FILE = "_pb_skip.json"


def version_path(table_path: str, v: int) -> str:
    return f"{table_path}/{LOG_DIR}/{v:010d}.json"


def hint_path(table_path: str) -> str:
    return f"{table_path}/{LOG_FILE}"


def is_version_file(name: str) -> bool:
    """True for version files (``{v:010d}.json``) — excludes the
    vacuum history summary, which shares the log directory."""
    return name.endswith(".json") and name.split(".")[0].isdigit()


def stub(v: int) -> str:
    """What vacuum leaves in a pruned version's slot."""
    return json.dumps({"v": v, "vacuumed": True})


def is_stub(man: dict) -> bool:
    return bool(man.get("vacuumed"))


def head(fs, table_path: str) -> dict:
    """The newest committed manifest (``{"v": 0, "segments": {}}``
    before the first commit): the hint, then one ``exists`` probe per
    version it lags behind. Stubs only ever sit below the head, so the
    walk passes through them."""
    hint = hint_path(table_path)
    man = (
        json.loads(fs.read_text(hint))
        if fs.exists(hint)
        else {"v": 0, "segments": {}}
    )
    while fs.exists(nxt := version_path(table_path, man["v"] + 1)):
        man = json.loads(fs.read_text(nxt))
    return man


def read_version(fs, table_path: str, v: int) -> "dict | None":
    """Version ``v``'s manifest; None if never committed or vacuumed."""
    p = version_path(table_path, v)
    if not fs.exists(p):
        return None
    man = json.loads(fs.read_text(p))
    return None if is_stub(man) else man


def live_versions(fs, table_path: str, above: int = -1) -> Iterator[dict]:
    """Manifests of the versions above ``above`` that vacuum has not
    pruned, oldest first."""
    log_dir = f"{table_path}/{LOG_DIR}"
    for name in fs.list_files(log_dir):
        if is_version_file(name) and int(name.split(".")[0]) > above:
            man = json.loads(fs.read_text(f"{log_dir}/{name}"))
            if not is_stub(man):
                yield man


class LocalFS:
    """The read side of the ``fs`` protocol over POSIX paths."""

    @staticmethod
    def exists(p: str) -> bool:
        return os.path.exists(p)

    @staticmethod
    def read_text(p: str) -> str:
        with open(p, encoding="utf-8") as fh:
            return fh.read()

    @staticmethod
    def list_files(p: str) -> "list[str]":
        if not os.path.isdir(p):
            return []
        with os.scandir(p) as it:
            return sorted(e.name for e in it if e.is_file())
