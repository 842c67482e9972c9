"""Keyed tables as a Structured Streaming SOURCE.

The sink side has existed since round 4 (`stream_upsert` /
`stream_merge` write INTO keyed tables); this module closes the loop:
``spark.readStream.format("keyed_table_stream")`` tails a keyed
table's manifest commit log, emitting each append's NEW segments as a
micro-batch — the Delta-streaming-source shape, built on the Spark 4
Python Data Source streaming API (SPARK-44076: ``DataSource.
streamReader`` → offsets, partition planning, executor-side reads).

Semantics (same contract as Delta's table-as-source):

- **Offsets are manifest versions.** ``initialOffset`` starts at
  ``starting_version`` (default 0 = the whole existing table streams
  as the first batch); ``latestOffset`` is the log head (the newest
  claimed version, whether or not its hint was written yet). A
  micro-batch (s, e] emits every (segment, bucket) leaf present at e
  but not at s — for append-only history that is exactly the new
  rows, each exactly once.
- **Append-only guard.** A commit in the range that REMOVES or
  REPLACES a live leaf (upsert, DML, compaction) or carries deletion
  vectors is not representable as an append stream; ``partitions()``
  raises unless ``ignore_changes=true`` (Delta's ignoreChanges: new
  segments stream, possibly re-emitting rewritten rows — at-least-
  once for those). Metadata-only commits (rename/drop via column
  mapping, constraint edits) add no leaves and pass through silently.
- **Column mapping applies.** Each partition ships its segment's
  physical→logical rename map; rows always surface under the CURRENT
  logical schema, exactly like the batch reader.

Partition planning is one leaf per ``InputPartition`` (executor-side
``pyarrow`` reads, no SparkSession on workers), so a micro-batch's
parallelism is its leaf count — the same fan-out the batch scan gets.
Like every Python Data Source, rows cross the Python boundary; the
production-scale path remains the JVM parquet scan, and this seam
exists for the source INTEGRATION (offset tracking, replay, exactly-
once) which is metadata-bound, not row-bound. Driver-side manifest
reads use POSIX paths (local warehouses — the test/CI shape); a
remote warehouse would swap in ``pyarrow.fs`` with the same layout.

Reference parity note: the reference has no streaming at all; this is
extension surface modeled on the public Delta source contract
(``reference:pandabase/README.md`` scope ends at batch to_sql).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from pandabase_spark import kt_log


def _read_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _manifest_at(table_dir: str, v: int) -> dict:
    man = kt_log.read_version(kt_log.LocalFS, table_dir, v)
    if man is None:
        raise ValueError(
            f"streaming source needs manifest v{v} of {table_dir!r} "
            "but it was truncated by vacuum(); restart the stream "
            "from a retained starting_version"
        )
    return man


def _latest_offset(table_dir: str) -> dict:
    return {"version": int(kt_log.head(kt_log.LocalFS, table_dir)["v"])}


def _leaves(man: dict) -> "set[tuple[str, int]]":
    return {
        (seg, b)
        for seg, bs in man.get("segments", {}).items()
        for b in bs
    }


class _LeafPartition(InputPartition):
    """One (segment, bucket) directory: its parquet files, the
    physical→logical rename for that segment, and the logical field
    order to emit."""

    def __init__(self, files, rename, fields):
        self.files = list(files)
        self.rename = dict(rename)
        self.fields = list(fields)


class _KTStreamReader(DataSourceStreamReader):
    def __init__(self, table_dir: str, options):
        self._dir = table_dir
        self._start = int(options.get("starting_version", "0") or 0)
        self._ignore_changes = (
            str(options.get("ignore_changes", "false")).lower() == "true"
        )

    def initialOffset(self):
        return {"version": self._start}

    def latestOffset(self):
        return _latest_offset(self._dir)

    def partitions(self, start, end):
        s, e = int(start["version"]), int(end["version"])
        man_s = {"segments": {}} if s == 0 else _manifest_at(self._dir, s)
        man_e = _manifest_at(self._dir, e)
        if not self._ignore_changes:
            # leaf-diff guard, not op-name matching: ANY live leaf of
            # the range's base that is gone at a later version means a
            # rewrite happened (upsert/DML/compact); DVs mean merge-
            # on-read deletes. Metadata-only commits pass untouched.
            prev = _leaves(man_s)
            for v in range(s + 1, e + 1):
                man_v = _manifest_at(self._dir, v)
                cur = _leaves(man_v)
                if prev - cur or man_v.get("dvs"):
                    raise ValueError(
                        f"commit v{v} ({man_v.get('op')!r}) rewrites or "
                        "tombstones existing data — the table is not "
                        "append-only over this range; pass "
                        "ignore_changes=true to stream new segments "
                        "anyway (rewritten rows may re-emit)"
                    )
                prev = cur
        meta = man_e.get("meta_schema") or _read_json(
            os.path.join(self._dir, kt_log.META_FILE)
        )
        fields = [
            f["name"]
            for f in json.loads(meta["schema_json"])["fields"]
        ]
        colmap = meta.get("colmap", {})
        base_leaves = _leaves(man_s)
        parts = []
        for seg, bs in man_e.get("segments", {}).items():
            segcols = man_e.get("segcols", {}).get(seg, {})
            # physical -> logical: logical f is stable id colmap[f]
            # (birth name), written in this segment as segcols[stable]
            rename = {
                segcols.get(colmap.get(f, f), colmap.get(f, f)): f
                for f in fields
            }
            for b in bs:
                if (seg, b) in base_leaves:
                    continue
                leaf = os.path.join(self._dir, seg, f"{kt_log.PART_DIR}={b}")
                files = sorted(glob.glob(os.path.join(leaf, "*.parquet")))
                if files:
                    parts.append(_LeafPartition(files, rename, fields))
        # Spark substitutes [None] for an empty list; one empty
        # partition yields a valid zero-row batch instead
        return parts or [_LeafPartition([], {}, [])]

    def read(self, partition: _LeafPartition):
        import pyarrow.parquet as pq

        for f in partition.files:
            tbl = pq.read_table(f)
            phys = {
                partition.rename.get(c, c): c for c in tbl.column_names
            }
            cols = [
                tbl.column(phys[f]).to_pylist() if f in phys else None
                for f in partition.fields
            ]
            n = tbl.num_rows
            for i in range(n):
                yield tuple(
                    c[i] if c is not None else None for c in cols
                )

    def commit(self, end):
        pass


class _CommitsPartition(InputPartition):
    def __init__(self, events):
        self.events = list(events)


class _CommitEventsReader(DataSourceStreamReader):
    """``commits=true`` mode: one row PER COMMIT — (v, op, ts_us,
    n_segments) — instead of the commit's data rows. Metadata-bound
    (a micro-batch moves a handful of tuples however large the table
    is); the consumption pattern is foreachBatch computing the exact
    JVM-side diff for the batch's version range — see
    ``streaming.stream_table_changes``. Rewrites/DML/compaction are
    fine here: the consumer diffs snapshots, so there is no
    append-only restriction."""

    def __init__(self, table_dir: str, options):
        self._dir = table_dir
        self._start = int(options.get("starting_version", "0") or 0)

    def initialOffset(self):
        return {"version": self._start}

    def latestOffset(self):
        return _latest_offset(self._dir)

    def partitions(self, start, end):
        s, e = int(start["version"]), int(end["version"])
        events = []
        for v in range(s + 1, e + 1):
            man = _manifest_at(self._dir, v)
            events.append((
                v,
                man.get("op"),
                man.get("ts"),
                len(man.get("segments", {})),
            ))
        return [_CommitsPartition(events)]

    def read(self, partition: _CommitsPartition):
        yield from partition.events

    def commit(self, end):
        pass


_COMMITS_SCHEMA = T.StructType([
    T.StructField("v", T.LongType(), False),
    T.StructField("op", T.StringType(), True),
    T.StructField("ts_us", T.LongType(), True),
    T.StructField("n_segments", T.IntegerType(), True),
])


class KeyedTableStreamSource(DataSource):
    """``spark.readStream.format("keyed_table_stream")
    .option("path", <warehouse>/<table>)``; options:
    ``starting_version`` (default 0), ``ignore_changes``,
    ``commits`` (true = one metadata row per commit instead of data
    rows — the CDC feed's driver)."""

    @classmethod
    def name(cls):
        return "keyed_table_stream"

    def _commits_mode(self) -> bool:
        return (
            str(self.options.get("commits", "false")).lower() == "true"
        )

    def schema(self):
        if self._commits_mode():
            return _COMMITS_SCHEMA
        meta = _read_json(
            os.path.join(self.options["path"], kt_log.META_FILE)
        )
        return T.StructType.fromJson(json.loads(meta["schema_json"]))

    def streamReader(self, schema):
        if self._commits_mode():
            return _CommitEventsReader(self.options["path"], self.options)
        return _KTStreamReader(self.options["path"], self.options)


def stream_read_table(catalog, table_name: str, **options):
    """Convenience wrapper: register the source (idempotent) and
    return the streaming DataFrame tailing ``table_name``."""
    spark = catalog.spark
    spark.dataSource.register(KeyedTableStreamSource)
    reader = (
        spark.readStream.format("keyed_table_stream")
        .option("path", catalog._path(table_name))
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def stream_read_commits(catalog, table_name: str, **options):
    """Streaming DataFrame of ``table_name``'s COMMIT EVENTS
    (v, op, ts_us, n_segments) — the metadata tail that drives
    continuous CDC consumption (``streaming.stream_table_changes``)."""
    return stream_read_table(catalog, table_name, commits="true", **options)
