"""Keyed-table storage: create / append / upsert / range-read.

Re-expresses the reference's core API (reference:pandabase/sql.py:40-271
to_sql, 349-506 read_sql) Spark-first. The reference writes row dicts
through SQLAlchemy one executemany (append) or one statement PER ROW
(upsert, reference:pandabase/sql.py:320-346). Here every mode is a single
declarative Spark plan committed through a tiny manifest log.

Storage model (v2 — segment + manifest commit log)
==================================================

A table directory holds immutable write segments plus a small JSON
version log::

    <warehouse>/<table>/
        _pandabase_meta.json        keys, auto_index, num_buckets, schema
        _pb_log/<v>.json            manifest v: {segment -> live bucket list}
        _pandabase_log.json         hint: a copy of a recent manifest
        seg-<uuid>/_pb_b=<n>/*.parquet
        seg-<uuid>/_pb_skip.json    the segment's per-bucket skipping
                                    entries (stats, Blooms, sketches)

Rows are hash-bucketed: ``pmod(xxhash64(key...), num_buckets)`` names the
partition directory inside each segment. The manifest maps every segment
to the buckets that are LIVE in it; readers materialize exactly the
(segment, bucket) leaf directories the manifest lists.

Write modes:

- ``create_only``  → write seg-0, then meta, then manifest
  (reference:pandabase/sql.py:146-161,170-171).
- ``append``       → strict PK-integrity append: in-batch duplicate
  check + overlap probe against ONLY the buckets the batch hashes into,
  then a NEW segment and a manifest entry add (reference raises
  IntegrityError on conflict, reference:pandabase/sql.py:264-266).
- ``upsert``       → MERGE semantics: matched rows take ALL incoming
  columns (NaN overwrites to NULL, reference:pandabase/sql.py:300);
  columns absent from the batch keep table values; unmatched insert
  (reference:pandabase/sql.py:294-346). The merged buckets land in a new
  segment; the manifest commit atomically swaps those buckets' ownership
  from the old segments to the new one. Old files are never touched.

ACID story: a commit is the put-if-absent creation of the next version
file (:mod:`pandabase_spark.kt_log`), so a crash at ANY point before
that claim leaves the previous manifest — and therefore the previous
table state — fully intact (snapshot isolation for readers; orphan
segments are garbage, removed by :meth:`KeyedCatalog.vacuum`). This
replaces the v1 in-place dynamic-partition-overwrite, which could lose
buckets if the writer died mid-commit — the same reason Delta Lake keeps
a JSON action log instead of rewriting in place.

Concurrency contract: optimistic. Every write plans against one version
and claims the next; a writer that loses the claim raises
:class:`ConcurrentWriteError` instead of overwriting a rival's commit.
Segments are uuid-named and immutable, so losers never corrupt data.
On stores without a conditional put (S3 without a coordinating log
store) the claim is best-effort, the same tradeoff as Delta's.

Scale design (the part that matters at 100 TB):

- An upsert batch touching B of N buckets reads B/N of the table
  (manifest-driven path pruning), joins existing LEFT ANTI batch on the
  key (one shuffle, AQE-skew-handled), and writes only those buckets.
- Appends write new segments — zero rewrite of existing data.
- Key-range reads push min/max predicates into parquet row-group stats;
  full-key point reads prune to ONE bucket's paths before the scan.
- All catalog I/O goes through the Hadoop FileSystem API, so local,
  HDFS, and S3A warehouses behave identically (S3A caveat: manifest
  rename is copy+delete, see fs.py).

The per-row upsert loop of the reference — one network round trip per
row (reference:pandabase/sql.py:321-346) — is the scalability cliff this
design removes.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass, field
from typing import Any, Mapping, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from pandabase_spark import kt_log
from pandabase_spark.fs import HadoopFS
from pandabase_spark.kt_log import (  # noqa: F401
    LOG_DIR,
    LOG_FILE,
    META_FILE,
    PART_DIR,
    SKIP_FILE,
)
from pandabase_spark.localframe import local_frame
from pandabase_spark.names import clean_name, is_clean
from pandabase_spark.types import (
    apply_narrowing,
    coerce_to_table_schema,
    coercion_class,
    infer_schema_pandas,
    fold_narrowing,
    narrowing_aggs_grouped,
    pandas_to_spark,
    spark_to_logical,
    stat_json,
)

AUTO_INDEX_NAME = "pandabase_auto_generated_index"  # reference:pandabase/helpers.py:13
DV_DIR = "_pb_dv"
WRITE_MODES = ("create_only", "append", "upsert")

# vacuum leaves an unreferenced segment directory younger than this
# alone (the default of ``vacuum(orphan_age_s=)``): a writer stages its
# segment — data and skipping file — before it claims the version, so
# a young unreferenced segment may be an in-flight commit. One hour
# dwarfs any real gap between a commit's two steps.
STAGED_SEGMENT_RETENTION_S = 3600.0


def _op_str(v) -> "str | None":
    """Loggable form of a predicate/expression argument for the
    commit's op_params record (Columns stringify to their expression
    tree; strings pass through)."""
    return None if v is None else (v if isinstance(v, str) else str(v))

# delete_rows(strategy="auto"): record a deletion vector instead of
# rewriting buckets when at most this many rows match. Point deletes
# (the hot case at 100 TB — "remove this document") then rewrite ZERO
# data files; wide deletes amortize the rewrite they pay for.
DV_AUTO_MAX_ROWS = 10_000

# read_table(stats_bounds=...) planner gate: when the bounded column
# also carries segment sketches, the range's selectivity is estimated
# first (estimate_range_rows — O(#leaves) metadata, no data scan);
# a range this unselective skips the per-leaf min/max probe entirely
# (it would prune ~nothing) and warns — the CBO use of the sketch
# surface. Results are identical either way (bounds re-apply as
# ordinary pushed filters).
STATS_PROBE_MAX_FRAC = 0.9

# Accrual budget: a table holds at most this many LIVE deletion
# vectors. The commit that would exceed it folds (materializes) the
# oldest DVs into their covered buckets — Delta's tombstone-ratio
# trigger reshaped for the segment store. Bounds the per-read cost of
# merge-on-read at O(DV_MAX_LIVE) sidecar opens + a bounded broadcast,
# no matter how many point deletes accrue between compactions.
DV_MAX_LIVE = 8

# Per-(segment, bucket, column) Bloom filter sizing for equality data
# skipping. 8192 bits / 5 hashes ≈ 1% false-positive rate at ~850 keys
# per filter; a bucket holding more distinct values degrades toward
# "never skip" (more false positives), NEVER toward wrong results —
# the filter only ever prunes provably-absent leaves. ~1 KB of bitset
# (1.4 KB base64) per entry keeps manifests small: a 32-bucket segment
# with one bloom column adds ~45 KB of metadata regardless of data size.
BLOOM_M = 8192
BLOOM_K = 5


def _bloom_b64(positions: "set[int] | list[int]", m_bits: int = BLOOM_M) -> str:
    """Pack set bit positions into a base64 bitset (LSB-first bytes)."""
    import base64

    buf = bytearray(m_bits // 8)
    for p in positions:
        buf[p >> 3] |= 1 << (p & 7)
    return base64.b64encode(bytes(buf)).decode("ascii")


def _bloom_maybe_contains(b64: str, positions: "list[int]") -> bool:
    """True unless some probe bit is unset (i.e. value provably absent)."""
    import base64

    buf = base64.b64decode(b64)
    return all(buf[p >> 3] & (1 << (p & 7)) for p in positions)


class IntegrityError(ValueError):
    """Primary-key violation (append overlap / in-batch duplicates).

    Stands in for sqlalchemy.exc.IntegrityError in the reference's
    append path (reference:pandabase/sql.py:264-266).
    """


class ConcurrentWriteError(RuntimeError):
    """A commit raced a COMPLETED commit from another writer and lost
    the put-if-absent claim on its version file (see
    :meth:`KeyedCatalog._commit`). Re-read the table and retry —
    the optimistic-concurrency loop every log-structured lakehouse
    format (Delta/Iceberg) prescribes. The reference gets this from
    the database's transactions (reference:pandabase/sql.py:261);
    here the manifest log provides it."""


@dataclass
class TableMeta:
    keys: list[str]
    auto_index: bool
    num_buckets: int
    schema_json: str = ""
    constraints: dict = field(default_factory=dict)
    stats_columns: list = field(default_factory=list)
    bloom_columns: list = field(default_factory=list)
    sketch_columns: list = field(default_factory=list)
    # Z-order clustering (create time): every segment write — create,
    # append, upsert rewrite, compaction, DML survivors — locally
    # sorts each bucket by the Morton key over these columns, so
    # parquet ROW-GROUP min/max stats stay tight on every clustered
    # dimension through the table's whole DML lifetime (the Delta
    # OPTIMIZE ZORDER BY layout, preserved by construction instead of
    # re-applied by a maintenance job).
    cluster_by: list = field(default_factory=list)
    # column-mapping schema evolution (rename/drop without rewriting
    # data): colmap maps CURRENT logical name -> stable identity (the
    # column's birth name); retired_names lists every name ever
    # vacated by a rename or drop — re-using one is refused, which is
    # what prevents old files' physical columns from resurrecting
    # under a recycled name (Delta solves the same hazard with
    # physical IDs).
    colmap: dict = field(default_factory=dict)
    retired_names: list = field(default_factory=list)
    # generated columns (create time): {col: sql_expr} computed from
    # other columns of the same row — a write that omits the column
    # gets it computed; a write that provides it is validated against
    # the expression (Delta's GENERATED ALWAYS AS contract).
    generated: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(self.__dict__)

    @classmethod
    def from_json(cls, s: str) -> "TableMeta":
        d = json.loads(s)
        d.setdefault("schema_json", "")
        d.setdefault("constraints", {})
        d.setdefault("stats_columns", [])
        d.setdefault("bloom_columns", [])
        d.setdefault("sketch_columns", [])
        d.setdefault("colmap", {})
        d.setdefault("retired_names", [])
        d.setdefault("cluster_by", [])
        d.setdefault("generated", {})
        return cls(**d)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))


def _bucket_expr(keys: Sequence[str], num_buckets: int):
    """Deterministic hash bucket of the key tuple.

    xxhash64 is a JVM-side codegen'd expression — no Python boundary.
    """
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)
    ).cast("int")


def _key_order(k: str, dt: T.DataType) -> Column:
    """The first key column as a key range records it: a TIMESTAMP as
    its epoch microseconds, any other type as itself. A timestamp
    collected to the driver becomes local wall time, which runs
    backwards across a daylight-saving fold, so a range kept in that
    form could call two overlapping ranges disjoint."""
    return F.unix_micros(F.col(k)) if isinstance(dt, T.TimestampType) else F.col(k)


def _key_bound(v: Any, dt: T.DataType) -> Any:
    """A read bound on the first key column in the form its key ranges
    are kept in (:func:`_key_order`), or None where Spark compares the
    bound under a cast the ranges do not model: a date bound on a
    timestamp key or the reverse, a number on a boolean key, any bound
    on a TIMESTAMP_NTZ key (compared as a session-zone instant). Such a
    bound prunes nothing. ``read_table`` refuses every other mismatched
    bound (:meth:`KeyedCatalog._check_bound_type`)."""
    import datetime

    stamp = isinstance(dt, T.TimestampType)
    if (
        isinstance(dt, T.TimestampNTZType)
        or (isinstance(dt, T.BooleanType) and not isinstance(v, bool))
        or (
            (stamp or isinstance(dt, T.DateType))
            and isinstance(v, datetime.datetime) != stamp
        )
    ):
        return None
    return T.TimestampType().toInternal(v) if stamp else stat_json(v)


def _range_misses(rng: Any, lo: Any, hi: Any) -> bool:
    """True when a recorded ``[min, max]`` provably misses the bounds
    ``[lo, hi]`` (JSON forms; None is an open side). A missing or
    partial range never misses, and a string never orders against a
    number: metadata written before decimal stats became numbers holds
    them as strings, and those leaves are read, not skipped."""
    if not rng or rng[0] is None or rng[1] is None:
        return False
    return (
        hi is not None
        and isinstance(rng[0], str) == isinstance(hi, str)
        and rng[0] > hi
    ) or (
        lo is not None
        and isinstance(rng[1], str) == isinstance(lo, str)
        and rng[1] < lo
    )


def _skip_aggs(m: "TableMeta") -> list:
    """The per-bucket aggregates behind a segment's skipping entries:
    the first key column's range, min/max of ``m.stats_columns``, one
    ``collect_set`` of ``xxhash64(col, seed) mod BLOOM_M`` per Bloom
    column and hash seed (bounded by BLOOM_M whatever the row count, so
    the collect is metadata-sized; NULLs set no bits, since a Bloom
    probe is an equality probe and NULL never equals), and KLL/HLL
    sketches of ``m.sketch_columns``.

    KLL (quantiles/ranks) runs over the numeric try_cast, so a
    non-numeric value contributes NULL and is skipped (string sketch
    columns keep HLL distinct counts without crashing the cast under
    ANSI mode); HLL (distinct count) runs over the canonical string
    form. Both are Spark-native DataSketches aggregates and MERGEABLE:
    table statistics fold the live (segment, bucket) entries, and the
    data is never rescanned.

    Grouped by ``PART_DIR``, they run over a segment's rows
    (:meth:`KeyedCatalog._segment_skipping`) or over the batch probe's
    one row per key (:meth:`KeyedCatalog._batch_probe`); either way
    :func:`_skip_doc` turns the rows into the same entries."""
    k0 = m.keys[0]
    aggs = [
        F.min(_key_order(k0, m.schema[k0].dataType)).alias("_k_lo"),
        F.max(_key_order(k0, m.schema[k0].dataType)).alias("_k_hi"),
    ]
    for c in m.stats_columns:
        aggs.append(F.min(c).alias(f"_lo_{c}"))
        aggs.append(F.max(c).alias(f"_hi_{c}"))
    for ci, c in enumerate(m.bloom_columns):
        for s in range(BLOOM_K):
            aggs.append(
                F.collect_set(
                    F.when(
                        F.col(c).isNotNull(),
                        F.pmod(F.xxhash64(F.col(c), F.lit(s)), F.lit(BLOOM_M)),
                    )
                ).alias(f"_bl_{ci}_{s}")
            )
    for c in m.sketch_columns:
        aggs.append(
            F.kll_sketch_agg_double(F.col(c).try_cast("double")).alias(
                f"_kll_{c}"
            )
        )
        # HLL accepts int/long/string/binary only — hash any other
        # type through its canonical string form (distinct-count
        # preserving; doubles stringify uniquely)
        aggs.append(
            F.hll_sketch_agg(F.col(c).cast("string")).alias(f"_hll_{c}")
        )
    return aggs


def _skip_doc(rows: list, m: "TableMeta") -> dict:
    """A segment's ``_pb_skip.json`` from the rows of :func:`_skip_aggs`:
    ``{kind: {str(bucket): {col_id: entry}}}``, ``col_id`` being the
    stable column identity. ``keys`` (always) holds the first key
    column's ``[min, max]``; stats ``[min, max]``, blooms ``{"m", "k",
    "b64"}`` and sketches ``{"kll": b64, "hll": b64}`` are present when
    the table declares them. A (bucket, column) whose values are all
    NULL gets no Bloom entry."""
    import base64

    def b64(v):
        return base64.b64encode(v).decode() if v else None

    ident = {c: m.colmap.get(c, c) for c in m.schema.names}
    k0 = ident[m.keys[0]]
    out: dict = {"keys": {}}
    out.update(
        (kind, {})
        for kind, cols in (
            ("stats", m.stats_columns),
            ("blooms", m.bloom_columns),
            ("sketches", m.sketch_columns),
        )
        if cols
    )
    for r in rows:
        b = str(r[PART_DIR])
        out["keys"][b] = {k0: [stat_json(r["_k_lo"]), stat_json(r["_k_hi"])]}
        if m.stats_columns:
            out["stats"][b] = {
                ident[c]: [stat_json(r[f"_lo_{c}"]), stat_json(r[f"_hi_{c}"])]
                for c in m.stats_columns
            }
        for ci, c in enumerate(m.bloom_columns):
            bits = set().union(*(r[f"_bl_{ci}_{s}"] for s in range(BLOOM_K)))
            if bits:
                out["blooms"].setdefault(b, {})[ident[c]] = {
                    "m": BLOOM_M, "k": BLOOM_K, "b64": _bloom_b64(bits),
                }
        if m.sketch_columns:
            out["sketches"][b] = {
                ident[c]: {
                    "kll": b64(r[f"_kll_{c}"]), "hll": b64(r[f"_hll_{c}"]),
                }
                for c in m.sketch_columns
            }
    return out


def _man_dv_files(man: dict) -> "set[str]":
    """The DV sidecar files a manifest references and OWNS — external
    (clone) refs carry a '/' and are the source table's to reclaim.
    One definition for every vacuum loop that asks the question (the
    r12 review found three hand-copied variants drifting apart)."""
    return {
        dv["file"]
        for dv in man.get("dvs", {}).values()
        if "/" not in dv["file"]
    }


class KeyedCatalog:
    """A manifest-logged catalog of keyed Parquet tables.

    Plays the role of the reference's SQLAlchemy engine+MetaData pair.
    ``warehouse`` is any Hadoop-FileSystem path (local, ``file://``,
    HDFS, S3A) — every metadata operation goes through the FileSystem
    API, never ``os``/``shutil``.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        default_buckets: int = 32,
        *,
        auto_compact_segments: "int | None" = None,
        auto_compact_target_bytes: int = 64 * 1024 * 1024,
    ):
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        self.default_buckets = default_buckets
        # opt-in write-path maintenance (the Delta autoCompact shape):
        # when a write commits and the table's live segment count
        # exceeds ``auto_compact_segments``, the small-segment backlog
        # (< ``auto_compact_target_bytes``) is bin-packed in a
        # follow-up commit — the small-file problem of high-frequency
        # ingest, bounded at the source instead of by a scheduled job.
        # Best-effort: a lost OCC race skips the pass (the next write
        # re-triggers), and snapshots are retained (vacuum=False).
        self.auto_compact_segments = auto_compact_segments
        self.auto_compact_target_bytes = auto_compact_target_bytes
        self.fs = HadoopFS(spark)
        self.fs.mkdirs(self.warehouse)
        # DataFrames persisted mid-write (auto-index staging) that must
        # be released once the segment write has materialized them
        self._pending_unpersist: list[DataFrame] = []
        # decision trail of the last read_table(stats_bounds=...) —
        # {col: {est_rows, total_est, frac, probed}} when sketch
        # selectivity gated the min/max leaf probe
        self._last_range_decision: dict | None = None

    # ------------------------------------------------------------------
    # catalog utilities (reference:pandabase/util.py:5-80, helpers.py:175-182)
    # ------------------------------------------------------------------
    def _path(self, table_name: str) -> str:
        return f"{self.warehouse}/{table_name}"

    def _qualify(self, table_name: str, schema: str | None) -> str:
        """Namespace resolution (reference:pandabase/util.py:5-80,
        sql.py:46,71 ``schema=`` kwarg): a schema maps to a warehouse
        sub-directory, so ``schema.table`` lives at
        ``{warehouse}/{schema}/{table}`` — the Spark analogue of a
        Postgres schema. ``schema=None`` is the flat default root."""
        if schema is None:
            return table_name
        if not is_clean(schema):
            raise NameError(
                f"schema {schema!r} is not a clean name; "
                f"use pandabase_spark.clean_name first"
            )
        return f"{schema}/{table_name}"

    def has_table(self, table_name: str, *, schema: str | None = None) -> bool:
        """reference:pandabase/helpers.py:175-182"""
        table_name = self._qualify(table_name, schema)
        return self.fs.exists(f"{self._path(table_name)}/{META_FILE}")

    def drop_table(self, table_name: str, *, schema: str | None = None) -> None:
        """reference:pandabase/util.py:5-20 drop_db_table"""
        table_name = self._qualify(table_name, schema)
        if not self.has_table(table_name):
            raise NameError(f"no such table: {table_name}")
        self.fs.delete(self._path(table_name))

    def table_names(self, *, schema: str | None = None) -> list[str]:
        """reference:pandabase/util.py:23-28 get_db_table_names;
        ``schema=`` scopes the listing to that namespace."""
        if schema is not None and not is_clean(schema):
            raise NameError(f"schema {schema!r} is not a clean name")
        root = self.warehouse if schema is None else f"{self.warehouse}/{schema}"
        return sorted(
            d
            for d in self.fs.list_dirs(root)
            if self.fs.exists(f"{root}/{d}/{META_FILE}")
        )

    def namespaces(self) -> list[str]:
        """Schema namespaces present in the warehouse (directories that
        are not themselves tables but contain at least one table)."""
        out = []
        for d in self.fs.list_dirs(self.warehouse):
            if self.fs.exists(f"{self.warehouse}/{d}/{META_FILE}"):
                continue  # a flat table, not a namespace
            if self.table_names(schema=d):
                out.append(d)
        return sorted(out)

    def column_names(
        self, table_name: str, *, schema: str | None = None
    ) -> list[str]:
        """reference:pandabase/util.py:31-42 get_table_column_names"""
        return [
            f.name
            for f in self.meta(table_name, schema=schema).schema.fields
        ]

    def meta(self, table_name: str, *, schema: str | None = None) -> TableMeta:
        table_name = self._qualify(table_name, schema)
        return TableMeta.from_json(
            self.fs.read_text(f"{self._path(table_name)}/{META_FILE}")
        )

    def _write_meta(self, table_name: str, m: TableMeta) -> None:
        self.fs.write_text_atomic(
            f"{self._path(table_name)}/{META_FILE}", m.to_json()
        )

    def _manifest(self, table_name: str, version: int | None = None) -> dict:
        if version is None:
            return kt_log.head(self.fs, self._path(table_name))
        man = kt_log.read_version(self.fs, self._path(table_name), version)
        if man is None:
            raise NameError(
                f"table {table_name!r} has no snapshot v{version} "
                "(never committed, or truncated by vacuum)"
            )
        return man

    def _seg_path(self, table_name: str, seg: str) -> str:
        """A segment's directory; a "/" in the name marks an external
        reference (from :meth:`clone_table`), warehouse-relative."""
        return (
            f"{self.warehouse}/{seg}"
            if "/" in seg
            else f"{self._path(table_name)}/{seg}"
        )

    def _skipping(
        self, table_name: str, man: dict, m: "TableMeta | None" = None
    ) -> dict:
        """The data-skipping dict of a manifest's live leaves:
        ``{"keys" | "stats" | "blooms" | "sketches": {seg: {bucket:
        {col: ..}}}}``, ``keys`` holding the first key column's range.
        Each segment's entries live in its own immutable
        ``_pb_skip.json``, written once by :meth:`_write_segment` and
        keyed by stable column identity. Here they are read for the
        live segments, cut to each segment's live buckets
        (partial-bucket DML tombstones buckets) and keyed by the
        current column names, so a segment written before a rename
        answers under the new name. A segment without the file has no
        entry and is never pruned. ``table_name`` must be qualified;
        ``m`` is its meta when the caller already holds it."""
        if m is None:
            m = self.meta(table_name)
        names = {m.colmap.get(c, c): c for c in m.schema.names}
        out: dict = {"keys": {}, "stats": {}, "blooms": {}, "sketches": {}}
        for seg, bs in man["segments"].items():
            path = f"{self._seg_path(table_name, seg)}/{SKIP_FILE}"
            if not self.fs.exists(path):
                continue  # no skipping file: this segment is always read
            live = {str(b) for b in bs}
            doc = json.loads(self.fs.read_text(path))
            for kind, per_bucket in doc.items():
                out[kind][seg] = {
                    b: {names[c]: e for c, e in cols.items() if c in names}
                    for b, cols in per_bucket.items()
                    if b in live
                }
        return out

    def _maybe_auto_compact(self, table_name: str) -> None:
        """Write-path compaction trigger (see ``auto_compact_segments``
        in :meth:`__init__`): fires AFTER the write's own commit, so
        the user's write is never failed by maintenance — a lost OCC
        race here is swallowed and the next write re-triggers."""
        budget = self.auto_compact_segments
        if not budget:
            return
        if len(self._manifest(table_name)["segments"]) <= budget:
            return
        try:
            self.compact(
                table_name,
                vacuum=False,
                target_bytes=self.auto_compact_target_bytes,
            )
        except ConcurrentWriteError:
            pass

    def last_txn_version(
        self, table_name: str, app_id: str, *, schema: str | None = None
    ) -> "int | None":
        """Highest ``txn`` version the table has committed for
        ``app_id`` (None if never seen) — the read side of the
        Delta-style txnAppId/txnVersion idempotent-write contract.
        Streaming sinks use it implicitly (see
        :mod:`pandabase_spark.streaming`); batch jobs replaying a
        work queue can consult it directly before re-submitting."""
        table_name = self._qualify(table_name, schema)
        got = self._manifest(table_name).get("txns", {}).get(str(app_id))
        return int(got) if got is not None else None

    def _txn_applied(
        self,
        table_name: str,
        txn: "tuple[str, int] | None",
        man: "dict | None" = None,
    ) -> bool:
        """True iff this (app_id, version) write already committed —
        the replay guard. Checked against the head manifest (``man``,
        when the caller already holds it); a racing duplicate that
        slips past the check loses the OCC claim in :meth:`_commit`
        instead, and its retry lands here."""
        if txn is None:
            return False
        app, tv = txn
        if man is None:
            man = self._manifest(table_name)
        last = man.get("txns", {}).get(str(app))
        return last is not None and int(tv) <= int(last)

    @staticmethod
    def _resolve_nb(m: TableMeta, man: dict) -> TableMeta:
        """Effective bucketing for the snapshot in hand: the manifest's
        recorded ``nb`` overrides create-time meta (bucket-count
        evolution via :meth:`rebucket_table`). Every operation that
        computes bucket ids MUST use the meta returned here with the
        SAME pinned manifest it reads/commits against — bucket
        pruning and upsert bucket replacement are only sound when the
        hash function matches the layout the segments were written
        under."""
        import dataclasses

        nb = man.get("nb")
        if nb and nb != m.num_buckets:
            return dataclasses.replace(m, num_buckets=nb)
        return m

    def _segment_skipping(
        self, seg_path: str, buckets: Sequence[int], m: TableMeta
    ) -> dict:
        """The skipping entries of one freshly written segment, read
        back from its files in ONE grouped aggregate (:func:`_skip_aggs`,
        the write-time skipping pass of Delta Lake), as the
        :func:`_skip_doc` dict. The rewriting writes (upsert, MERGE,
        the DML rewrites, the DV fold, compaction) take their entries
        from here; a create or append takes them from its batch probe
        unless a skipping column changed after the probe.

        The bucket is the file's own leaf directory (the last
        ``_pb_b=N`` path component), never an earlier match in the
        catalog path."""
        df = (
            self.spark.read.schema(m.schema)
            .parquet(*[f"{seg_path}/{PART_DIR}={b}" for b in buckets])
            .withColumn(
                PART_DIR,
                F.regexp_extract(
                    F.col("_metadata.file_path"),
                    f"/{PART_DIR}=(\\d+)/[^/]*$",
                    1,
                ).cast("int"),
            )
        )
        return _skip_doc(df.groupBy(PART_DIR).agg(*_skip_aggs(m)).collect(), m)

    def table_sketch_stats(
        self,
        table_name: str,
        column: str,
        *,
        quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
        schema: str | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Table-level statistics from SEGMENT SKETCHES ONLY — no
        data scan: decode every live (segment, bucket) leaf's KLL/HLL
        entry for ``column``, fold them with the native merge
        aggregates, and emit one row (n_rows, distinct_est, q_<..>
        per requested quantile). At 100 TB this answers "what does
        this column look like" in O(#leaves) metadata time; accuracy
        is the sketch families' published bounds (KLL ~1.65% rank
        error at the default k, HLL ~2% at lgK=12), pinned in pytest.
        Raises if the table was not created with ``sketch_columns``
        covering the column, or some segment lacks its sketches
        (stats here must never silently under-count)."""
        table_name = self._qualify(table_name, schema)
        m = self.meta(table_name)
        if column not in m.sketch_columns:
            raise NameError(
                f"column {column!r} has no manifest sketches "
                f"(table sketch_columns={m.sketch_columns})"
            )
        man = self._manifest(table_name, version=version)
        entries = self._sketch_entries(
            table_name, man, column, self._skipping(table_name, man, m)
        )
        if not entries:
            # zero live segments (every row deleted): n_rows=0 and
            # NULL quantiles, not a NULL-everything row — same empty
            # guard as estimate_range_rows
            fields = [
                T.StructField("n_rows", T.LongType()),
                T.StructField("distinct_est", T.LongType()),
            ] + [
                T.StructField(
                    f"q_{str(q).replace('.', '_')}", T.DoubleType()
                )
                for q in quantiles
            ]
            return local_frame(
                self.spark,
                [tuple([0, 0] + [None] * len(quantiles))],
                T.StructType(fields),
            )
        sk = local_frame(
            self.spark,
            entries,
            T.StructType(
                [
                    T.StructField("_kll", T.BinaryType()),
                    T.StructField("_hll", T.BinaryType()),
                ]
            ),
        )
        merged_kll = F.kll_merge_agg_double(F.col("_kll"))
        aggs = [
            F.kll_sketch_get_n_double(merged_kll).alias("n_rows"),
            F.hll_sketch_estimate(F.hll_union_agg(F.col("_hll")))
            .cast("long")
            .alias("distinct_est"),
        ]
        for q in quantiles:
            aggs.append(
                F.kll_sketch_get_quantile_double(
                    merged_kll, F.lit(float(q))
                ).alias(f"q_{str(q).replace('.', '_')}")
            )
        return sk.agg(*aggs)

    def estimate_range_rows(
        self,
        table_name: str,
        column: str,
        lo: "float | None",
        hi: "float | None",
        *,
        schema: str | None = None,
        version: int | None = None,
    ) -> int:
        """Selectivity estimation from manifest sketches: approximate
        COUNT(*) WHERE lo <= col <= hi without touching data — the
        query-planner primitive (join-order / strategy choices need
        row estimates, not exact counts). Folds the live leaves'
        KLL entries and differences the rank estimates at the bounds;
        cost is O(#leaves) metadata, error is KLL's rank bound
        (~1.65% of N at the default k). Either bound may be None
        (open side). Requires ``sketch_columns`` coverage — raises
        rather than guessing."""
        table_name = self._qualify(table_name, schema)
        m = self.meta(table_name)
        if column not in m.sketch_columns:
            raise NameError(
                f"column {column!r} has no manifest sketches "
                f"(table sketch_columns={m.sketch_columns})"
            )
        # ONE manifest fetch serves validation and decoding — a rival
        # commit cannot slip between a check and a re-read
        man = self._manifest(table_name, version=version)
        entries = self._sketch_entries(
            table_name, man, column, self._skipping(table_name, man, m)
        )
        if not entries:
            return 0  # zero live segments = zero rows, exactly
        est, _ = self._kll_range_estimate(entries, lo, hi)
        return est

    def _sketch_entries(
        self, table_name: str, man: dict, column: str, skip: dict
    ) -> "list[tuple]":
        """Decoded ``(kll, hll)`` sketches of ``column`` for every live
        (segment, bucket) leaf of ``man``, from ``skip`` (its
        :meth:`_skipping` dict) — the one sketch reader of
        :meth:`table_sketch_stats`, :meth:`estimate_range_rows` and
        read_table's selectivity gate. Raises ValueError when a live
        leaf has no sketch: statistics folded from the rest would
        under-count."""
        import base64

        sketches = skip["sketches"]
        entries = []
        for seg, bs in man["segments"].items():
            for b in bs:
                ent = sketches.get(seg, {}).get(str(b), {}).get(column)
                if not ent or not ent.get("kll"):
                    raise ValueError(
                        f"segment {seg} of {table_name!r} carries no "
                        f"sketch for {column!r} — cannot answer from "
                        "metadata without under-counting"
                    )
                entries.append(
                    (
                        bytearray(base64.b64decode(ent["kll"])),
                        bytearray(base64.b64decode(ent["hll"]))
                        if ent.get("hll")
                        else None,
                    )
                )
        return entries

    def _kll_range_estimate(
        self,
        entries: "list[tuple]",
        lo: "float | None",
        hi: "float | None",
    ) -> "tuple[int, int]":
        """(estimated rows in [lo, hi], total rows) from one merged-KLL
        aggregation over :meth:`_sketch_entries` — a single tiny Spark
        job serves both numbers, so callers needing the selectivity
        FRACTION (read_table's probe gate) don't pay a second
        estimation pass."""
        sk = local_frame(
            self.spark,
            [(kll,) for kll, _ in entries],
            T.StructType([T.StructField("_kll", T.BinaryType())]),
        )
        merged = F.kll_merge_agg_double(F.col("_kll"))
        hi_rank = (
            F.kll_sketch_get_rank_double(merged, F.lit(float(hi)))
            if hi is not None
            else F.lit(1.0)
        )
        lo_rank = (
            F.kll_sketch_get_rank_double(merged, F.lit(float(lo)))
            if lo is not None
            else F.lit(0.0)
        )
        row = sk.agg(
            F.kll_sketch_get_n_double(merged).alias("_n"),
            hi_rank.alias("_hr"),
            lo_rank.alias("_lr"),
        ).first()
        # get_rank is P(X < q); the <= hi side is off by the mass AT
        # hi — within the sketch's own error envelope, fine for
        # planning purposes
        est = int(round(row["_n"] * max(0.0, row["_hr"] - row["_lr"])))
        return est, int(row["_n"])

    def _one_row(self) -> DataFrame:
        """A one-row driver-local frame to evaluate literal expressions
        over: the optimizer folds a projection of it into a local
        relation, so ``select(...).first()`` runs no Spark job, and the
        JVM evaluates the same expressions the writers use, so Python
        never re-implements a hash and can never drift from it."""
        return local_frame(self.spark, [(0,)], "_pb_one int")

    def _bloom_positions(self, value: Any, dtype: T.DataType) -> list[int]:
        """Probe bit positions for ``value`` under the SAME JVM
        expressions that built the filters (``xxhash64(lit(value)
        cast col-type, seed) mod m``), folded on the driver
        (:meth:`_one_row`)."""
        row = self._one_row().select(
            *[
                F.pmod(
                    F.xxhash64(F.lit(value).cast(dtype), F.lit(s)),
                    F.lit(BLOOM_M),
                ).alias(f"p{s}")
                for s in range(BLOOM_K)
            ]
        ).first()
        return [row[f"p{s}"] for s in range(BLOOM_K)]

    def _commit(
        self,
        table_name: str,
        segments: dict[str, list[int]],
        v: int,
        op: str = "write",
        nb: int | None = None,
        segcols: dict | None = None,
        dvs: dict | None = None,
        dvs_base: dict | None = None,
        meta: "TableMeta | None" = None,
        txn: "tuple[str, int] | None" = None,
        ingest: "dict[str, int] | None" = None,
        op_params: "dict | None" = None,
        prior: "dict | None" = None,
    ) -> None:
        """THE commit point, with optimistic concurrency detection.

        ``prior`` is the manifest version ``v`` the caller planned on,
        when it already holds it: the claim of ``v+1`` only wins while
        that version is the head, so it stands in for a re-read. The
        carried-forward maps (txns, ingest, DVs, column maps) come from
        it.

        ``op_params`` records the operation's salient arguments in the
        commit (Delta's operationParameters): the forensic answer to
        "what predicate did that delete run?" months later, surfaced
        by :meth:`history`. Small JSON-able values only.

        ``txn=(app_id, version)`` records an application transaction
        watermark in the manifest (Delta's txnAppId/txnVersion
        idempotent-write contract): writers that pass ``txn=`` are
        skipped on replay when the manifest already carries a version
        >= theirs for that app id (:meth:`_txn_applied`). The map is
        carried forward by EVERY commit — including compaction,
        rebucket, and DML — so a watermark survives table maintenance.

        ``nb`` records the bucket count the committed segments are
        laid out under; omitted, it carries the prior manifest's value
        (falling back to create-time meta). Manifest-resident ``nb``
        is what makes :meth:`rebucket_table` an ATOMIC cutover — the
        effective bucketing changes exactly when the commit lands,
        with no separate meta write to crash between.

        The commit is ONE step (:mod:`pandabase_spark.kt_log`):
        create ``_pb_log/{v+1}.json`` put-if-absent. Winning the claim
        commits; the ``_pandabase_log.json`` hint is then written
        best-effort (readers chase past a stale or missing hint).
        Losing it means another writer committed v+1 after the
        snapshot this commit was planned on, so it raises
        :class:`ConcurrentWriteError` — a lost update becomes a
        retryable error (re-read, re-plan, re-commit), and a replayed
        retry stays idempotent through ``txn=``. A stale writer can
        never win a slot below the head, even one vacuum pruned:
        vacuum leaves a stub there, never a hole."""
        import time as _time

        # ``meta`` overrides the on-disk TableMeta: schema-changing
        # ops (rename/drop/restore) pass their POST-op meta so this
        # commit's snapshot reflects the operation it records, even
        # though the meta file itself is written after the commit.
        # Skipping metadata is not in the manifest: each segment
        # carries its own (:meth:`_write_segment`, :meth:`_skipping`).
        m = meta if meta is not None else self.meta(table_name)
        prior_man = prior if prior is not None else self._manifest(table_name)
        # commit wall-clock in micros: the resolution key for
        # AS-OF-timestamp time travel (version_as_of). Clock skew
        # between writers can only mis-order commits by the skew
        # amount — the version chain itself stays strictly ordered.
        # per-segment physical column names, keyed by stable column
        # identity: a segment written BEFORE a rename keeps its
        # on-disk names here, so reads can map them to the current
        # logical schema without rewriting data. Carried forward;
        # new segments record the current mapping.
        cur_sc = {
            m.colmap.get(f.name, f.name): f.name
            for f in m.schema.fields
        }
        prior_sc = prior_man.get("segcols", {})
        given_sc = segcols or {}
        segcols = {
            seg: given_sc.get(seg) or prior_sc.get(seg, cur_sc)
            for seg in segments
        }
        # Deletion vectors: merge-on-read tombstone key-sets, each
        # scoped to the exact (segment, bucket) leaves that held its
        # keys at delete time. Carried forward with leaves INTERSECTED
        # against the committed segment set — a rewritten/compacted
        # leaf has the deletion folded into its data, so the DV no
        # longer applies to it; a DV whose every leaf was rewritten is
        # dropped (its sidecar reclaimed by vacuum). ``dvs_base``
        # (restore/clone) replaces the prior manifest's set outright.
        alldvs: dict = {}
        base_dvs = (
            dvs_base if dvs_base is not None else prior_man.get("dvs", {})
        )
        for dname, dv in base_dvs.items():
            leaves = {
                seg: kept
                for seg, bs in dv.get("leaves", {}).items()
                if (kept := [b for b in bs if b in set(segments.get(seg, []))])
            }
            if leaves:
                alldvs[dname] = {**dv, "leaves": leaves}
        if dvs:
            alldvs.update(dvs)
        doc_d = {
            "v": v + 1,
            "segments": segments,
            "ts": int(_time.time() * 1_000_000),
            "op": op,
            "nb": nb or prior_man.get("nb") or m.num_buckets,
            "segcols": segcols,
            # full TableMeta snapshot: what RESTORE needs to bring a
            # rename/drop back along with the segment set — schema,
            # column mapping, AND the declaration lists/constraints
            # that reference column names (Delta RESTORE semantics).
            # A few hundred bytes per commit.
            "meta_schema": json.loads(m.to_json()),
        }
        if op_params:
            doc_d["op_params"] = op_params
        txns = dict(prior_man.get("txns", {}))
        if txn is not None:
            app, tv = txn
            tv = int(tv)
            txns[str(app)] = max(tv, txns.get(str(app), tv))
        if txns:
            doc_d["txns"] = txns
        # COPY INTO file ledger: carried forward like txns so the data
        # write and the loaded-file record land in ONE atomic commit —
        # a crash can never leave a file loaded-but-unrecorded (double
        # load) or recorded-but-unloaded (data loss)
        loaded = dict(prior_man.get("ingest", {}))
        if ingest:
            loaded.update(ingest)
        if loaded:
            doc_d["ingest"] = loaded
        if alldvs:
            doc_d["dvs"] = alldvs
        doc = json.dumps(doc_d)
        tpath = self._path(table_name)
        claim = kt_log.version_path(tpath, v + 1)
        if self.fs.write_text_if_absent(claim, doc):
            try:
                self.fs.write_text_atomic(kt_log.hint_path(tpath), doc)
            except Exception:
                pass  # only a hint: readers chase to the head without it
            return
        raise ConcurrentWriteError(
            f"commit of {table_name} v{v + 1} lost: table is at "
            f"v{self._manifest(table_name)['v']} (another writer "
            "committed). Re-read and retry."
        )

    def version_as_of(
        self,
        table_name: str,
        ts: "float | int",
        *,
        schema: str | None = None,
    ) -> int:
        """Resolve an AS-OF wall-clock timestamp (epoch seconds, float
        ok) to the snapshot version current at that instant — the
        Delta ``TIMESTAMP AS OF`` shape: the LAST commit whose commit
        time is ≤ ``ts`` among the RETAINED history (vacuum truncates
        time travel, exactly as for version-based reads). Raises
        NameError when no retained snapshot is old enough. Commits
        from before this field existed (no ``ts`` in the doc) are
        treated as infinitely old, so they resolve for any query time.
        """
        table_name = self._qualify(table_name, schema)
        if not self.has_table(table_name):
            raise NameError(f"no such table: {table_name}")
        ts_us = int(float(ts) * 1_000_000)
        best = None
        for man in kt_log.live_versions(self.fs, self._path(table_name)):
            if man.get("ts", 0) <= ts_us:
                best = man["v"]
        if best is None:
            raise NameError(
                f"table {table_name!r} has no snapshot at or before "
                f"ts={ts} (first retained commit is newer, or history "
                "was vacuumed)"
            )
        return best

    def history(self, table_name: str, *, schema: str | None = None) -> list[dict]:
        """Retained snapshots, oldest first: [{version, n_segments,
        n_paths, current}]. Vacuum prunes entries whose segments are
        gone (standard time-travel/VACUUM tradeoff)."""
        table_name = self._qualify(table_name, schema)
        if not self.has_table(table_name):
            raise NameError(f"no such table: {table_name}")
        cur = self._manifest(table_name)["v"]
        return [
            {
                "version": man["v"],
                "operation": man.get("op"),
                "operation_parameters": man.get("op_params"),
                "ts_us": man.get("ts"),
                "n_segments": len(man["segments"]),
                "n_paths": sum(len(b) for b in man["segments"].values()),
                "current": man["v"] == cur,
            }
            for man in kt_log.live_versions(self.fs, self._path(table_name))
        ]

    def table_detail(
        self, table_name: str, *, schema: str | None = None
    ) -> dict:
        """DESCRIBE DETAIL (the Delta shape): one metadata-only dict of
        the table's physical facts — location, current version, live
        segment/leaf counts and on-disk bytes, bucket count, keys,
        clustering and declared index columns, live DV count,
        constraint names. O(manifest + two du per segment); no job
        runs and no data is read — at 100 TB this answers "how big is
        this table and how is it laid out" without a scan."""
        table_name = self._qualify(table_name, schema)
        m = self.meta(table_name)
        man = self._manifest(table_name)
        m = self._resolve_nb(m, man)
        size = sum(
            self.fs.du(self._seg_path(table_name, s)) for s in man["segments"]
        )
        return {
            "name": table_name,
            "location": self._path(table_name),
            "format": "parquet",
            "version": man["v"],
            "last_operation": man.get("op"),
            "last_commit_ts_us": man.get("ts"),
            "keys": list(m.keys),
            "num_buckets": m.num_buckets,
            "n_segments": len(man["segments"]),
            "n_leaves": sum(len(b) for b in man["segments"].values()),
            "size_bytes": int(size),
            "n_live_dvs": len(man.get("dvs", {})),
            "cluster_by": list(m.cluster_by),
            "stats_columns": list(m.stats_columns),
            "bloom_columns": list(m.bloom_columns),
            "sketch_columns": list(m.sketch_columns),
            "generated": dict(m.generated),
            "constraints": sorted(m.constraints),
            "auto_index": m.auto_index,
            # metadata-size facts: the version file every reader
            # parses, and the live segments' skipping files that only
            # pruning probes and sketch reads open
            "manifest_bytes": len(
                self.fs.read_text(
                    kt_log.version_path(self._path(table_name), man["v"])
                )
            ),
            "skip_sidecar_bytes": sum(
                self.fs.du(f"{self._seg_path(table_name, s)}/{SKIP_FILE}")
                for s in man["segments"]
            ),
        }

    def describe(
        self, table_name: str | None = None, *, schema: str | None = None
    ) -> DataFrame:
        """Per-table min(pk)/max(pk)/count — the reference's only
        aggregation surface (reference:pandabase/util.py:45-80
        describe_database). Built lazily as ONE union-of-aggregates plan
        (a single Spark job on collect, not one per table). Multi-key
        tables report count only (reference:util.py:69-75).
        ``schema=`` scopes to one namespace (reference:util.py:45-50);
        table_name values are then reported namespace-qualified.
        """
        if table_name is not None:
            names = [self._qualify(table_name, schema)]
        else:
            names = [
                self._qualify(t, schema)
                for t in self.table_names(schema=schema)
            ]
        out = None
        for name in names:
            m = self.meta(name)
            df = self.read_table(name)
            if len(m.keys) == 1 and not m.auto_index:
                k = m.keys[0]
                row = df.agg(
                    F.lit(name).alias("table_name"),
                    F.min(k).cast("string").alias("min_pk"),
                    F.max(k).cast("string").alias("max_pk"),
                    F.count(F.lit(1)).alias("count"),
                )
            else:
                row = df.agg(
                    F.lit(name).alias("table_name"),
                    F.lit(None).cast("string").alias("min_pk"),
                    F.lit(None).cast("string").alias("max_pk"),
                    F.count(F.lit(1)).alias("count"),
                )
            out = row if out is None else out.unionByName(row)
        if out is None:
            raise NameError("no tables in warehouse")
        return out

    def table_changes(
        self,
        table_name: str,
        v_from: int,
        v_to: int | None = None,
        *,
        schema: str | None = None,
    ) -> DataFrame:
        """CDC-style diff between two snapshots: one row per key whose
        state changed from ``v_from`` to ``v_to`` (default: current),
        with ``_change_type`` ∈ {insert, update, delete} and the
        TO-side values (NULL for deletes).

        Plan: full outer join of the two snapshot scans on the PK +
        one null-safe any-column-differs predicate — same shape as
        ``companda``. Both sides prune/push down like any table read;
        nothing is materialized driver-side. This is the feed for
        incremental downstream rebuilds (only reprocess changed keys)
        — the manifest log gives snapshots, this derives the delta.
        """
        table_name = self._qualify(table_name, schema)
        m = self.meta(table_name)
        if v_from == 0:
            # before the first commit: empty baseline — every current
            # row surfaces as an insert (the CDC bootstrap read)
            a = local_frame(self.spark, [], m.schema)
        else:
            a = self._read_raw(table_name, version=v_from)
        b = self._read_raw(table_name, version=v_to)
        keys = list(m.keys)
        vals = [c for c in a.columns if c not in keys]
        # presence flags via a side-tagged literal: for full-outer rows
        # the missing side has every column null, so a constant TRUE
        # column is the unambiguous "this side had the key" signal
        a_tag = a.withColumn("_in_a", F.lit(True)).alias("_a")
        b_tag = b.withColumn("_in_b", F.lit(True)).alias("_b")
        joined = a_tag.join(b_tag, on=keys, how="full_outer")
        differs = F.lit(False)
        for c in vals:
            ac, bc = F.col(f"_a.{c}"), F.col(f"_b.{c}")
            differs = differs | ~(
                ac.eqNullSafe(bc)
                | (F.isnan(ac) & F.isnan(bc)
                   if dict(a.dtypes)[c] in ("float", "double")
                   else F.lit(False))
            )
        change = (
            F.when(F.col("_in_a").isNull(), F.lit("insert"))
            .when(F.col("_in_b").isNull(), F.lit("delete"))
            .when(differs, F.lit("update"))
        )
        out_cols = [F.col(k) for k in keys] + [
            F.col(f"_b.{c}").alias(c) for c in vals
        ]
        return (
            joined.withColumn("_change_type", change)
            .where(F.col("_change_type").isNotNull())
            .select(*out_cols, "_change_type")
        )

    def compact(
        self,
        table_name: str,
        *,
        vacuum: bool = True,
        schema: str | None = None,
        target_bytes: int | None = None,
        retain_last: int = 0,
    ) -> int:
        """OPTIMIZE: merge live segments into fewer, larger ones.

        Repeated upserts/appends grow the live (segment, bucket) path
        count — each read then opens more, smaller files. With
        ``target_bytes=None`` every live segment is rewritten into ONE
        fresh segment — fine for small tables, impossible at 100 TB.
        With ``target_bytes`` set, only segments SMALLER than the
        target are merged (≥2 required) and full-sized segments are
        left untouched: maintenance IO is bounded by the small-file
        backlog, not the table — the LSM/Delta-OPTIMIZE bin-packing
        shape, runnable incrementally forever. Either way the swap
        commits atomically (old snapshot intact until the manifest
        rename; a racing completed commit raises
        :class:`ConcurrentWriteError` rather than losing data).
        Returns the number of segments replaced.
        """
        table_name = self._qualify(table_name, schema)
        # one meta read and one head read serve the whole compaction
        meta = self.meta(table_name)
        man = self._manifest(table_name)
        m = self._resolve_nb(meta, man)
        segs: dict[str, list[int]] = man["segments"]
        if target_bytes is None:
            chosen = list(segs)
        else:
            chosen = [
                s
                for s in segs
                if self.fs.du(self._seg_path(table_name, s))
                < target_bytes
            ]
        if len(chosen) <= 1:
            return 0
        # read the chosen segments through _read_raw (against a
        # chosen-only view of the pinned manifest) so column-mapped
        # pre-rename segments rewrite under the CURRENT names
        sub_man = dict(man)
        sub_man["segments"] = {s: segs[s] for s in chosen}
        rows = self._read_raw(table_name, manifest=sub_man, m=m)
        seg, buckets = self._write_segment(rows, table_name, m)
        # commit against the SAME manifest the rewrite read from — a
        # rival commit in the window must trip the put-if-absent claim,
        # not be silently absorbed with its rows missing from the
        # rewritten segment
        merged = {
            s: bs for s, bs in man["segments"].items() if s not in chosen
        }
        merged[seg] = buckets
        self._commit(
            table_name, merged, v=man["v"], op="compact", meta=meta,
            prior=man,
            op_params={
                "target_bytes": target_bytes,
                "merged_segments": len(chosen),
            },
        )
        if vacuum:
            # retain_last passes through to vacuum's retention window
            # (see vacuum) — a scheduled OPTIMIZE need not truncate
            # the time travel recent readers are pinned to
            self.vacuum(table_name, retain_last=retain_last)
        return len(chosen)

    def clone_table(
        self,
        src: str,
        dst: str,
        *,
        schema: str | None = None,
        dst_schema: str | None = None,
        version: int | None = None,
    ) -> None:
        """Zero-copy shallow clone (the Delta/Iceberg CLONE shape): a
        new table whose first manifest REFERENCES the source's live
        segments instead of copying them — metadata-only, O(manifest)
        regardless of table size, so forking a 100 TB table for an
        experiment costs one JSON write.

        ``version=`` clones a historical snapshot (time-travel clone).
        Writes to the clone land as local segments and manifest edits;
        the source never changes (segment files are immutable and the
        clone's commits touch only its own manifest). ``compact()`` on
        the clone materializes it — after that it owns every byte it
        references. The standard shallow-clone caveat applies exactly
        as in Delta: ``vacuum()``/``drop_table()`` on the SOURCE can
        delete segments a clone still references; compact the clone
        first if the source's lifecycle is shorter. Deletion-vector
        sidecars are exempt from the caveat — they are O(deleted
        keys), so the clone copies them locally at clone time and a
        source-side DV retirement (compact / covered-bucket rewrite +
        vacuum) can never break the clone's reads.

        External references are recorded as warehouse-relative
        ``<src_table>/<segment>`` names (the ``/`` marks externality);
        cloning a clone re-points at wherever each segment actually
        lives, so chains never deepen the indirection.
        """
        src_q = self._qualify(src, schema)
        dst_q = self._qualify(dst, dst_schema)
        if not self.has_table(src_q):
            raise NameError(f"no such table: {src_q}")
        if self.has_table(dst_q):
            raise ValueError(f"table {dst_q!r} already exists")
        m = self.meta(src_q)
        man = self._manifest(src_q, version=version)
        rename = {
            seg: (seg if "/" in seg else f"{src_q}/{seg}")
            for seg in man["segments"]
        }
        segments = {rename[seg]: bs for seg, bs in man["segments"].items()}
        # skipping entries live in the segments themselves, so the
        # clone reads the source's files and nothing is rescanned
        segcols = {
            rename[seg]: sc
            for seg, sc in man.get("segcols", {}).items()
            if seg in rename
        }
        # up-front existence check (mirrors restore_table): cloning a
        # historical version whose DV sidecars were since reclaimed by
        # vacuum must refuse with a clear error BEFORE any directory
        # is created — not fail mid-copy leaving a half-built table
        missing = [
            dv["file"]
            for dv in man.get("dvs", {}).values()
            if not self.fs.exists(
                f"{self.warehouse}/{dv['file']}"
                if "/" in dv["file"]
                else f"{self._path(src_q)}/{DV_DIR}/{dv['file']}"
            )
        ]
        if missing:
            raise ValueError(
                f"cannot clone {src_q!r}"
                + (f" at v{version}" if version is not None else "")
                + f": DV sidecars {missing} were deleted by vacuum()"
            )
        self.fs.mkdirs(self._path(dst_q))
        # deletion-vector sidecars are COPIED into the clone, not
        # externally referenced: they are O(deleted keys) — tiny — so
        # copying keeps the clone's zero-copy economics while cutting
        # the lifecycle coupling (the SOURCE retires a DV on compact/
        # covered-bucket rewrite and its vacuum then deletes the
        # sidecar; an external reference would break the clone's
        # reads). Segments stay shared; only tombstones are owned.
        dvs = {}
        for dname, dv in man.get("dvs", {}).items():
            src_file = (
                f"{self.warehouse}/{dv['file']}"
                if "/" in dv["file"]
                else f"{self._path(src_q)}/{DV_DIR}/{dv['file']}"
            )
            local = dv["file"].rsplit("/", 1)[-1]
            self.fs.copy(
                src_file, f"{self._path(dst_q)}/{DV_DIR}/{local}"
            )
            dvs[dname] = {
                **dv,
                "file": local,
                "leaves": {
                    rename[seg]: bs
                    for seg, bs in dv.get("leaves", {}).items()
                    if seg in rename
                },
            }
        self._write_meta(dst_q, m)
        self._commit(
            dst_q, segments, v=0, op="clone",
            op_params={"src": src_q, "version": version},
            nb=man.get("nb") or m.num_buckets,
            segcols=segcols or None,
            dvs_base={}, dvs=dvs or None,
        )

    def restore_table(
        self,
        table_name: str,
        version: int,
        *,
        schema: str | None = None,
    ) -> int:
        """RESTORE TABLE ... TO VERSION AS OF — the Delta rollback
        shape: commit a NEW snapshot whose segment set (and stats) are
        exactly those of historical ``version``. The version chain
        only ever moves forward — the bad commits stay in history (and
        in ``table_changes``/``history()``), so a restore is itself
        auditable and restorable, unlike rewinding the head, which
        would silently orphan commits and break the OCC put-if-absent
        chain.

        Metadata-only and O(manifest): segments are immutable, so
        re-referencing them costs one JSON write no matter how many
        bytes they hold. If ``vacuum()`` already deleted a segment the
        target snapshot needs, the restore refuses up front (ValueError
        listing the missing segments) instead of committing a snapshot
        that cannot be scanned — the same truncation tradeoff as
        version reads. Restoring to the current version is a no-op
        that still commits (op='restore'), mirroring Delta's RESTORE
        semantics of always recording the operation. Returns the new
        version number.

        The LOGICAL SCHEMA restores along with the segment set: each
        commit snapshots its TableMeta (``meta_schema`` in the
        manifest), so restoring past a ``rename_column``/
        ``drop_column`` brings the old names and the dropped column's
        data back — Delta RESTORE parity. Names vacated in either
        epoch stay permanently retired (union), so no name is ever
        recycled across a restore. Manifests written before the
        snapshot existed restore the segment set only (legacy
        behavior, current schema kept).
        """
        table_name = self._qualify(table_name, schema)
        if not self.has_table(table_name):
            raise NameError(f"no such table: {table_name}")
        target = self._manifest(table_name, version=version)
        missing = [
            seg
            for seg in target["segments"]
            if not self.fs.exists(self._seg_path(table_name, seg))
        ]
        missing += [
            f"{DV_DIR}/{dv['file']}"
            for dv in target.get("dvs", {}).values()
            if not self.fs.exists(
                f"{self.warehouse}/{dv['file']}"
                if "/" in dv["file"]
                else f"{self._path(table_name)}/{DV_DIR}/{dv['file']}"
            )
        ]
        if missing:
            raise ValueError(
                f"cannot restore {table_name!r} to v{version}: segments "
                f"{missing} were deleted by vacuum()"
            )
        cur = self._manifest(table_name)
        m = self.meta(table_name)
        # Logical-schema restore (Delta RESTORE parity): the target
        # manifest's meta_schema snapshot brings a rename/drop back
        # along with the segment set. retired_names stays the UNION
        # of both epochs — a name vacated after the snapshot must
        # remain unrecyclable even though the restore resurrected an
        # older schema (recycling would let old file bytes resurrect
        # under the recycled name). Pre-snapshot manifests (no
        # meta_schema) keep the current schema: segment-set-only
        # restore, the documented legacy behavior.
        snap = target.get("meta_schema")
        m2 = None
        if snap and snap != json.loads(m.to_json()):
            live = {
                f["name"]
                for f in json.loads(snap["schema_json"])["fields"]
            }
            # names the restore itself vacates (e.g. the post-rename
            # name when rolling back past the rename) retire too —
            # segments written under them may exist in history, and
            # recycling such a name could resurrect their file data
            vanished = [n for n in m.schema.names if n not in live]
            merged_retired = list(
                dict.fromkeys(
                    snap["retired_names"] + m.retired_names + vanished
                )
            )
            m2 = TableMeta.from_json(json.dumps(snap))
            m2.retired_names = [
                n for n in merged_retired if n not in live
            ]
        self._commit(
            table_name,
            dict(target["segments"]),
            v=cur["v"],
            op="restore",
            op_params={"version": version},
            nb=target.get("nb") or m.num_buckets,
            segcols=target.get("segcols") or None,
            # the restored snapshot's deletion vectors, verbatim —
            # NOT the current manifest's (a DV added after `version`
            # must not survive the rollback)
            dvs_base=target.get("dvs", {}),
            meta=m2,
        )
        if m2 is not None:
            self._write_meta(table_name, m2)
        return cur["v"] + 1

    def _constraint_references(
        self, m: TableMeta, col: str, expr: str
    ) -> bool:
        """True iff CHECK-constraint body ``expr`` references column
        ``col`` — decided by RESOLUTION, not text: the expression is
        analyzed against the schema minus ``col``, so only a genuine
        column reference fails to resolve. (A word-boundary regex
        false-positives on the name appearing inside a string
        literal, rejecting valid renames/drops.) Driver-side analysis
        only — no job runs."""
        rest = T.StructType(
            [f for f in m.schema.fields if f.name != col]
        )
        probe = self.spark.createDataFrame([], rest)
        try:
            probe.select(F.expr(expr)).schema
            return False
        except Exception:
            return True

    def rename_column(
        self,
        table_name: str,
        old: str,
        new: str,
        *,
        schema: str | None = None,
    ) -> None:
        """Metadata-only column rename (the Delta column-mapping
        shape): no data file is touched. Existing segments keep their
        on-disk names; the manifest's per-segment ``segcols`` map
        (stable column identity → written physical name) lets every
        read translate them to the current logical schema, while new
        segments write the new name. ``new`` must be a clean,
        never-used name — re-using a vacated name is refused, which
        is what prevents a dropped/renamed column's old file data
        from resurrecting under a recycled name. Key columns are
        immutable (they define bucketing and PK semantics); columns
        referenced by CHECK constraints are refused (constraint
        expressions store the name). Stats/bloom/sketch declarations
        follow the rename; the segments' skipping entries are keyed
        by stable column identity, so they answer under the new name
        with nothing rewritten. Crash between the history commit and
        the meta write leaves the table un-renamed and fully
        consistent."""
        table_name = self._qualify(table_name, schema)
        m = self.meta(table_name)
        if old not in m.schema.names:
            raise NameError(f"no such column: {old!r}")
        if old in m.keys:
            raise NameError(f"cannot rename key column {old!r}")
        if not is_clean(new):
            raise NameError(f"new name {new!r} is not a clean name")
        if new in m.schema.names or new in m.retired_names:
            raise NameError(
                f"column name {new!r} is already in use or was retired "
                "(names are never recycled — column mapping would "
                "resurrect old file data)"
            )
        for cname, expr in m.constraints.items():
            if self._constraint_references(m, old, expr):
                raise NameError(
                    f"column {old!r} is referenced by constraint "
                    f"{cname!r}; drop the constraint first"
                )
        if old in m.generated:
            raise NameError(
                f"column {old!r} is GENERATED and cannot be renamed"
            )
        for gcol, gexpr in m.generated.items():
            if self._constraint_references(m, old, gexpr):
                raise NameError(
                    f"column {old!r} is referenced by generated "
                    f"column {gcol!r}; it cannot be renamed"
                )
        man = self._manifest(table_name)

        def ren(lst):
            return [new if c == old else c for c in lst]

        import dataclasses

        fields = [
            T.StructField(new, f.dataType, f.nullable)
            if f.name == old
            else f
            for f in m.schema.fields
        ]
        colmap = dict(m.colmap)
        colmap[new] = colmap.pop(old, old)  # stable identity follows
        m2 = dataclasses.replace(
            m,
            schema_json=json.dumps(T.StructType(fields).jsonValue()),
            colmap=colmap,
            retired_names=m.retired_names + [old],
            stats_columns=ren(m.stats_columns),
            bloom_columns=ren(m.bloom_columns),
            sketch_columns=ren(m.sketch_columns),
            cluster_by=ren(m.cluster_by),
        )
        # the commit carries the POST-rename meta snapshot so a later
        # RESTORE to this version brings the renamed schema with it
        self._commit(
            table_name,
            dict(man["segments"]),
            v=man["v"],
            op="rename_column",
            meta=m2,
        )
        self._write_meta(table_name, m2)

    def drop_column(
        self,
        table_name: str,
        col: str,
        *,
        schema: str | None = None,
    ) -> None:
        """Metadata-only column drop: the column leaves the logical
        schema; file bytes stay where they are (vacuumed naturally as
        segments are rewritten by upserts/compaction). The name is
        retired permanently — re-adding it is refused so old files'
        data can never resurrect under the recycled name. Key
        columns, skipping-declared columns (stats/bloom/sketch), and
        constraint-referenced columns are refused; undeclare those
        first."""
        table_name = self._qualify(table_name, schema)
        m = self.meta(table_name)
        if col not in m.schema.names:
            raise NameError(f"no such column: {col!r}")
        if col in m.keys:
            raise NameError(f"cannot drop key column {col!r}")
        for fam, lst in (
            ("stats_columns", m.stats_columns),
            ("bloom_columns", m.bloom_columns),
            ("sketch_columns", m.sketch_columns),
            ("cluster_by", m.cluster_by),
            ("generated", list(m.generated)),
        ):
            if col in lst:
                raise NameError(
                    f"column {col!r} is declared in {fam}; it backs "
                    "segment skipping metadata and cannot be dropped"
                )
        for cname, expr in m.constraints.items():
            if self._constraint_references(m, col, expr):
                raise NameError(
                    f"column {col!r} is referenced by constraint "
                    f"{cname!r}; drop the constraint first"
                )
        for gcol, gexpr in m.generated.items():
            if self._constraint_references(m, col, gexpr):
                raise NameError(
                    f"column {col!r} is referenced by generated "
                    f"column {gcol!r}; it cannot be dropped"
                )
        man = self._manifest(table_name)
        import dataclasses

        fields = [f for f in m.schema.fields if f.name != col]
        colmap = dict(m.colmap)
        colmap.pop(col, None)
        m2 = dataclasses.replace(
            m,
            schema_json=json.dumps(T.StructType(fields).jsonValue()),
            colmap=colmap,
            retired_names=m.retired_names + [col],
        )
        # commit carries the POST-drop meta snapshot (RESTORE parity)
        self._commit(
            table_name, dict(man["segments"]), v=man["v"],
            op="drop_column", meta=m2,
        )
        self._write_meta(table_name, m2)

    def rebucket_table(
        self,
        table_name: str,
        new_buckets: int,
        *,
        schema: str | None = None,
    ) -> int:
        """Change a table's bucket count ONLINE — the layout-evolution
        operation a growing table eventually needs (a table bucketed
        for 1 GB is hot-spotted at 1 TB; Iceberg calls this partition
        spec evolution). Rewrites the live rows into one segment laid
        out under ``new_buckets`` and commits it with the new count
        recorded IN THE MANIFEST — the cutover is exactly as atomic
        as any commit, with no separate meta write to crash between:
        every reader/writer resolves the effective bucketing from the
        snapshot it pinned (:meth:`_resolve_nb`), so point-lookup
        pruning, upsert bucket replacement, and time travel into
        pre-rebucket snapshots all hash under the layout those
        segments were actually written with. Concurrent-commit races
        surface as ConcurrentWriteError like every other write.
        Returns the new version number."""
        if new_buckets <= 0:
            raise ValueError(f"new_buckets must be positive: {new_buckets}")
        table_name = self._qualify(table_name, schema)
        if not self.has_table(table_name):
            raise NameError(f"no such table: {table_name}")
        m = self.meta(table_name)
        man = self._manifest(table_name)
        cur_nb = man.get("nb") or m.num_buckets
        if new_buckets == cur_nb:
            return man["v"]  # already laid out this way — no-op
        import dataclasses

        m2 = dataclasses.replace(m, num_buckets=new_buckets)
        rows = self._read_raw(table_name, manifest=man)
        seg, buckets = self._write_segment(rows, table_name, m2)
        self._commit(
            table_name, {seg: buckets}, v=man["v"],
            op="rebucket", nb=new_buckets,
            op_params={"new_buckets": new_buckets},
        )
        return man["v"] + 1

    def cluster_table(
        self,
        table_name: str,
        cluster_by: Sequence[str],
        *,
        schema: str | None = None,
        rewrite: bool = True,
    ) -> None:
        """ALTER the Z-order clustering declaration of an existing
        table (``to_table(cluster_by=)`` declares it at create; Delta
        calls this ``ALTER TABLE ... CLUSTER BY``). The declaration
        lands in table meta first, so every FUTURE segment — appends,
        upsert rewrites, DML, compaction — lays out under the new
        dimensions by construction (the Z-sort lives in THE segment
        writer). ``rewrite=True`` (default) then compacts the live
        segments so existing data adopts the layout immediately;
        ``rewrite=False`` is the 100 TB mode — a metadata-only
        declaration change, with old segments re-laid incrementally
        as ordinary maintenance/DML touches them (Delta's clustering
        works the same way: OPTIMIZE applies it, writes follow it).
        Pass an empty list to un-cluster. Columns must exist and be
        integers (same rule as create — bucket continuous values
        first)."""
        table_name = self._qualify(table_name, schema)
        m = self.meta(table_name)
        for c in cluster_by:
            if c not in m.schema.names:
                raise NameError(f"cluster_by column not in schema: {c}")
            dt = m.schema[c].dataType
            if not isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                raise ValueError(
                    f"cluster_by needs integer columns; {c} is "
                    f"{dt.simpleString()} (bucket continuous values "
                    "into an integer column first)"
                )
        m.cluster_by = list(cluster_by)
        self._write_meta(table_name, m)
        if rewrite:
            # direct rewrite rather than compact(): compact no-ops on a
            # single live segment, but adopting a layout must rewrite
            # regardless of segment count
            man = self._manifest(table_name)
            m2 = self._resolve_nb(m, man)
            rows = self._read_raw(table_name, manifest=man)
            seg, buckets = self._write_segment(rows, table_name, m2)
            self._commit(
                table_name, {seg: buckets}, v=man["v"], op="cluster",
                op_params={"cluster_by": list(cluster_by)},
            )

    def register_bucketed(
        self,
        table_name: str,
        *,
        schema: str | None = None,
        catalog_name: str | None = None,
        bucket_cols: Sequence[str] | None = None,
    ) -> str:
        """Materialize the current snapshot as a Spark-catalog BUCKETED
        table (``bucketBy(num_buckets, *keys)`` + ``sortBy(keys)``) and
        return its catalog name — the co-located-join path.

        The segment store clusters rows by key hash for pruning, but
        Catalyst cannot see that layout, so kt⨝kt equi-joins still
        shuffle both sides. Registration rewrites the snapshot through
        Spark's native bucketing, which RECORDS the hash partitioning
        in the catalog: a subsequent equi-join between two tables
        registered with the same bucket count, joined on their full
        bucket keys, plans as a sort-merge join with ZERO shuffle
        exchanges on either side (and no Sort nodes either — sortBy
        pre-sorts each bucket file). At 100 TB this is the difference
        between re-shuffling two fact tables per join and reading them
        join-ready; the rewrite is an ingest-time cost amortized over
        every subsequent join, exactly like Hive/Iceberg bucketed
        tables. ``repartition`` by the keys first so each bucket is
        one file, not one file per (task × bucket).

        The registration lives in the session catalog (in-memory
        catalog here; a Hive/Glue metastore persists it in production)
        with data external under ``<warehouse>/_bucketed/``.
        Re-registering refreshes the snapshot. Extends the reference's
        dialect surface (reference:pandabase/sql.py has no physical
        layout control — SQLAlchemy delegates to the backing engine).

        ``bucket_cols`` (default: the table's keys) buckets on a
        coarser column set — e.g. a composite-keyed fact bucketed on
        its leading join/grouping key. Hash partitioning on a SUBSET
        of a query's grouping keys still satisfies the clustered
        distribution, so a groupBy on the bucket columns (or any
        superset) aggregates with ZERO exchanges, and equi-joins on
        them co-locate — the knob that makes one physical layout serve
        both the per-entity rollup and the entity⨝entity join at
        100 TB.
        """
        table_name = self._qualify(table_name, schema)
        m = self._resolve_nb(
            self.meta(table_name), self._manifest(table_name)
        )
        bcols = list(bucket_cols) if bucket_cols is not None else list(m.keys)
        unknown = [c for c in bcols if c not in m.schema.fieldNames()]
        if unknown:
            raise NameError(f"bucket_cols not in table schema: {unknown}")
        name = catalog_name or f"kt_bucketed_{table_name.replace('.', '_')}"
        df = self.read_table(table_name)
        (
            df.repartition(m.num_buckets, *[F.col(k) for k in bcols])
            .write.mode("overwrite")
            .bucketBy(m.num_buckets, *bcols)
            .sortBy(*m.keys)
            .option("path", f"{self.warehouse}/_bucketed/{name}")
            .format("parquet")
            .saveAsTable(name)
        )
        return name

    def register_view(
        self,
        table_name: str,
        view_name: str | None = None,
        *,
        schema: str | None = None,
        version: int | None = None,
    ) -> str:
        """Expose a keyed table to ``spark.sql`` as a temp view — the
        SQL front door over the same pruned, DV-filtered, column-
        mapped scan :meth:`read_table` plans (a view is a named lazy
        plan: every predicate in the SQL still pushes into the
        parquet scan through it). ``version=`` registers a
        time-travel snapshot. Returns the view name. The view pins
        the manifest CURRENT at registration — re-register to see
        later commits (same semantics as Delta's DataFrame-as-view)."""
        table_name = self._qualify(table_name, schema)
        name = view_name or "kt_" + table_name.replace(".", "_").replace(
            "/", "_"
        )
        self.read_table(
            table_name, version=version
        ).createOrReplaceTempView(name)
        return name

    def sql(self, query: str, *, schema: str | None = None) -> DataFrame:
        """Run ANSI SQL over this catalog: each keyed table the query
        references is registered as a temp view under its BARE table
        name (pinned at the snapshot current now, like
        :meth:`register_view`), then the statement is handed to
        ``spark.sql``. This is the raw-SQL parity point with the
        reference, where ``con`` is a SQLAlchemy engine and any
        statement can always go through ``engine.execute``
        (reference:pandabase/pandabase.py engine_builder). Views are
        lazy named plans over the same scans :meth:`read_table`
        builds, so pruning, DV filtering, column mapping, and
        predicate pushdown all still apply — SQL is a front door,
        never a second engine.

        Referenced tables are found by intersecting the query's
        identifiers with :meth:`table_names` (only real tables ever
        register, and each call re-pins them fresh); a quoted name
        that slips past the scan is caught by the analyzer's
        missing-relation error and registered on retry.

        View hygiene: a pre-existing temp view under a referenced
        table's bare name raises (never silently clobbered — a
        registered-then-forgotten snapshot reading stale data is the
        worst failure mode here); the views this call pins are
        dropped before returning (temp-view substitution happens at
        analysis, so the returned DataFrame keeps its resolved plan
        — later plain ``spark.sql`` never sees a stale snapshot)."""
        import re

        names = set(self.table_names(schema=schema))
        seen = {
            tok
            for tok in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", query)
        } & names
        registered: list[str] = []

        def _pin(t: str) -> None:
            if self.spark.catalog.tableExists(t):
                raise ValueError(
                    f"temp view or table {t!r} already exists and would "
                    f"shadow catalog table {t!r} in catalog.sql — drop "
                    "it, or pin a snapshot explicitly via "
                    "register_view(table, other_name)"
                )
            self.register_view(t, t, schema=schema)
            registered.append(t)

        try:
            for t in seen:
                _pin(t)
            for _ in range(len(names) + 1):
                try:
                    return self.spark.sql(query)
                except Exception as e:  # AnalysisException: missing rel
                    missing = None
                    params = getattr(
                        e, "getMessageParameters", lambda: {}
                    )()
                    if params:
                        missing = (
                            params.get("relationName") or ""
                        ).strip("`")
                    if missing in names and missing not in seen:
                        seen.add(missing)
                        _pin(missing)
                    else:
                        raise
            raise RuntimeError("catalog.sql failed to resolve relations")
        finally:
            for t in registered:
                self.spark.catalog.dropTempView(t)

    def copy_into(
        self,
        table_name: str,
        source_dir: str,
        *,
        keys: Sequence[str] | None = None,
        how: str = "append",
        format: str = "parquet",
        reader_options: "Mapping[str, str] | None" = None,
        schema: str | None = None,
    ) -> dict:
        """COPY INTO: file-level idempotent directory ingestion (the
        Delta ``COPY INTO`` shape). Lists ``source_dir``, loads ONLY
        files the table has never ingested, writes them as one
        ``how`` batch (append/upsert), and records the loaded file
        names in the manifest's ingest ledger IN THE SAME COMMIT —
        re-running after any crash or scheduler retry loads each file
        exactly once (the data and its record are atomic; contrast a
        separate bookkeeping table, which can desync either way).

        Returns ``{"files_loaded", "files_skipped", "rows_loaded"}``.
        The ledger keys are CANONICAL absolute file URIs
        (:meth:`HadoopFS.canonical`: scheme-qualified, symlinks and
        relative segments resolved), so the same directory spelled as
        a relative path, a ``file://`` URI, or through a symlink
        still dedupes — while the same filename arriving in a truly
        different drop directory still loads. Pre-canonicalization
        ledger entries (raw joined paths) are honored on read, so
        existing tables stay idempotent. Ledger entries are ~100
        bytes each and carried forward by every commit: right-sized
        for directory-drop ingestion (thousands of files); a firehose
        of millions of small files should flow through the streaming
        sink instead, where the checkpoint + txn watermark provide
        the same exactly-once contract without per-file manifest
        state."""
        if how not in ("append", "upsert"):
            raise ValueError("copy_into supports how='append'|'upsert'")
        qualified = self._qualify(table_name, schema)
        exists = self.has_table(qualified)
        if not exists and keys is None:
            raise ValueError(
                f"copy_into target {qualified!r} does not exist — pass "
                "keys= so the first load can create it"
            )
        suffix = {
            "parquet": ".parquet", "json": ".json", "jsonl": ".jsonl",
            "csv": ".csv", "orc": ".orc",
        }.get(format, f".{format}")
        fmt = "json" if format == "jsonl" else format
        names = [
            f
            for f in self.fs.list_files(source_dir)
            if f.endswith(suffix) and not f.startswith(("_", "."))
        ]
        if not names and not exists:
            raise IOError(
                f"copy_into: no *{suffix} files in {source_dir!r} and "
                f"table {qualified!r} does not exist — nothing was "
                "created"
            )
        src_root = self.fs.canonical(source_dir).rstrip("/")
        legacy_root = source_dir.rstrip("/")
        # (canonical ledger key, legacy pre-normalization key) pairs
        files = sorted(
            (f"{src_root}/{f}", f"{legacy_root}/{f}") for f in names
        )
        ledger = self._manifest(qualified).get("ingest", {})
        new = [
            (key, old)
            for key, old in files
            if key not in ledger and old not in ledger
        ]
        if not new:
            return {
                "files_loaded": 0,
                "files_skipped": len(files),
                "rows_loaded": 0,
            }
        reader = self.spark.read.format(fmt)
        for k, v in (reader_options or {}).items():
            reader = reader.option(k, v)
        df = reader.load([key for key, _ in new])
        n_rows = df.count()
        if exists and keys is None:
            keys = self.meta(qualified).keys
        v_next = self._manifest(qualified)["v"] + 1 if exists else 1
        self.to_table(
            df, table_name, keys=keys,
            how=how if exists else "create_only", schema=schema,
            ingest={key: v_next for key, _ in new},
        )
        return {
            "files_loaded": len(new),
            "files_skipped": len(files) - len(new),
            "rows_loaded": n_rows,
        }

    def vacuum(
        self,
        table_name: str,
        *,
        schema: str | None = None,
        retain_last: int = 0,
        dry_run: bool = False,
        orphan_age_s: float = STAGED_SEGMENT_RETENTION_S,
    ) -> list[str]:
        """Delete segments no longer referenced by the head manifest
        (tombstoned by upserts or orphaned by a writer crash), then
        prune history snapshots that referenced them — vacuum truncates
        time travel, exactly the Delta/Iceberg VACUUM tradeoff.
        Returns deleted segment names.

        A pruned version file is overwritten with a stub, never
        deleted (:mod:`pandabase_spark.kt_log`): its slot stays used,
        so a writer still planning on an old snapshot loses its claim
        instead of committing below the head. The stubs are written
        BEFORE the segments they referenced are deleted, so a crash in
        between leaves unreferenced segments for the next vacuum,
        never a live version pointing at missing data.

        Concurrent-writer safety (Delta's retention-window rule): a
        segment directory NO version file has ever referenced is
        indistinguishable from an in-flight commit's staged segment —
        _commit deliberately writes data before claiming its version
        — so such directories are only reclaimed once older than
        ``orphan_age_s`` (default :data:`STAGED_SEGMENT_RETENTION_S`:
        no live commit spans an hour between staging and claiming). A
        segment's skipping file lives inside its directory, so it is
        spared and reclaimed with the segment.
        Segments some version file DID reference are
        committed-and-superseded garbage; no writer can re-stage them,
        so they reclaim immediately regardless of age. With the age
        gate at its default a vacuum can run while writers commit (the
        soak test races three drivers against it); ``orphan_age_s=0``
        restores stop-the-world semantics for offline crash cleanup,
        where a fresh claimless segment is known dead.

        ``retain_last=N`` protects a RETENTION WINDOW (Delta's
        ``RETAIN``): segments and DV sidecars referenced by any of the
        last N versions BELOW the head stay on disk and those
        snapshots stay readable/restorable — only history older than
        the window is truncated. The default (0) keeps only the head
        snapshot. At 100 TB this is what lets a nightly vacuum coexist
        with readers pinned to recent snapshots and with same-day
        RESTORE.

        ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) returns the
        same list WITHOUT writing or deleting anything — the safety
        preview before truncating time travel."""
        import time as _time

        table_name = self._qualify(table_name, schema)
        tpath = self._path(table_name)
        cur_man = self._manifest(table_name)
        protected = [cur_man]
        for v in range(
            cur_man["v"] - 1, max(cur_man["v"] - 1 - retain_last, 0), -1
        ):
            try:
                protected.append(self._manifest(table_name, version=v))
            except NameError:
                # a previously-vacuumed version is a stub, not an end:
                # intact older snapshots inside the requested window
                # must still be protected
                continue
        live = {seg for man in protected for seg in man["segments"]}
        live_dvs = {
            f for man in protected for f in _man_dv_files(man)
        }
        protected_vs = {man["v"] for man in protected}
        seg_horizon = _time.time() - orphan_age_s
        # Lazy log-history scan, shared by the segment and DV loops.
        # ONLY versions at or below the vacuum snapshot count as
        # "committed and superseded": a claim that landed ABOVE our
        # snapshot while we ran references segments/DVs that are LIVE
        # at the new head, not garbage — counting it would delete a
        # racing writer's just-committed data. The scan returns four
        # sets: segments / DV files ever referenced ≤ snapshot, and
        # segments / DV files referenced ABOVE the snapshot (a rival's
        # committed data — never reclaimable by this vacuum). The
        # future-SEGMENT set matters for exactly one op: a racing
        # restore_table is metadata-only and re-references OLD
        # segments, so a segment that is both past-superseded and
        # future-restored must survive or the restored head becomes
        # unreadable.
        log_dir = f"{tpath}/{LOG_DIR}"
        _hist: "tuple[set, set, set, set] | None" = None

        # Bounded walk: at a 10^4-commit table the naive scan is 10^4
        # driver-side JSON reads per vacuum. A version file changes at
        # most once after its claim — into a stub, once its segments
        # stopped being live — so the union of segments/DVs referenced
        # by versions <= some floor is immutable history: vacuum
        # caches it in one summary sidecar and later vacuums read only
        # manifests ABOVE the cached floor. The summary is a pure
        # cache: unreadable/missing/ahead-of-snapshot all fall back to
        # the full scan.
        summary_path = f"{log_dir}/_vacuum_history.summary.json"

        def _history() -> "tuple[set, set, set, set]":
            nonlocal _hist
            if _hist is not None:
                return _hist
            past_segs: set[str] = set()
            past_dvs: set[str] = set()
            future_segs: set[str] = set()
            future_dvs: set[str] = set()
            floor = -1
            try:
                if self.fs.exists(summary_path):
                    summ = json.loads(self.fs.read_text(summary_path))
                    if int(summ["upto"]) <= cur_man["v"]:
                        floor = int(summ["upto"])
                        past_segs = set(summ["past_segs"])
                        past_dvs = set(summ["past_dvs"])
            except Exception:
                floor = -1
                past_segs, past_dvs = set(), set()
            for man in kt_log.live_versions(self.fs, tpath, above=floor):
                if man["v"] > cur_man["v"]:
                    future_segs |= set(man.get("segments", {}))
                    future_dvs |= _man_dv_files(man)
                else:
                    past_segs |= set(man.get("segments", {}))
                    past_dvs |= _man_dv_files(man)
            _hist = (past_segs, past_dvs, future_segs, future_dvs)
            if not dry_run:
                try:
                    self.fs.write_text_atomic(summary_path, json.dumps({
                        "upto": cur_man["v"],
                        "past_segs": sorted(past_segs),
                        "past_dvs": sorted(past_dvs),
                    }))
                except Exception:
                    pass  # cache refresh is best-effort
            return _hist

        # table-relative paths of everything this vacuum reclaims
        gone: list[str] = []
        for d in self.fs.list_dirs(tpath):
            if not (d.startswith("seg-") and d not in live):
                continue
            p = f"{tpath}/{d}"
            if orphan_age_s > 0:
                past_segs, _, future_segs, _ = _history()
                if d in future_segs:
                    continue  # re-referenced above our snapshot (restore)
                if d not in past_segs and self.fs.mtime(p) > seg_horizon:
                    continue  # possibly an in-flight writer's staged seg
            gone.append(d)
        # DV sidecars get the SAME concurrent-writer protections as
        # segments: a racing DV-path delete/update/merge stages its
        # dv-* parquet BEFORE claiming its version, and a rival's DV
        # committed above the vacuum snapshot is absent from live_dvs.
        # So: never reclaim a DV some version ABOVE the snapshot
        # references, and age-gate young DVs no version ≤ snapshot has
        # ever referenced (indistinguishable from an in-flight stage).
        dv_root = f"{tpath}/{DV_DIR}"
        if self.fs.exists(dv_root):
            for d in self.fs.list_dirs(dv_root):
                if d in live_dvs:
                    continue
                p = f"{dv_root}/{d}"
                if orphan_age_s > 0:
                    _, past_dvs, _, future_dvs = _history()
                    if d in future_dvs:
                        continue  # a rival committed it above our snapshot
                    if d not in past_dvs and self.fs.mtime(p) > seg_horizon:
                        continue  # possibly an in-flight writer's staged DV
                gone.append(f"{DV_DIR}/{d}")
        if dry_run:
            return gone
        if not gone:
            # nothing to reclaim: every non-stub version at or below
            # the head is either protected or references only segments
            # that exist, so the O(versions) walk below would keep
            # everything
            return gone
        for man in kt_log.live_versions(self.fs, tpath):
            if (
                # versions ABOVE the vacuum snapshot are the FUTURE,
                # not history: a rival's claim that landed while this
                # vacuum ran is an acknowledged commit — never prune
                # upward, only truncate below the window
                man["v"] <= cur_man["v"]
                and man["v"] not in protected_vs
                and (
                    not set(man["segments"]) <= live
                    or not _man_dv_files(man) <= live_dvs
                )
            ):
                self.fs.write_text_atomic(
                    kt_log.version_path(tpath, man["v"]),
                    kt_log.stub(man["v"]),
                )
        for d in gone:
            self.fs.delete(f"{tpath}/{d}")
        return gone

    # ------------------------------------------------------------------
    # write path (reference:pandabase/sql.py:40-271 to_sql)
    # ------------------------------------------------------------------
    def to_table(
        self,
        df: DataFrame | pd.DataFrame,
        table_name: str,
        *,
        keys: Sequence[str] | None = None,
        how: str = "create_only",
        auto_index: bool = False,
        add_new_columns: bool = False,
        num_buckets: int | None = None,
        schema: str | None = None,
        constraints: Mapping[str, str] | None = None,
        stats_columns: Sequence[str] | None = None,
        bloom_columns: Sequence[str] | None = None,
        sketch_columns: Sequence[str] | None = None,
        cluster_by: Sequence[str] | None = None,
        generated: "Mapping[str, str] | None" = None,
        txn: "tuple[str, int] | None" = None,
        ingest: "dict[str, int] | None" = None,
    ) -> None:
        """Write a DataFrame into a keyed table.

        ``generated`` (create only): ``{col: sql_expr}`` GENERATED
        columns computed from other columns of the same row — every
        later write that omits the column gets it computed
        JVM-side; a write that provides it is validated against the
        expression in one aggregation pass (mismatch →
        IntegrityError), so the stored invariant can never drift
        (Delta's GENERATED ALWAYS AS). Keys cannot be generated;
        renaming/dropping a generated column or a column its
        expression references is refused.

        ``txn=(app_id, version)`` makes the write IDEMPOTENT under
        replay (Delta's txnAppId/txnVersion contract): the manifest
        records the highest version committed per app id, and a write
        whose version is <= that watermark returns without touching
        the table. This is what turns at-least-once delivery (Spark
        Structured Streaming micro-batch retries, work-queue
        re-submissions) into exactly-once table state even for
        NON-idempotent batches — a replayed strict append neither
        duplicates rows nor trips the PK check; it is simply skipped.

        ``stats_columns`` (create only): column names whose per-
        (segment, bucket) min/max enable
        ``read_table(stats_bounds=...)`` file skipping on NON-KEY
        ranges. Segments are immutable, so the entries are computed
        once per new segment (one column-pruned scan of the freshly
        written files) and stored beside it in ``_pb_skip.json``;
        version files list segments only.

        ``sketch_columns`` (create only): column names whose per-
        (segment, bucket) KLL (quantiles) + HLL (distinct) sketches
        live in the same file; :meth:`table_sketch_stats` then answers
        table-level distribution questions from metadata alone —
        incremental, ANALYZE-free statistics (mergeable sketches fold
        across leaves without rescanning data).

        ``bloom_columns`` (create only): column names whose per-
        (segment, bucket) Bloom bitsets live in the same file,
        enabling ``read_table(bloom_point=...)`` file skipping on
        NON-KEY equality probes — the high-cardinality complement to
        min/max stats (the Delta bloom-filter-index shape).

        ``constraints`` (create only): named CHECK expressions every
        row of every future write must satisfy (TRUE — a NULL result
        is a violation, Delta's CHECK rule); violating batches raise
        :class:`IntegrityError` before anything is written. Manage on
        an existing table with :meth:`add_constraint` /
        :meth:`drop_constraint`.

        pandas input follows the reference's index-as-key convention
        (reference:pandabase/sql.py:52): a named (Multi)Index becomes the
        key unless ``auto_index``. Spark input declares ``keys=``
        explicitly. All reference validation survives as API-layer checks
        (SURVEY.md §2 Table A footnote): bad how → ValueError; dirty
        table name → NameError; unnamed index → NameError; NaN in key /
        non-unique key → ValueError; upsert on auto-index → IOError.
        """
        if how not in WRITE_MODES:
            raise ValueError(f"how must be one of {WRITE_MODES}, got {how!r}")
        if not is_clean(table_name):
            raise NameError(
                f"table_name {table_name!r} is not a clean name; "
                f"use pandabase_spark.clean_name first"
            )

        try:
            self._to_table_checked(
                df, self._qualify(table_name, schema), keys=keys, how=how,
                auto_index=auto_index, add_new_columns=add_new_columns,
                num_buckets=num_buckets, constraints=constraints,
                stats_columns=stats_columns, bloom_columns=bloom_columns,
                sketch_columns=sketch_columns, cluster_by=cluster_by,
                generated=generated, txn=txn, ingest=ingest,
            )
        finally:
            self._release_staged()

    def _release_staged(self) -> None:
        """Unpersist any mid-write staged caches (see _assign_auto_index)."""
        while self._pending_unpersist:
            self._pending_unpersist.pop().unpersist()

    def _to_table_checked(
        self,
        df: DataFrame | pd.DataFrame,
        table_name: str,
        *,
        keys: Sequence[str] | None,
        how: str,
        auto_index: bool,
        add_new_columns: bool,
        num_buckets: int | None,
        constraints: Mapping[str, str] | None = None,
        stats_columns: Sequence[str] | None = None,
        bloom_columns: Sequence[str] | None = None,
        sketch_columns: Sequence[str] | None = None,
        cluster_by: Sequence[str] | None = None,
        generated: "Mapping[str, str] | None" = None,
        txn: "tuple[str, int] | None" = None,
        ingest: "dict[str, int] | None" = None,
    ) -> None:
        exists = self.has_table(table_name)
        # the one head read of the write: it answers the create-retry
        # and replay checks, pins the data the write reads, and is the
        # version the commit claims on top of
        man = self._manifest(table_name) if exists else None
        if exists and how == "create_only" and man["v"] == 0:
            # a create that crashed between its meta write and its
            # claim committed nothing: the retry creates afresh
            exists = False
        if exists and self._txn_applied(table_name, txn, man):
            return
        if exists and constraints:
            raise NameError(
                "constraints are declared at create time; use "
                "add_constraint/drop_constraint on an existing table"
            )
        if exists and stats_columns:
            raise NameError(
                "stats_columns are declared at create time"
            )
        if exists and bloom_columns:
            raise NameError(
                "bloom_columns are declared at create time"
            )
        if exists and sketch_columns:
            raise NameError(
                "sketch_columns are declared at create time"
            )
        if exists and cluster_by:
            raise NameError(
                "cluster_by is declared at create time"
            )
        if exists and generated:
            raise NameError(
                "generated columns are declared at create time"
            )
        m = self.meta(table_name) if exists else None
        sdf, keys = self._normalize_input(
            df, keys, auto_index, m.schema if exists else None
        )
        for k in [] if auto_index else keys:
            if spark_to_logical(sdf.schema[k].dataType) not in (
                "boolean", "integer", "float", "datetime", "string"
            ):
                raise TypeError(
                    f"key column {k} has non-orderable type "
                    f"{sdf.schema[k].dataType.simpleString()}; keys must be "
                    f"scalar (array/binary/nested columns are values only)"
                )

        if exists and how == "create_only":
            raise NameError(
                f"table {table_name} already exists; how='create_only' forbids this"
            )
        if not exists:
            self._create(
                sdf, table_name, keys, auto_index, num_buckets,
                constraints=constraints, stats_columns=stats_columns,
                bloom_columns=bloom_columns, sketch_columns=sketch_columns,
                cluster_by=cluster_by, generated=generated,
                txn=txn, ingest=ingest,
            )
            return

        if how == "upsert" and m.auto_index:
            raise IOError("upsert is not valid on auto-indexed tables")
        if set(m.keys) != set(keys) and not (auto_index and m.auto_index):
            raise NameError(
                f"key mismatch: table has keys {m.keys}, incoming has {list(keys)}"
            )
        existing_schema = m.schema
        mb = self._resolve_nb(m, man)
        if m.auto_index:
            # an auto-index append counts on from the table's max, so
            # the batch has its key before the probe
            sdf = sdf.drop(AUTO_INDEX_NAME)
            top = (
                self._read_raw(table_name, manifest=man, m=mb)
                .agg(F.max(AUTO_INDEX_NAME))
                .collect()[0][0]
            )
            sdf = self._assign_auto_index(sdf, base=(top or -1) + 1)
        # ONE batch aggregate serves the whole write: PK validation,
        # touched buckets, row count, per-column non-null counts, the
        # narrowing rules' stats and the new segment's skipping
        # entries. Known columns are cast to the table's types first,
        # so bucket hashing sees the table's key types; a new column,
        # or one whose declared type coercion rejects, is narrowed
        # from the probe's stats instead (an all-null NullType or
        # string column against a numeric table column is dropped
        # below before coercion sees it).
        known = {f.name: f.dataType for f in existing_schema.fields}
        held = [
            c for c in sdf.columns
            if c not in known
            or (
                c not in keys
                and coercion_class(sdf.schema[c].dataType, known[c])
                == "reject"
            )
        ]
        sdf = coerce_to_table_schema(
            sdf,
            T.StructType([f for f in existing_schema if f.name not in held]),
            keys,
        )
        probed = sdf.schema
        probe = self._batch_probe(
            sdf, mb, narrow=held, facts=how == "append"
        )
        if not isinstance(df, pd.DataFrame):
            # an all-null Spark column carries no type: it is absent,
            # so an upsert preserves the target's values (reference
            # make_clean_columns_dict). A pandas all-NaN column already
            # took the table's type on the driver and writes NULL.
            sdf = sdf.drop(*probe["null_cols"])
        sdf = apply_narrowing(sdf, probe["row"], *probe["nar"])
        new_cols = [
            f for f in sdf.schema.fields if f.name not in existing_schema.names
        ]
        if new_cols and not add_new_columns:
            raise NameError(
                f"columns {[f.name for f in new_cols]} not in table {table_name}; "
                f"pass add_new_columns=True to evolve the schema "
                f"(reference:pandabase/sql.py:195-197)"
            )
        revived = [
            f.name for f in new_cols if f.name in m.retired_names
        ]
        if revived:
            raise NameError(
                f"column names {revived} were retired by a rename/drop "
                "and cannot be recycled — old segments still hold data "
                "under them on disk, and a recycled name would "
                "resurrect it"
            )
        sdf = coerce_to_table_schema(sdf, existing_schema, keys)
        gen_provided: "list[str] | None" = None
        if m.generated:
            gen_provided = [c for c in m.generated if c in sdf.columns]
            if how == "upsert":
                # defer enforcement to the post-carry EFFECTIVE frame
                # in _upsert: a partial batch's missing referenced
                # columns carry target values there, so a generated
                # column is recomputed from what the row will actually
                # contain (the MERGE discipline), never from a
                # batch-local null
                pass
            else:
                missing_refs = [
                    c
                    for c in m.schema.names
                    if c not in sdf.columns
                    and c not in m.generated
                    and any(
                        self._constraint_references(m, c, e)
                        for e in m.generated.values()
                    )
                ]
                # partial append: the effective appended row reads
                # NULL for absent referenced columns — make that
                # explicit so the expressions resolve (the generated
                # value is then computed from the row as stored)
                for c in missing_refs:
                    sdf = sdf.withColumn(
                        c, F.lit(None).cast(m.schema[c].dataType)
                    )
                sdf = self._apply_generated(sdf, m.generated, m.schema)
        if new_cols:
            # schema evolution (reference:pandabase/sql.py:509-517): meta
            # grows first; old segments simply null-fill the new columns
            # on read. Committed before data so a crash in between leaves
            # a harmless superset schema.
            evolved = T.StructType(
                list(existing_schema.fields)
                + [T.StructField(f.name, f.dataType, True) for f in new_cols]
            )
            m.schema_json = json.dumps(evolved.jsonValue())
            self._write_meta(table_name, m)
        # the probe's manifest snapshot also serves the commit: a rival
        # commit in the window trips the version claim
        probe.update(man=man, m=self._resolve_nb(m, man), meta=m)
        if not self._facts_hold(probed, sdf.schema, m):
            probe["facts"] = None
        if how == "append":
            self._append(sdf, table_name, probe, txn=txn, ingest=ingest)
        else:
            self._upsert(
                sdf, table_name, probe, txn=txn, ingest=ingest,
                gen_provided=gen_provided,
            )

    def _normalize_input(
        self,
        df: DataFrame | pd.DataFrame,
        keys: Sequence[str] | None,
        auto_index: bool,
        target_schema: T.StructType | None = None,
    ) -> tuple[DataFrame, list[str]]:
        """Validate + convert input; returns (spark_df, key list).

        Runs no Spark job. pandas input is typed on the driver
        (:func:`infer_schema_pandas` applies the narrowing rules);
        Spark input is narrowed later, by the write's one batch
        aggregate. Auto-index input comes back without its index: it
        gets it once, from ``_create`` at base 0 or from ``_append``
        above the table's max."""
        if isinstance(df, pd.DataFrame):
            pdf = df.copy()
            if keys is not None:
                # column names are cleaned below, so explicit keys must be
                # cleaned the same way or keys=['My Col'] would miss the
                # cleaned my_col column
                keys = [clean_name(k) for k in keys]
            if auto_index:
                if isinstance(pdf.index, pd.MultiIndex):
                    raise ValueError(
                        "auto_index is incompatible with a MultiIndex"
                    )  # reference:pandabase/sql.py:123-125
                keys = []
                pdf = pdf.reset_index(drop=True)
            elif keys is None:
                idx = pdf.index
                if isinstance(idx, pd.MultiIndex):
                    if any(n is None for n in idx.names):
                        raise NameError("all MultiIndex levels must be named")
                    keys = [clean_name(n) for n in idx.names]
                else:
                    if idx.name is None:
                        raise NameError(
                            "DataFrame index must be named (or use auto_index)"
                        )  # reference:pandabase/sql.py:116-117
                    keys = [clean_name(idx.name)]
                if idx.has_duplicates:
                    raise ValueError("key (index) must be unique")
                frame = idx.to_frame(index=False)
                if frame.isna().any().any():
                    raise ValueError("key (index) may not contain NaN")
                # UTC check on datetime keys (reference:pandabase/sql.py:98-100)
                for c in frame.columns:
                    from pandabase_spark.types import check_utc

                    check_utc(frame[c], str(c))
                pdf = pdf.reset_index()
            pdf.columns = [clean_name(c) for c in pdf.columns]
            sdf = pandas_to_spark(
                self.spark, pdf, keys or [], target_schema=target_schema
            )
            return sdf, [AUTO_INDEX_NAME] if auto_index else list(keys)

        # Spark DataFrame input
        if auto_index:
            return df, [AUTO_INDEX_NAME]
        if not keys:
            raise NameError("Spark DataFrame input requires keys= (or auto_index)")
        keys = [clean_name(k) for k in keys]
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise NameError(f"key columns {missing} not in DataFrame")
        return df, keys

    def _assign_auto_index(self, sdf: DataFrame, base: int) -> DataFrame:
        """Contiguous auto-increment key without a global sort.

        The reference's semantics (append keeps counting upward,
        reference:tests/test_sql.py:824-843) need ids base..base+n-1.
        A ``Window.orderBy(...)`` with no partition key would funnel the
        whole batch through ONE task; instead this is the classic
        zipWithIndex shape, fully parallel:

        1. one small job counts rows per partition (driver gets ≤
           numPartitions longs);
        2. cumulative offsets per partition become a literal map;
        3. id = base + offset[partition] + the row's position in its
           partition. ``monotonically_increasing_id`` is documented as
           (partition index << 33) + position; stored with each row in
           the persisted frame, it names both the partition to count
           and the position: no window, no exchange, every partition
           ranks on its own. (``spark_partition_id`` would not do: the
           optimizer evaluates a projection over a local relation on
           the driver, where it reads 0 for every row.)
        """
        # persist: the per-partition counts and the positions must
        # observe the SAME ids (a re-computed shuffled input could map
        # rows to different partitions between the jobs)
        staged = sdf.withColumn(
            "_pb_mid", F.monotonically_increasing_id()
        ).persist()
        # released by _release_staged() after the segment write commits —
        # without this, auto-index writes in a long-lived session
        # accumulate cached blocks
        self._pending_unpersist.append(staged)
        part = F.shiftright(F.col("_pb_mid"), 33)
        counts = dict(
            staged.groupBy(part).count().collect()
        )  # ≤ numPartitions entries — driver-safe
        offsets: dict[int, int] = {}
        acc = 0
        for p in sorted(counts):
            offsets[p] = acc
            acc += counts[p]
        offset_expr = F.element_at(
            F.create_map(
                *[F.lit(x) for kv in offsets.items() for x in kv]
            ),
            part,
        ) if offsets else F.lit(0)
        position = F.col("_pb_mid").bitwiseAND(F.lit((1 << 33) - 1))
        return (
            staged.withColumn(
                AUTO_INDEX_NAME,
                (position + offset_expr + F.lit(base)).cast("long"),
            )
            .drop("_pb_mid")
        )

    def _write_segment(
        self,
        sdf: DataFrame,
        table_name: str,
        m: TableMeta,
        pre_bucketed: bool = False,
        facts: "dict | None" = None,
    ) -> tuple[str, list[int]]:
        """Write one immutable segment; returns (segment name, buckets).

        One shuffle on the bucket column → one file set per bucket dir,
        rows CLUSTERED by key within each bucket (sortWithinPartitions —
        a local sort, no second shuffle). Clustering is what makes the
        parquet row-group min/max stats selective for range reads: an
        unsorted bucket has every row-group spanning the full key range
        (zero skipping), a clustered one serves ``k BETWEEN lo AND hi``
        from the few row-groups that overlap. The bucket list is read
        back from the written directory names — no extra Spark job.

        The segment's skipping entries (:func:`_skip_doc`) are written
        ONCE beside its files, as ``seg-*/_pb_skip.json``: a
        ``_``-prefixed file Spark's reader skips, immutable like the
        data and deleted with its segment directory. ``facts`` are
        entries the caller already holds for exactly these rows (a
        create's or append's batch probe); they cost no Spark job, and
        on a table without stats, Bloom or sketch columns they carry
        the key ranges alone. Without them, a table that declares such
        columns reads its new segment back (:meth:`_segment_skipping`),
        and any other table writes no file. Nothing is live until the
        manifest commit.

        ``pre_bucketed``: the caller already attached ``PART_DIR`` and
        repartitioned on it — skip both here, so the validation jobs
        that ran on that frame and this write share ONE shuffle
        (Spark reuses the map-side shuffle files of an identical RDD
        lineage across actions as skipped stages).
        """
        seg = f"seg-{uuid.uuid4().hex[:12]}"
        seg_path = f"{self._path(table_name)}/{seg}"
        staged = (
            sdf
            if pre_bucketed
            else sdf.withColumn(
                PART_DIR, _bucket_expr(m.keys, m.num_buckets)
            ).repartition(PART_DIR)
        )
        if m.cluster_by:
            # Z-order layout: each bucket's rows sort by the Morton
            # key over the declared dimensions (keys as tiebreak), so
            # parquet row-group min/max prune on EVERY clustered
            # column for predicate-pushdown scans. Local sort only —
            # no extra shuffle — and because this is THE segment
            # writer, append/upsert/DML/compaction all preserve the
            # clustering by construction.
            from .operators.zorder import zvalue

            sort_cols = [
                F.col(PART_DIR),
                zvalue(m.cluster_by),
                *[F.col(k) for k in m.keys],
            ]
        else:
            sort_cols = [F.col(PART_DIR), *[F.col(k) for k in m.keys]]
        (
            staged.sortWithinPartitions(*sort_cols)
            .write.mode("errorifexists")
            .partitionBy(PART_DIR)
            .parquet(seg_path)
        )
        buckets = sorted(
            int(d.split("=", 1)[1])
            for d in self.fs.list_dirs(seg_path)
            if d.startswith(f"{PART_DIR}=")
        )
        if facts is None and (
            m.stats_columns or m.bloom_columns or m.sketch_columns
        ) and buckets:
            facts = self._segment_skipping(seg_path, buckets, m)
        if facts is not None and buckets:
            self.fs.write_text_atomic(
                f"{seg_path}/{SKIP_FILE}", json.dumps(facts)
            )
        return seg, buckets

    def _create(
        self,
        sdf: DataFrame,
        table_name: str,
        keys: Sequence[str],
        auto_index: bool,
        num_buckets: int | None,
        constraints: Mapping[str, str] | None = None,
        stats_columns: Sequence[str] | None = None,
        bloom_columns: Sequence[str] | None = None,
        sketch_columns: Sequence[str] | None = None,
        cluster_by: Sequence[str] | None = None,
        generated: "Mapping[str, str] | None" = None,
        txn: "tuple[str, int] | None" = None,
        ingest: "dict[str, int] | None" = None,
    ) -> None:
        """Create the table from its first batch, in ONE batch
        aggregate before the write.

        ONE shuffle serves the whole create: bucket + repartition up
        front and PERSIST the shuffled frame (each Spark action
        re-plans, so without the persist the probe and the write would
        each run the exchange). The probe (:meth:`_batch_probe`) is one
        aggregate over the cache: key validation (nulls + duplicates),
        the narrowing rules' stats and the segment's skipping entries
        together. It also warms the cache the constraint pass and the
        segment write then stream from. Narrowing then re-types or
        drops value columns, generated columns are computed from the
        narrowed frame, and the declared stats/bloom/sketch/cluster_by
        columns are checked against the result. pandas input was
        already narrowed on the driver, so its stats decide nothing
        new. The segment takes its skipping entries from the probe
        unless one of its skipping columns was generated or retyped
        after it; then it is read back. Auto-index input gets its index
        here, at base 0."""
        bad_keys = [c for c in (generated or {}) if c in keys]
        if bad_keys:
            raise NameError(
                f"key columns cannot be generated: {bad_keys}"
            )
        if auto_index:
            sdf = self._assign_auto_index(sdf, base=0)
        num_buckets = num_buckets or self.default_buckets
        declared = dict(
            stats_columns=list(stats_columns or []),
            bloom_columns=list(bloom_columns or []),
            sketch_columns=list(sketch_columns or []),
        )
        staged = (
            sdf.withColumn(PART_DIR, _bucket_expr(list(keys), num_buckets))
            .repartition(PART_DIR)
            .persist()
        )
        cached = staged  # narrowing projects over this; release THIS
        try:
            # the probe's view of the table: the batch's own types, and
            # the skipping columns the batch already carries
            probe = self._batch_probe(
                staged,
                TableMeta(
                    keys=list(keys),
                    auto_index=auto_index,
                    num_buckets=num_buckets,
                    schema_json=json.dumps(sdf.schema.jsonValue()),
                    **{
                        label: [c for c in cols if c in sdf.columns]
                        for label, cols in declared.items()
                    },
                ),
                # generated columns are never narrowed; neither are keys
                narrow=[
                    c for c in sdf.columns
                    if c not in keys and c not in (generated or {})
                ],
            )
            staged = apply_narrowing(staged, probe["row"], *probe["nar"])
            staged = self._apply_generated(
                staged, dict(generated or {}), None
            )
            for label, cols in declared.items():
                gone = [c for c in cols if c not in staged.columns]
                if gone:
                    raise NameError(f"{label} not in schema: {gone}")
            for c in cluster_by or []:
                if c not in staged.columns:
                    raise NameError(f"cluster_by column not in schema: {c}")
                dt = staged.schema[c].dataType
                if not isinstance(
                    dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
                ):
                    raise ValueError(
                        f"cluster_by needs integer columns; {c} is "
                        f"{dt.simpleString()} (bucket continuous values "
                        "into an integer column first)"
                    )
            m = TableMeta(
                keys=list(keys),
                auto_index=auto_index,
                num_buckets=num_buckets,
                schema_json=json.dumps(
                    staged.drop(PART_DIR).schema.jsonValue()
                ),
                constraints=dict(constraints or {}),
                cluster_by=list(cluster_by or []),
                generated=dict(generated or {}),
                **declared,
            )
            self._check_constraints(staged.drop(PART_DIR), m)
            seg, buckets = self._write_segment(
                staged, table_name, m, pre_bucketed=True,
                facts=(
                    probe["facts"]
                    if self._facts_hold(sdf.schema, staged.schema, m)
                    else None
                ),
            )
        finally:
            cached.unpersist()
        self._write_meta(table_name, m)
        self._commit(
            table_name, {seg: buckets}, v=0, op="create", txn=txn,
            ingest=ingest, meta=m, prior={"v": 0, "segments": {}},
        )

    @staticmethod
    def _facts_hold(
        probed: T.StructType, written: T.StructType, m: TableMeta
    ) -> bool:
        """Whether a batch probe's skipping entries describe the rows
        as written: every stats, Bloom and sketch column was in the
        probed batch and kept its type. A column generated after the
        probe, dropped as all-null, or retyped by narrowing ({0,1} to
        boolean, all-zero integers to double) fails this: its min/max
        JSON and Bloom hashes differ under the new type, so its
        segment is read back instead."""
        return all(
            c in probed.names
            and c in written.names
            and probed[c].dataType == written[c].dataType
            for c in (*m.stats_columns, *m.bloom_columns, *m.sketch_columns)
        )

    def _batch_probe(
        self,
        sdf: DataFrame,
        m: TableMeta,
        narrow: Sequence[str] = (),
        facts: bool = True,
    ) -> dict:
        """Everything a keyed write needs to know about its batch, in
        ONE bucket-keyed aggregate. The batch is bucketed and
        repartitioned on ``PART_DIR`` (a frame that already carries it
        — a create's persisted cache — is used as it is). Level one
        groups by (bucket, keys) with no exchange, since rows of a key
        group are co-located by construction, and level two groups
        those rows by bucket on the same partitioning: one row per
        touched bucket reaches the driver, which folds them.

        - Row count against the distinct-key count (a key lies in one
          bucket, so per-bucket distinct counts add up) detects
          duplicates; a null-key counter detects nulls. Only the
          FAILURE path pays a second scan, to name the offending key.
        - The bucket rows are the touched buckets; per-column non-null
          counts name all-null columns; the row count and the string
          keys' total bytes feed the broadcast-vs-shuffle merge-shape
          decision.
        - ``narrow`` names the columns whose types the narrowing rules
          may still decide (:func:`narrowing_aggs_grouped`); their
          folded stats are ``row``, for :func:`apply_narrowing` with
          ``nar``.
        - Per bucket, the first key column's ``[min, max]`` (``ranges``,
          for the append's clash check) and the entries a new segment
          of exactly these rows records in ``_pb_skip.json``
          (``facts``, the :func:`_skip_doc` dict): the stats min/max,
          the Bloom positions and the sketches of the ``m``
          skipping columns the batch carries. Level one carries each
          such value column as its key group's one value, so level two
          runs :func:`_skip_aggs`, the segment read-back's aggregates,
          over the same values. ``facts`` is None when a declared
          skipping column is absent from the batch, or when the caller
          passes ``facts=False`` because its segment holds other rows
          too (upsert, MERGE).

        The batch's key columns must already have the table's types:
        xxhash64 of an int differs from xxhash64 of the equal long, so
        an uncast key would hash into the wrong bucket. A mismatch
        raises TypeError before anything is hashed."""
        from functools import reduce
        import operator

        keys = list(m.keys)
        for k in keys:
            have, want = sdf.schema[k].dataType, m.schema[k].dataType
            if have != want:
                raise TypeError(
                    f"key column {k} is {have.simpleString()} but the "
                    f"table's is {want.simpleString()}; cast it first "
                    "(bucket hashing depends on the key type)"
                )
        if PART_DIR not in sdf.columns:
            sdf = sdf.withColumn(
                PART_DIR, _bucket_expr(keys, m.num_buckets)
            ).repartition(PART_DIR)
        value_cols = [c for c in sdf.columns if c not in keys and c != PART_DIR]
        skip_cols = list(
            dict.fromkeys((*m.stats_columns, *m.bloom_columns, *m.sketch_columns))
        )
        facts = facts and all(c in sdf.columns for c in skip_cols)
        if not facts:
            import dataclasses

            # the key ranges alone
            m = dataclasses.replace(
                m, stats_columns=[], bloom_columns=[], sketch_columns=[]
            )
            skip_cols = []
        carried = [c for c in skip_cols if c in value_cols]
        nar_l1, nar_l2, nar_numeric, nar_all = narrowing_aggs_grouped(
            sdf.select(*narrow), []
        )
        # non-null counts name the all-null columns; the narrowing
        # aggregates already count their own columns under the same name
        counted = [c for c in value_cols if c not in nar_all]
        # string keys get their TOTAL bytes measured — the broadcast
        # gate must not trust a per-key width guess that long URL/path
        # keys would blow past; octet_length, not length: multibyte
        # UTF-8 keys undercount up to 4x under a character count
        str_keys = [
            k for k in keys if isinstance(m.schema[k].dataType, T.StringType)
        ]
        any_null = reduce(operator.or_, [F.col(k).isNull() for k in keys])
        rows = (
            sdf.groupBy(PART_DIR, *keys)
            .agg(
                F.count(F.lit(1)).alias("__c"),
                *[F.count(F.col(c)).alias(f"__cnt_{c}") for c in counted],
                *nar_l1,
                *[F.first(c).alias(c) for c in carried],
            )
            .groupBy(PART_DIR)
            .agg(
                F.sum("__c").alias("n"),
                F.count(F.lit(1)).alias("nd"),
                F.sum(F.when(any_null, F.col("__c"))).alias("nn"),
                *[F.sum(f"__cnt_{c}").alias(f"__cnt_{c}") for c in counted],
                *[
                    F.sum(
                        F.octet_length(F.col(k)).cast("long") * F.col("__c")
                    ).alias(f"_kb_{i}")
                    for i, k in enumerate(str_keys)
                ],
                *nar_l2,
                *_skip_aggs(m),
            )
            .collect()
        )

        def total(name: str) -> int:
            return sum(int(r[name] or 0) for r in rows)

        if total("nn"):
            raise ValueError("key columns may not contain NULL")
        if total("n") != total("nd"):
            dup = (
                sdf.groupBy(*keys)
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            raise ValueError(
                f"duplicate key in batch: { {k: dup[0][k] for k in keys} }"
            )
        doc = _skip_doc(rows, m)
        k0 = m.colmap.get(keys[0], keys[0])
        return {
            "touched": sorted(int(r[PART_DIR]) for r in rows),
            "n": total("n"),
            "null_cols": [c for c in value_cols if not total(f"__cnt_{c}")],
            "key_bytes": sum(total(f"_kb_{i}") for i in range(len(str_keys))),
            "row": fold_narrowing(
                [r.asDict() for r in rows], nar_numeric, nar_all
            ),
            "nar": (nar_numeric, nar_all),
            "ranges": {int(b): e[k0] for b, e in doc["keys"].items()},
            "facts": doc if facts else None,
        }

    def _keys_broadcastable(
        self, n_rows: int, m: TableMeta, str_bytes: "int | None" = None,
    ) -> bool:
        """Whether a ``n_rows``-row key frame fits under the session's
        ``spark.sql.autoBroadcastJoinThreshold`` — the decision input
        for the upsert merge shape (an explicit broadcast hint
        bypasses Spark's own stats, so the caller must only hint what
        provably fits). ``str_bytes`` is the MEASURED total byte count
        of the string key columns (the batch probe records it in the
        same aggregate); without it, string keys fall back to a width
        heuristic that long URL/path keys would defeat."""
        try:
            raw = str(
                self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            ).strip().lower()
            mult = 1
            for suffix, f in (
                ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                ("b", 1),
            ):
                if raw.endswith(suffix):
                    raw, mult = raw[: -len(suffix)], f
                    break
            threshold = int(raw) * mult
        except (ValueError, TypeError):
            threshold = 10 << 20
        if threshold <= 0:
            return False  # auto-broadcast disabled: respect it
        from pyspark.sql import types as T

        width = 0
        measured = 0
        for k in m.keys:
            dt = m.schema[k].dataType
            if isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType)):
                width += 8
            elif isinstance(dt, (T.IntegerType, T.DateType, T.FloatType)):
                width += 4
            elif isinstance(dt, (T.ShortType, T.BooleanType, T.ByteType)):
                width += 2
            elif isinstance(dt, T.StringType):
                if str_bytes is not None:
                    measured += 1  # counted via str_bytes below
                else:
                    width += 24  # heuristic fallback (no probe info)
            else:
                width += 32
        # per-row broadcast overhead (UnsafeRow header + offset/len
        # slots): the measured column bytes alone understate the
        # relation a hashed-relation build actually holds
        total = n_rows * (width + 16) + (str_bytes if measured else 0)
        if total <= 0:
            total = n_rows  # degenerate: no sized key columns
        return total <= threshold

    def _bucket_copartition_ok(self) -> bool:
        """Whether the session lets a join REUSE a subset (bucket-only)
        hash partitioning for co-partitioning
        (``spark.sql.requireAllClusterKeysForCoPartition=false``, set
        by this engine's session builder). When true, the MERGE paths
        shuffle each side ONCE on the key-derived bucket column and
        the join + segment write run exchange-free on top of it; when
        the session keeps Spark's default (e.g. a plain driver-built
        session), they fall back to the classic shape — join on the
        raw keys, re-shuffle the merged frame for the write — because
        the bucket-only repartition would otherwise just be ADDED
        ahead of the join's own full-key exchanges."""
        try:
            return str(
                self.spark.conf.get(
                    "spark.sql.requireAllClusterKeysForCoPartition",
                    "true",
                )
            ).lower() == "false"
        except Exception:
            return False

    def _batch_buckets(self, sdf: DataFrame, m: TableMeta) -> list[int]:
        """Distinct buckets the batch hashes into (≤ num_buckets ints —
        driver-safe by construction)."""
        return [
            r[0]
            for r in sdf.select(
                _bucket_expr(m.keys, m.num_buckets).alias("b")
            )
            .distinct()
            .collect()
        ]

    def _key_equality_buckets(
        self, predicate: "str | Column", m: TableMeta
    ) -> "list[int] | None":
        """Buckets a STRING predicate provably confines its matches
        to, decided WITHOUT reading any table data: a conjunction
        whose equality terms ``<col> = <literal>`` cover every key
        column pins the single bucket the key tuple hashes into, so
        the DML probe scan reads 1/num_buckets of the table instead
        of all of it ("compute the bucket arithmetically" — at 100 TB
        this is the difference between a point delete probing one
        bucket and probing the table). Conservative by construction —
        anything the tiny parser doesn't recognize falls back to
        ``None`` (full probe): Column predicates, any OR/||, partial
        key cover, non-literal right-hand sides, literal/key type
        mismatches (an unquoted number against a string key compares
        under casts the hash wouldn't see). Extra unrecognized AND
        conjuncts are fine: they only narrow the match set, never
        widen it past the pinned bucket. The bucket comes from
        evaluating THE SAME _bucket_expr the layout writes with, on a
        one-row driver-local frame (:meth:`_one_row`, no Spark job) —
        the arithmetic can never diverge from the writer's."""
        import re

        if not isinstance(predicate, str) or not m.keys:
            return None
        if re.search(r"(?i)(?<![a-z0-9_])or(?![a-z0-9_])|\|\|", predicate):
            return None  # a top-level OR would break confinement
        key_types = {k.lower(): m.schema[k].dataType for k in m.keys}
        eq_re = re.compile(
            r"`?([A-Za-z_][A-Za-z0-9_]*)`?\s*==?\s*"
            r"('[^']*'|\"[^\"]*\"|-?\d+|true|false)",
            re.IGNORECASE,
        )
        vals: dict[str, str] = {}
        for part in re.split(r"(?i)\s+and\s+", predicate.strip()):
            p = part.strip()
            while p.startswith("(") and p.endswith(")"):
                p = p[1:-1].strip()
            mt = eq_re.fullmatch(p)
            if not mt:
                continue  # a narrowing conjunct — ignore
            col, lit = mt.group(1).lower(), mt.group(2)
            if col not in key_types or col in vals:
                continue
            dt = key_types[col]
            quoted = lit[0] in "'\""
            boolean = lit.lower() in ("true", "false")
            ok = (
                (quoted and isinstance(dt, T.StringType))
                or (boolean and isinstance(dt, T.BooleanType))
                or (
                    not quoted
                    and not boolean
                    and isinstance(
                        dt,
                        (T.IntegerType, T.LongType, T.ShortType,
                         T.ByteType),
                    )
                )
            )
            if not ok:
                return None  # comparison-under-cast could widen
            vals[col] = lit
        if set(vals) != {k.lower() for k in m.keys}:
            return None
        return [
            self._key_bucket(
                self._one_row().select(
                    *[
                        F.expr(vals[k.lower()])
                        .cast(m.schema[k].dataType)
                        .alias(k)
                        for k in m.keys
                    ]
                ),
                m,
            )
        ]

    @staticmethod
    def _key_bucket(key: DataFrame, m: TableMeta) -> int:
        """The bucket of the one key row of a driver-local frame whose
        columns are ``m.keys`` in the table's types: the writer's own
        :func:`_bucket_expr`, folded by the optimizer with no Spark
        job."""
        return key.select(_bucket_expr(m.keys, m.num_buckets)).first()[0]

    def _append(
        self,
        sdf: DataFrame,
        table_name: str,
        probe: dict,
        txn: "tuple[str, int] | None" = None,
        ingest: "dict[str, int] | None" = None,
    ) -> None:
        """Strict append: any incoming key already present → IntegrityError
        (reference:pandabase/sql.py:264-266), then a new segment — no
        rewrite of existing data. ``probe`` is the caller's batch probe
        plus the manifest snapshot (``man``), its resolved meta (``m``)
        and the table meta (``meta``): the batch is scanned once, and
        the snapshot serves both the clash check and the commit, so a
        rival commit in the window trips the claim instead of being
        silently absorbed.

        The clash check reads only the leaves that can hold one of the
        batch's keys: a leaf in a bucket the batch hashes into whose
        first-key range (``_pb_skip.json``) overlaps the batch's range
        in that bucket. A leaf without a range is always read. When no
        leaf is left, as for an append of new, increasing keys, the
        check runs no Spark job. An auto-index batch counts on from the
        table's max and cannot clash.

        The new segment's skipping entries come from the probe
        (``probe["facts"]``), unless a skipping column changed after it
        (then ``facts`` is None and the segment is read back)."""
        man, m = probe["man"], probe["m"]
        self._check_constraints(sdf, m)
        if not m.auto_index:
            leaves = dict(
                buckets=probe["touched"],
                manifest=man,
                key_bounds=probe["ranges"],
                skip=self._skipping(table_name, man, m),
            )
            if self._live_paths(table_name, **leaves):
                existing = self._read_raw(table_name, m=m, **leaves)
                # ONE parallel aggregate over the pruned leaves; the
                # failure path re-probes to name the offending key.
                # The broadcast hint is GATED on the probe's row count:
                # hinting an arbitrarily large batch's key frame would
                # force-materialize it on every executor (the hint
                # bypasses Spark's own stats) — oversized batches let
                # the planner pick the join.
                batch_keys = sdf.select(*m.keys)
                if self._keys_broadcastable(
                    probe["n"], m, probe["key_bytes"]
                ):
                    batch_keys = batch_keys.hint("broadcast")
                clash_df = existing.join(
                    batch_keys, on=list(m.keys), how="inner",
                )
                n_clash = clash_df.agg(
                    F.count(F.lit(1)).alias("n")
                ).first()["n"]
                if n_clash:
                    clash = clash_df.limit(1).collect()
                    raise IntegrityError(
                        f"append would violate primary key on {table_name}: "
                        f"key {dict((k, clash[0][k]) for k in m.keys)} already exists"
                    )
        seg, buckets = self._write_segment(
            sdf, table_name, m, facts=probe["facts"]
        )
        segments = dict(man["segments"])
        segments[seg] = buckets
        self._commit(
            table_name, segments, v=man["v"], op="append", txn=txn,
            ingest=ingest, meta=probe["meta"], prior=man,
        )
        self._maybe_auto_compact(table_name)

    def _upsert(
        self,
        sdf: DataFrame,
        table_name: str,
        probe: dict,
        txn: "tuple[str, int] | None" = None,
        ingest: "dict[str, int] | None" = None,
        gen_provided: "list[str] | None" = None,
    ) -> None:
        """MERGE: batch rows win on matched keys (all incoming columns,
        NULLs included — reference:pandabase/sql.py:300); table columns
        absent from the batch are preserved; unmatched keys insert.

        Plan — ADAPTIVE between the two merge shapes, decided by facts
        the probe already computed (quiet-box A/B:
        scripts/upsert_quietbox_r10.json):

        - Batch carries EVERY table column and its key frame fits the
          broadcast threshold → anti + union: survivors = touched
          buckets LEFT ANTI a broadcast of the batch keys, union the
          batch. Zero shuffles — a full-outer join can never hash-
          broadcast (no BuildSide covers both null sides), so at
          broadcastable batch sizes this shape is strictly cheaper
          (measured 1.25s vs 1.57s min-of-4 at sf0.1).
        - Otherwise (partial-column batch, or a batch too big to
          broadcast) → ONE full-outer join picks per column: batch
          wins where it has the column and the row (presence flag, so
          batch NULLs still win — the documented contract), the
          target value stands otherwise. One pass over each side —
          the carry+anti shape would read the touched buckets twice
          and the batch twice here, 2× the touched-data IO once
          nothing broadcasts.

        Either way: read ONLY the touched buckets' live paths, write
        ONE new segment, commit a manifest that moves those buckets to
        it. Crash before the commit ⇒ previous state intact (old
        segments are immutable); orphan segment cleaned by vacuum().
        """
        # one manifest snapshot (the caller's ``probe``) for the data
        # read AND the commit — and ITS bucketing, so touched-bucket
        # replacement always matches the live layout even right after
        # a rebucket
        man, m = probe["man"], probe["m"]
        touched = probe["touched"]
        existing = self._read_raw(
            table_name, buckets=touched, manifest=man, m=m
        )
        src_cols = set(sdf.columns)
        full_column = all(c in src_cols for c in existing.columns)
        # antiunion is only SOUND for full-column batches (it has no
        # carry for preserved columns)
        use_anti = full_column and self._keys_broadcastable(
            probe["n"], m, probe["key_bytes"]
        )
        # observability: which shape actually ran (bench records it in
        # dml_facts; tests assert dispatch without plan introspection)
        self._last_upsert_shape = "antiunion" if use_anti else "fullouter"
        co = self._bucket_copartition_ok()

        if use_anti:
            batch_full = sdf
            if m.generated:
                batch_full = self._enforce_generated_effective(
                    batch_full, m, gen_provided or []
                )
            self._check_constraints(batch_full, m)
            survivors = existing.join(
                F.broadcast(sdf.select(*m.keys)),
                on=list(m.keys), how="left_anti",
            )
            merged = survivors.unionByName(
                batch_full, allowMissingColumns=True
            )
        else:
            # co-partitioned merge (r15, guide §2.4): the segment
            # layout's bucket column is DERIVED from the join keys, so
            # shuffling each side ONCE on the bucket expression and
            # joining on (bucket, *keys) — bucket equality is implied
            # by key equality, so the match set is identical — leaves
            # the join exchange-free (hashpartitioning(bucket)
            # satisfies the clustered distribution of a key superset)
            # AND the merged frame already clustered for the segment
            # write. The old shape shuffled existing and the batch on
            # the raw keys and then re-shuffled the ENTIRE merged
            # frame on the bucket column: 3 exchanges carrying ~2x the
            # merged bytes; now 2 exchanges carry each side once.
            # presence flag survives the join where value columns go
            # NULL (same trick as merge_table/table_changes)
            if co:
                bexpr = _bucket_expr(list(m.keys), m.num_buckets)
                t_tag = (
                    existing.withColumn(PART_DIR, bexpr)
                    .repartition(PART_DIR)
                    .alias("t")
                )
                s_tag = (
                    sdf.withColumn(PART_DIR, bexpr)
                    .repartition(PART_DIR)
                    .alias("s")
                    .withColumn("_in_s", F.lit(True))
                )
                joined = t_tag.join(
                    s_tag, on=[PART_DIR, *m.keys], how="full_outer"
                )
            else:
                t_tag = existing.alias("t")
                s_tag = sdf.alias("s").withColumn("_in_s", F.lit(True))
                joined = t_tag.join(
                    s_tag, on=list(m.keys), how="full_outer"
                )

            def pick(c: str) -> Column:
                tcol = F.col(f"t.{c}")
                if c not in src_cols:
                    # column absent from the batch keeps its table
                    # value (reference:tests/test_sql.py:533-560);
                    # NULL for brand-new keys
                    return tcol.alias(c)
                # batch wins on its rows — NULLs included, so presence
                # (not coalesce) decides
                return (
                    F.when(F.col("_in_s").isNotNull(), F.col(f"s.{c}"))
                    .otherwise(tcol)
                    .cast(existing.schema[c].dataType)
                    .alias(c)
                )

            merged = joined.select(
                *([PART_DIR] if co else []),
                *m.keys,
                *[pick(c) for c in existing.columns if c not in m.keys],
            )
            if m.generated:
                # enforcement over the EFFECTIVE row: validate what
                # the caller provided, recompute the rest — a
                # preserved generated value is stale whenever the
                # batch changed a referenced column, and a batch-local
                # computation would see null where the join supplies
                # the target value
                merged = self._enforce_generated_effective(
                    merged, m, gen_provided or []
                )
            self._check_constraints(merged, m)
        # the co-partitioned fullouter shape is already clustered by
        # PART_DIR (the join preserves the bucket shuffle); antiunion
        # and the classic fullouter still pay the one segment-write
        # shuffle
        seg, buckets = self._write_segment(
            merged, table_name, m,
            pre_bucketed=(not use_anti) and co,
        )
        touched_set = set(touched)
        segments: dict[str, list[int]] = {}
        for old_seg, bs in man["segments"].items():
            keep = [b for b in bs if b not in touched_set]
            if keep:
                segments[old_seg] = keep
        segments[seg] = buckets
        self._commit(
            table_name, segments, v=man["v"], op="upsert", txn=txn,
            ingest=ingest, meta=probe["meta"], prior=man,
        )
        self._maybe_auto_compact(table_name)

    def merge_table(
        self,
        source: DataFrame,
        table_name: str,
        *,
        when_matched_update: "Mapping[str, str | Column] | str | None" = "all",
        when_matched_delete: "str | Column | None" = None,
        when_not_matched_insert: bool = True,
        when_not_matched_by_source_update: "Mapping[str, str | Column] | None" = None,
        when_not_matched_by_source_delete: "str | Column | bool | None" = None,
        merge_schema: bool = False,
        metrics: bool = True,
        schema: str | None = None,
        txn: "tuple[str, int] | None" = None,
    ) -> dict:
        """Full MERGE with clauses — the Delta ``MERGE INTO`` shape the
        plain ``how='upsert'`` path is a special case of:

        - matched + ``when_matched_delete`` predicate TRUE → row
          removed;
        - otherwise matched → updated per ``when_matched_update``:
          ``"all"`` replaces with the source row (classic upsert),
          a mapping assigns only the named columns (expressions
          reference target columns as ``t.<col>`` and source columns
          as ``s.<col>`` — both sides carry every value column, so
          unqualified names would be ambiguous), ``None`` leaves
          matched rows untouched;
        - source-only keys → inserted when
          ``when_not_matched_insert`` (missing non-key columns
          null-fill);
        - target-only rows: ``when_not_matched_by_source_delete``
          predicate TRUE (``True`` for unconditional) → row removed;
          otherwise ``when_not_matched_by_source_update`` (a mapping;
          expressions reference target columns as ``t.<col>`` — there
          is no source row) assigns the named columns; with neither
          clause they are kept untouched. Delete is evaluated first,
          Delta clause order. Predicates/expressions here must not
          reference ``s.<col>`` (always NULL for these rows).

        GENERATED columns cannot be assigned by either update mapping;
        they are recomputed over the post-merge frame (Delta enforces
        generated columns on MERGE too), and source-provided values
        are validated against the recomputation for the rows they
        land in — a wrong provided value raises
        :class:`IntegrityError` before anything is written, same as
        :meth:`to_table`. Passing ``False`` for
        ``when_not_matched_by_source_delete`` means "no clause",
        identical to ``None``.

        ``merge_schema=True`` admits source-only *columns* (Delta's
        ``withSchemaEvolution()``): they are appended to the table
        schema (nullable, source dtype) before the merge — existing
        rows and pre-merge segments read NULL for them, matched rows
        take the source value under ``when_matched_update='all'``,
        inserts carry them. Without it, source-only columns stay
        clause-scope only (usable in expressions, never stored).

        Matching is on the table's primary key (the bucket layout's
        axis, so only the buckets the source hashes into are read and
        rewritten — cost ∝ touched data at 100 TB, like every other
        write). The BY SOURCE clauses widen that: an update mapping
        must rewrite every bucket (any target-only row changes); a
        delete predicate prunes to the buckets that actually hold
        doomed rows (one pruned probe pass), so a selective CDC
        retention delete still touches only affected data. One atomic
        manifest swap; a rival commit in the window raises
        :class:`ConcurrentWriteError`. Returns
        ``{"updated": n, "deleted": n, "inserted": n}`` (one extra
        aggregate job over the joined frame; Delta's operation
        metrics — BY SOURCE updates/deletes fold into the same
        counters, as Delta's do). The reference has only whole-row
        upsert (reference:pandabase/sql.py:300); clause-level MERGE is
        extension surface.
        """
        table_name = self._qualify(table_name, schema)
        # one head read and one meta read serve the whole merge: the
        # replay check, the pinned read and the commit's claim
        man = self._manifest(table_name)
        if self._txn_applied(table_name, txn, man):
            # replayed transaction: already committed, report a no-op
            return {"updated": 0, "deleted": 0, "inserted": 0}
        meta = m = self.meta(table_name)
        if m.auto_index:
            raise IOError("merge is not valid on auto-indexed tables")
        missing = [k for k in m.keys if k not in source.columns]
        if missing:
            raise NameError(f"source lacks key columns: {missing}")
        # bucket hashing and the key join both need the TABLE's key
        # types: xxhash64 of an int and of the equal long differ, so an
        # uncast source key lands in the wrong bucket and never matches
        recast = {
            k: F.col(k).cast(m.schema[k].dataType)
            for k in m.keys
            if source.schema[k].dataType != m.schema[k].dataType
        }
        if recast:
            source = source.withColumns(recast)
        if isinstance(when_matched_update, str) and when_matched_update != "all":
            raise ValueError(
                "when_matched_update must be 'all', a mapping, or None"
            )
        # falsy BY-SOURCE delete is a no-clause, not a literal-False
        # predicate (False would otherwise reach the doomed-row probe
        # as a Python bool and TypeError inside where/coalesce)
        if when_not_matched_by_source_delete is False:
            when_not_matched_by_source_delete = None
        bad = (
            [c for c in when_matched_update if c in m.keys]
            if isinstance(when_matched_update, Mapping)
            else []
        )
        if isinstance(when_not_matched_by_source_update, Mapping):
            bad += [
                c for c in when_not_matched_by_source_update if c in m.keys
            ]
        if bad:
            raise NameError(f"cannot UPDATE key columns: {bad}")
        # GENERATED columns are invariants, not assignable state: a
        # mapping assignment could store any value, and an update to a
        # referenced base column would leave the stored value stale —
        # both silently break the "can never drift" contract. MERGE
        # recomputes every generated column over the post-merge frame
        # (declaration order, same chaining as _apply_generated);
        # source-PROVIDED generated values are validated against the
        # recomputed result for the rows they land in (inserts, and
        # matched rows under when_matched_update='all') — the same
        # validate-on-provide contract as to_table.
        gen_assigned = sorted(
            {
                c
                for mapping in (
                    when_matched_update,
                    when_not_matched_by_source_update,
                )
                if isinstance(mapping, Mapping)
                for c in mapping
                if c in m.generated
            }
        )
        if gen_assigned:
            raise NameError(
                f"cannot assign GENERATED columns in MERGE: "
                f"{gen_assigned}; generated columns are always "
                "recomputed from their expressions"
            )
        # source PK validation folds into the one-pass _batch_probe
        # below (count/distinct/null/buckets in a single aggregate);
        # consequence: a merge_schema=True evolution can land before a
        # dup-key source raises — a harmless superset schema, the same
        # crash contract as the meta-first evolution order itself.

        new_fields = [
            f for f in source.schema.fields
            if f.name not in m.schema.names
        ]
        if new_fields and merge_schema:
            revived = [
                f.name for f in new_fields if f.name in m.retired_names
            ]
            if revived:
                raise NameError(
                    f"column names {revived} were retired by a "
                    "rename/drop and cannot be recycled — old segments "
                    "still hold data under them on disk"
                )
            # same crash-safe order as to_table(add_new_columns=True):
            # meta grows first; pre-merge segments null-fill on read
            # (a crash here leaves a harmless superset schema).
            evolved = T.StructType(
                list(m.schema.fields)
                + [T.StructField(f.name, f.dataType, True) for f in new_fields]
            )
            m.schema_json = json.dumps(evolved.jsonValue())
            self._write_meta(table_name, m)
        if isinstance(when_not_matched_by_source_update, Mapping):
            unknown = [
                c for c in when_not_matched_by_source_update
                if c not in m.schema.names
            ]
            if unknown:
                raise NameError(
                    f"BY SOURCE update assigns unknown columns: {unknown}"
                )

        m = self._resolve_nb(m, man)
        src_probe = self._batch_probe(source, m, facts=False)
        touched = src_probe["touched"]
        bs_del_pred = (
            F.lit(True)
            if when_not_matched_by_source_delete is True
            else F.expr(when_not_matched_by_source_delete)
            if isinstance(when_not_matched_by_source_delete, str)
            else when_not_matched_by_source_delete
        )
        if when_not_matched_by_source_update is not None:
            # every target-only row is rewritten → every bucket
            touched = list(range(m.num_buckets))
        elif bs_del_pred is not None:
            # delete-only BY SOURCE: one pruned probe finds the buckets
            # that actually hold doomed (target-only ∧ predicate) rows,
            # so the rewrite stays ∝ touched data even on a selective
            # retention delete over a huge table.
            # broadcast the source keys when the probe's MEASURED row
            # count/bytes say they fit (guide §3.1): without the hint a
            # bad size estimate can plan this anti-join as a sort-merge
            # that shuffles the ENTIRE table just to find doomed rows
            src_keys = source.select(*m.keys)
            if self._keys_broadcastable(
                src_probe["n"], m, src_probe["key_bytes"]
            ):
                src_keys = src_keys.hint("broadcast")
            doomed = (
                self._read_raw(table_name, manifest=man, m=m)
                .alias("t")
                .join(src_keys, on=list(m.keys), how="left_anti")
                .where(bs_del_pred)
            )
            touched = sorted(
                set(touched) | set(self._batch_buckets(doomed, m))
            )
        existing = self._read_raw(
            table_name, buckets=touched, manifest=man, m=m
        ).alias("t")
        # keep ALL source columns: clause expressions may reference
        # source-only columns (flags, payloads) that never land in the
        # table — Delta MERGE scoping
        src = source.alias("s")
        # co-partitioned merge (r15, guide §2.4, same shape as
        # _upsert's fullouter branch): shuffle each side ONCE on the
        # key-derived bucket column and join on (bucket, *keys) —
        # bucket equality is implied by key equality, so the match set
        # is identical — which makes the join exchange-free and leaves
        # the result already clustered for the segment write, instead
        # of shuffling both sides on the raw keys and re-shuffling the
        # whole merged frame on the bucket column.
        # presence flags survive the full outer join where columns
        # go NULL (same trick as table_changes)
        co = self._bucket_copartition_ok()
        if co:
            bexpr = _bucket_expr(list(m.keys), m.num_buckets)
            t_tag = (
                existing.withColumn(PART_DIR, bexpr)
                .repartition(PART_DIR)
                .alias("t")
                .withColumn("_in_t", F.lit(True))
            )
            s_tag = (
                src.withColumn(PART_DIR, bexpr)
                .repartition(PART_DIR)
                .alias("s")
                .withColumn("_in_s", F.lit(True))
            )
            joined = t_tag.join(
                s_tag, on=[PART_DIR, *m.keys], how="full_outer"
            )
        else:
            t_tag = existing.withColumn("_in_t", F.lit(True))
            s_tag = src.withColumn("_in_s", F.lit(True))
            joined = t_tag.join(s_tag, on=list(m.keys), how="full_outer")

        del_pred = (
            F.expr(when_matched_delete)
            if isinstance(when_matched_delete, str)
            else when_matched_delete
        )
        matched = F.col("_in_t").isNotNull() & F.col("_in_s").isNotNull()
        target_only = F.col("_in_t").isNotNull() & F.col("_in_s").isNull()
        is_del = (
            matched & F.coalesce(del_pred, F.lit(False))
            if del_pred is not None
            else F.lit(False)
        )
        is_bs_del = (
            target_only & F.coalesce(bs_del_pred, F.lit(False))
            if bs_del_pred is not None
            else F.lit(False)
        )
        upd_happens = (
            F.lit(False) if when_matched_update is None else (matched & ~is_del)
        )
        bs_upd_happens = (
            target_only & ~is_bs_del
            if when_not_matched_by_source_update is not None
            else F.lit(False)
        )
        # operation metrics ride the WRITE execution as a CollectMetrics
        # (Observation) node on the pre-filter joined frame — no second
        # execution of the merge plan (pre-r9 this was a full extra
        # pass; metrics=False remains for callers that want the node
        # gone entirely, e.g. per-micro-batch CDC applies)
        obs = None
        if metrics:
            from pyspark.sql import Observation

            obs = Observation()
            joined = joined.observe(
                obs,
                F.sum(
                    (upd_happens | bs_upd_happens).cast("long")
                ).alias("updated"),
                F.sum((is_del | is_bs_del).cast("long")).alias("deleted"),
                F.sum(
                    (
                        F.col("_in_t").isNull()
                        & F.lit(when_not_matched_insert)
                    ).cast("long")
                ).alias("inserted"),
            )

        value_cols = [c for c in existing.columns if c not in m.keys]
        src_cols = set(source.columns)

        def merged_col(c: str) -> Column:
            tcol, scol = F.col(f"t.{c}"), (
                F.col(f"s.{c}") if c in src_cols else F.lit(None)
            )
            if when_matched_update is None:
                upd = tcol
            elif when_matched_update == "all":
                # source wins where it has the column; absent source
                # columns preserve the target value (partial-column
                # upsert semantics)
                upd = scol if c in src_cols else tcol
            else:
                ex = when_matched_update.get(c)
                if ex is None:
                    upd = tcol
                else:
                    upd = (F.expr(ex) if isinstance(ex, str) else ex).cast(
                        existing.schema[c].dataType
                    )
            bs_ex = (
                when_not_matched_by_source_update.get(c)
                if when_not_matched_by_source_update is not None
                else None
            )
            if bs_ex is None:
                tgt_only_val = tcol
            else:
                tgt_only_val = (
                    F.expr(bs_ex) if isinstance(bs_ex, str) else bs_ex
                ).cast(existing.schema[c].dataType)
            ins = scol if c in src_cols else F.lit(None)
            return (
                F.when(matched, upd)
                .when(F.col("_in_t").isNotNull(), tgt_only_val)
                .otherwise(ins)
                .cast(existing.schema[c].dataType)
                .alias(c)
            )

        keep = ~is_del & ~is_bs_del & (
            F.col("_in_t").isNotNull() | F.lit(when_not_matched_insert)
        )
        # provenance riders for generated-column validation: which
        # rows took their stored value from the source, and what the
        # source provided (dropped before the write)
        validate_gen = [c for c in m.generated if c in src_cols]
        prov = []
        if validate_gen:
            from_src = F.col("_in_t").isNull() | (
                matched & F.lit(when_matched_update == "all")
            )
            prov = [from_src.alias("_gc_from_src")] + [
                F.col(f"s.{c}").alias(f"_gc_prov_{c}")
                for c in validate_gen
            ]
        result = joined.where(keep).select(
            *([PART_DIR] if co else []),
            *m.keys, *[merged_col(c) for c in value_cols], *prov
        )
        # matched rows whose referenced base columns changed, BY-SOURCE
        # updates, and inserts that omitted the column all land correct
        result = self._regenerate(result, m)
        if validate_gen:
            vrow = result.agg(
                *[
                    F.sum(
                        (
                            F.col("_gc_from_src")
                            & ~F.col(f"_gc_prov_{c}").eqNullSafe(F.col(c))
                        ).cast("long")
                    ).alias(c)
                    for c in validate_gen
                ]
            ).first()
            vbad = {c: int(vrow[c] or 0) for c in validate_gen if vrow[c]}
            if vbad:
                raise IntegrityError(
                    "generated-column violation(s) in MERGE source: "
                    + ", ".join(
                        f"{c} (GENERATED ALWAYS AS "
                        f"{m.generated[c]!r}): {n} row(s)"
                        for c, n in vbad.items()
                    )
                )
            result = result.drop(
                "_gc_from_src", *[f"_gc_prov_{c}" for c in validate_gen]
            )
        self._check_constraints(result, m)
        # under the co-partitioned shape, result is already clustered
        # by PART_DIR (the join preserves the bucket shuffle) — no
        # second exchange
        seg, buckets = self._write_segment(
            result, table_name, m, pre_bucketed=co
        )
        touched_set = set(touched)
        segments: dict[str, list[int]] = {}
        for old_seg, bs in man["segments"].items():
            kept = [b for b in bs if b not in touched_set]
            if kept:
                segments[old_seg] = kept
        if buckets:
            segments[seg] = buckets
        self._commit(
            table_name, segments, v=man["v"], op="merge", txn=txn,
            meta=meta, prior=man,
            op_params={
                "when_matched_update": (
                    when_matched_update
                    if when_matched_update in ("all", None)
                    else {
                        c: _op_str(e)
                        for c, e in when_matched_update.items()
                    }
                ),
                "when_matched_delete": _op_str(when_matched_delete),
                "when_not_matched_insert": when_not_matched_insert,
                "when_not_matched_by_source_update": (
                    None
                    if when_not_matched_by_source_update is None
                    else {
                        c: _op_str(e)
                        for c, e in
                        when_not_matched_by_source_update.items()
                    }
                ),
                "when_not_matched_by_source_delete": (
                    True
                    if when_not_matched_by_source_delete is True
                    else _op_str(when_not_matched_by_source_delete)
                ),
                "merge_schema": merge_schema,
            },
        )
        self._maybe_auto_compact(table_name)
        if obs is None:
            return {"updated": 0, "deleted": 0, "inserted": 0}
        try:
            counts = obs.get  # harvested from the write's own execution
        except Exception:
            # an empty merge (source matches nothing, no buckets
            # touched) can skip executing the observed node entirely —
            # there are no metrics because nothing happened. Any
            # OTHER lost observation must stay loud: zeroing the
            # metrics of a write that DID land would lie.
            if buckets:
                raise
            counts = {"updated": 0, "deleted": 0, "inserted": 0}
        return {
            "updated": int(counts["updated"] or 0),
            "deleted": int(counts["deleted"] or 0),
            "inserted": int(counts["inserted"] or 0),
        }

    def _complete_to_schema(
        self, sdf: DataFrame, schema: T.StructType
    ) -> DataFrame:
        """Null-fill table columns absent from a batch (the all-null
        column drop and partial-column writes make batches narrower
        than the table) so expressions over the full schema resolve."""
        missing = [f for f in schema.fields if f.name not in sdf.columns]
        for f in missing:
            sdf = sdf.withColumn(f.name, F.lit(None).cast(f.dataType))
        return sdf

    def _apply_generated(
        self,
        sdf: DataFrame,
        generated: "Mapping[str, str]",
        schema: "T.StructType | None",
    ) -> DataFrame:
        """Enforce GENERATED columns on a batch: absent columns are
        computed from their expressions (dict order, so a generated
        column may reference one declared before it); present columns
        are validated against the expressions in ONE aggregation pass
        (null-safe equality; any mismatch raises IntegrityError before
        anything is written). ``schema`` pins dtypes for existing
        tables; at create the expression's own type stands."""
        if not generated:
            return sdf
        def typed(col: str, expr: str) -> Column:
            e = F.expr(expr)
            if schema is not None and col in schema.names:
                e = e.cast(schema[col].dataType)
            return e

        present = [c for c in generated if c in sdf.columns]
        for col, expr in generated.items():
            if col not in sdf.columns:
                sdf = sdf.withColumn(col, typed(col, expr))
        if present:
            row = sdf.agg(
                *[
                    F.sum(
                        (~F.col(c).eqNullSafe(typed(c, generated[c])))
                        .cast("long")
                    ).alias(c)
                    for c in present
                ]
            ).first()
            bad = {c: int(row[c]) for c in present if row[c]}
            if bad:
                raise IntegrityError(
                    "generated-column violation(s): "
                    + ", ".join(
                        f"{c} (GENERATED ALWAYS AS {generated[c]!r}): "
                        f"{n} row(s)"
                        for c, n in bad.items()
                    )
                )
        return sdf

    def _regenerate(self, sdf: DataFrame, m: TableMeta) -> DataFrame:
        """Recompute every GENERATED column in declaration order (a
        generated column may reference one declared before it) — a
        pure projection: rows whose referenced inputs are unchanged
        reproduce their stored value bit-identically, so DML that
        rewrites a referenced base column can never leave a generated
        column stale."""
        for c, gexpr in m.generated.items():
            if c in sdf.columns:
                sdf = sdf.withColumn(
                    c, F.expr(gexpr).cast(m.schema[c].dataType)
                )
        return sdf

    def _enforce_generated_effective(
        self, eff: DataFrame, m: TableMeta, provided: "list[str]"
    ) -> DataFrame:
        """Generated-column enforcement over an EFFECTIVE frame (every
        table column present, e.g. the post-carry upsert batch):
        columns the caller did NOT provide are recomputed in
        declaration order; columns the caller DID provide are
        validated against the recomputed frame in one aggregation pass
        (mismatch raises IntegrityError before anything is written —
        the same validate-on-provide contract as _apply_generated,
        but judged against the row as it will actually be stored)."""
        if not m.generated:
            return eff
        for c, gexpr in m.generated.items():
            if c not in provided:
                eff = eff.withColumn(
                    c, F.expr(gexpr).cast(m.schema[c].dataType)
                )
        if provided:
            row = eff.agg(
                *[
                    F.sum(
                        (
                            ~F.col(c).eqNullSafe(
                                F.expr(m.generated[c]).cast(
                                    m.schema[c].dataType
                                )
                            )
                        ).cast("long")
                    ).alias(c)
                    for c in provided
                ]
            ).first()
            bad = {c: int(row[c] or 0) for c in provided if row[c]}
            if bad:
                raise IntegrityError(
                    "generated-column violation(s): "
                    + ", ".join(
                        f"{c} (GENERATED ALWAYS AS "
                        f"{m.generated[c]!r}): {n} row(s)"
                        for c, n in bad.items()
                    )
                )
        return eff

    def _check_constraints(self, sdf: DataFrame, m: TableMeta) -> None:
        """One aggregation pass counting violations of every declared
        CHECK (NULL counts as a violation, per Delta); raises
        IntegrityError naming each violated constraint. Callers pass
        the EFFECTIVE row state (post-merge for upserts, null-completed
        for appends) so constraints see what the table will contain."""
        if not m.constraints:
            return
        sdf = self._complete_to_schema(sdf, m.schema)
        aggs = [
            F.sum(
                (~F.coalesce(F.expr(expr), F.lit(False))).cast("long")
            ).alias(name)
            for name, expr in m.constraints.items()
        ]
        row = sdf.agg(*aggs).collect()[0]
        bad = {
            name: int(row[name])
            for name in m.constraints
            if row[name] and row[name] > 0
        }
        if bad:
            raise IntegrityError(
                "CHECK constraint violation(s): "
                + ", ".join(
                    f"{n} ({m.constraints[n]!r}): {c} row(s)"
                    for n, c in bad.items()
                )
            )

    def add_constraint(
        self,
        table_name: str,
        name: str,
        expr: str,
        *,
        schema: str | None = None,
    ) -> None:
        """Declare a CHECK on an existing table. Existing data is
        validated first (one scan) — the constraint only lands if the
        table already satisfies it, so readers can rely on it."""
        table_name = self._qualify(table_name, schema)
        m = self.meta(table_name)
        probe = TableMeta(
            keys=m.keys, auto_index=m.auto_index, num_buckets=m.num_buckets,
            schema_json=m.schema_json, constraints={name: expr},
        )
        self._check_constraints(self._read_raw(table_name), probe)
        m.constraints[name] = expr
        self._write_meta(table_name, m)

    def drop_constraint(
        self, table_name: str, name: str, *, schema: str | None = None
    ) -> None:
        table_name = self._qualify(table_name, schema)
        m = self.meta(table_name)
        if name not in m.constraints:
            raise NameError(f"no such constraint: {name}")
        del m.constraints[name]
        self._write_meta(table_name, m)

    def delete_rows(
        self,
        table_name: str,
        predicate: "str | Column",
        *,
        schema: str | None = None,
        strategy: str = "auto",
        txn: "tuple[str, int] | None" = None,
    ) -> int:
        """DELETE FROM table WHERE predicate.

        ``txn=(app_id, version)`` makes the delete idempotent under
        replay (same watermark contract as :meth:`to_table`): a
        re-delivered CDC delete batch is skipped, returning 0.

        Two physical strategies, chosen by ``strategy``:

        - ``"rewrite"`` — bucket-pruned rewrite: only buckets holding
          at least one matching row are rewritten (matches found with
          one pruned pass; at 100 TB the rewrite IO is proportional to
          the touched data, not the table).
        - ``"dv"`` — deletion vector (merge-on-read, the Delta DV
          shape): the matching PRIMARY KEYS are written to a tiny
          sidecar file and the manifest records which (segment,
          bucket) leaves it covers; ZERO data files are rewritten.
          Reads anti-join only the covered leaves against the
          broadcast tombstone set; compaction/upserts of a covered
          bucket fold the deletion into data and retire the DV entry.
          At 100 TB a point delete ("remove this document") is one
          key-file write + one manifest commit instead of a
          ~1/num_buckets table rewrite. Refused on tables with
          ``sketch_columns`` (per-segment sketches cannot subtract;
          the rewrite path recomputes them — the carry discipline).
        - ``"auto"`` (default) — ``"dv"`` when at most
          ``DV_AUTO_MAX_ROWS`` rows match and the table has no sketch
          columns, else ``"rewrite"``.

        Either way the manifest swap is the same atomic commit as
        every other write, so the delete is all-or-nothing and time
        travel keeps the pre-delete snapshot. Returns the number of
        rows deleted. The reference has no row-delete at all (only
        ``drop_db_table``, reference:pandabase/util.py:5-20) —
        extension surface."""
        if strategy not in ("auto", "dv", "rewrite"):
            raise ValueError(f"unknown delete strategy: {strategy!r}")
        table_name = self._qualify(table_name, schema)
        if self._txn_applied(table_name, txn):
            return 0
        m = self.meta(table_name)
        if strategy == "dv" and m.sketch_columns:
            raise ValueError(
                "deletion vectors are not supported on tables with "
                "sketch_columns (sketches cannot subtract); use "
                "strategy='rewrite'"
            )
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        # one manifest snapshot for BOTH the data read and the commit
        # version — a rival commit between plan and publish then trips
        # ConcurrentWriteError instead of having its rows dropped
        man = self._manifest(table_name)
        m = self._resolve_nb(m, man)
        # a full-key equality predicate pins its bucket arithmetically
        # — the probe then reads 1/num_buckets of the table, no scan
        # needed to learn where the key lives
        kb = self._key_equality_buckets(predicate, m)
        full = self._read_raw(table_name, buckets=kb, manifest=man)
        # ONE probe pass answers everything the old path paid three
        # scans for: the match count (the DV-auto decision AND the
        # returned n_deleted) and the touched buckets (collect_set is
        # bounded by num_buckets — driver-safe at any hit count)
        prow = (
            full.where(pred)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_set(
                    _bucket_expr(m.keys, m.num_buckets)
                ).alias("bs"),
            )
            .first()
        )
        n_hits = int(prow["n"] or 0)
        if not n_hits:
            return 0
        touched = sorted(int(b) for b in prow["bs"])
        use_dv = strategy == "dv" or (
            strategy == "auto"
            and not m.sketch_columns
            and n_hits <= DV_AUTO_MAX_ROWS
        )
        if use_dv:
            # the sidecar write re-reads ONLY the touched buckets
            hits = self._read_raw(
                table_name, buckets=touched, manifest=man
            ).where(pred)
            return self._delete_dv(
                table_name, m, man, hits, touched, txn=txn,
                n_hint=n_hits,
                op_params={
                    "predicate": _op_str(predicate), "strategy": "dv",
                },
            )
        existing = self._read_raw(table_name, buckets=touched, manifest=man)
        # SQL DELETE semantics: remove only rows where the predicate is
        # TRUE — a NULL predicate keeps the row (~pred alone would drop
        # NULL-predicate rows from both sides and silently lose data)
        survivors = existing.where(~F.coalesce(pred, F.lit(False)))
        touched_set = set(touched)
        segments: dict[str, list[int]] = {}
        for old_seg, bs in man["segments"].items():
            keep = [b for b in bs if b not in touched_set]
            if keep:
                segments[old_seg] = keep
        # write unconditionally (all-rows-deleted yields no bucket
        # dirs; the empty segment dir is vacuumable) — the old
        # head(1) emptiness probe was a third predicate scan
        seg, buckets = self._write_segment(survivors, table_name, m)
        if buckets:
            segments[seg] = buckets
        else:
            self.fs.delete(f"{self._path(table_name)}/{seg}")
        self._commit(
            table_name, segments, v=man["v"], op="delete", txn=txn,
            op_params={
                "predicate": _op_str(predicate), "strategy": "rewrite",
            },
        )
        return n_hits

    def _delete_dv(
        self,
        table_name: str,
        m: TableMeta,
        man: dict,
        hits: DataFrame,
        touched: "list[int]",
        new_rows: DataFrame | None = None,
        op: str = "delete_dv",
        txn: "tuple[str, int] | None" = None,
        op_params: "dict | None" = None,
        n_hint: "int | None" = None,
    ) -> int:
        """Commit a deletion vector for ``hits`` (already DV-filtered
        rows of the pinned ``man`` snapshot): write the matching keys
        as a sidecar, record the covered (segment, bucket) leaves, and
        commit with the old segment set UNCHANGED — zero data files
        rewritten. ``new_rows`` (the merge-on-read UPDATE path)
        additionally lands as a fresh segment that the DV does NOT
        cover: the tombstoned keys' new versions."""
        import uuid

        dv_name = f"dv-{uuid.uuid4().hex[:16]}"
        dv_path = f"{self._path(table_name)}/{DV_DIR}/{dv_name}"
        keys_df = hits.select(*m.keys)
        # a point delete's key set is tiny — one output file keeps the
        # sidecar a single open at read time
        keys_df.coalesce(1).write.mode("errorifexists").parquet(dv_path)
        # ``n_hint``: callers that already counted the hits against the
        # SAME pinned manifest + predicate (the one-pass DML probe)
        # pass the count — re-reading the sidecar to learn it is a
        # wasted job
        n_deleted = (
            int(n_hint)
            if n_hint is not None
            else self.spark.read.parquet(dv_path).count()
        )
        if n_deleted == 0:
            self.fs.delete(dv_path)
            return 0
        touched_set = set(touched)
        base_dvs = man.get("dvs", {})
        segments = dict(man["segments"])
        # Accrual budget (Delta's tombstone-ratio shape): at most
        # DV_MAX_LIVE live DVs per table, enforced in THIS commit —
        # when the new DV would push past the budget, the OLDEST DVs
        # are folded (materialized) into their covered buckets as one
        # bounded rewrite amortized over the deletes that accrued, so
        # reads never open an unbounded sidecar list. Manifest dict
        # order is accrual order (JSON round-trips preserve it).
        n_over = len(base_dvs) + 1 - DV_MAX_LIVE
        folded_pairs: "set[tuple[str, int]]" = set()
        if n_over > 0:
            fold_names = list(base_dvs)[:n_over]
            folded_pairs = {
                (seg, b)
                for dn in fold_names
                for seg, bs in base_dvs[dn]["leaves"].items()
                for b in bs
            }
            # rewrite EXACTLY the folded DVs' covered (segment,
            # bucket) leaves — a leaves-only view of the pinned
            # manifest keeps the rewrite IO proportional to the
            # covered data, never to every segment that happens to
            # share a bucket id. The read goes through every covering
            # DV and drops the new tombstones too, so the rewritten
            # leaves carry no obligation to any sidecar; _commit's
            # leaf intersection then retires the folded DVs (and
            # prunes any newer DV's leaves rewritten here — also
            # correct, their tombstones folded in as well).
            sub_man = dict(man)
            sub_man["segments"] = {
                seg: sorted(
                    b for (s, b) in folded_pairs if s == seg
                )
                for seg in {s for s, _ in folded_pairs}
            }
            existing = self._read_raw(table_name, manifest=sub_man)
            tomb = self.spark.read.parquet(dv_path)
            survivors = existing.join(
                F.broadcast(tomb), on=list(m.keys), how="left_anti"
            )
            segments = {
                s: keep
                for s, bs in segments.items()
                if (keep := [
                    b for b in bs if (s, b) not in folded_pairs
                ])
            }
            if survivors.head(1):
                seg, buckets = self._write_segment(
                    survivors, table_name, m
                )
                segments[seg] = buckets
            op = f"{op}+fold"
        leaves = {
            seg: kept
            for seg, bs in man["segments"].items()
            if (kept := [
                b
                for b in bs
                if b in touched_set and (seg, b) not in folded_pairs
            ])
        }
        entry = {
            "file": dv_name,
            "leaves": leaves,
            "n": n_deleted,
            # stable column identity -> physical sidecar column name,
            # so the anti-join survives later key renames (same
            # mapping discipline as segcols)
            "cols": {
                m.colmap.get(k, k): k for k in m.keys
            },
        }
        if new_rows is not None:
            seg, buckets = self._write_segment(new_rows, table_name, m)
            segments[seg] = buckets
        try:
            self._commit(
                table_name,
                segments,
                v=man["v"],
                op=op,
                # every touched bucket folded => the deletion is
                # already physical and the sidecar carries nothing
                dvs={dv_name: entry} if leaves else None,
                txn=txn,
                op_params=op_params,
            )
        except ConcurrentWriteError:
            self.fs.delete(dv_path)  # lost the race — no orphan sidecar
            raise
        if not leaves:
            self.fs.delete(dv_path)
        return n_deleted

    def update_rows(
        self,
        table_name: str,
        predicate: "str | Column",
        assignments: "dict[str, str | Column]",
        *,
        schema: str | None = None,
        strategy: str = "auto",
        txn: "tuple[str, int] | None" = None,
    ) -> int:
        """UPDATE table SET col = expr, ... WHERE predicate.

        ``txn=(app_id, version)`` makes the update idempotent under
        replay (same watermark contract as :meth:`to_table`) — the
        guard that matters most for relative assignments like
        ``{"v": "v + 1"}``, which would otherwise double-apply.

        ``strategy="rewrite"`` is the same bucket-pruned rewrite as
        :meth:`delete_rows`, with matching rows re-projected through
        the assignments instead of dropped. ``strategy="dv"``
        (merge-on-read) writes ONLY the updated rows as a new segment
        and a deletion vector tombstoning their old versions in the
        covered leaves — write IO is O(updated rows), not
        O(touched buckets); ``"auto"`` picks the DV path for small
        updates exactly like :meth:`delete_rows`. Key columns cannot
        be assigned (that is an upsert/delete+insert, not an update).
        Returns the number of rows updated."""
        if strategy not in ("auto", "dv", "rewrite"):
            raise ValueError(f"unknown update strategy: {strategy!r}")
        table_name = self._qualify(table_name, schema)
        if self._txn_applied(table_name, txn):
            return 0
        m = self.meta(table_name)
        if strategy == "dv" and m.sketch_columns:
            raise ValueError(
                "deletion vectors are not supported on tables with "
                "sketch_columns (sketches cannot subtract); use "
                "strategy='rewrite'"
            )
        bad = [c for c in assignments if c in m.keys]
        if bad:
            raise NameError(f"cannot UPDATE key columns: {bad}")
        bad_gen = [c for c in assignments if c in m.generated]
        if bad_gen:
            raise NameError(
                f"cannot UPDATE GENERATED columns: {bad_gen}; they are "
                "always recomputed from their expressions"
            )
        unknown = [
            c for c in assignments if c not in m.schema.fieldNames()
        ]
        if unknown:
            raise NameError(f"UPDATE of unknown columns: {unknown}")
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        # same snapshot discipline as delete_rows: read and commit
        # against ONE captured manifest version
        man = self._manifest(table_name)
        m = self._resolve_nb(m, man)
        # same one-pass probe as delete_rows: arithmetic bucket pin
        # for full-key equality, then count + touched buckets in ONE
        # aggregate (the count is both the DV-auto decision and the
        # returned n_updated — no second predicate scan)
        kb = self._key_equality_buckets(predicate, m)
        full = self._read_raw(table_name, buckets=kb, manifest=man)
        prow = (
            full.where(pred)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_set(
                    _bucket_expr(m.keys, m.num_buckets)
                ).alias("bs"),
            )
            .first()
        )
        n_hits = int(prow["n"] or 0)
        if not n_hits:
            return 0
        touched = sorted(int(b) for b in prow["bs"])
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }
        schema_t = self._table_schema(table_name)
        use_dv = strategy == "dv" or (
            strategy == "auto"
            and not m.sketch_columns
            and n_hits <= DV_AUTO_MAX_ROWS
        )
        if use_dv:
            # merge-on-read UPDATE: new segment = the updated rows
            # only; a DV tombstones their old versions in the covered
            # leaves. Write IO is O(updated rows).
            hits = self._read_raw(
                table_name, buckets=touched, manifest=man
            ).where(pred)
            if n_hits <= DV_AUTO_MAX_ROWS:
                # bounded hit set: materialize ONCE so the key sidecar
                # and the updated-rows segment don't each rescan the
                # touched buckets (explicit strategy='dv' with an
                # unbounded hit set keeps the two pruned passes —
                # checkpointing billions of rows to executor disk
                # would be worse)
                hits = hits.localCheckpoint(eager=True)
            upd_rows = hits.select(
                *[
                    (
                        exprs[c].cast(schema_t[c].dataType).alias(c)
                        if c in exprs
                        else F.col(c)
                    )
                    for c in full.columns
                ]
            )
            # an assignment to a referenced base column (e.g. SET v
            # where v2 = v * 2) recomputes the generated column in the
            # same rewrite — UPDATE keeps the stored invariant
            upd_rows = self._regenerate(upd_rows, m)
            self._check_constraints(upd_rows, m)
            n_updated = self._delete_dv(
                table_name, m, man, hits, touched, new_rows=upd_rows,
                op="update_dv", txn=txn, n_hint=n_hits,
                op_params={
                    "predicate": _op_str(predicate),
                    "assignments": {
                        c: _op_str(e) for c, e in assignments.items()
                    },
                    "strategy": "dv",
                },
            )
            return n_updated
        existing = self._read_raw(table_name, buckets=touched, manifest=man)
        n_updated = n_hits  # counted by the probe against the same snapshot
        updated = existing.select(
            *[
                (
                    F.when(pred, exprs[c]).otherwise(F.col(c))
                    .cast(schema_t[c].dataType).alias(c)
                    if c in exprs
                    else F.col(c)
                )
                for c in existing.columns
            ]
        )
        updated = self._regenerate(updated, m)
        self._check_constraints(updated, m)
        seg, buckets = self._write_segment(updated, table_name, m)
        # commit against the SAME pinned manifest the rewrite read
        # from (not a re-read — a rival commit in the window must trip
        # the claim, not have its touched-bucket rows silently dropped
        # from the new snapshot)
        touched_set = set(touched)
        segments = {
            old_seg: keep
            for old_seg, bs in man["segments"].items()
            if (keep := [b for b in bs if b not in touched_set])
        }
        segments[seg] = buckets
        self._commit(
            table_name, segments, v=man["v"], op="update", txn=txn,
            op_params={
                "predicate": _op_str(predicate),
                "assignments": {
                    c: _op_str(e) for c, e in assignments.items()
                },
                "strategy": "rewrite",
            },
        )
        return n_updated

    # ------------------------------------------------------------------
    # read path (reference:pandabase/sql.py:349-506 read_sql)
    # ------------------------------------------------------------------
    def _live_paths(
        self,
        table_name: str,
        buckets: Sequence[int] | None = None,
        version: int | None = None,
        manifest: dict | None = None,
        stats_bounds: "Mapping[str, tuple] | None" = None,
        bloom_probe: "Mapping[str, list[int]] | None" = None,
        skip: "dict | None" = None,
        key_bounds: "tuple | Mapping[int, tuple] | None" = None,
    ) -> "list[tuple[str, str]]":
        """The (segment, leaf path) pairs a read opens: the manifest's
        live leaves, cut to ``buckets`` and pruned by the skipping
        entries (:meth:`_skipping`, or ``skip`` when the caller already
        loaded them). ``stats_bounds`` prunes on stats min/max,
        ``bloom_probe`` on Bloom bits, and ``key_bounds`` on the first
        key column's recorded range: one ``(lo, hi)`` in
        :func:`_key_bound` form for every bucket (a key-range read), or
        ``{bucket: (lo, hi)}`` (an append's clash check). A leaf
        without the entry a test needs is always read."""
        # ``manifest=`` pins the read to a caller-captured snapshot so
        # DML rewrites read and commit against the SAME version — a
        # rival commit in the window then trips the put-if-absent claim
        # instead of being silently absorbed (and its rows lost)
        man = (
            manifest
            if manifest is not None
            else self._manifest(table_name, version=version)
        )
        want = None if buckets is None else set(buckets)
        if skip is None:
            skip = (
                self._skipping(table_name, man)
                if (stats_bounds or bloom_probe or key_bounds)
                else {}
            )
        stats = skip.get("stats", {}) if stats_bounds else {}
        blooms = skip.get("blooms", {}) if bloom_probe else {}
        ranges = skip.get("keys", {}) if key_bounds else {}

        def skippable(seg: str, b: int) -> bool:
            # leaf-level data skipping: drop a (segment, bucket)
            # leaf when its recorded [min, max] provably misses the
            # requested range. Missing stats → never skip (advisory).
            st = stats.get(seg, {}).get(str(b))
            return bool(st) and any(
                _range_misses(st.get(col), stat_json(lo), stat_json(hi))
                for col, (lo, hi) in stats_bounds.items()
            )

        def key_skippable(seg: str, b: int) -> bool:
            bounds = (
                key_bounds.get(b)
                if isinstance(key_bounds, Mapping)
                else key_bounds
            )
            # one entry per leaf: the first key column's, by its
            # current name
            rng = next(iter(ranges.get(seg, {}).get(str(b), {}).values()), None)
            return bounds is not None and _range_misses(rng, *bounds)

        def bloom_skippable(seg: str, b: int) -> bool:
            # equality data skipping: drop a leaf when its Bloom filter
            # proves the probed value absent. Missing filter → read
            # (advisory); false positives → read (never wrong results).
            bl = blooms.get(seg, {}).get(str(b))
            if not bl:
                return False
            for col, positions in bloom_probe.items():
                ent = bl.get(col)
                # probes were computed under the CURRENT sizing; an
                # entry written under a different (m, k) cannot be
                # consulted safely (wrong bits → false skips, larger
                # m → out-of-range reads) — treat it as missing
                if (
                    ent
                    and ent.get("m") == BLOOM_M
                    and ent.get("k") == BLOOM_K
                    and not _bloom_maybe_contains(ent["b64"], positions)
                ):
                    return True
            return False

        # Pairs (seg, path): callers needing only counts len() the
        # list; _read_raw groups by segment for column-mapped reads.
        return [
            (seg, f"{self._seg_path(table_name, seg)}/{PART_DIR}={b}")
            for seg, bs in man["segments"].items()
            for b in bs
            if (want is None or b in want)
            and not (stats_bounds and skippable(seg, b))
            and not (bloom_probe and bloom_skippable(seg, b))
            and not (key_bounds and key_skippable(seg, b))
        ]

    def _read_raw(
        self,
        table_name: str,
        buckets: Sequence[int] | None = None,
        version: int | None = None,
        manifest: dict | None = None,
        stats_bounds: "Mapping[str, tuple] | None" = None,
        bloom_probe: "Mapping[str, list[int]] | None" = None,
        m: "TableMeta | None" = None,
        skip: "dict | None" = None,
        key_bounds: "tuple | Mapping[int, tuple] | None" = None,
    ) -> DataFrame:
        if not self.has_table(table_name):
            raise NameError(f"no such table: {table_name}")
        if m is None:
            m = self.meta(table_name)
        schema = m.schema
        man = (
            manifest
            if manifest is not None
            else self._manifest(table_name, version=version)
        )
        pairs = self._live_paths(
            table_name,
            buckets,
            manifest=man,
            stats_bounds=stats_bounds,
            bloom_probe=bloom_probe,
            skip=skip,
            key_bounds=key_bounds,
        )
        if not pairs:
            return local_frame(self.spark, [], schema)
        # Column-mapping read assembly: a segment written before a
        # rename holds the OLD physical names on disk; its manifest
        # segcols entry ({stable identity -> physical name}) maps them
        # to the current logical schema. Segments sharing a mapping
        # read as one group (explicit schema: evolved columns
        # null-fill, no footer merging); differing groups union by
        # name. The never-renamed fast path is a single read exactly
        # as before.
        cur_sc = {
            m.colmap.get(f.name, f.name): f.name for f in schema.fields
        }
        seg_sc = man.get("segcols", {})
        cur_key = tuple(sorted(cur_sc.items()))

        def assemble(sub_pairs: "list[tuple[str, str]]") -> DataFrame:
            groups: dict[tuple, list[str]] = {}
            for seg, path in sub_pairs:
                sc = seg_sc.get(seg) or cur_sc
                key = tuple(sorted(sc.items()))
                groups.setdefault(key, []).append(path)
            frames = []
            for key, paths in groups.items():
                if key == cur_key:
                    frames.append(
                        self.spark.read.schema(schema).parquet(*paths)
                    )
                    continue
                sc = dict(key)
                phys_fields, aliases = [], []
                for f in schema.fields:
                    stable = m.colmap.get(f.name, f.name)
                    phys = sc.get(stable, f.name)
                    phys_fields.append(
                        T.StructField(phys, f.dataType, True)
                    )
                    aliases.append(F.col(phys).alias(f.name))
                frames.append(
                    self.spark.read.schema(T.StructType(phys_fields))
                    .parquet(*paths)
                    .select(*aliases)
                )
            out = frames[0]
            for fr in frames[1:]:
                out = out.unionByName(fr)
            return out

        # Deletion-vector application (merge-on-read): only the leaves
        # a DV explicitly covers are anti-joined against its tombstone
        # keys — a key re-inserted AFTER the delete lives in a newer,
        # uncovered segment and is never touched. Each leaf is
        # anti-joined against EXACTLY the DVs that cover it (leaves
        # grouped by covering-DV set), never a pooled union: a later
        # DV covering the re-insert segment must not drag an earlier
        # DV's keys onto it. DV sidecars hold O(deleted keys) rows, so
        # the anti-joins broadcast; uncovered leaves stream through
        # untouched.
        man_dvs = man.get("dvs", {})
        read_leaves = {
            (seg, int(path.rsplit("=", 1)[1])) for seg, path in pairs
        }
        leaf_dvs: "dict[tuple, set[str]]" = {}
        for dname, dv in man_dvs.items():
            for seg, bs in dv.get("leaves", {}).items():
                for b in bs:
                    if (seg, b) in read_leaves:
                        leaf_dvs.setdefault((seg, b), set()).add(dname)
        if not leaf_dvs:
            return assemble(pairs)
        groups: "dict[frozenset, list]" = {}
        rest_pairs = []
        for seg, p in pairs:
            ds = leaf_dvs.get((seg, int(p.rsplit("=", 1)[1])))
            if ds:
                groups.setdefault(frozenset(ds), []).append((seg, p))
            else:
                rest_pairs.append((seg, p))
        out = None
        for dnames, gpairs in groups.items():
            keyset = self._dv_keys(
                table_name, [man_dvs[d] for d in sorted(dnames)], m
            )
            fr = assemble(gpairs).join(
                F.broadcast(keyset), on=list(m.keys), how="left_anti"
            )
            out = fr if out is None else out.unionByName(fr)
        if rest_pairs:
            fr = assemble(rest_pairs)
            out = fr if out is None else out.unionByName(fr)
        return out

    def _dv_keys(
        self, table_name: str, dvs: "list[dict]", m: TableMeta
    ) -> DataFrame:
        """Union of the tombstone key-sets of ``dvs``, read through the
        same stable-identity column mapping as data segments (a DV
        written before a key rename still anti-joins correctly)."""
        frames = []
        key_fields = [f for f in m.schema.fields if f.name in m.keys]
        for dv in dvs:
            path = (
                f"{self.warehouse}/{dv['file']}"
                if "/" in dv["file"]
                else f"{self._path(table_name)}/{DV_DIR}/{dv['file']}"
            )
            sc = dv.get("cols") or {}
            phys_fields, aliases = [], []
            for f in key_fields:
                stable = m.colmap.get(f.name, f.name)
                phys = sc.get(stable, f.name)
                phys_fields.append(T.StructField(phys, f.dataType, True))
                aliases.append(F.col(phys).alias(f.name))
            frames.append(
                self.spark.read.schema(T.StructType(phys_fields))
                .parquet(path)
                .select(*aliases)
            )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def _table_schema(self, table_name: str) -> T.StructType:
        return self.meta(table_name).schema

    def read_table(
        self,
        table_name: str,
        *,
        lowest: Any = None,
        highest: Any = None,
        columns: Sequence[str] | None = None,
        version: int | None = None,
        as_of: "float | int | None" = None,
        stats_bounds: "Mapping[str, tuple] | None" = None,
        bloom_point: "Mapping[str, Any] | None" = None,
        schema: str | None = None,
    ) -> DataFrame:
        """Full scan or inclusive key-range read.

        ``bloom_point={col: value}`` is the EQUALITY companion to
        ``stats_bounds`` for tables created with ``bloom_columns``:
        (segment, bucket) leaves whose Bloom filter proves
        the value absent are skipped before the scan plans. Built for
        high-cardinality columns where min/max ranges never prune
        (ids, hashes, emails): at 100 TB a needle-in-haystack point
        read touches only the leaves whose filter fires, ~1% false-
        positive extra opens at the default sizing. The equality is
        re-applied as an ordinary pushed filter, so semantics are
        exactly ``WHERE col = value`` regardless of what was skipped;
        missing filters (pre-bloom segments) are always read.

        ``stats_bounds={col: (lo, hi)}`` (either side may be None) is
        the NON-KEY range read for tables created with
        ``stats_columns``: (segment, bucket) leaves whose recorded
        [min, max] provably miss the range are skipped before the scan
        plans — at 100 TB that skips file OPENS, a tier above parquet
        row-group pruning (which still applies to the survivors via
        the same bounds pushed as ordinary filters). The filter is
        also applied to the returned rows, so semantics are exactly
        ``WHERE lo <= col <= hi`` regardless of how much was skipped;
        segments written before stats existed are read (never
        silently dropped). Effectiveness tracks how the stat column
        correlates with SEGMENT boundaries: time-ordered ingest gives
        each appended segment a tight window (the common case —
        event-time reads skip every other day's segments), while a
        column uniform across every write prunes nothing.

        ``version=N`` time-travels to snapshot N (see ``history()``):
        the scan plans against that manifest's segment paths — same
        pruning, pushdown, and current-meta schema (columns evolved
        later read as NULL in old snapshots). Snapshots stay readable
        until ``vacuum()`` deletes their segments. ``as_of=<epoch
        seconds>`` is the TIMESTAMP AS OF form: it resolves to the
        version current at that instant (:meth:`version_as_of`) and
        reads it; mutually exclusive with ``version``.

        Single key: scalar bounds, ``lowest <= k <= highest``, either
        side optional (reference:pandabase/sql.py:383-399). Composite
        key: tuple bounds, one slot per key column, each non-None slot
        filtering ITS OWN column independently (conjunction, NOT
        lexicographic — reference:pandabase/sql.py:406-430, semantics
        matrix reference:tests/test_sql.py:197-219). Bound type is
        validated against the key schema up front (stronger than the
        reference's empty-result-only guard, reference:sql.py:401-404).

        All predicates are plain Catalyst filters → pushed to Parquet
        row-group stats. A fully-specified point lookup
        (lowest == highest, no None slots) prunes to one hash bucket's
        paths before the scan even starts. Projection via ``columns``
        prunes the scan column set.
        """
        table_name = self._qualify(table_name, schema)
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version= or as_of=, not both")
            version = self.version_as_of(table_name, as_of)
        m = self.meta(table_name)
        if self.has_table(table_name):
            # point-lookup bucket pruning must hash under the TARGET
            # snapshot's recorded bucket count (rebucket evolution) —
            # the same pinned manifest then serves the scan
            _man = self._manifest(table_name, version=version)
            m = self._resolve_nb(m, _man)
        else:
            _man = None
        nkeys = len(m.keys)

        def norm_bound(bound):
            if bound is None:
                return None
            if nkeys == 1:
                bound = (bound,)
            if not isinstance(bound, (tuple, list)):
                raise ValueError(
                    f"bound {bound!r} must have {nkeys} elements for a "
                    f"{nkeys}-key table"
                )
            if len(bound) != nkeys:
                raise ValueError(
                    f"bound {bound!r} has {len(bound)} slots, table has {nkeys} keys"
                )
            return tuple(bound)

        lo, hi = norm_bound(lowest), norm_bound(highest)

        buckets = None
        if (
            lo is not None
            and hi is not None
            and lo == hi
            and all(b is not None for b in lo)
        ):
            # point lookup → single-bucket path pruning, the bucket
            # folded on the driver from a one-row local frame
            buckets = [
                self._key_bucket(
                    local_frame(
                        self.spark,
                        [tuple(lo)],
                        T.StructType([m.schema[k] for k in m.keys]),
                    ),
                    m,
                )
            ]
        # first-key bounds prune leaves by their recorded key ranges
        key_bounds = tuple(
            None if bound is None or bound[0] is None
            else _key_bound(bound[0], m.schema[m.keys[0]].dataType)
            for bound in (lo, hi)
        )
        if key_bounds == (None, None):
            key_bounds = None

        bloom_probe = None
        if bloom_point:
            tbl_schema = m.schema
            for col in bloom_point:
                if col not in tbl_schema.names:
                    raise NameError(
                        f"bloom_point column {col!r} not in table"
                    )
            bloom_probe = {
                col: self._bloom_positions(val, tbl_schema[col].dataType)
                for col, val in bloom_point.items()
            }
        # ONE load of the skipping metadata (and the meta already in
        # hand) serves the selectivity gate and the leaf pruning
        skip = (
            self._skipping(table_name, _man, m)
            if (stats_bounds or bloom_probe or key_bounds) and _man is not None
            else None
        )
        # Selectivity-gated skipping (the sketch surface consumed as
        # a planner primitive): for a bounds column that also carries
        # segment sketches, estimate the range's row fraction first;
        # an unselective range (> STATS_PROBE_MAX_FRAC of the table)
        # skips the per-leaf min/max probe — it would prune ~nothing —
        # and warns the caller. The decision trail is kept on
        # ``_last_range_decision`` for tests/introspection. Bounds
        # still re-apply as pushed filters, so results never change.
        eff_bounds = stats_bounds
        self._last_range_decision = None
        if stats_bounds:
            eff: dict = {}
            decision: dict = {}
            for col, (slo, shi) in stats_bounds.items():
                info: dict = {"probed": True}
                if col in m.sketch_columns and _man is not None:
                    try:
                        # decode from the ALREADY-pinned manifest and
                        # estimate range + total in ONE tiny job —
                        # no extra manifest fetch, no second pass; an
                        # uncovered leaf raises ValueError (probe)
                        entries = self._sketch_entries(
                            table_name, _man, col, skip
                        )
                        if not entries:
                            raise ValueError("no live segments")
                        est, tot = self._kll_range_estimate(
                            entries,
                            float(slo) if slo is not None else None,
                            float(shi) if shi is not None else None,
                        )
                        frac = est / tot if tot else 0.0
                        info = {
                            "est_rows": est,
                            "total_est": tot,
                            "frac": frac,
                            "probed": frac <= STATS_PROBE_MAX_FRAC,
                        }
                        if not info["probed"]:
                            import warnings

                            warnings.warn(
                                f"stats_bounds on {col!r} matches "
                                f"~{frac:.0%} of {table_name!r} "
                                "(sketch estimate); skipping the "
                                "min/max leaf probe — consider a "
                                "tighter range",
                                stacklevel=2,
                            )
                    except (TypeError, ValueError):
                        pass  # non-numeric bounds: probe as before
                if info["probed"]:
                    eff[col] = (slo, shi)
                decision[col] = info
            self._last_range_decision = decision
            eff_bounds = eff or None
        df = self._read_raw(
            table_name,
            buckets=buckets,
            manifest=_man,
            stats_bounds=eff_bounds,
            bloom_probe=bloom_probe,
            m=m,
            skip=skip,
            key_bounds=key_bounds,
        )
        if bloom_point:
            for col, val in bloom_point.items():
                df = df.where(F.col(col) == val)
        if stats_bounds:
            for col, (slo, shi) in stats_bounds.items():
                if col not in df.columns:
                    raise NameError(f"stats_bounds column {col!r} not in table")
                if slo is not None:
                    df = df.where(F.col(col) >= slo)
                if shi is not None:
                    df = df.where(F.col(col) <= shi)

        for bound, is_lower in ((lo, True), (hi, False)):
            if bound is None:
                continue
            for k, b in zip(m.keys, bound):
                if b is None:
                    continue
                self._check_bound_type(df.schema[k].dataType, b, k)
                df = df.where(F.col(k) >= b if is_lower else F.col(k) <= b)
        if columns is not None:
            need = [c for c in df.columns if c in set(columns) | set(m.keys)]
            df = df.select(*need)
        return df

    @staticmethod
    def _check_bound_type(dt: T.DataType, bound: Any, key: str) -> None:
        """Type guard for range bounds (reference:pandabase/sql.py:401-404,
        432-444 raises TypeError when an incompatible bound returns no
        rows; here the check is unconditional — cheaper and stricter)."""
        import datetime

        logical = spark_to_logical(dt)
        allowed = {
            "integer": (int,),
            "float": (int, float),
            "datetime": (datetime.datetime, datetime.date, pd.Timestamp),
            "string": (str,),
            "boolean": (bool, int),
        }
        if logical not in allowed:
            raise TypeError(
                f"key {key} has non-orderable type {dt.simpleString()}; "
                f"range bounds are not supported on it"
            )
        ok = allowed[logical]
        if isinstance(bound, bool) and logical in ("integer", "float"):
            raise TypeError(f"bound {bound!r} is boolean but key {key} is {logical}")
        if not isinstance(bound, ok):
            raise TypeError(
                f"bound {bound!r} ({type(bound).__name__}) incompatible with "
                f"key {key} of type {dt.simpleString()}"
            )

    def read_pandas(self, table_name: str, **kwargs) -> pd.DataFrame:
        """API-parity adapter: read with key→index restoration and the
        reference's dtype conventions (ints/bools → nullable Int64,
        datetimes → UTC; reference:pandabase/sql.py:449-506). Collects to
        the driver — only for small result sets; the distributed API is
        read_table."""
        table_name = self._qualify(table_name, kwargs.pop("schema", None))
        m = self.meta(table_name)
        df = self.read_table(table_name, **kwargs)
        pdf = df.toPandas()
        for f in df.schema.fields:
            if isinstance(f.dataType, (T.TimestampType,)):
                pdf[f.name] = pd.to_datetime(pdf[f.name], utc=True)
            elif isinstance(f.dataType, (T.LongType, T.IntegerType)):
                pdf[f.name] = pdf[f.name].astype("Int64")
        if m.auto_index:
            pdf = pdf.set_index(AUTO_INDEX_NAME)
            pdf.index.name = None
        else:
            pdf = pdf.set_index(m.keys if len(m.keys) > 1 else m.keys[0])
            # legacy auto-index recognition (reference:pandabase/sql.py:466):
            # a single key named pandabase_auto_generated_index or the old
            # pandabase_default_index* (random-suffixed) form is an
            # auto-generated index — suppress its name like auto_index does
            if len(m.keys) == 1 and (
                m.keys[0] == AUTO_INDEX_NAME
                or m.keys[0][:23] == "pandabase_default_index"
            ):
                pdf.index.name = None
        return pdf
