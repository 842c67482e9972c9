"""Write Delta Lake tables WITHOUT delta-spark — the export half of
the interop story (:mod:`delta_reader` is the import half): publish a
DataFrame as a Delta table any protocol-conformant engine (Spark +
delta-spark, DuckDB's delta extension, Trino, Polars) can read.

Protocol conformance (PROTOCOL.md, reader version 1 / writer 2):

- data files are plain parquet WITHOUT partition columns; partition
  values ride the log's per-file ``partitionValues`` (string-typed),
  exactly what partitioned Spark writes produce when the partition
  directories are stripped;
- each commit is one ``{v:020d}.json`` of newline-delimited actions
  (``commitInfo`` / ``protocol`` / ``metaData`` / ``add`` /
  ``remove``), claimed with PUT-IF-ABSENT — the same atomic
  primitive the keyed-table OCC uses (``HadoopFS
  .write_text_if_absent``: link(2) locally, create-no-overwrite on
  HDFS), which IS Delta's LogStore contract;
- concurrent writers: an append that loses the claim race RETRIES at
  the next version (appends are non-conflicting by definition); an
  overwrite recomputes its remove set against the NEW head before
  retrying — overwrite semantics are "replace whatever is live at
  commit time", so re-resolving is the correct conflict resolution,
  not an error;
- :func:`delta_checkpoint` writes the net-state checkpoint parquet +
  ``_last_checkpoint`` so long histories read in O(checkpoint +
  tail) — the same recovery path :func:`delta_reader.delta_scan`
  consumes, and what allows Delta's log cleanup.

Subset: no deletion vectors, no column mapping, no generated
columns — the writer never claims features it does not write
(``minWriterVersion`` 2, no feature lists), so conformant readers
accept the output without capability negotiation.

LogStore caveat (r13 verdict): put-if-absent is only atomic where
the filesystem provides a create-no-overwrite primitive — link(2)
locally, namenode-atomic rename on HDFS. S3-style object stores
WITHOUT conditional puts fall back to exists-check + rename, which
two same-instant writers can both win; Delta itself requires an
external coordination LogStore there (e.g. a DynamoDB-backed one).
Writing to such a scheme emits a ``UserWarning`` once per call site
— single-writer deployments may proceed; multi-writer ones must not.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from pandabase_spark.fs import HadoopFS
from pandabase_spark.sources.delta_reader import (
    LOG_SUBDIR,
    DeltaProtocolError,
    _replay,
)
from pandabase_spark.types import stat_json


def _unescape_hive(name: str) -> "str | None":
    """Hive directory value -> the log's partitionValue: ``%XX``
    unescaped (shared decoder in :mod:`pandabase_spark.fs`), and the
    null sentinel directory mapped back to JSON null — the protocol
    serializes null partition values as null, not as the literal
    sentinel string (r13 review finding)."""
    from pandabase_spark.fs import unescape_partition

    if name == "__HIVE_DEFAULT_PARTITION__":
        return None
    return unescape_partition(name)


_OBJECT_STORE_SCHEMES = ("s3:", "s3a:", "s3n:", "abfs:", "abfss:",
                         "gs:", "oss:", "wasb:", "wasbs:", "cos:")


def _warn_if_object_store(table: str) -> bool:
    """Emit the LogStore caveat when ``table`` lives on an object
    store without an atomic create-no-overwrite primitive: commits
    there are exists-check + rename (two same-instant writers can
    both win) and need an external coordination LogStore for
    multi-writer safety. Returns whether the warning fired."""
    if table.startswith(_OBJECT_STORE_SCHEMES):
        import warnings

        warnings.warn(
            "Delta commit on an object store without conditional "
            f"puts ({table.split(':', 1)[0]}:): put-if-absent "
            "degrades to check-then-act; concurrent writers need an "
            "external coordination LogStore (single-writer use is "
            "fine)",
            UserWarning,
            stacklevel=3,
        )
        return True
    return False


def _statable(dt) -> bool:
    from pyspark.sql import types as T

    return isinstance(dt, (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType, T.StringType,
        T.DateType, T.TimestampType, T.TimestampNTZType,
    ))


def _collect_staged_stats(
    df: DataFrame, table: str, sub: str, data_cols: "list"
) -> "dict[str, str]":
    """Per-file stats for every parquet just staged under
    ``table/sub``: {root-relative raw path: stats JSON} with Delta's
    four skipping fields (numRecords/minValues/maxValues/nullCount).
    ONE distributed aggregation over the staged data grouped by
    ``_metadata.file_path`` — no driver-side footer reads, the same
    write-time stats pass delta-spark runs."""
    from pyspark.sql import functions as F

    from pandabase_spark.sources.delta_reader import _qualified_root

    from pyspark.sql.types import StructField, StructType

    spark = df.sparkSession
    cols = [(f_.name, f_.dataType) for f_ in data_cols]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, dt in cols:
        aggs.append(
            (F.count(F.lit(1)) - F.count(F.col(name))).alias(f"__z_{name}")
        )
        if _statable(dt):
            aggs.append(F.min(name).alias(f"__mn_{name}"))
            aggs.append(F.max(name).alias(f"__mx_{name}"))
    root_raw = _qualified_root(spark, table)
    # the staged files were written from df this instant — their data
    # schema is data_cols by construction, so pass it instead of
    # letting the reader run a footer-inference job per commit (1 of
    # the 3 Spark jobs every commit's stats pass was paying; hive
    # partition columns are deliberately absent, stats cover data
    # columns only)
    staged_schema = StructType(
        [StructField(n, dt, True) for n, dt in cols]
    )
    # group on the RAW file path and derive the root-relative decoded
    # path AFTER the aggregation: url_decode+substring on the grouping
    # key ran per ROW (O(rows) string work and a wider shuffle key);
    # as a post-agg projection it runs once per FILE (r15, guide §2.3)
    per_file = (
        spark.read.schema(staged_schema).parquet(f"{table}/{sub}")
        .groupBy(F.col("_metadata.file_path").alias("__fp"))
        .agg(*aggs)
        .withColumn(
            "__rel",
            F.expr(f"substring(url_decode(__fp), {len(root_raw) + 2})"),
        )
        .collect()
    )
    out: "dict[str, str]" = {}
    for r in per_file:
        mn, mx, nulls = {}, {}, {}
        for name, dt in cols:
            nulls[name] = int(r[f"__z_{name}"])
            if _statable(dt):
                v = stat_json(r[f"__mn_{name}"])
                if v is not None:
                    mn[name] = v
                v = stat_json(r[f"__mx_{name}"])
                if v is not None:
                    mx[name] = v
        out[r["__rel"]] = json.dumps({
            "numRecords": int(r["__n"]),
            "minValues": mn,
            "maxValues": mx,
            "nullCount": nulls,
        })
    return out


def _stage_data_files(
    df: DataFrame, table: str, partition_by: "Sequence[str]",
    collect_stats: bool = True,
) -> "tuple[str, list[dict]]":
    """Write ``df``'s data as protocol-shaped parquet files under a
    unique commit directory and return ``(staged_subdir,
    add-action dicts)`` (root-relative paths, string
    partitionValues). A partitioned write drops the partition columns
    from the files (the Delta shape) and encodes their values in hive
    directories, which are parsed into partitionValues and kept —
    readers never rely on them, but path-style layout keeps the table
    human-navigable. Callers DELETE the staged subdir when the commit
    fails — an unreferenced c-<uuid> directory would otherwise leak
    forever (no tombstone will ever cover it; r13 advisory)."""
    fs = HadoopFS(df.sparkSession)
    sub = f"c-{uuid.uuid4().hex[:12]}"
    staged = f"{table}/{sub}"
    w = df.write.mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staged)
    data_fields = [
        f_ for f_ in df.schema.fields if f_.name not in partition_by
    ]
    # the stats pass re-reads the staged parquet, but Catalyst prunes
    # the scan to the statable columns only (columnar IO, not a full
    # re-read); callers with huge opaque payloads can still opt out
    stats_by_rel = (
        _collect_staged_stats(df, table, sub, data_fields)
        if collect_stats else {}
    )
    adds: "list[dict]" = []
    now = int(time.time() * 1000)

    def walk(rel_dir: str, pvals: "dict[str, str]") -> None:
        full = f"{table}/{rel_dir}"
        for d in fs.list_dirs(full):
            if "=" in d:
                k, _, v = d.partition("=")
                walk(f"{rel_dir}/{d}", {**pvals, k: _unescape_hive(v)})
        for f_ in fs.list_files(full):
            if not f_.endswith(".parquet"):
                continue
            # add.path is URL-ENCODED per the protocol (RFC 2396) —
            # the reader (ours and every conformant engine) unquotes
            # it before touching the filesystem, so a hive-escaped
            # directory like k=a%3Ab must be logged as k=a%253Ab
            # (r13 review finding)
            from urllib.parse import quote

            act = {
                "path": quote(f"{rel_dir}/{f_}", safe="/"),
                "partitionValues": dict(pvals),
                "size": int(fs.du(f"{full}/{f_}")),
                "modificationTime": now,
                "dataChange": True,
            }
            stats = stats_by_rel.get(f"{rel_dir}/{f_}")
            if stats is not None:
                act["stats"] = stats
            adds.append(act)

    walk(sub, {})
    return sub, adds


def _check_writer_protocol(state: dict, *, removes: bool) -> None:
    """Refuse tables whose WRITER-side invariants this subset cannot
    honor (r13 review finding — PROTOCOL.md requires a writer to
    refuse when minWriterVersion exceeds what it implements): this
    writer implements version 2, which means it must ENFORCE
    appendOnly (refuse removes on ``delta.appendOnly=true`` tables)
    and must refuse tables carrying column invariants it cannot
    validate. Higher writer versions / feature lists refuse
    outright."""
    proto = state.get("protocol") or {}
    mwv = int(proto.get("minWriterVersion") or 1)
    if mwv > 2 or proto.get("writerFeatures"):
        raise DeltaProtocolError(
            f"table requires writer version {mwv} "
            f"(features {proto.get('writerFeatures')}); this writer "
            "implements version 2"
        )
    meta = state.get("metadata_raw") or {}
    conf = meta.get("configuration") or {}
    if removes and str(conf.get("delta.appendOnly", "false")).lower() == (
        "true"
    ):
        raise DeltaProtocolError(
            "table is delta.appendOnly=true: removes are forbidden"
        )
    for f_ in state["schema"].fields:
        if f_.metadata and "delta.invariants" in f_.metadata:
            raise DeltaProtocolError(
                f"column {f_.name!r} carries an invariant this writer "
                "cannot validate"
            )


def _align_frame(df: DataFrame, state: dict) -> DataFrame:
    """Reorder ``df`` to the table schema by name, REFUSING missing or
    extra columns and type mismatches — a name-only select would
    silently truncate extras and durably commit wrongly-typed parquet
    (r13 review finding)."""
    want = {f_.name: f_.dataType for f_ in state["schema"].fields}
    have = {f_.name: f_.dataType for f_ in df.schema.fields}
    missing = [c for c in want if c not in have]
    extra = [c for c in have if c not in want]
    if missing or extra:
        raise NameError(
            f"frame does not match the Delta table schema "
            f"(missing {missing}, extra {extra})"
        )
    wrong = [
        (c, str(have[c]), str(want[c]))
        for c in want if have[c] != want[c]
    ]
    if wrong:
        raise TypeError(
            f"column type mismatch vs the Delta table schema: {wrong}"
        )
    return df.select(*want)


def _claim(fs, log_dir: str, actions: "list[dict]", v: int) -> bool:
    text = "\n".join(json.dumps(a) for a in actions)
    return fs.write_text_if_absent(f"{log_dir}/{v:020d}.json", text)


def _latest_version(fs, log_dir: str) -> int:
    best = -1
    for n in fs.list_files(log_dir):
        if n.endswith(".json") and n[:-5].isdigit():
            best = max(best, int(n[:-5]))
    return best


def delta_create(
    df: DataFrame,
    table: str,
    *,
    partition_by: "Sequence[str] | None" = None,
    collect_stats: bool = True,
) -> None:
    """Create a NEW Delta table at ``table`` from ``df`` (version 0:
    protocol + metaData + the initial adds). Raises if a Delta log
    already exists there."""
    spark = df.sparkSession
    fs = HadoopFS(spark)
    log_dir = f"{table}/{LOG_SUBDIR}"
    if fs.exists(log_dir) and fs.list_files(log_dir):
        raise FileExistsError(f"Delta table already exists at {table}")
    partition_by = list(partition_by or [])
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise NameError(f"partition columns not in frame: {missing}")
    _warn_if_object_store(table)
    fs.mkdirs(log_dir)
    sub, adds = _stage_data_files(
        df, table, partition_by, collect_stats=collect_stats
    )
    actions = [
        {"commitInfo": {"operation": "CREATE TABLE AS SELECT",
                        "timestamp": int(time.time() * 1000)}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": uuid.uuid4().hex,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": partition_by,
            "configuration": {},
            "createdTime": int(time.time() * 1000),
        }},
        *({"add": a} for a in adds),
    ]
    if not _claim(fs, log_dir, actions, 0):
        # the staged data was written before the claim; losing the
        # race must not leak it (no tombstone will ever cover it)
        fs.delete(f"{table}/{sub}")
        raise FileExistsError(
            f"lost the version-0 claim race at {table}"
        )


def _commit_with_retry(
    spark: SparkSession,
    table: str,
    build: "callable",
    *,
    max_attempts: int = 30,
    initial_state: "dict | None" = None,
) -> int:
    """Claim the next version with ``build(state) -> [actions]``
    re-evaluated against the FRESH head on every retry — Delta's
    optimistic-commit loop over the put-if-absent LogStore primitive.
    The caller's already-replayed state seeds attempt 1 (the common
    uncontended case pays ONE log replay, not two)."""
    fs = HadoopFS(spark)
    log_dir = f"{table}/{LOG_SUBDIR}"
    for attempt in range(max_attempts):
        state = (
            initial_state
            if attempt == 0 and initial_state is not None
            else _replay(spark, table, None)
        )
        v = max(
            int(state["version"]), _latest_version(fs, log_dir)
        ) + 1
        if _claim(fs, log_dir, build(state), v):
            return v
    raise RuntimeError(
        f"could not claim a Delta commit at {table} after "
        f"{max_attempts} attempts"
    )


def _cleanup_staged_if_unreferenced(
    spark: SparkSession, table: str, sub: str, since_version: int
) -> None:
    """Delete the staged ``c-<uuid>`` directory UNLESS a commit newer
    than ``since_version`` references it — the exception that aborted
    the commit loop may have landed AFTER the claim succeeded
    (interrupt between the durable put-if-absent and the return), and
    deleting the data files of a committed version corrupts the table
    permanently (r14 review finding). The uuid-unique subdir name
    appearing in any tail commit's JSON is proof of reference."""
    fs = HadoopFS(spark)
    log_dir = f"{table}/{LOG_SUBDIR}"
    from pandabase_spark.sources.delta_reader import _commit_version

    try:
        for n in fs.list_files(log_dir):
            v = _commit_version(n)
            if v is not None and v > since_version:
                if sub in fs.read_text(f"{log_dir}/{n}"):
                    return
    except Exception:
        return  # cannot prove it is unreferenced: keep the files
    fs.delete(f"{table}/{sub}")


def _recheck_head(fresh: dict, staged_against: dict, *,
                  removes: bool) -> None:
    """Re-validate the table's writer invariants against the FRESH
    head inside the commit loop (r13 advisory): a rival's metadata
    change landing mid-loop — protocol upgrade, appendOnly flip,
    schema change — must fail the commit, not be silently ignored
    (the staged parquet was typed against the OLD schema)."""
    _check_writer_protocol(fresh, removes=removes)
    old_meta = staged_against.get("metadata_raw") or {}
    new_meta = fresh.get("metadata_raw") or {}
    if old_meta.get("schemaString") != new_meta.get("schemaString"):
        raise DeltaProtocolError(
            "concurrent metadata change: the table schema moved "
            "while this commit was staging (staged files are typed "
            "against the old schema) — re-run the write"
        )
    if (
        old_meta.get("partitionColumns") or []
    ) != (new_meta.get("partitionColumns") or []):
        raise DeltaProtocolError(
            "concurrent metadata change: partitionColumns moved "
            "while this commit was staging — re-run the write"
        )


def delta_append(
    df: DataFrame, table: str, *, collect_stats: bool = True
) -> int:
    """Append ``df`` to an existing Delta table (blind adds — the
    non-conflicting operation; a lost claim race simply retries at
    the next version, re-validating protocol/schema against the fresh
    head each attempt). Returns the committed version."""
    spark = df.sparkSession
    _warn_if_object_store(table)
    state = _replay(spark, table, None)
    _check_writer_protocol(state, removes=False)
    df = _align_frame(df, state)
    sub, adds = _stage_data_files(
        df, table, state["partition_columns"],
        collect_stats=collect_stats,
    )

    def build(fresh: dict) -> "list[dict]":
        _recheck_head(fresh, state, removes=False)
        return [
            {"commitInfo": {"operation": "WRITE",
                            "timestamp": int(time.time() * 1000)}},
            *({"add": a} for a in adds),
        ]

    try:
        return _commit_with_retry(
            spark, table, build, initial_state=state
        )
    except BaseException:
        _cleanup_staged_if_unreferenced(
            spark, table, sub, int(state["version"])
        )
        raise


def delta_overwrite(
    df: DataFrame, table: str, *, collect_stats: bool = True
) -> int:
    """Replace the table's contents with ``df``: remove everything
    live AT COMMIT TIME, add the new files. On a lost claim race the
    remove set is recomputed against the new head — overwrite means
    "replace whatever is there", so re-resolution is the semantics,
    not a conflict — while protocol/schema invariants are re-checked
    against that head (an appendOnly flip or schema change fails the
    commit). Returns the committed version."""
    spark = df.sparkSession
    _warn_if_object_store(table)
    state = _replay(spark, table, None)
    _check_writer_protocol(state, removes=True)
    df = _align_frame(df, state)
    sub, adds = _stage_data_files(
        df, table, state["partition_columns"],
        collect_stats=collect_stats,
    )

    def build(fresh: dict) -> "list[dict]":
        _recheck_head(fresh, state, removes=True)
        now = int(time.time() * 1000)
        return [
            {"commitInfo": {"operation": "WRITE", "timestamp": now,
                            "operationParameters": {"mode": "Overwrite"}}},
            *(
                {"remove": {
                    "path": p, "deletionTimestamp": now,
                    "dataChange": True,
                    # extendedFileMetadata: partitionValues/size let
                    # CDF readers attribute synthesized deletes and
                    # let vacuum/tooling reason without the add
                    "extendedFileMetadata": True,
                    "partitionValues": dict(
                        fresh["files"][p].get("partitionValues") or {}
                    ),
                    "size": int(fresh["files"][p].get("size") or 0),
                }}
                for p in sorted(fresh["files"])
            ),
            *({"add": a} for a in adds),
        ]

    try:
        return _commit_with_retry(
            spark, table, build, initial_state=state
        )
    except BaseException:
        _cleanup_staged_if_unreferenced(
            spark, table, sub, int(state["version"])
        )
        raise


def delta_vacuum(
    spark: SparkSession,
    table: str,
    *,
    retention_ms: "int | None" = None,
    enforce_retention_floor: bool = True,
    dry_run: bool = False,
) -> "list[str]":
    """Delete data files under ``table`` that the CURRENT version no
    longer references and whose age exceeds the retention window —
    Delta's VACUUM, driven by the same log replay the reader uses.
    Returns the table-root-relative paths removed (or, with
    ``dry_run=True``, the paths that WOULD be).

    Kept, always: live data files, DV sidecars referenced by live
    adds, and everything under ``_delta_log``. Kept while young:
    anything modified inside the retention window — that covers
    within-retention tombstones (time travel inside the window stays
    intact) AND files a concurrent in-flight commit has staged but
    not yet claimed, the same grace Delta's vacuum gives. Orphans
    from failed commits age out and are collected here.

    ``retention_ms`` defaults to the table's
    ``delta.deletedFileRetentionDuration`` (protocol default 1 week).
    Shortening it below 1 hour risks breaking readers of the current
    snapshot mid-flight, so it raises unless
    ``enforce_retention_floor=False`` (mirrors delta-spark's
    ``retentionDurationCheck.enabled``).

    The walk lists the table directory on the driver — O(files),
    the same planning state every Delta vacuum implementation holds;
    the deletes themselves are metadata calls, no data moves."""
    from pandabase_spark.sources.dv import dv_relative_path

    fs = HadoopFS(spark)
    state = _replay(spark, table, None)
    meta = state.get("metadata_raw") or {}
    if retention_ms is None:
        retention_ms = _retention_ms(meta)
    if enforce_retention_floor and retention_ms < 3_600_000:
        raise ValueError(
            f"retention {retention_ms}ms is below the 1h safety floor "
            "— pass enforce_retention_floor=False to override "
            "(single-writer test/maintenance use only)"
        )
    from urllib.parse import unquote

    keep: "set[str]" = set()
    for add in state["files"].values():
        p = add["path"]
        keep.add(p if "://" in p else unquote(p))
        dv = add.get("deletionVector")
        if dv and str(dv.get("storageType")) == "u":
            keep.add(dv_relative_path(str(dv["pathOrInlineDv"])))
    now_ms = int(time.time() * 1000)
    # a tombstoned file's age is its REMOVAL time, not its mtime — an
    # old file overwritten a minute ago must survive the full window
    # (delta-spark keys vacuum eligibility on deletionTimestamp; the
    # mtime of a file written 30 days ago says nothing about when it
    # left the table — r14 review finding)
    for rm in state.get("tombstones", {}).values():
        if now_ms - int(rm.get("deletionTimestamp") or 0) < retention_ms:
            rel = rm["path"]
            keep.add(rel if "://" in rel else unquote(rel))
    horizon = time.time() - retention_ms / 1000.0

    removed: "list[str]" = []

    def walk(rel: str) -> bool:
        """Sweep one directory; True if it ended up empty (post-order,
        so staged c-<uuid>/p=.../ shells collapse bottom-up). Hidden
        files (Hadoop ``.crc`` checksum sidecars, ``_SUCCESS``
        markers) are never aged on their own: they follow their
        directory's DATA files — removed only when no data file
        survives beside them, so a live parquet never loses its
        sidecar and emptied staging shells still collapse."""
        full = f"{table}/{rel}" if rel else table
        empty = True
        for d in fs.list_dirs(full):
            if not rel and d == LOG_SUBDIR:
                empty = False
                continue
            sub = f"{rel}/{d}" if rel else d
            if walk(sub):
                if not dry_run:
                    fs.delete(f"{table}/{sub}")
            else:
                empty = False
        names = fs.list_files(full)
        hidden = [
            f_ for f_ in names
            if f_.startswith(".") or f_.startswith("_")
        ]
        data_survives = False
        for f_ in names:
            if f_ in hidden:
                continue
            frel = f"{rel}/{f_}" if rel else f_
            if frel in keep or fs.mtime(f"{full}/{f_}") >= horizon:
                data_survives = True
                continue
            removed.append(frel)
            if not dry_run:
                fs.delete(f"{full}/{f_}", recursive=False)
        if data_survives:
            empty = False
        elif hidden and rel and empty:
            # marker/sidecar files go with their directory — deleted
            # only when nothing else (data OR subdirectory) survived
            # beneath it; root-level hidden files are never touched
            for f_ in hidden:
                removed.append(f"{rel}/{f_}")
                if not dry_run:
                    fs.delete(f"{full}/{f_}", recursive=False)
        elif hidden:
            empty = False
        return empty

    walk("")
    return sorted(removed)


_DEFAULT_TOMBSTONE_RETENTION_MS = 7 * 24 * 3600 * 1000  # Delta's default


def _retention_ms(meta: dict) -> int:
    """``delta.deletedFileRetentionDuration`` in ms — Delta spells it
    ``interval <n> <unit>``; unknown spellings fall back to the
    protocol default (1 week)."""
    import re

    raw = str(
        (meta.get("configuration") or {}).get(
            "delta.deletedFileRetentionDuration", ""
        )
    ).strip().lower()
    m = re.fullmatch(
        r"(?:interval\s+)?(\d+)\s+"
        r"(second|minute|hour|day|week)s?", raw,
    )
    if not m:
        return _DEFAULT_TOMBSTONE_RETENTION_MS
    n = int(m.group(1))
    unit_ms = {
        "second": 1000, "minute": 60_000, "hour": 3_600_000,
        "day": 86_400_000, "week": 604_800_000,
    }[m.group(2)]
    return n * unit_ms


def delta_checkpoint(spark: SparkSession, table: str) -> int:
    """Write the classic checkpoint for the table's LATEST version
    (net state: protocol + FULL metaData + live adds + within-
    retention remove tombstones) plus ``_last_checkpoint`` — after
    which commits at or below it may be cleaned up and readers pay
    O(checkpoint + tail). Returns the checkpointed version.

    Fidelity requirements (r13 advisory): after log cleanup the
    checkpoint is the only surviving copy of metaData and of recent
    tombstones, so it must carry the REQUIRED ``format`` field (and
    createdTime) — a conformant reader reconstructs Metadata from it
    verbatim — and the remove actions still inside
    ``delta.deletedFileRetentionDuration``, or third-party vacuum
    would never see them."""
    fs = HadoopFS(spark)
    state = _replay(spark, table, None)
    v = int(state["version"])
    log_dir = f"{table}/{LOG_SUBDIR}"
    meta = state.get("metadata_raw") or {}
    proto = state.get("protocol") or {
        "minReaderVersion": 1, "minWriterVersion": 2,
    }
    fmt = meta.get("format") or {"provider": "parquet", "options": {}}
    rows = [
        # protocol VERBATIM incl. feature lists — dropping
        # readerFeatures from a (3,7) table would emit an invalid
        # protocol after log cleanup (r14 review finding)
        ({
            "minReaderVersion": int(proto.get("minReaderVersion") or 1),
            "minWriterVersion": int(proto.get("minWriterVersion") or 2),
            "readerFeatures": (
                list(proto["readerFeatures"])
                if proto.get("readerFeatures") else None
            ),
            "writerFeatures": (
                list(proto["writerFeatures"])
                if proto.get("writerFeatures") else None
            ),
        }, None, None, None),
        # the table's ACTUAL metaData — a fabricated id/configuration
        # would survive log cleanup and silently replace the real one
        # (r13 review finding: table-id churn aborts delta-spark
        # streaming readers; dropped configuration loses appendOnly)
        (None, {
            "id": str(meta.get("id") or uuid.uuid4().hex),
            "format": {
                "provider": str(fmt.get("provider") or "parquet"),
                "options": {
                    str(k): str(val)
                    for k, val in (fmt.get("options") or {}).items()
                },
            },
            "schemaString": meta.get("schemaString")
            or state["schema"].json(),
            "partitionColumns": list(state["partition_columns"]),
            "configuration": {
                str(k): str(val)
                for k, val in (meta.get("configuration") or {}).items()
            },
            "createdTime": int(meta.get("createdTime") or 0),
        }, None, None),
    ]
    for add in state["files"].values():
        dv = add.get("deletionVector")
        rows.append((None, None, {
            "path": add["path"],
            "partitionValues": dict(add.get("partitionValues") or {}),
            "size": int(add.get("size") or 1),
            "modificationTime": int(add.get("modificationTime") or 0),
            "dataChange": False,
            # replay parses stats to a dict; the checkpoint carries
            # them back as the protocol's JSON string, so skipping
            # survives log cleanup
            "stats": (
                json.dumps(add["stats"]) if add.get("stats") else None
            ),
            # the DV descriptor MUST survive the checkpoint — without
            # it a replay from the checkpoint serves the file
            # unfiltered and deleted rows resurrect (r14 review
            # finding)
            "deletionVector": (
                {
                    "storageType": str(dv.get("storageType") or ""),
                    "pathOrInlineDv": str(
                        dv.get("pathOrInlineDv") or ""
                    ),
                    "offset": (
                        int(dv["offset"])
                        if dv.get("offset") is not None else None
                    ),
                    "sizeInBytes": int(dv.get("sizeInBytes") or 0),
                    "cardinality": int(dv.get("cardinality") or 0),
                }
                if dv else None
            ),
        }, None))
    horizon = int(time.time() * 1000) - _retention_ms(meta)
    for rm in state.get("tombstones", {}).values():
        if int(rm.get("deletionTimestamp") or 0) >= horizon:
            rows.append((None, None, None, {
                "path": rm["path"],
                "deletionTimestamp": int(
                    rm.get("deletionTimestamp") or 0
                ),
                "dataChange": False,
            }))
    ck_schema = (
        "protocol struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>,writerFeatures:array<string>>, "
        "metaData struct<id:string,"
        "format:struct<provider:string,options:map<string,string>>,"
        "schemaString:string,"
        "partitionColumns:array<string>,configuration:map<string,string>,"
        "createdTime:long>, "
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:long,modificationTime:long,dataChange:boolean,"
        "stats:string,deletionVector:struct<storageType:string,"
        "pathOrInlineDv:string,offset:int,sizeInBytes:int,"
        "cardinality:long>>, "
        "remove struct<path:string,deletionTimestamp:long,"
        "dataChange:boolean>"
    )
    tmp = f"{table}/_ckpt_tmp_{uuid.uuid4().hex[:8]}"
    from pandabase_spark.localframe import local_frame

    local_frame(spark, rows, ck_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = next(
        f for f in fs.list_files(tmp) if f.endswith(".parquet")
    )
    dest = f"{log_dir}/{v:020d}.checkpoint.parquet"
    fs.delete(dest, recursive=False)
    fs.rename_dir(f"{tmp}/{part}", dest)
    fs.delete(tmp)
    fs.write_text_atomic(
        f"{log_dir}/_last_checkpoint",
        json.dumps({"version": v, "size": len(rows)}),
    )
    return v
