"""Read Delta Lake tables WITHOUT delta-spark — log-replay reader.

Interop surface: a migration onto this engine usually starts next to
an existing lakehouse, and the most common ask is "read the Delta
table we already have". This module implements the READ side of the
public Delta transaction-log protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) directly
over the Hadoop FileSystem API:

- ``_delta_log/_last_checkpoint`` -> newest checkpoint (parquet,
  struct columns ``add`` / ``remove`` / ``metaData`` / ``protocol``),
  then the JSON commit tail replays on top — exactly the recovery
  path the protocol prescribes, so a 10^5-commit table costs one
  checkpoint read + the tail, not 10^5 JSON reads.
- action replay builds the LIVE file set (add wins, remove deletes;
  later versions override earlier ones), the current ``metaData``
  (schema + partition columns) and ``protocol``. Within-retention
  ``remove`` tombstones are kept alongside (``state["tombstones"]``)
  so a later checkpoint can carry them, per the protocol's checkpoint
  requirements.
- data files are opened as ONE Spark scan with an EXPLICIT schema
  (Delta data files do NOT contain partition columns); partition
  values come from the log's per-file ``partitionValues`` map and
  are attached by broadcast-joining ``_metadata.file_path`` against
  the log's file -> partitionValues mapping — one scan and one
  broadcast join for ANY number of live partition tuples (an earlier
  revision unioned one scan per tuple, which blows up driver plan
  analysis at the 10^4–10^5 tuples of a real date×hour table).
- ``partition_filter=`` prunes AT PLANNING TIME against the log's
  partition values: unmatched files never reach a Spark scan (the
  log IS the index — no directory listing at all, the property that
  matters on object stores).
- ``version=`` pins time travel: replay stops at that commit.
- column mapping in NAME mode is supported: data files carry
  physical column names (``delta.columnMapping.physicalName`` field
  metadata), the scan reads physical and aliases back to logical —
  the same evolved-read shape the keyed-table format uses for its
  own renames (io.py ``assemble``). ID mode stays refused.
- deletion vectors are DECODED and served (r14): each live file's DV
  (inline Z85 or a ``deletion_vector_*.bin`` sidecar, 64-bit roaring
  bitmap per the protocol's DV format) expands to (file, row index)
  pairs on the executors and anti-joins the scan's
  ``_metadata.row_index`` — deleted rows never surface, and a
  corrupt DV raises instead of resurrecting them
  (:mod:`pandabase_spark.sources.dv`).

Driver memory: replay holds (path, partitionValues, size) per LIVE
file — the same O(live files) planning state Spark's own FileIndex
(and delta-spark's) materializes on the driver; checkpoint rows are
trimmed to those fields before collect so tombstoned history and
stats strings never cross the wire.

Deliberate subset (raise, never silently misread):

- column mapping in ID mode (physical ids live in parquet field
  ids, a different resolution path than names);
- v2 checkpoints (sidecar manifest layout) and type widening;
- ``minReaderVersion`` > 3 or unknown reader features.

The reference has no lake interop at all (pandas + SQLAlchemy,
reference:pandabase/pandabase.py); this is engine extension surface.
Everything here derives from the public protocol document and the
Spark/DuckDB-visible on-disk format.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from pandabase_spark.fs import HadoopFS
from pandabase_spark.localframe import local_frame

LOG_SUBDIR = "_delta_log"

_BLOCKED_READER_FEATURES = {
    "v2Checkpoint": "v2 checkpoints (sidecar manifest layout)",
    "typeWidening": "type widening (file/logical types diverge)",
}
_KNOWN_OK_FEATURES = {
    # write-side features a reader may ignore per the protocol, plus
    # the read features this module implements: columnMapping gated
    # on the MODE (name ok, id refused) and deletionVectors (decoded
    # and anti-joined on _metadata.row_index, r14)
    "appendOnly", "invariants", "checkConstraints", "generatedColumns",
    "changeDataFeed", "identityColumns", "rowTracking", "domainMetadata",
    "timestampNtz", "vacuumProtocolCheck", "allowColumnDefaults",
    "icebergCompatV1", "icebergCompatV2", "columnMapping",
    "deletionVectors",
}

# files above this count skip the broadcast hint on the
# partition-value mapping join and let AQE pick the strategy — a
# 10^7-file mapping is shuffle-join territory, not a driver broadcast
_BROADCAST_MAPPING_MAX = 2_000_000

PHYSICAL_NAME_KEY = "delta.columnMapping.physicalName"


class DeltaProtocolError(ValueError):
    """The table needs a reader capability this subset refuses."""


def _commit_version(name: str) -> "int | None":
    """Version of a JSON commit file name (``{v:020d}.json``)."""
    if not name.endswith(".json"):
        return None
    stem = name[:-5]
    return int(stem) if stem.isdigit() else None


def _checkpoint_files(fs, log_dir: str, upto: "int | None") -> (
    "tuple[int, list[str]] | None"
):
    """Newest usable checkpoint at or below ``upto``: prefer
    ``_last_checkpoint`` (one read), fall back to listing. Returns
    (version, [checkpoint parquet paths]) — multi-part checkpoints
    (``{v}.checkpoint.{i}.{n}.parquet``) return every part."""
    names = fs.list_files(log_dir)
    best: "tuple[int, list[str]] | None" = None
    lc = f"{log_dir}/_last_checkpoint"
    if fs.exists(lc):
        try:
            meta = json.loads(fs.read_text(lc))
            v = int(meta["version"])
            if upto is None or v <= upto:
                parts = int(meta.get("parts", 0) or 0)
                if parts:
                    cand = [
                        f"{log_dir}/{v:020d}.checkpoint."
                        f"{i + 1:010d}.{parts:010d}.parquet"
                        for i in range(parts)
                    ]
                else:
                    cand = [f"{log_dir}/{v:020d}.checkpoint.parquet"]
                if all(fs.exists(c) for c in cand):
                    best = (v, cand)
        except Exception:
            best = None  # corrupt hint: fall back to the listing
    if best is None:
        singles: "dict[int, list[str]]" = {}
        multis: "dict[int, dict[int, tuple[int, str]]]" = {}
        for n in names:
            if not n.endswith(".parquet") or ".checkpoint" not in n:
                continue
            stem = n.split(".checkpoint", 1)[0]
            if not stem.isdigit():
                continue
            v = int(stem)
            if upto is not None and v > upto:
                continue
            tail = n.split(".checkpoint", 1)[1]
            if tail == ".parquet":
                singles.setdefault(v, []).append(f"{log_dir}/{n}")
            else:
                bits = tail.strip(".").split(".")
                if len(bits) == 3 and bits[0].isdigit() and bits[1].isdigit():
                    multis.setdefault(v, {})[int(bits[0])] = (
                        int(bits[1]), f"{log_dir}/{n}"
                    )
        # newest COMPLETE checkpoint wins — an incomplete (crashed)
        # newer multi-part must not mask an older complete one
        for v in sorted(singles, reverse=True):
            best = (v, singles[v])
            break
        for v in sorted(multis, reverse=True):
            if best is not None and v <= best[0]:
                break
            parts = multis[v]
            n_total = next(iter(parts.values()))[0]
            if len(parts) == n_total:
                best = (v, [parts[i][1] for i in sorted(parts)])
                break
    return best


def _trim_add(d: dict) -> dict:
    """An add action reduced to what planning needs — tags and any
    unknown fields never cross to the driver; stats are parsed down
    to the four skipping fields (numRecords/minValues/maxValues/
    nullCount — bounded by schema width, the same planning state
    delta-spark's snapshot holds)."""
    out = {
        "path": d["path"],
        "partitionValues": dict(d.get("partitionValues") or {}),
        "size": int(d.get("size") or 0),
        "modificationTime": int(d.get("modificationTime") or 0),
    }
    if d.get("deletionVector"):
        out["deletionVector"] = dict(d["deletionVector"])
    stats = _parse_stats(d.get("stats"))
    if stats is not None:
        out["stats"] = stats
    return out


def _parse_stats(raw) -> "dict | None":
    """add.stats JSON -> {numRecords, minValues, maxValues,
    nullCount} or None. Malformed stats degrade to None (the file is
    simply never skipped) — stats are an optimization, never a
    correctness input."""
    if not raw:
        return None
    try:
        if isinstance(raw, str):
            raw = json.loads(raw)
        if not isinstance(raw, dict):
            return None
        return {
            "numRecords": raw.get("numRecords"),
            "minValues": dict(raw.get("minValues") or {}),
            "maxValues": dict(raw.get("maxValues") or {}),
            "nullCount": dict(raw.get("nullCount") or {}),
        }
    except Exception:
        return None


def _collect_checkpoint(spark: SparkSession, parts: "list[str]") -> (
    "tuple[list[dict], list[dict], dict | None, dict | None]"
):
    """(adds, removes, metaData, protocol) from the checkpoint parquet,
    with add/remove rows TRIMMED executor-side before collect — the
    driver never holds stats/tags, only (path, partitionValues, size,
    modificationTime[, deletionVector])."""
    rows = spark.read.parquet(*parts)
    cols = set(rows.columns)
    adds: "list[dict]" = []
    removes: "list[dict]" = []
    # ONE scan + ONE collect for all four action kinds (r15, guide
    # §1.2): each checkpoint row carries exactly one non-null action,
    # so the four per-kind collects this replaces re-scanned the
    # checkpoint four times per replay — one job each — for rows that
    # one pass returns together. Executor-side trimming is unchanged:
    # the driver still only ever holds the projected fields.
    import functools
    import operator

    sel: list = []
    preds: list = []
    has_dv = has_stats = False
    if "add" in cols:
        add_fields = {
            f_.name for f_ in rows.schema["add"].dataType.fields
        }
        sel += [
            F.col("add.path").alias("__a_path"),
            F.col("add.partitionValues").alias("__a_pv"),
            F.col("add.size").alias("__a_size"),
            F.col("add.modificationTime").alias("__a_mt"),
        ]
        has_dv = "deletionVector" in add_fields
        if has_dv:
            sel.append(
                F.to_json(F.col("add.deletionVector")).alias("__a_dv")
            )
        has_stats = "stats" in add_fields
        if has_stats:
            sel.append(F.col("add.stats").alias("__a_stats"))
        preds.append(F.col("add.path").isNotNull())
    has_rm_ts = False
    if "remove" in cols:
        rm_fields = {
            f_.name for f_ in rows.schema["remove"].dataType.fields
        }
        sel.append(F.col("remove.path").alias("__r_path"))
        has_rm_ts = "deletionTimestamp" in rm_fields
        if has_rm_ts:
            sel.append(
                F.col("remove.deletionTimestamp").alias("__r_ts")
            )
        preds.append(F.col("remove.path").isNotNull())
    if "metaData" in cols:
        sel.append(
            F.when(
                F.col("metaData.schemaString").isNotNull(),
                F.to_json("metaData"),
            ).alias("__m_j")
        )
        preds.append(F.col("metaData.schemaString").isNotNull())
    if "protocol" in cols:
        sel.append(
            F.when(
                F.col("protocol.minReaderVersion").isNotNull(),
                F.to_json("protocol"),
            ).alias("__p_j")
        )
        preds.append(F.col("protocol.minReaderVersion").isNotNull())
    meta = None
    protocol = None
    if not preds:
        return adds, removes, meta, protocol
    collected = (
        rows.where(functools.reduce(operator.or_, preds))
        .select(*sel)
        .collect()
    )
    fields = collected[0].__fields__ if collected else []
    for r in collected:
        if "__a_path" in fields and r["__a_path"] is not None:
            d = {
                "path": r["__a_path"],
                "partitionValues": dict(r["__a_pv"] or {}),
                "size": int(r["__a_size"] or 0),
                "modificationTime": int(r["__a_mt"] or 0),
            }
            if has_dv and r["__a_dv"]:
                d["deletionVector"] = json.loads(r["__a_dv"])
            if has_stats:
                stats = _parse_stats(r["__a_stats"])
                if stats is not None:
                    d["stats"] = stats
            adds.append(d)
        elif "__r_path" in fields and r["__r_path"] is not None:
            removes.append({
                "path": r["__r_path"],
                "deletionTimestamp": int(
                    (r["__r_ts"] if has_rm_ts else 0) or 0
                ),
                "dataChange": False,
            })
        elif "__m_j" in fields and meta is None and r["__m_j"]:
            meta = json.loads(r["__m_j"])
        elif "__p_j" in fields and protocol is None and r["__p_j"]:
            protocol = json.loads(r["__p_j"])
    return adds, removes, meta, protocol


def _replay(spark: SparkSession, path: str, version: "int | None") -> dict:
    """Replay the log into the table STATE at ``version`` (or latest):
    ``{"version", "schema", "partition_columns", "files": {path:
    trimmed-add-dict}, "tombstones": {path: remove-dict}, "protocol",
    "history": [...]}``. Tombstones are removes not later re-added —
    what a conformant checkpoint must carry inside the retention
    window."""
    fs = HadoopFS(spark)
    log_dir = f"{path}/{LOG_SUBDIR}"
    if not fs.exists(log_dir):
        raise NameError(f"not a Delta table (no {LOG_SUBDIR}): {path}")
    names = fs.list_files(log_dir)
    commit_vs = sorted(
        v for v in (_commit_version(n) for n in names) if v is not None
    )
    if not commit_vs and not any(".checkpoint" in n for n in names):
        raise NameError(f"empty Delta log at {path}")
    if version is not None:
        head_ckpt = _checkpoint_files(fs, log_dir, None)
        latest = max(
            commit_vs[-1] if commit_vs else -1,
            head_ckpt[0] if head_ckpt is not None else -1,
        )
        if version > latest:
            raise NameError(
                f"version {version} not in Delta log (max {latest})"
            )

    live: "dict[str, dict]" = {}
    tombstones: "dict[str, dict]" = {}
    meta: "dict | None" = None
    protocol: "dict | None" = None
    history: "list[dict]" = []
    start_after = -1

    ckpt = _checkpoint_files(fs, log_dir, version)
    if (
        version is not None
        and ckpt is None
        and (not commit_vs or min(commit_vs) > version)
    ):
        # commits at or below the pinned version were cleaned up and
        # no checkpoint covers it: the snapshot is unreconstructable
        raise NameError(
            f"Delta version {version} is outside the retained log "
            f"(history truncated below "
            f"{min(commit_vs) if commit_vs else 'the checkpoint'})"
        )
    if ckpt is not None:
        ckpt_v, parts = ckpt
        adds, removes, meta, protocol = _collect_checkpoint(spark, parts)
        # a checkpoint is NET state: its adds are the live set, its
        # removes are retention tombstones only (the protocol forbids
        # the same path appearing as both)
        for d in adds:
            live[d["path"]] = d
        for d in removes:
            tombstones[d["path"]] = d
        start_after = ckpt_v

    for v in commit_vs:
        if v <= start_after:
            continue
        if version is not None and v > version:
            break
        ops = []
        for line in fs.read_text(
            f"{log_dir}/{v:020d}.json"
        ).splitlines():
            line = line.strip()
            if not line:
                continue
            act = json.loads(line)
            if "add" in act:
                live[act["add"]["path"]] = _trim_add(act["add"])
                tombstones.pop(act["add"]["path"], None)
            elif "remove" in act:
                p = act["remove"]["path"]
                live.pop(p, None)
                tombstones[p] = {
                    "path": p,
                    "deletionTimestamp": int(
                        act["remove"].get("deletionTimestamp") or 0
                    ),
                    "dataChange": False,
                }
            elif "metaData" in act:
                meta = act["metaData"]
            elif "protocol" in act:
                protocol = act["protocol"]
            elif "commitInfo" in act:
                ops.append(act["commitInfo"].get("operation"))
        history.append({"version": v, "operation": ops[0] if ops else None})

    if meta is None:
        raise DeltaProtocolError(
            f"no metaData action found in Delta log at {path}"
        )
    _check_protocol(protocol, meta)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    return {
        "version": (
            version if version is not None
            else (commit_vs[-1] if commit_vs else start_after)
        ),
        "schema": schema,
        "partition_columns": list(meta.get("partitionColumns") or []),
        "files": live,
        "tombstones": tombstones,
        "protocol": protocol or {},
        "metadata_raw": meta,
        "history": history,
    }


def _mapping_mode(meta: dict) -> str:
    conf = meta.get("configuration") or {}
    return str(conf.get("delta.columnMapping.mode", "none") or "none")


def _check_protocol(protocol: "dict | None", meta: dict) -> None:
    mode = _mapping_mode(meta)
    if mode not in ("none", "None", "name"):
        raise DeltaProtocolError(
            f"column mapping mode {mode!r} not supported (name mode is; "
            "id mode resolves via parquet field ids)"
        )
    if protocol is None:
        return
    feats = set(protocol.get("readerFeatures") or [])
    for f_, why in _BLOCKED_READER_FEATURES.items():
        if f_ in feats:
            raise DeltaProtocolError(
                f"Delta reader feature {f_!r} not supported: {why}"
            )
    unknown = feats - set(_BLOCKED_READER_FEATURES) - _KNOWN_OK_FEATURES
    if unknown:
        raise DeltaProtocolError(
            f"unknown Delta reader features {sorted(unknown)!r} — "
            "refusing to misread"
        )
    mrv = int(protocol.get("minReaderVersion") or 1)
    if mrv > 3:
        raise DeltaProtocolError(
            f"minReaderVersion {mrv} above the supported protocol"
        )


def _partition_literal(value: "str | None", dtype) -> Any:
    """A typed Column for one partition value, per the protocol's
    partition-value serialization (strings; null encoded as JSON
    null / missing key; __HIVE_DEFAULT_PARTITION__ also null)."""
    if value is None or value == "__HIVE_DEFAULT_PARTITION__":
        return F.lit(None).cast(dtype)
    return F.lit(value).cast(dtype)


def _physical_name(field: StructField, mode: str) -> str:
    """The column name as DATA FILES spell it: the
    ``delta.columnMapping.physicalName`` field metadata under name
    mode, the logical name otherwise."""
    if mode == "name":
        md = field.metadata or {}
        return str(md.get(PHYSICAL_NAME_KEY, field.name))
    return field.name


def _pv_get(pv: dict, logical: str, physical: str) -> "str | None":
    """A file's partition value for one column: under column mapping
    the log keys partitionValues by PHYSICAL name; accept the logical
    spelling as a fallback for writers that predate their own mapping
    (observed in the wild, harmless to accept)."""
    if physical in pv:
        return pv[physical]
    return pv.get(logical)


def _resolve_timestamp(fs, log_dir: str, ts: "float | str") -> int:
    """Timestamp -> version, Delta semantics: the LAST commit whose
    log-file modification time is at or before ``ts`` (delta-spark
    resolves timestamp travel from commit-file timestamps, so an
    engine pair agrees on the answer). Accepts epoch seconds or an
    ISO-8601 string (naive = UTC). Raises NameError when ``ts``
    precedes the earliest retained commit — the snapshot is outside
    the reconstructable history, same as a cleaned-up version pin."""
    if isinstance(ts, str):
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        ts = dt.timestamp()
    ts = float(ts)
    best = None
    earliest = None
    for n in fs.list_files(log_dir):
        v = _commit_version(n)
        if v is None:
            continue
        mt = fs.mtime(f"{log_dir}/{n}")
        earliest = mt if earliest is None else min(earliest, mt)
        if mt <= ts and (best is None or v > best):
            best = v
    if best is None:
        raise NameError(
            f"no Delta commit at or before timestamp {ts} (earliest "
            f"retained commit is at {earliest})"
        )
    return best


_PRED_OPS = {"=", "==", "<", "<=", ">", ">="}

# integers up to 2^53 are exact in a double; beyond that a float
# round-trip can collapse distinct values and prune true matches
_FLOAT_EXACT_INT = 1 << 53


def _coerce_for_dtype(dtype, value):
    """``value`` (a stats/partition entry or a predicate literal)
    coerced into the comparison domain of the COLUMN's declared type
    — the schema decides the semantics, not the literal's Python
    type, so ('h', '>=', '9') against an int partition column
    compares 10 >= 9, never '10' >= '9' lexically (r14 review
    finding). Returns None when the value cannot be coerced — the
    caller then KEEPS the file (skipping is an optimization)."""
    from pyspark.sql import types as T

    if value is None or isinstance(value, bool):
        return None
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                          T.LongType)):
        if isinstance(value, int):
            return value
        if isinstance(value, float):
            # exact only while the double can represent the integer
            if value.is_integer() and abs(value) <= _FLOAT_EXACT_INT:
                return int(value)
            return None
        try:
            return int(str(value).strip())
        except ValueError:
            return None
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        try:
            return float(value)
        except (TypeError, ValueError):
            return None
    if isinstance(dtype, T.StringType):
        return value if isinstance(value, str) else None
    if isinstance(dtype, (T.DateType, T.TimestampType,
                          T.TimestampNTZType)):
        # stats serialize these as ISO strings; ISO compares lexically
        return value if isinstance(value, str) else None
    return None


def _cmp(op: str, a, b) -> bool:
    return {
        "=": a == b, "==": a == b, "<": a < b, "<=": a <= b,
        ">": a > b, ">=": a >= b,
    }[op]


def _file_may_match(
    add: dict, col: str, op: str, lit, *, dtype,
    partition_cols: "set[str]", pv_value, phys_col: str,
) -> bool:
    """Can any row of this file satisfy ``col op lit``? False ONLY
    when the log proves it can't — a partition value that fails the
    comparison, or a [min, max] stats interval disjoint from the
    predicate range. Missing/unusable stats or uncoercible values
    keep the file (skipping is an optimization, never a correctness
    input). Stats are looked up by physical name first — under
    column mapping the log keys them by the file spelling (r14
    review finding: a logical-only lookup made skipping silently
    inert on exactly the mapped tables)."""
    w = _coerce_for_dtype(dtype, lit)
    if w is None:
        return True
    if col in partition_cols:
        v = _coerce_for_dtype(dtype, pv_value)
        if v is None:
            return True  # null / unparseable pv: never prune on it
        return _cmp(op, v, w)
    stats = add.get("stats")
    if not stats:
        return True

    def _stat(d: dict):
        if phys_col in d:
            return d[phys_col]
        return d.get(col)

    mn = _stat(stats.get("minValues") or {})
    mx = _stat(stats.get("maxValues") or {})
    nulls = _stat(stats.get("nullCount") or {})
    n = stats.get("numRecords")
    # an all-null column can satisfy no comparison predicate
    if (
        isinstance(nulls, int) and isinstance(n, int)
        and n > 0 and nulls >= n
    ):
        return False
    lo = _coerce_for_dtype(dtype, mn) if mn is not None else None
    hi = _coerce_for_dtype(dtype, mx) if mx is not None else None
    if op in ("=", "=="):
        if lo is not None and lo > w:
            return False
        if hi is not None and hi < w:
            return False
        return True
    if op == "<":
        return lo is None or lo < w
    if op == "<=":
        return lo is None or lo <= w
    if op == ">":
        return hi is None or hi > w
    if op == ">=":
        return hi is None or hi >= w
    return True


def delta_scan(
    spark: SparkSession,
    path: str,
    *,
    version: "int | None" = None,
    timestamp: "float | str | None" = None,
    partition_filter: "Callable[[dict], bool] | None" = None,
    predicate: "Sequence[tuple] | None" = None,
) -> DataFrame:
    """Read a Delta table at ``path`` into a DataFrame — log replay,
    no delta-spark, no directory listing. ``version=`` time-travels;
    ``partition_filter`` receives each live file's partitionValues
    dict (string-typed, keyed by LOGICAL column name) and prunes
    files at PLANNING time — the pruned files never reach any Spark
    scan.

    The plan is ONE parquet scan of every live file; partition
    columns (absent from Delta data files) are attached by joining
    ``_metadata.file_path`` against a broadcast mapping built from
    the log's per-file partitionValues. Any count of live partition
    tuples costs one scan + one broadcast join, not one union leg per
    tuple. When the table is unpartitioned — or every live file
    shares one partition tuple — the join is skipped entirely and
    the values are typed literals.

    Live files carrying deletion vectors are served FILTERED: the DV
    bitmaps expand executor-side and anti-join the scan's
    ``_metadata.row_index`` (see :func:`_deleted_rows_df`).

    An empty live set returns an empty frame with the table schema.
    Raises :class:`DeltaProtocolError` on tables needing reader
    features outside the supported subset (id-mode column mapping,
    v2 checkpoints, type widening), and NameError for missing
    tables / versions outside the retained log.

    ``timestamp=`` (epoch seconds or ISO-8601, naive = UTC) resolves
    to the last commit at or before that instant from the commit
    files' modification times — delta-spark's timestamp-travel
    semantics — and is mutually exclusive with ``version=``."""
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "pass either version= or timestamp=, not both"
            )
        version = _resolve_timestamp(
            HadoopFS(spark), f"{path}/{LOG_SUBDIR}", timestamp
        )
    state = _replay(spark, path, version)
    schema: StructType = state["schema"]
    pcols: "list[str]" = state["partition_columns"]
    mode = _mapping_mode(state["metadata_raw"])
    phys = {f_.name: _physical_name(f_, mode) for f_ in schema.fields}
    ptype = {f_.name: f_.dataType for f_ in schema.fields}
    data_fields = [f_ for f_ in schema.fields if f_.name not in pcols]
    # the scan schema speaks PHYSICAL names (what the files contain);
    # the final select aliases back to logical
    data_schema = StructType([
        StructField(phys[f_.name], f_.dataType, f_.nullable)
        for f_ in data_fields
    ])
    files = list(state["files"].values())
    if partition_filter is not None:
        files = [
            add for add in files
            if partition_filter({
                c: _pv_get(
                    dict(add.get("partitionValues") or {}), c, phys[c]
                )
                for c in pcols
            })
        ]
    preds: "list[tuple]" = []
    if predicate:
        known = {f_.name for f_ in schema.fields}
        for t in predicate:
            col, op, lit = t
            if col not in known:
                raise NameError(f"predicate column {col!r} not in schema")
            if op not in _PRED_OPS:
                raise ValueError(
                    f"predicate op {op!r} not in {sorted(_PRED_OPS)}"
                )
            if lit is None:
                raise ValueError(
                    "null predicate literals are not supported — use "
                    "partition_filter for null-partition selection"
                )
            preds.append((col, op, lit))
        pset = set(pcols)
        kept = []
        for add in files:
            pv = dict(add.get("partitionValues") or {})
            if all(
                _file_may_match(
                    add, col, op, lit, dtype=ptype[col],
                    partition_cols=pset,
                    pv_value=_pv_get(pv, col, phys[col]),
                    phys_col=phys[col],
                )
                for col, op, lit in preds
            ):
                kept.append(add)
        files = kept
    if not files:
        return local_frame(spark, [], _logical_schema(schema))

    def _with_pred(df: DataFrame) -> DataFrame:
        # the residual ROW filter: file skipping above is coarse
        # ([min,max] intersection); the predicate itself still runs —
        # and Catalyst pushes it into the parquet scan, so kept files
        # also row-group-skip on their footers. The literal is
        # try_cast to the COLUMN's type: under ANSI mode a malformed
        # literal must yield zero rows, not a runtime cast error
        for col_, op_, lit_ in preds:
            c = F.col(col_)
            w = F.lit(lit_).try_cast(ptype[col_])
            df = df.where({
                "=": c == w, "==": c == w, "<": c < w,
                "<=": c <= w, ">": c > w, ">=": c >= w,
            }[op_])
        return df

    from urllib.parse import unquote

    # add.path is table-root-relative and URL-encoded per protocol
    rels = [
        None if "://" in add["path"] else unquote(add["path"])
        for add in files
    ]
    full_paths = [
        add["path"] if rel is None else f"{path}/{rel}"
        for rel, add in zip(rels, files)
    ]
    scan = spark.read.schema(data_schema).parquet(*full_paths)
    root_raw = _qualified_root(spark, path)
    rel_col = F.expr(
        f"substring(url_decode(_metadata.file_path), {len(root_raw) + 2})"
    )

    dv_descs = [
        (rel, add["deletionVector"])
        for rel, add in zip(rels, files)
        if add.get("deletionVector")
    ]
    if dv_descs:
        if any(rel is None for rel, _d in dv_descs):
            raise DeltaProtocolError(
                "deletion vector on a file with an absolute add.path "
                "— cannot derive a root-relative join key"
            )
        # each file's deleted row positions, expanded EXECUTOR-side
        # (bitmap decode in Arrow batches), anti-joined against the
        # scan's per-file _metadata.row_index — Spark-first DV
        # serving: one scan, one (usually broadcast) anti-join
        deleted = _deleted_rows_df(spark, path, dv_descs)
        total_card = sum(
            int(d.get("cardinality") or 0) for _r, d in dv_descs
        )
        if total_card <= 5_000_000:
            deleted = F.broadcast(deleted)
        # a NULL row_index would let deleted rows slip the anti-join
        # (served = resurrected) — only possible if a reader path ever
        # stops materializing the metadata column, so fail loudly
        ri = F.col("_metadata.row_index")
        ri_checked = F.when(
            ri.isNull(),
            F.raise_error(F.lit(
                "delta_scan: _metadata.row_index is null — cannot "
                "apply deletion vectors on this scan"
            )).cast("long"),
        ).otherwise(ri)
        scan = (
            scan.withColumn("__pb_rel", rel_col)
            .withColumn("__pb_ri", ri_checked)
            .join(deleted, on=["__pb_rel", "__pb_ri"], how="left_anti")
            .drop("__pb_ri")
        )

    out_data = [
        F.col(phys[f_.name]).alias(f_.name) for f_ in data_fields
    ]
    if not pcols:
        return _with_pred(scan.select(*out_data))

    tuples = {
        tuple(
            _pv_get(dict(add.get("partitionValues") or {}), c, phys[c])
            for c in pcols
        )
        for add in files
    }
    if len(tuples) == 1:
        vals = next(iter(tuples))
        return _with_pred(scan.select(*out_data, *[
            _partition_literal(v, ptype[c]).alias(c)
            for c, v in zip(pcols, vals)
        ]).select(*[f_.name for f_ in schema.fields]))

    # mapping rows join on the file's table-root-relative RAW path.
    # Spark spells _metadata.file_path as the URI-encoded qualified
    # path; url_decode() recovers the raw spelling, and stripping the
    # (once-computed) qualified root leaves exactly our rel string.
    # java.net.URLDecoder also folds '+' to space, so a literal '+'
    # in a file name would miss the mapping — that MUST fail loudly
    # (raise_error below), never serve null partition values.
    mrows = []
    for rel, add in zip(rels, files):
        if rel is None:
            raise DeltaProtocolError(
                "absolute add.path on a partitioned multi-tuple table "
                f"({add['path']!r}) — cannot derive a root-relative "
                "join key"
            )
        pv = dict(add.get("partitionValues") or {})
        mrows.append(tuple(
            [rel] + [_pv_get(pv, c, phys[c]) for c in pcols]
        ))
    mschema = StructType(
        [StructField("__pb_rel", StringType(), False)]
        + [StructField(f"__pb_{c}", StringType(), True) for c in pcols]
    )
    mapping = local_frame(spark, mrows, mschema)
    if len(mrows) <= _BROADCAST_MAPPING_MAX:
        mapping = F.broadcast(mapping)
    # the DV anti-join (when it ran) already attached __pb_rel — and
    # _metadata is no longer resolvable after that join, so reuse it
    if "__pb_rel" not in scan.columns:
        scan = scan.withColumn("__pb_rel", rel_col)

    def _pcol(c: str) -> Column:
        raw = F.col(f"__pb_{c}")
        typed = F.when(
            raw.isNull() | (raw == "__HIVE_DEFAULT_PARTITION__"),
            F.lit(None).cast(ptype[c]),
        ).otherwise(raw.cast(ptype[c]))
        # __pb_rel is non-null on the scan side, so a null join key
        # marker means the file missed the mapping (encoding drift)
        return F.when(
            F.col("__pb_m").isNull(),
            F.raise_error(F.lit(
                "delta_scan: scanned file missing from the log's "
                "partition-value mapping (non-URI-safe file name?)"
            )).cast(ptype[c]),
        ).otherwise(typed).alias(c)

    mapping_marked = mapping.withColumn("__pb_m", F.lit(1))
    joined = scan.join(mapping_marked, on="__pb_rel", how="left")
    return _with_pred(joined.select(*[
        _pcol(f_.name) if f_.name in pcols
        else F.col(phys[f_.name]).alias(f_.name)
        for f_ in schema.fields
    ]))


def _logical_schema(schema: StructType) -> StructType:
    """The user-facing schema: logical names, field metadata (mapping
    ids/physical names) stripped."""
    return StructType([
        StructField(f_.name, f_.dataType, f_.nullable)
        for f_ in schema.fields
    ])


def _deleted_rows_df(
    spark: SparkSession,
    path: str,
    dv_descs: "list[tuple[str, dict]]",
) -> DataFrame:
    """(__pb_rel, __pb_ri) rows for every deleted position named by
    the live files' deletion vectors. The bitmap DECODE runs on the
    EXECUTORS (``mapInPandas`` over descriptor rows joined with the
    DV file bytes from a ``binaryFile`` scan) — the driver holds only
    the descriptors, never the expanded positions, so a table with
    10^8 deleted rows costs a shuffle, not driver memory. Inline
    (``i``) descriptors carry their payload in the row; ``u``/``p``
    descriptors join to their sidecar's bytes by the uuid-unique file
    name. Size, CRC and cardinality are verified in the decode
    (:mod:`pandabase_spark.sources.dv`) — corruption raises, it never
    resurrects rows."""
    import pandas as pd

    from pandabase_spark.sources.dv import dv_relative_path

    rows = []
    files_needed: "dict[str, str]" = {}  # name -> full path
    for rel, d in dv_descs:
        st = str(d.get("storageType") or "")
        payload = str(d.get("pathOrInlineDv") or "")
        off = int(d["offset"]) if d.get("offset") is not None else -1
        size = int(d.get("sizeInBytes") or 0)
        card = int(d.get("cardinality") or 0)
        if st == "u":
            dv_rel = dv_relative_path(payload)
            full = f"{path}/{dv_rel}"
            name = dv_rel.rsplit("/", 1)[-1]
            files_needed[name] = full
            rows.append((rel, st, name, off, size, card))
        elif st == "p":
            name = payload.rsplit("/", 1)[-1]
            files_needed[name] = payload
            rows.append((rel, st, name, off, size, card))
        elif st == "i":
            rows.append((rel, st, payload, -1, size, card))
        else:
            raise DeltaProtocolError(
                f"unknown deletion-vector storage type {st!r}"
            )
    descs = local_frame(
        spark,
        rows,
        "rel string, st string, payload string, "
        "off long, size long, card long",
    )
    out_schema = "__pb_rel string, __pb_ri long"

    def _expand(batches):
        from pandabase_spark.sources.dv import (
            decode_dv_data, extract_dv_blob, z85_decode,
        )

        for pdf in batches:
            rel_out: "list[str]" = []
            ri_out: "list[int]" = []
            for r in pdf.itertuples(index=False):
                if r.st == "i":
                    data = z85_decode(r.payload)[:r.size]
                else:
                    data = extract_dv_blob(
                        bytes(r.content), int(r.off), int(r.size)
                    )
                for ri in decode_dv_data(data, cardinality=int(r.card)):
                    rel_out.append(r.rel)
                    ri_out.append(ri)
            yield pd.DataFrame(
                {"__pb_rel": rel_out, "__pb_ri": ri_out}
            )

    parts = []
    inline = descs.where(F.col("st") == "i").withColumn(
        "content", F.lit(None).cast("binary")
    )
    if rows and files_needed:
        bin_df = (
            spark.read.format("binaryFile")
            .load(sorted(files_needed.values()))
            .select(
                F.element_at(F.split("path", "/"), -1).alias("payload"),
                "content",
            )
        )
        file_descs = descs.where(F.col("st") != "i").join(
            bin_df, on="payload", how="left"
        )
        # a descriptor whose sidecar is missing must fail loudly:
        # extract_dv_blob raises on null content via the bytes() cast
        parts.append(file_descs)
    parts.append(inline)
    all_descs = parts[0]
    for p in parts[1:]:
        all_descs = all_descs.unionByName(p)
    return all_descs.mapInPandas(_expand, schema=out_schema)


def _qualified_root(spark: SparkSession, path: str) -> str:
    """The table root as Spark's file index spells it BEFORE URI
    encoding: ``FileSystem.makeQualified(Path(path)).toString()`` —
    scheme + authority + raw path, computed ONCE per scan (py4j round
    trips must not scale with file count)."""
    jvm = spark._jvm
    jp = jvm.org.apache.hadoop.fs.Path(path)
    fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.makeQualified(jp).toString()


def delta_scan_changes(
    spark: SparkSession,
    path: str,
    starting_version: int,
    ending_version: "int | None" = None,
) -> DataFrame:
    """Change Data Feed read: every row-level change the commits in
    ``[starting_version, ending_version]`` made, as delta-spark's
    ``table_changes`` emits them — the table columns plus
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``.

    Per the protocol: a commit carrying ``cdc`` actions is described
    EXCLUSIVELY by its ``_change_data/`` files (which store
    ``_change_type`` per row — update_preimage/update_postimage/
    insert/delete); a commit without them synthesizes changes from
    its data actions — ``add(dataChange=true)`` rows are inserts,
    ``remove(dataChange=true)`` rows are deletes, read from the
    still-retained removed file (a vacuumed file raises rather than
    under-reporting). ``dataChange=false`` actions (compaction) are
    invisible here, exactly as CDF requires.

    The plan is one scan per change kind (cdc / insert / delete) —
    commit version, timestamp (commitInfo.timestamp, falling back to
    the commit file's mtime) and partition values ride a broadcast
    mapping join, so a 1,000-commit range is three scans, not 3,000
    union legs. Raises NameError when the range reaches below the
    retained JSON tail (CDF needs the per-commit actions, which a
    checkpoint does not preserve)."""
    fs = HadoopFS(spark)
    log_dir = f"{path}/{LOG_SUBDIR}"
    if ending_version is None:
        ending_version = delta_table_version(spark, path)
    # the range needs per-commit ACTIONS, which only the JSON tail
    # preserves — check it is intact before any replay work
    for v in range(int(starting_version), int(ending_version) + 1):
        if not fs.exists(f"{log_dir}/{v:020d}.json"):
            raise NameError(
                f"Delta commit {v} is outside the retained log — "
                "change feed for it is unreconstructable"
            )
    state = _replay(spark, path, ending_version)
    conf = (state["metadata_raw"].get("configuration") or {})
    if str(conf.get("delta.enableChangeDataFeed", "false")).lower() != (
        "true"
    ):
        # without CDF enabled, writers owe no cdc files for updates:
        # synthesizing delete+insert from a MERGE commit's remove/add
        # pair would report every row of a rewritten file as changed
        # — delta-spark's table_changes raises here too (r14 review
        # finding)
        raise DeltaProtocolError(
            "delta.enableChangeDataFeed is not set on this table — "
            "a change feed cannot be derived faithfully"
        )
    schema: StructType = state["schema"]
    pcols: "list[str]" = state["partition_columns"]
    mode = _mapping_mode(state["metadata_raw"])
    phys = {f_.name: _physical_name(f_, mode) for f_ in schema.fields}
    ptype = {f_.name: f_.dataType for f_ in schema.fields}
    data_fields = [f_ for f_ in schema.fields if f_.name not in pcols]
    data_schema = StructType([
        StructField(phys[f_.name], f_.dataType, f_.nullable)
        for f_ in data_fields
    ])
    end = (
        int(ending_version) if ending_version is not None
        else int(state["version"])
    )
    if starting_version < 0 or starting_version > end:
        raise ValueError(
            f"bad CDF range [{starting_version}, {end}]"
        )

    from urllib.parse import unquote

    # (kind, rel, pv dict, version, ts_ms); kind: cdc|insert|delete
    entries: "list[tuple[str, str, dict, int, int]]" = []
    pre_states: "dict[int, dict]" = {}  # memoized v-1 file snapshots
    for v in range(int(starting_version), end + 1):
        cf = f"{log_dir}/{v:020d}.json"
        acts = [
            json.loads(line)
            for line in fs.read_text(cf).splitlines()
            if line.strip()
        ]
        ts = None
        for a in acts:
            if "commitInfo" in a and a["commitInfo"].get("timestamp"):
                ts = int(a["commitInfo"]["timestamp"])
        if ts is None:
            ts = int(fs.mtime(cf) * 1000)
        cdcs = [a["cdc"] for a in acts if "cdc" in a]
        if cdcs:
            for c in cdcs:
                entries.append((
                    "cdc", unquote(c["path"]),
                    dict(c.get("partitionValues") or {}), v, ts,
                ))
            continue
        for a in acts:
            if "add" in a and a["add"].get("dataChange", True):
                if a["add"].get("deletionVector"):
                    raise DeltaProtocolError(
                        "CDF over a deletion-vector commit without "
                        "cdc files — per-row changes are not "
                        "derivable from the data actions alone"
                    )
                entries.append((
                    "insert", unquote(a["add"]["path"]),
                    dict(a["add"].get("partitionValues") or {}), v, ts,
                ))
            elif "remove" in a and a["remove"].get("dataChange", True):
                rel = unquote(a["remove"]["path"])
                if not fs.exists(f"{path}/{rel}"):
                    raise NameError(
                        f"removed file {rel!r} needed for the change "
                        "feed was vacuumed — range precedes retention"
                    )
                pv = a["remove"].get("partitionValues")
                if pv is None and pcols:
                    # partitionValues on remove is optional (only
                    # extendedFileMetadata guarantees it): recover the
                    # file's values from the pre-commit snapshot
                    # rather than emitting NULL partition columns
                    # (r14 review finding)
                    pre = pre_states.get(v - 1)
                    if pre is None:
                        pre = _replay(spark, path, v - 1)["files"]
                        pre_states[v - 1] = pre
                    src = pre.get(a["remove"]["path"])
                    if src is None:
                        raise NameError(
                            f"removed file {rel!r} absent from the "
                            f"version-{v - 1} snapshot — cannot "
                            "attribute its partition values"
                        )
                    pv = src.get("partitionValues") or {}
                entries.append((
                    "delete", rel, dict(pv or {}), v, ts,
                ))

    out_fields = [f_.name for f_ in schema.fields] + [
        "_change_type", "_commit_version", "_commit_timestamp",
    ]
    if not entries:
        empty = StructType(
            _logical_schema(schema).fields
            + [
                StructField("_change_type", StringType(), True),
                StructField("_commit_version", LongType(), True),
            ]
        )
        return local_frame(spark, [], empty).withColumn(
            "_commit_timestamp", F.lit(None).cast("timestamp")
        )

    root_raw = _qualified_root(spark, path)
    rel_col = F.expr(
        f"substring(url_decode(_metadata.file_path), {len(root_raw) + 2})"
    )

    def _attach(kind: str, extra_type: "Column | None") -> (
        "DataFrame | None"
    ):
        sel = [e for e in entries if e[0] == kind]
        if not sel:
            return None
        mrows = []
        for _k, rel, pv, v, ts in sel:
            mrows.append(tuple(
                [rel]
                + [_pv_get(pv, c, phys[c]) for c in pcols]
                + [v, ts]
            ))
        mschema = StructType(
            [StructField("__pb_rel", StringType(), False)]
            + [
                StructField(f"__pb_{c}", StringType(), True)
                for c in pcols
            ]
        ).add("__pb_v", "long").add("__pb_ts", "long")
        mapping = F.broadcast(
            local_frame(spark, mrows, mschema)
            .withColumn("__pb_m", F.lit(1))
        )
        read_schema = data_schema
        if kind == "cdc":
            read_schema = StructType(
                data_schema.fields
                + [StructField("_change_type", StringType(), True)]
            )
        scan = spark.read.schema(read_schema).parquet(
            *[f"{path}/{rel}" for _k, rel, _pv, _v, _ts in sel]
        )
        joined = scan.withColumn("__pb_rel", rel_col).join(
            mapping, on="__pb_rel", how="left"
        )

        def pcol(c: str) -> Column:
            raw = F.col(f"__pb_{c}")
            typed = F.when(
                raw.isNull() | (raw == "__HIVE_DEFAULT_PARTITION__"),
                F.lit(None).cast(ptype[c]),
            ).otherwise(raw.cast(ptype[c]))
            return F.when(
                F.col("__pb_m").isNull(),
                F.raise_error(F.lit(
                    "delta_scan_changes: change file missing from the "
                    "mapping (non-URI-safe file name?)"
                )).cast(ptype[c]),
            ).otherwise(typed).alias(c)

        ctype = (
            F.col("_change_type") if kind == "cdc" else extra_type
        )
        return joined.select(
            *[
                pcol(f_.name) if f_.name in pcols
                else F.col(phys[f_.name]).alias(f_.name)
                for f_ in schema.fields
            ],
            ctype.alias("_change_type"),
            F.col("__pb_v").alias("_commit_version"),
            F.timestamp_millis(F.col("__pb_ts")).alias(
                "_commit_timestamp"
            ),
        )

    parts = [
        p for p in (
            _attach("cdc", None),
            _attach("insert", F.lit("insert")),
            _attach("delete", F.lit("delete")),
        )
        if p is not None
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*out_fields)


def delta_table_version(spark: SparkSession, path: str) -> int:
    """Newest version of the Delta table at ``path`` — from the JSON
    tail when one exists, else the checkpoint (a fully-cleaned log is
    still a readable table)."""
    fs = HadoopFS(spark)
    vs = [
        v
        for v in (
            _commit_version(n)
            for n in fs.list_files(f"{path}/{LOG_SUBDIR}")
        )
        if v is not None
    ]
    if vs:
        return max(vs)
    return int(_replay(spark, path, None)["version"])


def delta_history(spark: SparkSession, path: str) -> "list[dict]":
    """Commit history from the retained JSON tail (newest last):
    [{"version", "operation"}]."""
    return _replay(spark, path, None)["history"]
