#!/usr/bin/env python
"""Vacuum metadata-walk scaling measurement (r12 verdict ask #4).

The watch-item: vacuum's history scan read EVERY version's manifest
on the driver — a metadata stall at 10^4-commit tables. r13 bounds
it two ways:

- the past-history union is cached in a summary sidecar
  (_vacuum_history.summary.json), so the lazy ``_history()`` scan
  reads only manifests ABOVE the cached floor;
- the no-reclaim vacuum (append-heavy tables' routine case) returns
  before the history-prune walk entirely.

This script synthesizes an N-version claim chain (structurally valid
manifests referencing the live segments) on a real table, plants
reclaimable garbage, and measures:

  cold_reclaim_s   first reclaiming vacuum (full scan, writes cache)
  warm_reclaim_s   second reclaiming vacuum (reads only > floor)
  noop_s           routine vacuum with nothing to reclaim (fast path)

The residual O(surviving versions) cost in the reclaiming case is the
history-PRUNE walk itself — examining history to truncate it is the
operation's definition; the summary bounds the *_history* union scan
and the fast path removes the walk from routine vacuums.

Writes scripts/vacuum_scale_r13.json. Run:
python scripts/vacuum_scale_r13.py [n_versions]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_VERSIONS = int(sys.argv[1]) if len(sys.argv) > 1 else 5000


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from pandabase_spark.io import LOG_DIR, LOG_FILE, KeyedCatalog

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("vacuum-scale-r13")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    wh = tempfile.mkdtemp(prefix="pb_vac_scale_")
    cat = KeyedCatalog(spark, wh, default_buckets=2)
    cat.to_table(
        spark.range(50).select(
            F.col("id").alias("k"), F.lit(1.0).alias("v")
        ),
        "t", keys=["k"],
    )
    tpath = cat._path("t")
    base = json.loads(
        cat.fs.read_text(f"{tpath}/{LOG_DIR}/0000000001.json")
    )

    # synthesize an N-version chain above v1: each version is a
    # structurally valid manifest referencing the SAME live segments —
    # the append-heavy history shape where nothing is ever tombstoned
    t0 = time.time()
    man = dict(base)
    for v in range(2, N_VERSIONS + 1):
        man.update(v=v, op="append", ts=base["ts"] + v)
        cat.fs.write_text_atomic(
            f"{tpath}/{LOG_DIR}/{v:010d}.json", json.dumps(man)
        )
    cat.fs.write_text_atomic(f"{tpath}/{LOG_FILE}", json.dumps(man))
    synth_s = round(time.time() - t0, 1)

    def plant_garbage() -> None:
        # an aged, never-referenced segment directory: exactly the
        # shape that forces the lazy _history() union scan
        g = f"{tpath}/seg-{uuid.uuid4().hex[:12]}"
        os.makedirs(g)
        with open(f"{g}/part-0.parquet", "wb") as fh:
            fh.write(b"x")
        old = time.time() - 86_400
        os.utime(g, (old, old))
        for f_ in os.listdir(g):
            os.utime(f"{g}/{f_}", (old, old))

    report = {"n_versions": N_VERSIONS, "synthesize_s": synth_s}

    plant_garbage()
    t0 = time.time()
    gone1 = cat.vacuum("t")
    report["cold_reclaim_s"] = round(time.time() - t0, 2)
    report["cold_reclaimed"] = len(gone1)

    plant_garbage()
    t0 = time.time()
    gone2 = cat.vacuum("t")
    report["warm_reclaim_s"] = round(time.time() - t0, 2)
    report["warm_reclaimed"] = len(gone2)

    t0 = time.time()
    gone3 = cat.vacuum("t")
    report["noop_s"] = round(time.time() - t0, 2)
    report["noop_reclaimed"] = len(gone3)

    # correctness after all three: table reads clean, history intact
    # (every synthesized version references only live segments, so
    # none may have been pruned)
    report["rows_ok"] = cat.read_table("t").count() == 50
    report["history_intact"] = (
        len(cat.history("t")) == N_VERSIONS
    )
    report["all_green"] = bool(
        report["rows_ok"] and report["history_intact"]
        and gone1 and gone2 and not gone3
        and report["warm_reclaim_s"] <= report["cold_reclaim_s"]
    )
    out = os.path.join(REPO, "scripts", "vacuum_scale_r13.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    import shutil

    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
