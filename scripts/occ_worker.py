#!/usr/bin/env python
"""Subprocess worker for the multi-process OCC stress test
(tests/test_storage_v2.py::test_occ_two_driver_race).

Each invocation is an INDEPENDENT Spark driver (its own JVM, its own
KeyedCatalog object) committing to a shared warehouse — the actual
100 TB contention mode the in-process hook tests can't exercise (real
filesystem visibility, no shared Python state). Ops retry on
ConcurrentWriteError with a bounded backoff, Delta-style.

Usage: occ_worker.py <warehouse> <table> <worker_id> <n_ops>
Prints one JSON line: {"worker": id, "applied": [...], "conflicts": n}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rendezvous(
    warehouse: str, wid: int, tag: str, n_workers: int = 2,
    timeout: float = 60.0,
) -> None:
    """N-worker barrier on the shared warehouse directory: write my
    sentinel, then wait for every peer's. Without this the test's
    "conflicts >= 1" assertion is FLAKY — skewed JVM startup (or a
    slow op) can serialize the commit windows so they never overlap
    and OCC is never exercised. A timed-out wait proceeds rather than
    deadlocking on a crashed peer; the test's conflict assertion will
    then fail loudly with the reports attached."""
    barrier_dir = os.path.join(warehouse, ".occ_barrier")
    os.makedirs(barrier_dir, exist_ok=True)
    with open(os.path.join(barrier_dir, f"{tag}.{wid}"), "w") as fh:
        fh.write("ready")
    peers = [
        os.path.join(barrier_dir, f"{tag}.{j}")
        for j in range(1, n_workers + 1)
        if j != wid
    ]
    deadline = time.time() + timeout
    while (
        not all(os.path.exists(p) for p in peers)
        and time.time() < deadline
    ):
        time.sleep(0.01)


def main() -> None:
    warehouse, table, wid, n_ops = (
        sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
    )
    n_workers = int(sys.argv[5]) if len(sys.argv) > 5 else 2
    # 'vacuum' swaps this worker's compact slots for a windowed,
    # age-gated vacuum racing the other writers' commits (the 100 TB
    # nightly-maintenance-during-ingest shape; retain_last keeps the
    # rivals' ancestry walks inside surviving history). 'maint' (r11
    # verdict ask #5) rotates the slot through vacuum → rebucket →
    # restore — the two added verbs are the ones that change how
    # every LATER reader interprets the manifest (bucket layout; the
    # restored segment set/meta). The restore targets the head the
    # SAME commit window pins, so it is state-neutral by OCC
    # construction (a rival landing in between surfaces as
    # ConcurrentWriteError and the retry re-pins) and the soak's
    # fixed order-independent model stays checkable.
    role = sys.argv[6] if len(sys.argv) > 6 else "writer"
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"occ-worker-{wid}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pandabase_spark.io import ConcurrentWriteError, KeyedCatalog

    cat = KeyedCatalog(spark, warehouse, default_buckets=4)
    applied: list[str] = []
    conflicts = 0

    # both JVMs fully up before the first commit, and a rendezvous
    # before EVERY op: each round's two commits start near-
    # simultaneously, so commit windows genuinely overlap and the
    # test's conflicts>=1 assertion measures the protocol, not
    # subprocess startup skew
    _rendezvous(warehouse, wid, "start", n_workers, timeout=300.0)

    for i in range(n_ops):
        _rendezvous(warehouse, wid, f"round-{i}", n_workers)
        # disjoint key ranges per worker: model-checkable afterwards
        base = 100_000 * wid + 100 * i
        batch = spark.range(base, base + 50).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.0 + wid).alias("v"),
        )
        op = ("append", "upsert", "delete", "compact")[i % 4]
        for attempt in range(30):
            try:
                if op == "append":
                    cat.to_table(batch, table, keys=["k"], how="append")
                elif op == "upsert":
                    cat.to_table(batch, table, keys=["k"], how="upsert")
                elif op == "delete":
                    # delete a slice of THIS worker's own earlier keys
                    cat.delete_rows(
                        table,
                        f"k >= {100_000 * wid} AND k < {100_000 * wid + 10}",
                    )
                elif role == "vacuum" or (
                    role == "maint" and (i // 4) % 6 == 0
                ):
                    # age-gated concurrent-safe vacuum racing the
                    # rivals' live commits: never-referenced young
                    # segments (possibly staged, pre-claim) survive;
                    # retain_last=5 keeps every racing writer's
                    # ancestry walk inside surviving history
                    cat.vacuum(table, retain_last=5)
                elif role == "maint" and (i // 4) % 6 == 1:
                    # ONLINE layout evolution racing live commits: one
                    # real 4 -> 8 cutover per seed (the 6-verb r13
                    # rotation gives each maintenance verb one slot in
                    # 24 ops; the boot catalog buckets at 4, so this
                    # is always a genuine layout change). Rivals
                    # pinned to the pre-rebucket snapshot must hash
                    # under the layout their snapshot records
                    # (_resolve_nb), and their OCC retry re-reads the
                    # new one.
                    cat.rebucket_table(table, 8)
                elif role == "maint" and (i // 4) % 6 == 3:
                    # RESTORE racing live commits: target the head
                    # this same commit window pins — state-neutral
                    # under OCC (see role comment) but exercises the
                    # restore verb's full commit machinery (segment
                    # set re-reference, dvs_base, nb, meta snapshot)
                    # against rival claims; the retry loop re-pins
                    cat.restore_table(table, cat._manifest(table)["v"])
                elif role == "maint" and (i // 4) % 6 in (2, 4):
                    # SCHEMA EVOLUTION racing live commits (r12
                    # verdict ask #5): rename is the metadata-only
                    # verb that changes how every LATER reader
                    # interprets EVERY segment written before it
                    # (column mapping translates old physical names).
                    # Names are never recycled, so the soak renames
                    # forward through fresh names: tag -> tag2 ->
                    # tag3; the k=0 boot row's value must still read
                    # back under the final name after the race.
                    new_name = "tag2" if (i // 4) % 6 == 2 else "tag3"
                    old_name = "tag" if new_name == "tag2" else "tag2"
                    try:
                        cat.rename_column(table, old_name, new_name)
                    except NameError:
                        # a rival maint replay/retry already moved it
                        # (idempotent outcome) — acceptable
                        pass
                elif role == "maint":
                    # DROP racing live commits: retire a disposable
                    # column while rivals append/upsert subsets —
                    # every later reader must prune it from every
                    # era's segments
                    try:
                        cat.drop_column(table, "scratch")
                    except NameError:
                        pass  # already dropped by a retried attempt
                else:
                    # vacuum=False: immediate segment reclaim under a
                    # concurrent reader is outside the retention
                    # contract (Delta needs a retention window too)
                    cat.compact(table, vacuum=False)
                applied.append(f"{op}:{base}")
                break
            except ConcurrentWriteError:
                conflicts += 1
                time.sleep(0.05 * (attempt + 1))
        else:
            print(json.dumps({"worker": wid, "error": f"gave up on {op}"}))
            sys.exit(2)

    print(json.dumps(
        {
            "worker": wid,
            "applied": applied,
            "conflicts": conflicts,
        }
    ))


if __name__ == "__main__":
    main()
