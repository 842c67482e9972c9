#!/usr/bin/env python
"""Quiet-box A/B for the round-9 one-pass upsert (round-9 verdict ask
#4): the job trace proved the full-outer rewrite cut upsert from 14 to
10 Spark jobs, but the only wall-clock evidence was one noisy driver
capture (kt_upsert_10pct 6.05s -> 8.37s on a host with a measured
2-5x swing). This script settles it the way the r8 relitigation was
settled for wall time generally: min-of-N INTERLEAVED same-session
runs — variant A and B alternate within one JVM, so host noise hits
both equally — plus the per-run job counts.

Variant "onepass"  = the shipped io.py _upsert (full-outer join, one
                     pass over touched buckets and batch).
Variant "carryanti" = the pre-r9 shape, resurrected verbatim from git
                     e6e84f4^ as a subclass override: carry join for
                     preserved columns + left-anti for survivors +
                     unionByName (touched buckets read twice).

Both variants run against identically-prepared tables that evolve in
lockstep (round i upserts the same 10% key slice with the same new
values into each variant's own table). Output: per-round walls, the
min per variant, and job counts, written to
scripts/upsert_quietbox_r10.json.

Usage: python scripts/upsert_quietbox.py [rounds]   (default 4)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from pandabase_spark.io import KeyedCatalog
from pandabase_spark.session import get_spark
from pandabase_spark import workload


class CarryAntiCatalog(KeyedCatalog):
    """KeyedCatalog with the pre-r9 upsert merge shape (git e6e84f4^),
    kept ONLY for this measurement."""

    def _upsert(
        self,
        sdf: DataFrame,
        table_name: str,
        probe: dict,
        txn=None,
        ingest=None,
        gen_provided=None,
    ) -> None:
        man, m, touched = probe["man"], probe["m"], probe["touched"]
        existing = self._read_raw(table_name, buckets=touched, manifest=man)
        table_cols = list(existing.columns)
        preserved = [c for c in table_cols if c not in sdf.columns]

        if preserved:
            carried = existing.select(*m.keys, *preserved)
            batch_full = sdf.join(carried, on=list(m.keys), how="left")
        else:
            batch_full = sdf
        if m.generated:
            batch_full = self._enforce_generated_effective(
                batch_full, m, gen_provided or []
            )
        self._check_constraints(batch_full, m)
        survivors = existing.join(
            sdf.select(*m.keys), on=list(m.keys), how="left_anti"
        )
        merged = survivors.unionByName(batch_full, allowMissingColumns=True)
        seg, buckets = self._write_segment(merged, table_name, m)
        touched_set = set(touched)
        segments: dict[str, list[int]] = {}
        for old_seg, bs in man["segments"].items():
            keep = [b for b in bs if b not in touched_set]
            if keep:
                segments[old_seg] = keep
        segments[seg] = buckets
        self._commit(
            table_name, segments, v=man["v"], op="upsert", txn=txn,
            ingest=ingest,
        )
        self._maybe_auto_compact(table_name)


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("upsert_quietbox")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    li = workload._li_unique(spark, sf_dir).cache()
    n = li.count()
    batch_rows = n // 10

    wh = f"/tmp/upsert_quietbox_{os.getpid()}"
    cats = {
        "onepass": KeyedCatalog(spark, f"{wh}/new"),
        "carryanti": CarryAntiCatalog(spark, f"{wh}/old"),
        "adaptive": KeyedCatalog(spark, f"{wh}/adaptive"),
    }
    # pin the pure shapes ("onepass" through the broadcast gate the
    # upsert shape is decided by); "adaptive" exercises the shipped
    # dispatch (broadcast anti+union for full-column broadcastable
    # batches, full-outer otherwise)
    cats["onepass"]._keys_broadcastable = lambda *a, **kw: False
    for name, cat in cats.items():
        cat.to_table(li, "t", keys=workload.LI_KEYS)

    # two batch shapes, because the two merge plans differ most there:
    # a FULL-COLUMN batch needs no carry join (the legacy shape is one
    # existing scan + a broadcastable anti), while a PARTIAL-COLUMN
    # batch forces the legacy shape to read the touched buckets twice
    # (carry + anti) — the exact case the one-pass full-outer folds.
    slice_pred = F.pmod(F.xxhash64("l_orderkey"), F.lit(10)) == 0
    phases = {
        "fullcol": lambda r: li.where(slice_pred).withColumn(
            "l_quantity", F.col("l_quantity") + float(r + 1)
        ),
        "partialcol": lambda r: li.where(slice_pred).select(
            *workload.LI_KEYS,
            (F.col("l_quantity") + float(r + 1)).alias("l_quantity"),
        ),
    }
    results: dict[str, dict] = {
        f"{p}_{v}": {"walls": [], "n_jobs": None}
        for p in phases
        for v in cats
    }
    for r in range(rounds):
        for p, mk in phases.items():
            batch = mk(r)
            # alternate A-first/B-first each round so slow drift in
            # host load cannot systematically favor one slot
            order = (
                list(cats) if r % 2 == 0 else list(reversed(list(cats)))
            )
            for v in order:
                key = f"{p}_{v}"
                group = f"uq-{key}-{r}"
                sc.setJobGroup(group, key)
                t0 = time.time()
                cats[v].to_table(
                    batch, "t", keys=workload.LI_KEYS, how="upsert"
                )
                dt = time.time() - t0
                sc.setJobGroup(None, None)
                results[key]["walls"].append(round(dt, 3))
                results[key]["n_jobs"] = len(
                    sc.statusTracker().getJobIdsForGroup(group)
                )
                print(f"round {r} {key}: {dt:.2f}s", flush=True)

    for v in results:
        results[v]["min_wall"] = min(results[v]["walls"])
    out = {
        "what": (
            "interleaved same-session upsert A/B at "
            f"{os.path.basename(sf_dir)} ({n} lineitem rows, 10% batch "
            f"per round, {rounds} rounds, min-of-N per variant); "
            "onepass = full-outer-join _upsert (forced), carryanti = "
            "pre-r9 carry+anti+union resurrected from git e6e84f4^, "
            "adaptive = shipped dispatch (broadcast anti+union when "
            "the full-column batch's key frame fits the broadcast "
            "threshold, full-outer otherwise); fullcol = batch "
            "carries every table column, partialcol = batch carries "
            "keys + l_quantity only"
        ),
        "rows": n,
        "batch_rows": batch_rows,
        "rounds": rounds,
        "results": results,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "upsert_quietbox_r10.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(out["results"], indent=1))

    import shutil

    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
