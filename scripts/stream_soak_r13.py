#!/usr/bin/env python
"""Long-horizon streaming ANN-index ingest soak (r12 verdict ask #7).

Runs the ``streaming_ivfpq_index_ingest`` pipeline shape for 320
micro-batches (a real stream horizon, not the gate's ~8), with the
two events a production stream actually hits injected mid-run:

- a LOST-CHECKPOINT REPLAY: after batch ~100 the last 5 delivered
  micro-batches are re-delivered verbatim with their original
  (app, batch_id) txns — the foreachBatch re-delivery Structured
  Streaming performs after WAL recovery of an uncommitted epoch;
  each is at or below its app's committed txn watermark, so it must
  be a no-op, not a double-insert;
- a MID-RUN COMPACTION: ``compact_index(keep_last=2)`` folds the
  first ~98 batches' txn leaves while the stream is paused, after
  which (a) a replay of a folded (below-watermark) batch must be a
  NO-OP and (b) the stream resumes from its intact checkpoint and
  keeps appending above the watermark.

End state: with LOSSLESS enumerated codebooks and a full probe, the
persisted ADC search must match brute-force L2 top-10 over the
ENTIRE 9,800-vector corpus EXACTLY (python-recomputed) — a dropped,
duplicated, folded-twice, or mis-encoded row anywhere in the 320
batches breaks the set equality.

Also the committed scale-evidence row for compaction (r12 verdict
ask #2): before the final fold the index holds >=200 txn leaves PER
CELL (the 220 post-mid-compaction batches);
the run records leaves before/after, per-cell min/mean, compaction
wall, and serve wall before vs after folding.

Writes scripts/stream_soak_r13.json. Run: python scripts/stream_soak_r13.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BASE = 200          # vectors in the bootstrap index build
N_BATCHES = 320       # streamed micro-batches
BATCH_ROWS = 30
DIM = 16
N_CELLS = 8
APP = "soak:ivfpq"


def _vec_expr():
    from pyspark.sql import functions as F

    # deterministic ternary vectors: lossless m=8 PQ enumeration
    # (2-dim subvectors over {-1,0,1} values -> <=9 codes/subspace)
    return F.expr(
        f"transform(sequence(1, {DIM}), i -> "
        "cast(pmod(hash(vec_id, i), 3) - 1 as double))"
    )


def _batch_df(spark, b):
    from pyspark.sql import functions as F

    lo = N_BASE + b * BATCH_ROWS
    return (
        spark.range(lo, lo + BATCH_ROWS)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", _vec_expr().alias("qvec"))
    )


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from pandabase_spark import kt_log
    from pandabase_spark.fs import HadoopFS
    from pandabase_spark.operators.similarity import (
        ann_topk_ivfpq_indexed,
        append_ivfpq_index,
        compact_index,
        pq_codebooks_exact,
        write_ivfpq_index,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("stream-soak-r13")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="pb_stream_soak_")
    path = f"{root}/index"
    src = f"{root}/src"
    ckpt = f"{root}/ckpt"
    os.makedirs(src)

    n_total = N_BASE + N_BATCHES * BATCH_ROWS
    full = (
        spark.range(n_total)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", _vec_expr().alias("qvec"))
    )
    books = pq_codebooks_exact(full, vec_col="qvec", m=8)
    write_ivfpq_index(
        full.where(F.col("vec_id") < N_BASE), path, vec_col="qvec",
        n_cells=N_CELLS, iters=2, sample_mod=2, codebooks=books,
    )

    def deliver(b: int) -> None:
        append_ivfpq_index(
            _batch_df(spark, b), path, vec_col="qvec", txn=(APP, b)
        )

    def stream_files(first: int, last: int) -> None:
        """Land batch files [first, last] and drain them through a
        real Structured Streaming query (maxFilesPerTrigger=1 -> one
        micro-batch per file, batch ids continue from the
        checkpoint). File mtimes are staggered so the source's
        file->batch order is deterministic."""
        schema = _batch_df(spark, 0).schema
        for b in range(first, last + 1):
            fdir = f"{src}/b{b:04d}"
            _batch_df(spark, b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(fdir)
            # the source applies maxFilesPerTrigger in file-mtime
            # order; stagger PART-file mtimes so file<->batch-id
            # mapping is deterministic (the replay below re-delivers
            # by batch id and depends on it)
            ts = 1_700_000_000 + b
            for f_ in os.listdir(fdir):
                os.utime(f"{fdir}/{f_}", (ts, ts))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*")
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, bid: append_ivfpq_index(
                    batch, path, vec_col="qvec", txn=(APP, bid)
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1800)

    def count_rows() -> int:
        return spark.read.parquet(f"{path}/data").count()

    def leaves() -> "list[int]":
        """Leaves per cell, over every ``txn=<label>`` directory."""
        per_cell: "dict[str, int]" = {}
        for td in os.listdir(f"{path}/data"):
            for cd in os.listdir(f"{path}/data/{td}"):
                if cd.startswith("cell="):
                    per_cell[cd] = per_cell.get(cd, 0) + 1
        return list(per_cell.values())

    report: dict = {"n_batches": N_BATCHES, "batch_rows": BATCH_ROWS,
                    "n_cells": N_CELLS, "corpus_rows": n_total}

    # ---- phase A: first ~half of the horizon through the engine
    t0 = time.time()
    stream_files(0, 99)
    report["phase_a_wall_s"] = round(time.time() - t0, 1)
    rows_a = count_rows()
    report["rows_after_phase_a"] = rows_a
    assert rows_a == N_BASE + 100 * BATCH_ROWS, rows_a

    # ---- lost-checkpoint replay: re-deliver the last 5 epochs
    # verbatim (the WAL-recovery shape) — must converge
    for b in range(95, 100):
        deliver(b)
    rows_replay = count_rows()
    report["replay_converged"] = rows_replay == rows_a
    assert rows_replay == rows_a, (rows_replay, rows_a)

    # ---- mid-run compaction while the stream is paused
    pre = leaves()
    report["leaves_before_midrun_compact"] = sum(pre)
    t0 = time.time()
    stats_mid = compact_index(spark, path, keep_last=2)
    report["midrun_compact_wall_s"] = round(time.time() - t0, 1)
    report["midrun_compact"] = stats_mid
    head = kt_log.head(HadoopFS(spark), path)
    report["watermark_after_midrun"] = head["txns"].get(APP)

    # a FOLDED batch re-delivered after compaction: no-op by contract
    rows_pre = count_rows()
    deliver(50)
    report["below_watermark_replay_noop"] = count_rows() == rows_pre
    assert report["below_watermark_replay_noop"]

    # ---- phase B: resume the stream from its intact checkpoint for
    # the rest of the horizon (batch ids continue above the watermark)
    t0 = time.time()
    stream_files(100, N_BATCHES - 1)
    report["phase_b_wall_s"] = round(time.time() - t0, 1)
    rows_b = count_rows()
    assert rows_b == n_total, (rows_b, n_total)

    # ---- the >=200-leaves-per-cell scale point, then final fold
    pre2 = leaves()
    report["leaves_before_final_compact"] = sum(pre2)
    report["leaves_per_cell_min"] = min(pre2)
    report["leaves_per_cell_mean"] = round(sum(pre2) / len(pre2), 1)
    probes = full.where(F.col("vec_id") < 5)

    def serve_wall() -> float:
        t = time.time()
        ann_topk_ivfpq_indexed(
            spark, path, probes, vec_col="qvec", k=10, nprobe=N_CELLS
        ).collect()
        return round(time.time() - t, 2)

    report["serve_wall_uncompacted_s"] = serve_wall()
    t0 = time.time()
    stats_fin = compact_index(spark, path, keep_last=2)
    report["final_compact_wall_s"] = round(time.time() - t0, 1)
    report["final_compact"] = stats_fin
    post = leaves()
    report["leaves_after_final_compact"] = sum(post)
    report["serve_wall_compacted_s"] = serve_wall()

    # ---- end-state exactness: full-probe ADC over the persisted
    # codes == brute-force L2 top-10 over the whole corpus
    got = {
        (r["query_id"], r["vec_id"], round(r["approx_dist"], 6))
        for r in ann_topk_ivfpq_indexed(
            spark, path, probes, vec_col="qvec", k=10, nprobe=N_CELLS
        ).collect()
    }
    pts = {r["vec_id"]: list(r["qvec"]) for r in full.collect()}
    want = set()
    for qid in range(5):
        qv = pts[qid]
        dists = sorted(
            (round(sum((a - b) ** 2 for a, b in zip(qv, v)), 6), vid)
            for vid, v in pts.items()
        )
        kth = dists[9][0]
        # same deterministic tie rule as the operator (dist asc,
        # vec_id asc) — enumerate exactly the top-10 rows
        top = sorted(dists)[:10]
        want |= {(qid, vid, d) for d, vid in top}
        assert kth >= top[-1][0]
    report["end_state_matches_bruteforce"] = got == want
    assert got == want, "end state diverged from brute force"

    report["all_green"] = bool(
        report["replay_converged"]
        and report["below_watermark_replay_noop"]
        and report["end_state_matches_bruteforce"]
        and report["leaves_per_cell_min"] >= 200
        and sum(post) < sum(pre2) / 10
    )
    out = os.path.join(REPO, "scripts", "stream_soak_r13.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
