#!/usr/bin/env python
"""Spark jobs per write verb, each with the call site that launched it.

Builds a generated keyed table with ``stats_columns`` and
``bloom_columns`` plus a Delta copy in a temporary warehouse, then runs
create, append (new keys above every stored key), append_overlap (new
keys interleaved with a second table's stored keys, so the key-clash
join runs), upsert, merge, compact, read_point (a Bloom-pruned
equality read), delta_append, delta_checkpoint and delta_scan. Then it
traces the keyed writes whose type narrowing once took a separate
pass: a Spark upsert carrying a new
column under ``add_new_columns``, a Spark upsert carrying an all-null
``NullType`` column, a create with a generated column over a value
column, an auto-index create and append, a pandas create and a pandas
upsert. Then it writes seeded, clustered
64-dimensional unit vectors to parquet and runs the persisted IVFADC
verbs on them: write_ivfpq_index (16 cells, m=8, 16 codes),
append_ivfpq_index with ``txn=``, compact_index and a single-vector
ann_topk_ivfpq_indexed, with the query row read from parquet and as a
driver-local frame; then write_ivf_index and the same two
single-vector ann_topk_indexed queries on the raw-vector index. Each
verb runs in its own Spark job group. For every verb it prints
the job count and, per job, the call sites Spark records as its stage
names: the phase tree behind the verb's count. Beside the jobs it
prints the verb's ``HadoopFS`` calls by method, each with the
innermost library frame outside ``fs.py`` that made it, so the
file-system cost of a verb shows per call site. A DataFrameWriter write
or a DataFrameReader read launched from the JVM bridge has no Python
call site of its own, so while tracing, the writer's ``save`` and
``parquet`` and the reader's ``load`` and ``parquet`` set Spark's
``callSite.short`` local property to the innermost ``pandabase_spark/``
frame that called them. Needs no test data. Usage:

    python scripts/jobtrace.py [rows]    # default 2000 keyed rows
                                         # and 2000 vectors
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import tempfile
import traceback
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
LIB = os.path.join(ROOT, "pandabase_spark") + os.sep


def _library_frame(skip: str = "") -> "traceback.FrameSummary | None":
    """The innermost library frame on the stack outside the file
    ``skip``."""
    return next(
        (f for f in reversed(traceback.extract_stack()[:-1])
         if f.filename.startswith(LIB) and f.filename != skip),
        None,
    )


@contextlib.contextmanager
def named_calls(sc):
    """While active, ``DataFrameWriter.save``/``.parquet`` and
    ``DataFrameReader.load``/``.parquet`` name their jobs after the
    innermost library frame that called them."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    saved = [
        (cls, verb, getattr(cls, verb))
        for cls, verbs in (
            (DataFrameWriter, ("save", "parquet")),
            (DataFrameReader, ("load", "parquet")),
        )
        for verb in verbs
    ]

    def named(verb, orig):
        def call(self, *args, **kwargs):
            frame = _library_frame()
            if frame is None:
                return orig(self, *args, **kwargs)
            prev = sc.getLocalProperty("callSite.short")
            site = os.path.relpath(frame.filename, ROOT)
            sc.setLocalProperty(
                "callSite.short", f"{verb} at {site}:{frame.lineno}"
            )
            try:
                return orig(self, *args, **kwargs)
            finally:
                sc.setLocalProperty("callSite.short", prev)

        return call

    for cls, verb, orig in saved:
        setattr(cls, verb, named(verb, orig))
    try:
        yield
    finally:
        for cls, verb, orig in saved:
            setattr(cls, verb, orig)


@contextlib.contextmanager
def counted_fs(calls: Counter):
    """While active, each outermost call of a public ``HadoopFS``
    method adds one to ``calls[(method, call site)]`` (a method that
    calls another counts once)."""
    from pandabase_spark import fs as fsmod

    cls = fsmod.HadoopFS
    saved = {
        n: v for n, v in vars(cls).items()
        if callable(v) and not n.startswith("_")
    }
    depth = [0]

    def counted(name, orig):
        def call(self, *args, **kwargs):
            if not depth[0]:
                f = _library_frame(fsmod.__file__)
                site = "?" if f is None else (
                    f"{os.path.relpath(f.filename, ROOT)}:{f.lineno} ({f.name})"
                )
                calls[(name, site)] += 1
            depth[0] += 1
            try:
                return orig(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        return call

    for name, orig in saved.items():
        setattr(cls, name, counted(name, orig))
    try:
        yield
    finally:
        for name, orig in saved.items():
            setattr(cls, name, orig)


def trace_narrowing(spark, cat, trace, df, rows: int) -> None:
    """The keyed writes whose type narrowing rides the write's batch
    probe: new and all-null Spark columns, a generated column over a
    value column, auto-index input and pandas input."""
    import pandas as pd
    from pyspark.sql import functions as F

    cat.to_table(df, "n", keys=["k"])
    trace("upsert_new_column", lambda: cat.to_table(
        df.where(F.col("k") < 3).withColumn("flag", F.col("k") % 2),
        "n", keys=["k"], how="upsert", add_new_columns=True))
    trace("upsert_nulltype", lambda: cat.to_table(
        df.where(F.col("k") < 3).withColumn("v", F.lit(None)),
        "n", keys=["k"], how="upsert"))
    trace("create_generated", lambda: cat.to_table(
        df, "g", keys=["k"], generated={"w": "v + 1"}))
    trace("auto_index_create", lambda: cat.to_table(
        df.drop("k"), "a", auto_index=True))
    trace("auto_index_append", lambda: cat.to_table(
        df.drop("k"), "a", auto_index=True, how="append"))
    pdf = pd.DataFrame({
        "k": range(rows),
        "v": [2.0 * i for i in range(rows)],
        "p": [f"p{i % 97}" for i in range(rows)],
    }).set_index("k")
    trace("pandas_create", lambda: cat.to_table(pdf, "pd"))
    trace("pandas_upsert", lambda: cat.to_table(
        pdf.iloc[:3].assign(v=-1.0), "pd", how="upsert"))


def trace_ann(spark, trace, root: str, rows: int) -> None:
    """The persisted IVFADC verbs on ``rows`` + ``rows // 10`` seeded
    unit vectors (16 clusters, dim 64), read back from parquet."""
    import numpy as np

    from pandabase_spark.localframe import local_frame
    from pandabase_spark.operators.similarity import (
        ann_topk_indexed, ann_topk_ivfpq_indexed, append_ivfpq_index,
        compact_index, write_ivf_index, write_ivfpq_index,
    )

    rng = np.random.default_rng(1)
    centers = rng.standard_normal((16, 64))
    n = rows + rows // 10
    vecs = centers[rng.integers(0, 16, n)] + 0.3 * rng.standard_normal((n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).write.parquet(f"{root}/vectors")
    vectors = spark.read.parquet(f"{root}/vectors")
    corpus = vectors.where(f"vec_id < {rows}")
    batch = vectors.where(f"vec_id >= {rows}")
    query = vectors.where("vec_id = 0")
    local = local_frame(
        spark, [tuple(r) for r in query.collect()], vectors.schema
    )
    path = f"{root}/index"
    trace("ivfpq_build", lambda: write_ivfpq_index(
        corpus, path, n_cells=16, m=8, n_codes=16))
    trace("ivfpq_append", lambda: append_ivfpq_index(
        batch, path, txn=("jobtrace", 0)))
    trace("ivfpq_compact", lambda: compact_index(spark, path, keep_last=0))
    for name, q in (("ivfpq_query", query), ("ivfpq_local_query", local)):
        trace(name, lambda: ann_topk_ivfpq_indexed(
            spark, path, q, k=10, nprobe=4).collect())
    ivf = f"{root}/ivf_index"
    trace("ivf_build", lambda: write_ivf_index(corpus, ivf, n_cells=16))
    for name, q in (("ivf_query", query), ("ivf_local_query", local)):
        trace(name, lambda: ann_topk_indexed(
            spark, ivf, q, k=10, nprobe=4).collect())


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("PANDABASE_DRIVER_MEM", "2g")
    from pyspark.sql import functions as F

    from pandabase_spark.io import KeyedCatalog
    from pandabase_spark.session import get_spark
    from pandabase_spark.sources import delta_writer as dw
    from pandabase_spark.sources.delta_reader import delta_scan

    spark = get_spark("jobtrace")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    st = sc.statusTracker()
    wh = tempfile.mkdtemp(prefix="jobtrace_")
    cat = KeyedCatalog(spark, f"{wh}/kt", default_buckets=8)
    bronze = f"{wh}/bronze"
    df = spark.range(rows).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        F.concat(F.lit("p"), F.col("id") % 97).alias("p"),
    )

    def where(site: str) -> str:
        """``site`` plus the enclosing function of a repo call site."""
        path, _, line = site.rpartition(" at ")[2].rpartition(":")
        if not path.endswith(".py") or not line.isdigit():
            return site
        with open(os.path.join(ROOT, path)) as fh:
            defs = [
                ln.split("def ", 1)[1].split("(", 1)[0]
                for ln in fh.readlines()[: int(line)]
                if ln.lstrip().startswith("def ")
            ]
        return f"{site} ({defs[-1]})" if defs else site

    def trace(verb: str, fn) -> None:
        group = f"jobtrace-{verb}"
        calls: Counter = Counter()
        sc.setJobGroup(group, verb)
        try:
            with named_calls(sc), counted_fs(calls):
                fn()
        finally:
            sc.setJobGroup(None, None)
        jids = sorted(st.getJobIdsForGroup(group))
        print(f"{verb}: {len(jids)} jobs, {sum(calls.values())} fs calls")
        for j in jids:
            info = st.getJobInfo(j)
            sites = []
            for sid in sorted(info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                name = stage.name.replace(ROOT + "/", "") if stage else "?"
                if (name := where(name)) not in sites:
                    sites.append(name)
            print(f"  job {j}: {' | '.join(sites)}")
        for (method, site), n in sorted(calls.items()):
            print(f"  fs {method} x{n}: {site}")

    try:
        trace("create", lambda: cat.to_table(
            df, "t", keys=["k"], stats_columns=["v"], bloom_columns=["p"]))
        trace("append", lambda: cat.to_table(
            df.withColumn("k", F.col("k") + rows), "t", keys=["k"],
            how="append"))
        # an append whose keys interleave with the stored ones: every
        # touched leaf's key range overlaps, so the clash join runs
        cat.to_table(df.where(F.col("k") % 2 == 0), "o", keys=["k"],
                     stats_columns=["v"], bloom_columns=["p"])
        trace("append_overlap", lambda: cat.to_table(
            df.where(F.col("k") % 2 == 1), "o", keys=["k"], how="append"))
        trace("upsert", lambda: cat.to_table(
            df.where(F.col("k") < 3).withColumn("v", F.col("v") + 1.0),
            "t", keys=["k"], how="upsert"))
        trace("merge", lambda: cat.merge_table(
            df.where(F.col("k") < 3)
            .withColumn("k", F.col("k") + rows - 1)
            .withColumn("v", F.col("v") - 1.0),
            "t", when_matched_update="all"))
        trace("compact", lambda: cat.compact("t"))
        trace("read_point", lambda: cat.read_table(
            "t", bloom_point={"p": "p5"}).collect())
        trace_narrowing(spark, cat, trace, df, rows)
        dw.delta_create(df, bronze)
        trace("delta_append", lambda: dw.delta_append(
            df.withColumn("k", F.col("k") + rows), bronze))
        trace("delta_checkpoint", lambda: dw.delta_checkpoint(spark, bronze))
        trace("delta_scan", lambda: delta_scan(spark, bronze).collect())
        trace_ann(spark, trace, f"{wh}/ann", rows)
    finally:
        spark.stop()
        shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
