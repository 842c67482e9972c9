"""The benchmark workloads.

Each workload is single-client and closed-loop: the next operation starts
when the previous one has returned. ``stage`` generates every input and
the expected result of every read before timing starts; ``setup`` builds
the starting state in the library; ``cycle(i)`` runs one fixed, seeded
sequence of operations, and a run repeats whole cycles until its time is
up, so every run measures the same mix.

- ``kt_ingest``: a keyed table that grows through a Spark upsert, a clause
  MERGE, a pandas upsert and a Spark append per cycle, each batch also
  landing in a Delta "bronze" table and read back by primary-key range;
  then serving reads (range, Bloom point, min/max stats, time travel,
  pandas, Delta replay) and ``compact``, ``vacuum``, ``delta_checkpoint``.
- ``ann_index``: build an IVFPQ index, add ``txn=`` batches, compact it,
  then serve single-vector top-10 queries, scored against exact ground
  truth. No keyed table and no Delta log is touched.
"""

from __future__ import annotations

import io as _io
import os
import shutil
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd

from perfbench import inputs as gen
from perfbench.trace import IDLE_GROUP

SETUP_REPS = 3
WINDOW_GROUP = "perfbench-window"
# thread-name prefixes of the HotSpot JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# a run measures one cycle (run_seconds is shorter than one); the rest
# serve longer --seconds
PLANNED_CYCLES = 4


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _parquet_bytes(frame: pd.DataFrame) -> int:
    buf = _io.BytesIO()
    frame.to_parquet(buf, index=False)
    return buf.tell()


def tail(samples: list) -> "tuple[float, float, int] | None":
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    xs = sorted(samples)
    return xs[n - 11], 100.0 * (n - 10) / n, n


class Window:
    """What one measured window observed."""

    def __init__(self):
        self.lat: dict = defaultdict(list)
        self.cpu: dict = defaultdict(list)
        self.rows: dict = defaultdict(int)
        # bytes each write added to the storage it writes to, and its rows
        self.grew: dict = defaultdict(int)
        self.written_rows = 0
        # parquet bytes of the staged keyed-write batches (kt_ingest)
        self.staged = 0
        self.jobs = 0
        self.cycles = 0
        self.elapsed = 0.0

    def ops(self) -> int:
        return sum(len(v) for v in self.lat.values())

    def busy(self) -> float:
        return sum(sum(v) for v in self.lat.values())


class Workload:
    """Timed, checked, optionally traced operations shared by the workloads."""

    name = ""
    # the reads behind read_cpu_s and read_p50_s
    read_kinds: tuple = ()
    # every operation whose result starts with the rows it returned
    row_kinds: tuple = ()

    def __init__(self, spark, work: str, seed: int, scale: float, tracer):
        from pyspark import SparkContext

        self.spark = spark
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_times: list[float] = []
        self.setup_cpu: list[float] = []
        self.win = Window()
        self._next = 0

    def cpu(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM (its
        Python workers, if any, are not counted). The JVM's JIT compiler
        threads are left out: how much compiling falls inside a window
        depends on how warm the JVM is, not on the operations."""
        ticks = 0
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    comm, rest = f.read().split("(", 1)[1].rsplit(")", 1)
            except OSError:  # the thread ended
                continue
            if comm.startswith(JIT_THREADS):
                continue
            fields = rest.split()
            ticks += int(fields[11]) + int(fields[12])
        return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")

    # -- operations --------------------------------------------------------
    def op(self, kind: str, span: str, fn, *, expect=None, rows: int = 0, grows: "str | None" = None):
        """Run ``fn`` as one timed operation inside a ``span`` trace span.

        ``expect`` is compared with the result; a mismatch or an exception
        counts as a failed operation. ``rows`` is the rows the operation
        writes; a read's rows are the count in its result's first slot.
        A write names the directory it writes to in ``grows``; the bytes
        it adds there are measured outside its time.
        """
        self.attempted += 1
        before = _du(grows) if grows else 0
        c0 = self.cpu()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span) as rec:
                out = fn()
                returned = out[0] if kind in self.row_kinds and isinstance(out, tuple) else 0
                if rec is not None:
                    rec["rows"] = returned
        except Exception as exc:  # the run goes on; the failure is counted
            self.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:400])
            return None
        self.win.lat[kind].append(time.perf_counter() - t0)
        self.win.cpu[kind].append(self.cpu() - c0)
        self.win.rows[kind] += rows or returned
        if grows:
            self.win.grew[kind] += _du(grows) - before
            self.win.written_rows += rows
        self.check(kind, out, expect)
        return out

    def check(self, what: str, got, expect) -> None:
        if expect is not None and got != expect:
            self.failed += 1
            self.errors.append(f"{what}: got {got!r}, expected {expect!r}"[:400])

    def summary_of(self, df) -> tuple:
        from pyspark.sql import functions as F

        row = df.agg(
            F.count(F.lit(1)), *(F.sum(c) for c in gen.CHECK_COLS)
        ).collect()[0]
        return tuple(int(v or 0) for v in row)

    # -- phases --------------------------------------------------------------
    def run_setup(self) -> None:
        """Stage, then set up ``SETUP_REPS`` times. There is no warm-up:
        the gated metrics count work, not time."""
        self.stage()
        for rep in range(SETUP_REPS):
            last = rep == SETUP_REPS - 1
            c0, t0 = self.cpu(), time.perf_counter()
            self.setup(rep)
            self.setup_times.append(time.perf_counter() - t0)
            self.setup_cpu.append(self.cpu() - c0)
            if not last:
                self.discard(rep)

    def measure(self, seconds: float) -> Window:
        """Whole cycles until ``seconds`` have passed (at least one)."""
        self.win = win = Window()
        sc = self.spark.sparkContext
        # an untraced window runs in one job group, to count its jobs (a
        # traced window's spans set their own groups)
        counting = not self.tracer.enabled
        if counting:
            sc.setJobGroup(WINDOW_GROUP, "measured window")
        start = time.perf_counter()
        while self._next < PLANNED_CYCLES:
            self.cycle(self._next)
            self._next += 1
            win.cycles += 1
            if time.perf_counter() - start >= seconds:
                break
        win.elapsed = time.perf_counter() - start
        if counting:
            win.jobs = len(sc.statusTracker().getJobIdsForGroup(WINDOW_GROUP))
            sc.setJobGroup(IDLE_GROUP, "benchmark harness")
        return win

    def stage(self) -> None:
        """Generate the inputs and expected results (untimed, once)."""
        raise NotImplementedError

    def setup(self, rep: int) -> None:
        """Build the starting state in the library (timed: ``setup_s``)."""
        raise NotImplementedError

    def discard(self, rep: int) -> None:
        """Drop what setup repetition ``rep`` built (only the last is used)."""

    def cycle(self, i: int) -> None:
        raise NotImplementedError

    def final_check(self) -> None:
        """Untimed whole-state checks after the measured windows."""

    # -- metrics ---------------------------------------------------------------
    def gated(self, win: Window) -> dict:
        """The end-to-end metrics every workload reports (``BENCHMARK.json``
        ``end_to_end``). Apart from ``setup_s`` they count work, not time:
        on a shared host the time a vCPU waits for the host (steal) moves
        wall and CPU times of a whole run by a third or more, and these
        counts do not depend on it. ``setup_s`` is CPU seconds for the
        same reason."""
        return {
            "setup_s": (statistics.median(self.setup_cpu), "s"),
            "jobs_per_op": (win.jobs / win.ops(), "count"),
            "bytes_per_row": (sum(win.grew.values()) / win.written_rows, "B/row"),
        }

    def timing(self, win: Window) -> dict:
        """The times of the window (printed, not gated): name -> (value,
        unit, note)."""
        reads = [x for k in self.read_kinds for x in win.lat[k]]
        read_cpu = [x for k in self.read_kinds for x in win.cpu[k]]
        cpu = sum(sum(v) for v in win.cpu.values())
        return {
            "setup_wall_s": (statistics.median(self.setup_times), "s", "median of the setup repetitions"),
            "ops_per_s": (win.ops() / win.busy(), "1/s", f"{win.ops()} ops"),
            "cpu_s_per_op": (cpu / win.ops(), "s", "driver process and Spark JVM"),
            "read_p50_s": (statistics.median(reads), "s", f"{len(reads)} reads"),
            "read_cpu_s": (statistics.median(read_cpu), "s", "median CPU per read"),
        }

    def detail(self, win: Window) -> dict:
        """This workload's share of the full end-to-end metric list:
        name -> (value, unit, note)."""
        raise NotImplementedError

    def _rate(self, win: Window, kind: str) -> tuple:
        t = sum(win.lat[kind])
        return (win.rows[kind] / t if t else float("nan"), "rows/s", f"{len(win.lat[kind])} calls")

    @staticmethod
    def _tail(samples: list, unit: str = "s") -> tuple:
        t = tail(samples)
        if t is None:
            return (float("nan"), unit, f"n/a: {len(samples)} samples, tail needs 11")
        return (t[0], unit, f"p{t[1]:.1f} of {t[2]} samples")


class KtIngest(Workload):
    """A keyed table growing through the three write modes and MERGE, with
    serving reads interleaved and periodic maintenance."""

    name = "kt_ingest"
    read_kinds = ("read",)
    serve_kinds = ("read_range", "read_point", "read_stats", "read_version", "read_pandas", "delta_scan")
    row_kinds = read_kinds + serve_kinds
    DELETE_ABOVE_QTY = 45.0
    # time-travel reads go back at most this many commits; vacuum keeps them
    VERSIONS_BACK = 9

    def _sizes(self):
        s = self.scale
        return dict(
            base_orders=max(200, int(2_500 * s)),
            append_orders=max(20, int(250 * s)),
            upsert_orders=max(20, int(200 * s)),
            merge_old=max(20, int(150 * s)),
            merge_new=max(10, int(50 * s)),
            pandas_orders=max(10, int(100 * s)),
            wide=max(20, int(500 * s)),
            version_span=max(10, int(200 * s)),
            pandas_span=max(2, int(10 * s)),
        )

    def plan(self):
        """Every batch, read and expected result of every cycle, from a
        pandas replay of the writes (:class:`inputs.KeyedModel`)."""
        rng = np.random.default_rng([self.seed, 1])
        z = self._sizes()
        base = gen.lineitem(rng, 1, z["base_orders"])
        model = gen.KeyedModel(base)
        bronze = gen.summary(base)
        nxt = z["base_orders"] + 1
        # the table's content after each commit, in commit order
        commits = [model.snapshot()]
        cycles = []

        def existing_slice(n):
            orders = model.orders()
            start = int(rng.integers(0, len(orders) - n))
            return int(orders[start]), int(orders[start + n - 1])

        def step(kind, batch):
            nonlocal bronze
            commits.append(model.snapshot())
            bronze = tuple(a + b for a, b in zip(bronze, gen.summary(batch)))
            # the read-back covers the batch's key range
            lo, hi = int(batch["l_orderkey"].min()), int(batch["l_orderkey"].max())
            return {
                "kind": kind, "batch": batch,
                "parquet_bytes": _parquet_bytes(batch),
                "probe": (lo, hi, gen.summary(model.range_rows(lo, hi))),
            }

        def span(width):
            top = int(model.orders()[-1])
            lo = int(rng.integers(1, max(2, top - width)))
            return lo, lo + width

        for _c in range(PLANNED_CYCLES):
            steps = []
            lo, hi = existing_slice(z["upsert_orders"])
            batch = gen.revise(rng, model.range_rows(lo, hi).reset_index(drop=True))
            model.upsert(batch)
            steps.append(step("upsert", batch))
            orders = model.orders()
            lo = int(orders[-z["merge_old"]])
            old = gen.revise(rng, model.range_rows(lo, int(orders[-1])).reset_index(drop=True))
            new = gen.lineitem(rng, nxt, z["merge_new"])
            nxt += z["merge_new"]
            batch = pd.concat([old, new], ignore_index=True)
            model.merge(batch, self.DELETE_ABOVE_QTY)
            steps.append(step("merge", batch))
            lo, hi = existing_slice(z["pandas_orders"])
            batch = gen.revise(rng, model.range_rows(lo, hi).reset_index(drop=True))
            model.upsert(batch)
            steps.append(step("pandas_write", batch))
            # the append comes last, so maintenance has two segments to compact
            window = gen.ship_window(nxt, nxt + z["append_orders"] - 1)
            batch = gen.lineitem(rng, nxt, z["append_orders"])
            nxt += z["append_orders"]
            model.append(batch)
            steps.append(step("append", batch))

            latest = model.rows
            reads = []
            lo, hi = span(z["wide"])
            reads.append(("read_range", {"lo": lo, "hi": hi}, gen.summary(model.range_rows(lo, hi))))
            p = int(latest["l_partkey"].iloc[int(rng.integers(0, len(latest)))])
            reads.append(("read_point", {"partkey": p}, gen.summary(latest[latest["l_partkey"] == p])))
            sd = latest["l_shipdate"].dt.tz_localize(None)
            reads.append((
                "read_stats", {"lo": window[0], "hi": window[1]},
                gen.summary(latest[(sd >= window[0]) & (sd <= window[1])]),
            ))
            first = max(0, len(commits) - self.VERSIONS_BACK)
            for c in rng.choice(np.arange(first, len(commits)), size=2, replace=False):
                lo, hi = span(z["version_span"])
                rows = commits[int(c)]
                ok = rows["l_orderkey"]
                reads.append((
                    "read_version", {"commit": int(c), "lo": lo, "hi": hi},
                    gen.summary(rows[(ok >= lo) & (ok <= hi)]),
                ))
            lo, hi = span(z["pandas_span"])
            reads.append(("read_pandas", {"lo": lo, "hi": hi}, gen.summary(model.range_rows(lo, hi))))
            reads.append(("delta_scan", {}, bronze))
            # compact commits the same content again
            commits.append(commits[-1])
            cycles.append({"steps": steps, "reads": reads, "table": gen.summary(latest), "bronze": bronze})
        return base, cycles

    def stage(self) -> None:
        self.base, self.cycles = self.plan()

    def setup(self, rep: int) -> None:
        from pandabase_spark import KeyedCatalog
        from pandabase_spark.sources.delta_writer import delta_create

        base = self.base
        self.cat = KeyedCatalog(self.spark, f"{self.work}/catalog", default_buckets=8)
        self.table = f"ingest_r{rep}"
        self.bronze = f"{self.work}/bronze_r{rep}"
        frame = self.spark.createDataFrame(base)
        with self.tracer.span("io.create"):
            self.cat.to_table(
                frame, self.table, keys=gen.KEYS,
                stats_columns=["l_shipdate"], bloom_columns=["l_partkey"],
            )
        with self.tracer.span("delta.create"):
            delta_create(frame, self.bronze)
        self.expect_table = self.expect_bronze = gen.summary(base)
        # the catalog's version number of each planned commit, as it happens
        self.commit_versions = [self._version()]

    def _version(self) -> int:
        return self.cat.history(self.table)[-1]["version"]

    def discard(self, rep: int) -> None:
        self.cat.drop_table(self.table)
        shutil.rmtree(self.bronze, ignore_errors=True)

    def _write(self, kind: str, frame) -> None:
        if kind == "pandas_write":
            self.cat.to_table(frame, self.table, how="upsert")
        elif kind == "merge":
            self.cat.merge_table(
                frame, self.table,
                when_matched_delete=f"s.l_quantity > {self.DELETE_ABOVE_QTY}",
            )
        else:
            self.cat.to_table(frame, self.table, keys=gen.KEYS, how=kind)

    def _read(self, kind: str, a: dict):
        from pandabase_spark.sources.delta_reader import delta_scan

        t = self.table
        if kind in ("read", "read_range"):
            return self.summary_of(self.cat.read_table(t, lowest=(a["lo"], None), highest=(a["hi"], None)))
        if kind == "read_point":
            return self.summary_of(self.cat.read_table(t, bloom_point={"l_partkey": a["partkey"]}))
        if kind == "read_stats":
            return self.summary_of(self.cat.read_table(t, stats_bounds={"l_shipdate": (a["lo"], a["hi"])}))
        if kind == "read_version":
            return self.summary_of(self.cat.read_table(
                t, version=self.commit_versions[a["commit"]], lowest=(a["lo"], None), highest=(a["hi"], None)
            ))
        if kind == "read_pandas":
            return gen.summary(self.cat.read_pandas(t, lowest=(a["lo"], None), highest=(a["hi"], None)))
        return self.summary_of(delta_scan(self.spark, self.bronze))

    def cycle(self, i: int) -> None:
        from pandabase_spark.sources.delta_writer import delta_append, delta_checkpoint

        c = self.cycles[i]
        table_dir = f"{self.work}/catalog/{self.table}"
        for step in c["steps"]:
            kind, b = step["kind"], step["batch"]
            # pandas batches go in as the reference shapes them, keys as
            # the index; the rest are handed over as Spark frames
            frame = b.set_index(gen.KEYS) if kind == "pandas_write" else self.spark.createDataFrame(b)
            bronze = self.spark.createDataFrame(b)
            self.op(kind, f"io.{kind}", lambda: self._write(kind, frame), rows=len(b), grows=table_dir)
            self.win.staged += step["parquet_bytes"]
            self.commit_versions.append(self._version())
            self.op("delta_append", "delta.append", lambda: delta_append(bronze, self.bronze),
                    rows=len(b), grows=self.bronze)
            lo, hi, expect = step["probe"]
            self.op("read", "io.read_range", lambda: self._read("read", {"lo": lo, "hi": hi}), expect=expect)
        for kind, args, expect in c["reads"]:
            span = "delta.scan" if kind == "delta_scan" else f"io.{kind}"
            self.op(kind, span, lambda: self._read(kind, args), expect=expect)
        self.op("compact", "io.compact", lambda: self.cat.compact(self.table, vacuum=False))
        self.commit_versions.append(self._version())
        self.op("vacuum", "io.vacuum", lambda: self.cat.vacuum(self.table, retain_last=self.VERSIONS_BACK))
        self.op("checkpoint", "delta.checkpoint", lambda: delta_checkpoint(self.spark, self.bronze))
        self.expect_table, self.expect_bronze = c["table"], c["bronze"]

    def final_check(self) -> None:
        from pandabase_spark.sources.delta_reader import delta_scan

        self.attempted += 2
        got = self.summary_of(self.cat.read_table(self.table))
        self.check("final keyed table", got, self.expect_table)
        got = self.summary_of(delta_scan(self.spark, self.bronze))
        self.check("final bronze table", got, self.expect_bronze)

    def detail(self, win: Window) -> dict:
        maint = [
            a + b + c for a, b, c in zip(win.lat["compact"], win.lat["vacuum"], win.lat["checkpoint"])
        ]
        serve = [x for k in self.serve_kinds for x in win.lat[k]]
        keyed = sum(v for k, v in win.grew.items() if k != "delta_append")
        return {
            "append_rows_per_s": self._rate(win, "append"),
            "upsert_rows_per_s": self._rate(win, "upsert"),
            "merge_rows_per_s": self._rate(win, "merge"),
            "pandas_write_rows_per_s": self._rate(win, "pandas_write"),
            "delta_append_rows_per_s": self._rate(win, "delta_append"),
            "maintenance_s": (statistics.median(maint), "s", f"median of {len(maint)} cycles"),
            "write_amp": (
                keyed / win.staged, "ratio", f"{keyed} B added / {win.staged} B staged parquet",
            ),
            "read_tail_s": self._tail(win.lat["read"]),
            "reads_per_s": (len(serve) / sum(serve), "reads/s", f"{len(serve)} serving reads"),
        }


class AnnIndex(Workload):
    name = "ann_index"
    read_kinds = row_kinds = ("query",)
    DIM = 64
    CELLS = 16
    K = 10
    QUERIES_PER_CYCLE = 4
    APPEND_BATCHES = 1

    def _sizes(self):
        s = self.scale
        return dict(corpus=max(400, int(1_000 * s)), batch=max(40, int(100 * s)))

    def plan(self):
        rng = np.random.default_rng([self.seed, 3])
        z = self._sizes()
        centers = rng.standard_normal((self.CELLS, self.DIM))
        corpus = gen.unit_vectors(rng, centers, z["corpus"])
        batches = [gen.unit_vectors(rng, centers, z["batch"]) for _ in range(self.APPEND_BATCHES)]
        ids = np.arange(z["corpus"] + self.APPEND_BATCHES * z["batch"], dtype=np.int64)
        allv = np.concatenate([corpus] + batches)
        queries = gen.unit_vectors(rng, centers, PLANNED_CYCLES * self.QUERIES_PER_CYCLE)
        truth = gen.exact_topk(allv, ids, queries, self.K)
        return corpus, batches, ids, queries, truth

    def _frame(self, vecs: np.ndarray, first_id: int):
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
        ])
        pdf = pd.DataFrame({
            "vec_id": np.arange(first_id, first_id + len(vecs), dtype=np.int64),
            "embedding": list(vecs),
        })
        return self.spark.createDataFrame(pdf, schema)

    def stage(self) -> None:
        self.staged = self.plan()
        self.recalls: list[float] = []

    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F
        from pandabase_spark.operators.similarity import cosine_topk

        corpus, batches, ids, queries, self.truth = self.staged
        self.valid = set(ids.tolist())
        self.corpus = self._frame(corpus, 0)
        first = len(corpus)
        self.batches = []
        for b in batches:
            self.batches.append(self._frame(b, first))
            first += len(b)
        self.query_vectors = queries
        # exact ground truth through the library, checked against NumPy's
        qdf = self._frame(queries, 0).withColumnRenamed("vec_id", "query_id")
        full = self.corpus.unionByName(self.batches[0])
        for b in self.batches[1:]:
            full = full.unionByName(b)
        with self.tracer.span("similarity.exact"):
            rows = cosine_topk(full, qdf, query_id_col="query_id", k=self.K).groupBy("query_id").agg(
                F.collect_set("vec_id").alias("ids")
            ).collect()
        got = {int(r["query_id"]): set(int(x) for x in r["ids"]) for r in rows}
        self.attempted += 1
        mismatched = sum(got.get(j) != t for j, t in enumerate(self.truth))
        self.check("cosine_topk ground truth (queries mismatched)", mismatched, 0)

    def cycle(self, i: int) -> None:
        from pandabase_spark.operators.similarity import (
            ann_topk_ivfpq_indexed, append_ivfpq_index, compact_index, write_ivfpq_index,
        )

        path = f"{self.work}/ann/idx_{i}"
        self.op("build", "similarity.build", lambda: write_ivfpq_index(
            self.corpus, path, n_cells=self.CELLS, m=8, n_codes=16
        ), rows=self._sizes()["corpus"], grows=path)
        for j, b in enumerate(self.batches):
            self.op("append", "similarity.append", lambda: append_ivfpq_index(b, path, txn=("ann", j)),
                    rows=self._sizes()["batch"], grows=path)
        self.op("compact", "similarity.compact", lambda: compact_index(self.spark, path, keep_last=0))
        for q in range(self.QUERIES_PER_CYCLE):
            j = i * self.QUERIES_PER_CYCLE + q
            query = self._query_frame(j)
            out = self.op("query", "similarity.query", lambda: self._query(path, j, query))
            if out is not None:
                self.recalls.append(len(out[1] & self.truth[j]) / self.K)
        shutil.rmtree(path, ignore_errors=True)

    def _query_frame(self, j: int):
        return self._frame(self.query_vectors[j][None, :], 10_000_000 + j % len(self.query_vectors))

    def _query(self, path: str, j: int, query) -> tuple:
        from pandabase_spark.operators.similarity import ann_topk_ivfpq_indexed

        rows = ann_topk_ivfpq_indexed(self.spark, path, query, k=self.K, nprobe=4).collect()
        ids = {int(r["vec_id"]) for r in rows}
        ranks = sorted(int(r["rank"]) for r in rows)
        # an answer is well-formed: K distinct known ids ranked 1..K
        if len(rows) != self.K or len(ids) != self.K or not ids <= self.valid or ranks != list(range(1, self.K + 1)):
            raise ValueError(f"query {j}: malformed top-{self.K}: {sorted(ids)} ranks {ranks}")
        return len(rows), ids

    def detail(self, win: Window) -> dict:
        q = win.lat["query"]
        return {
            "index_build_s": (statistics.median(win.lat["build"]), "s", f"median of {len(win.lat['build'])} builds"),
            "ann_query_p50_s": (statistics.median(q), "s", f"{len(q)} queries"),
            "ann_query_tail_s": self._tail(q),
            "recall_at10": (statistics.fmean(self.recalls), "fraction", f"{len(self.recalls)} queries"),
        }


WORKLOADS = {w.name: w for w in (KtIngest, AnnIndex)}
