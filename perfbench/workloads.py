"""The two workloads: what each runs, times and checks.

Each workload has ``prepare`` (inputs; harness work, kept out of
``setup_s``), ``setup`` (the untimed warm-up), ``measure`` (the timed
loop, one closed-loop caller) and ``check`` (result checks, untimed,
after the timed part). ``trace`` installs span wrappers around the
program's layer boundaries for a traced run; spans are only recorded
while the recorder is enabled, which is during the traced units of
``measure``.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time

import datagen
from spans import Patch, Recorder

PKG = "end_to_end_aws_data_pipeline_spark"

# Why each query is in the basket, and its owning module, is in README.md.
SCAN_QUERIES = (
    "q1_pricing_summary",
    "q_window_topk_per_group",
    "q_text_fingerprint",
)
ITERATIVE_QUERIES = ("q_graph_scc",)
BASKET = SCAN_QUERIES + ITERATIVE_QUERIES
# DuckDB oracle results recorded once on the fixture, for queries whose
# oracle takes seconds a run
RECORDED_ORACLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "recorded_oracles.json")


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """A /proc stat file: the command name and the fields after it."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1 : text.rindex(")")], text.rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, f = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if "CompilerThre" in name:
            ticks += int(f[11]) + int(f[12])
    return ticks


def work_cpu_s() -> float:
    """CPU seconds, user plus system, that this process and every process
    under it (the Spark JVM, Python workers), live or already waited for,
    spent on the work: the JVM's JIT compiler threads are left out.
    Time the hypervisor steals from the VM counts in none of them."""
    procs: dict[int, tuple[int, int, str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                name, f = _stat(f"/proc/{pid}/stat")
            except OSError:  # exited meanwhile
                continue
            # ppid; utime + stime + cutime + cstime
            procs[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]), name)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        _, t, name = procs.get(pid, (0, 0, ""))
        ticks += t
        if name == "java":
            try:
                ticks -= _jit_ticks(pid)
            except OSError:
                pass
        todo += children.get(pid, [])
    return ticks / _TICK


class OpTimes:
    """Wall and CPU seconds of each timed operation, by operation."""

    def __init__(self) -> None:
        self.wall: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}

    def add(self, op: str, wall: float, cpu: float) -> None:
        self.wall.setdefault(op, []).append(wall)
        self.cpu.setdefault(op, []).append(cpu)

    def metrics(self) -> dict[str, float]:
        return {"pass_cpu_s": typical_pass(self.cpu)}

    def detail(self) -> dict:
        """The wall-clock figures, which follow the host's CPU steal, the
        typical operation, whose short queries make it the noisier, and
        every sample."""
        return {
            "pass_s": typical_pass(self.wall),
            "op_s": typical(self.wall),
            "op_cpu_s": typical(self.cpu),
            "ops_s": self.wall,
            "ops_cpu_s": self.cpu,
        }


def median(xs) -> float:
    """Median, or 0 when a failure left nothing to time."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def typical_pass(per_op: dict[str, list[float]]) -> float:
    """A pass as its operations typically run: the sum over operations of
    each one's median time. A slow moment of the host lengthens one
    operation of one pass, which a median drops; the median of whole-pass
    times keeps it."""
    return sum(median(v) for v in per_op.values())


def typical(per_op: dict[str, list[float]]) -> float:
    """The typical operation: the geometric mean over operations of each
    one's median time, so no one operation dominates it. Over runs it
    spread about half as much as the median of the medians."""
    meds = [median(v) for v in per_op.values() if v]
    return math.exp(statistics.fmean(math.log(m) for m in meds)) if meds and min(meds) > 0 else 0.0


def basket_fns(basket: tuple[str, ...]) -> dict:
    from end_to_end_aws_data_pipeline_spark import registry

    registered = registry.queries()  # builds the whole table; call once
    return {q: registered[q] for q in basket}


def layer_of(fn) -> str:
    """The module that owns a registered query, as a layer name."""
    return fn.__module__.removeprefix(PKG + ".")


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Workload:
    """Operation counts and the timed loop shared by both workloads: a
    wrong result or an error is counted and recorded, never fatal."""

    # at least this many timed passes or cycles, so a median has a middle
    # and the count does not depend on how many fit in the time given; a
    # traced run needs two of each kind for the tracing overhead
    min_units = 3

    def __init__(self) -> None:
        self.recorder: Recorder | None = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.passes: list[float] = []  # untraced timed units
        self.traced_passes: list[float] = []

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def prepare(self, work: str, seed: int) -> None:
        pass

    def measure(self, spark, seconds: float) -> None:
        """Timed units until ``seconds`` have passed and ``min_units`` are
        done. In a traced run units alternate untraced and traced, so the
        run carries its own untraced baseline for the tracing overhead."""
        rec = self.recorder
        t_end = time.perf_counter() + seconds
        i = 0
        while (
            len(self.passes) < (self.min_units if rec is None else 2)
            or (rec is not None and len(self.traced_passes) < 2)
            or time.perf_counter() < t_end
        ):
            # untraced, traced, traced, untraced, ...: a warm-up trend
            # across the run cancels out of the overhead
            traced = rec is not None and i % 4 in (1, 2)
            if rec is not None:
                rec.enabled = traced
            try:
                d = self._unit(spark, traced)
            finally:
                if rec is not None:
                    rec.enabled = False
            if d is None:  # the unit failed and left nothing to time
                break
            (self.traced_passes if traced else self.passes).append(d)
            i += 1


class QueryWorkload(_Workload):
    # untimed warm passes after the cold one; the CPU a query takes still
    # falls over the first few warm passes as more code is compiled
    warm_passes = 1
    # a pass is short, and in some runs the first two timed passes took
    # up to twice the CPU of the third; five outvote two
    min_units = 5

    def __init__(self):
        from end_to_end_aws_data_pipeline_spark import registry

        super().__init__()
        self.fns = basket_fns(BASKET)
        self.oracles = registry.oracle_sql()
        self.layer = {q: layer_of(fn) for q, fn in self.fns.items()}
        self.ops = OpTimes()
        self.results: dict = {}

    def setup(self, spark) -> None:
        """Untimed warm-up: the cold pass, which collects every result for
        ``check``, then ``warm_passes`` more."""
        self._pass(spark, timed=False, collect=True)
        for _ in range(self.warm_passes):
            self._pass(spark, timed=False)

    def _run_one(self, spark, q: str, collect: bool) -> None:
        rec = self.recorder if self.recorder and self.recorder.enabled else None
        if rec:
            i = rec.open(self.layer[q], "build")
            try:
                df = self.fns[q](spark, datagen.FIXTURE)
            finally:
                rec.close(i)
            i = rec.open(self.layer[q], "exec")
            try:
                noop_write(df)
            finally:
                rec.close(i)
        elif collect:
            self.results[q] = self.fns[q](spark, datagen.FIXTURE).toPandas()
        else:
            noop_write(self.fns[q](spark, datagen.FIXTURE))

    def _pass(self, spark, timed: bool = True, collect: bool = False) -> float:
        from end_to_end_aws_data_pipeline_spark.cache import release_all

        total = 0.0
        for q in BASKET:
            t0, c0 = time.perf_counter(), work_cpu_s()
            try:
                self._run_one(spark, q, collect)
                d, cpu = time.perf_counter() - t0, work_cpu_s() - c0
            except Exception as e:  # a failing query is counted, not fatal
                self._fail(f"{q}: {type(e).__name__}: {e}")
                d = cpu = 0.0
            finally:
                release_all()
            self.attempted += 1
            if timed:
                self.ops.add(q, d, cpu)
            total += d
        return total

    def _unit(self, spark, traced: bool) -> float:
        return self._pass(spark, timed=not traced)

    def check(self, spark, work: str) -> None:
        """Every result collected in the cold pass against its DuckDB
        oracle on the same files, run now or recorded."""
        import json

        import duckdb
        import pandas as pd

        from end_to_end_aws_data_pipeline_spark.catalog import TABLES
        from tools.check_oracle import compare

        with open(RECORDED_ORACLES) as fh:
            recorded = {q: pd.DataFrame(**r) for q, r in json.load(fh).items()}
        con = duckdb.connect(config={"threads": 2, "temp_directory": os.path.join(work, "duck_tmp")})
        try:
            con.execute("SET enable_progress_bar = false")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{datagen.FIXTURE}/{t}.parquet'")
            for q, got in self.results.items():
                try:
                    want = recorded[q] if q in recorded else con.execute(self.oracles[q]).fetchdf()
                    problems = compare(got, want)
                except Exception as e:
                    problems = [f"{type(e).__name__}: {e}"]
                if problems:
                    self._fail(f"{q}: " + "; ".join(problems))
        finally:
            con.close()

    def trace(self, recorder: Recorder) -> Patch:
        self.recorder = recorder
        return Patch(recorder)

    def metrics(self) -> dict[str, float]:
        return self.ops.metrics()

    def detail(self) -> dict:
        return {
            **self.ops.detail(),
            "passes_s": self.passes,
        }


class _Notifier:
    def __init__(self) -> None:
        self.events: list = []

    def __call__(self, event) -> None:
        self.events.append(event)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            with open(p, "rb") as fh:
                h = hashlib.sha1(fh.read()).hexdigest()
            out[os.path.relpath(p, root)] = f"{st.st_size}:{st.st_mtime_ns}:{h}"
    return out


def _read_table(path: str) -> set[tuple[str, ...]]:
    """A warehouse table's rows in the deliveries' CSV formatting."""
    import pyarrow.parquet as pq

    tab = pq.read_table(path)
    cols = []
    for name in tab.column_names:
        vals = tab.column(name).to_pylist()
        cols.append([f"{v:.2f}" if isinstance(v, float) else (None if v is None else str(v)) for v in vals])
    rows = list(zip(*cols))
    if len(set(rows)) != len(rows):  # a set would hide a doubled row
        rows.append(("<duplicate rows>",))
    return set(rows)


class IngestWorkload(_Workload):
    """``IngestPipeline.ingest_root`` over seeded deliveries, then a
    replay of the same root with one late folder added."""

    def __init__(self) -> None:
        super().__init__()
        self.replays: list[float] = []
        self.ops = OpTimes()  # by delivery, untraced
        self.warehouses: list[str] = []
        self.cycles = 0

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.plan = datagen.plan_ingest(seed)
        self.root = os.path.join(work, "deliveries")
        self.csv_bytes = sum(
            os.path.getsize(datagen.write_delivery(self.root, d)) for d in self.plan.deliveries
        )

    def setup(self, spark) -> None:
        """Warm-up: one first pass into a throw-away warehouse; with only
        the first delivery, the merge into an existing table took half
        again as much CPU in the first timed cycle as in the next."""
        self._pipeline(spark, os.path.join(self.work, "warm_wh"), _Notifier()).ingest_root(self.root)

    def _pipeline(self, spark, warehouse: str, notifier, ops: OpTimes | None = None):
        from end_to_end_aws_data_pipeline_spark.ingest.pipeline import IngestPipeline

        rec = self.recorder if self.recorder and self.recorder.enabled else None
        pipe = IngestPipeline(
            spark,
            warehouse,
            keys_by_table=dict(datagen.INGEST_KEYS),
            schema_policy="reference",
            notifier=rec.wrap(notifier, "ingest.notify") if rec else notifier,
        )
        inner = pipe.ingest_file

        def ingest_file(path):
            t0, c0 = time.perf_counter(), work_cpu_s()
            i = rec.open("ingest.pipeline") if rec else None
            try:
                return inner(path)
            finally:
                if i is not None:
                    rec.close(i)
                if ops is not None:
                    ops.add(os.path.relpath(path, self.root), time.perf_counter() - t0, work_cpu_s() - c0)

        pipe.ingest_file = ingest_file  # ingest_root calls it once per delivery
        return pipe

    def _unit(self, spark, traced: bool) -> float | None:
        try:
            return self._cycle(spark, traced)
        except Exception as e:  # counted as a failed cycle
            self._fail(f"cycle {self.cycles}: {type(e).__name__}: {e}")
            return None

    def _cycle(self, spark, traced: bool) -> float:
        """One timed first pass into a fresh warehouse, then the replay.
        Returns the first pass's wall time."""
        self.cycles += 1
        warehouse = os.path.join(self.work, f"warehouse_{self.cycles}")
        self.warehouses.append(warehouse)
        for d in self.plan.late:  # the late folder arrives after the first pass
            shutil.rmtree(os.path.join(self.root, d.folder), ignore_errors=True)
        notifier = _Notifier()
        pipe = self._pipeline(spark, warehouse, notifier, None if traced else self.ops)
        t0 = time.perf_counter()
        results = pipe.ingest_root(self.root)
        pass_s = time.perf_counter() - t0
        self.attempted += len(results)
        self._check_events(results, notifier.events)

        for d in self.plan.late:
            datagen.write_delivery(self.root, d)
        before, n_events = _tree_digest(warehouse), len(notifier.events)
        # a re-trigger is a new job, so a new pipeline
        pipe = self._pipeline(spark, warehouse, notifier)
        t0 = time.perf_counter()
        replay = pipe.ingest_root(self.root)
        if not traced:
            self.replays.append(time.perf_counter() - t0)
        self.attempted += len(replay)
        loaded = [(r.table_name, r.folder_ts) for r in replay if r.status != "skipped_not_newer"]
        if loaded or len(replay) != len(self.plan.deliveries) + len(self.plan.late):
            self._fail(f"replay: {len(replay)} results, loaded {loaded}")
        if _tree_digest(warehouse) != before:
            self._fail("replay changed a file of the warehouse")
        if len(notifier.events) != n_events:
            self._fail("replay sent notifications")
        return pass_s

    def check(self, spark, work: str) -> None:
        """Each cycle's tables against the state computed from the
        deliveries alone."""
        for warehouse in self.warehouses:
            for table, rows in self.plan.expected.items():
                actual = _read_table(os.path.join(warehouse, table))
                if actual != rows:
                    self._fail(f"{table}: {len(actual - rows)} unexpected, {len(rows - actual)} missing rows")
            shutil.rmtree(warehouse)

    def _check_events(self, results, events) -> None:
        want = {(d.table, int(d.folder.replace("_", ""))) for d in self.plan.deliveries}
        got = {(r.table_name, r.folder_ts) for r in results if r.status == "loaded"}
        if got != want or len(results) != len(want):
            self._fail(f"first pass loaded {len(got)} of {len(want)} deliveries")
        success = sorted((e.table_name, e.folder_ts) for e in events if e.kind == "success")
        nulls = sorted((e.table_name, e.folder_ts) for e in events if e.kind == "null_rows")
        want_nulls = sorted(
            (d.table, int(d.folder.replace("_", ""))) for d in self.plan.deliveries if d.has_nulls
        )
        if success != sorted(want) or nulls != want_nulls:
            self._fail(f"notifications: {len(success)} success, {len(nulls)} null-rows events")

    def trace(self, recorder: Recorder) -> Patch:
        """Span wrappers on the names ``ingest.pipeline`` calls, plus the
        watermark store's methods."""
        from end_to_end_aws_data_pipeline_spark.ingest import notify, pipeline, watermark

        self.recorder = recorder
        p = Patch(recorder)
        p.wrap(pipeline, "read_csv_with_inferred_schema", "ingest.infer")
        p.wrap(pipeline, "null_audit", "ingest.clean")
        p.wrap(pipeline, "clean", "ingest.clean")
        p.wrap(pipeline, "merge_into_parquet", "ingest.merge")
        p.wrap(watermark.WatermarkStore, "get", "ingest.watermark")
        p.wrap(watermark.WatermarkStore, "advance", "ingest.watermark")
        p.wrap(notify, "null_rows_event", "ingest.notify")
        p.wrap(notify, "success_event", "ingest.notify")
        return p

    def metrics(self) -> dict[str, float]:
        return self.ops.metrics()

    def detail(self) -> dict:
        rows = self.plan.rows_delivered
        return {
            "rows_delivered": rows,
            "deliveries": len(self.plan.deliveries),
            "csv_bytes": self.csv_bytes,
            **self.ops.detail(),
            "passes_s": self.passes,
            "ingest_rows_per_s": rows / median(self.passes) if self.passes else 0.0,
            "replay_s": self.replays,
        }


def query_layers(basket: tuple[str, ...]) -> list[str]:
    return sorted({layer_of(fn) for fn in basket_fns(basket).values()})


def make_workload(name: str):
    return IngestWorkload() if name == "ingest" else QueryWorkload()
