"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,queries}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One process, ``local[nproc]``, one
closed-loop caller. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` an uncompressed Spark event log
and spans around each layer call give the per-layer metrics. The line
before it is a detail record (per-pass times, host stamps). Exits 1 on a
wrong result, 2 when the program is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "end_to_end_aws_data_pipeline_spark"
WORKLOADS = ("ingest", "queries")
INGEST_LAYERS = ("ingest.pipeline", "ingest.infer", "ingest.clean", "ingest.merge", "ingest.watermark", "ingest.notify")
INGEST_KINDS = ("s", "calls", "jobs", "driver_s", "task_cpu_s")
QUERY_KINDS = ("build_s", "exec_s", "driver_s", "jobs", "task_cpu_s")


def process_start() -> float:
    """Epoch time this process started, from /proc (so interpreter start
    and imports count toward set-up)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


T_START = process_start()


def host_stamp() -> dict:
    """CPU jiffies (with steal) from /proc/stat and PSI totals, to explain
    outliers; they never drop or rescale a run."""
    out: dict = {"t": time.time()}
    try:
        with open("/proc/stat") as fh:
            cpu = [int(x) for x in fh.readline().split()[1:]]
        out["cpu_total"], out["cpu_steal"] = sum(cpu[:8]), cpu[7] if len(cpu) > 7 else 0
    except (OSError, ValueError):
        pass
    for res in ("cpu", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                for line in fh:
                    kind, *kv = line.split()
                    out[f"psi_{res}_{kind}_us"] = int(dict(x.split("=") for x in kv)["total"])
        except (OSError, ValueError, KeyError):
            pass
    return out


def host_delta(a: dict, b: dict) -> dict:
    wall = b["t"] - a["t"]
    out = {"wall_s": wall}
    if "cpu_total" in a and b.get("cpu_total", 0) > a["cpu_total"]:
        out["steal_share"] = (b["cpu_steal"] - a["cpu_steal"]) / (b["cpu_total"] - a["cpu_total"])
    for k in a:
        if k.startswith("psi_") and k in b:
            out[k[: -len("_us")] + "_share"] = (b[k] - a[k]) / 1e6 / wall
    return out


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def per_layer_names() -> list[str]:
    from workloads import BASKET, ITERATIVE_QUERIES, query_layers

    names = [f"{layer}.{k}" for layer in INGEST_LAYERS for k in INGEST_KINDS]
    names += ["ingest.merge.output_bytes", "ingest.merge.write_amp", "ingest.watermark.output_bytes"]
    iterative = set(query_layers(ITERATIVE_QUERIES))
    for layer in query_layers(BASKET):
        names += [f"{layer}.{k}" for k in QUERY_KINDS]
        if layer in iterative:
            names.append(f"{layer}.shuffle_bytes")
    return names + ["session.s", "jvm.gc_s", "memory.peak_rss_mb", "trace.wall_s", "trace.overhead_s"]


def layer_metrics(workload, stats: dict, units: int) -> dict[str, float]:
    out: dict[str, float] = {}
    for layer, st in stats.items():
        vals = {
            "s": st.self_s, "calls": st.calls, "jobs": st.jobs, "driver_s": st.driver_s,
            "task_cpu_s": st.task_cpu_s, "build_s": st.by_kind.get("build", 0.0),
            "exec_s": st.by_kind.get("exec", 0.0), "shuffle_bytes": st.shuffle_bytes,
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v / units
    merge, wm = stats.get("ingest.merge"), stats.get("ingest.watermark")
    if merge is not None:
        out["ingest.merge.output_bytes"] = merge.output_bytes / units
        out["ingest.merge.write_amp"] = merge.output_bytes / units / workload.csv_bytes
    if wm is not None:
        out["ingest.watermark.output_bytes"] = wm.output_bytes / units
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "registry.py")) or not os.path.isfile(
        os.path.join(root, "tools", "check_oracle.py")
    ):
        print(f"perfbench: run from the repository root ({PKG}/ and tools/ not found in {root})", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything the run writes stays under the work dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # local[nproc]
    sys.path[:0] = [root, HERE]
    try:
        return run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, work: str) -> int:
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    from pyspark import SparkContext

    from end_to_end_aws_data_pipeline_spark.session import get_spark
    from spans import Recorder, attribute, parse_event_log
    from workloads import make_workload, median, work_cpu_s

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # JIT compiler threads live as long as the JVM, so work_cpu_s can
        # leave out their CPU: one that exits takes its time into the
        # process total but out of the per-thread figures
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    # inputs are the harness's work, not the program's: timed apart and
    # left out of setup_s
    wl = make_workload(args.workload)
    t0 = time.time()
    wl.prepare(work, args.seed)
    datagen_s = time.time() - t0

    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.time() - t0
    jvm = SparkContext._gateway.proc
    try:
        wl.setup(spark)
        setup_s = time.time() - T_START - datagen_s
        print(f"perfbench: session {session_s:.2f}s, set-up {setup_s:.2f}s", file=sys.stderr)

        recorder = Recorder()
        patch = wl.trace(recorder) if args.trace else None
        gc0, host0 = gc_seconds(spark), host_stamp()
        cpu0 = work_cpu_s()
        try:
            wl.measure(spark, args.seconds)
        finally:
            if patch is not None:
                patch.restore()
        gc_s, host = gc_seconds(spark) - gc0, host_delta(host0, host_stamp())
        host["cpu_s"] = work_cpu_s() - cpu0
        # read before the checks, so the oracle's memory is not counted
        peak_rss_mb = vm_hwm_mb(jvm.pid) + vm_hwm_mb("self")
        t0 = time.time()
        wl.check(spark, work)
        print(f"perfbench: measured {host['wall_s']:.2f}s, checked {time.time() - t0:.2f}s", file=sys.stderr)
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        jvm.terminate()
        jvm.wait(60)

    e2e = {"setup_s": setup_s, **wl.metrics()}
    detail = {"workload": args.workload, "seed": args.seed, "datagen_s": datagen_s, "session_s": session_s,
              "host": host, "peak_rss_mb": peak_rss_mb, "errors": wl.errors[:20], **wl.detail()}
    if args.trace:
        stats = attribute(recorder.spans, parse_event_log(log_dir))
        traced_units = max(len(wl.traced_passes), 1)
        measured = layer_metrics(wl, stats, traced_units)
        metrics = {n: measured.get(n, 0.0) for n in per_layer_names()}
        metrics["session.s"] = session_s
        metrics["jvm.gc_s"] = gc_s / max(len(wl.passes) + len(wl.traced_passes), 1)
        metrics["memory.peak_rss_mb"] = peak_rss_mb
        metrics["trace.wall_s"] = median(wl.traced_passes)
        # against the untraced units of this same run, interleaved with
        # the traced ones
        metrics["trace.overhead_s"] = metrics["trace.wall_s"] - median(wl.passes)
        detail["traced_passes_s"] = wl.traced_passes
        out_metrics = {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    correct = wl.failed == 0
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": wl.attempted, "failed": wl.failed, "metrics": out_metrics}))
    return 0 if correct else 1


def _unit(name: str) -> str:
    kind = name.rsplit(".", 1)[1]
    if kind in ("calls", "jobs"):
        return "count"
    if kind.endswith("bytes"):
        return "bytes"
    if kind == "write_amp":
        return "ratio"
    if kind == "peak_rss_mb":
        return "MB"
    return "s"


if __name__ == "__main__":
    sys.exit(main())
