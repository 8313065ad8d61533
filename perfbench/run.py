"""CDC ingest benchmark: one workload, one closed-loop client, one result.

Run from the repository root:

    python3 perfbench/run.py --workload consumers_mixed --seed 1 --seconds 10 --trace 0

Set-up (Spark session, data generation, bootstrap, and a warm-up of every
path the timed phase takes) is measured in CPU seconds as ``setup_s``. The
timed phase then lands pre-generated segments one operation at a time;
``--seconds`` sizes it as a fixed number of operations (``seconds_per_op``
in ``workloads.py``). The read-debt
probes follow (``scan_cpu_s``, and on ``catchup_backlog`` the point
lookups). Operations are timed in CPU seconds of the driver and its JVM;
wall-clock figures are printed beside them and kept in the run record. A
correctness gate checks the final state against a DuckDB oracle; if it
fails the run exits 1 and reports no numbers.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the engine's
public functions in spans, enables the Spark event log and prints the
per-layer metrics instead. The last stdout line is one JSON object; the full
record (run environment, samples, tails, per-layer table, spans) is written
to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
WORKDIR = REPO / ".perfbench"
SCANS = 3  # read().count() probes after the timed phase


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, as (value,
    percentile, n). Below 20 samples that percentile would fall under the
    median, so the maximum is reported instead (as p100)."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 20:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return xs[-1], 100.0, n


def meminfo_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine (field 8)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def status_mb(pid: int | str, key: str) -> float:
    """A memory figure (``VmHWM``, ``VmRSS``) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


class JvmCpu:
    """CPU seconds used so far by the JVM at ``pid``, less the time of its JIT
    compiler threads.

    The process total comes from the kernel's per-process CPU clock (all
    threads, live and ended); it does not count time the hypervisor stole.
    JIT compilation (of the engine's code paths and of the classes Spark
    generates per query) takes as much CPU as Spark's tasks in a run of a
    minute, and when it happens varies from run to run, so it is taken out.
    The JVM runs with a fixed set of compiler threads (see start_spark)."""

    JIT = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, pid: int) -> None:
        self.clock = (~pid << 3) | 2  # MAKE_PROCESS_CPUCLOCK(pid, CPUCLOCK_SCHED)
        self.tasks = f"/proc/{pid}/task"
        self.other: set[str] = set()  # thread ids that are not compilers
        self.jit: dict[str, float] = {}  # compiler thread id -> CPU seconds

    def __call__(self) -> float:
        total = time.clock_gettime(self.clock)
        for tid in os.listdir(self.tasks):
            if tid in self.other:
                continue
            try:
                if tid not in self.jit:
                    with open(f"{self.tasks}/{tid}/comm") as fh:
                        name = fh.read()
                    if not name.startswith(self.JIT):
                        if name != "java\n":  # a new thread not named yet
                            self.other.add(tid)
                        continue
                with open(f"{self.tasks}/{tid}/schedstat") as fh:
                    self.jit[tid] = int(fh.read().split()[0]) / 1e9
            except OSError:  # the thread ended; keep its last reading
                pass
        return total - sum(self.jit.values())


def code_identity() -> dict:
    """Git commit when run from a clone; always a hash of the engine sources,
    so a run from an exported tree is identifiable too."""
    h = hashlib.sha256()
    for p in sorted((REPO / "etl_spark").rglob("*.py")):
        h.update(p.relative_to(REPO).as_posix().encode())
        h.update(p.read_bytes())
    commit = None
    if (REPO / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "-C", str(REPO), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"git_commit": commit, "engine_sha256": h.hexdigest()[:16]}


def start_spark(run_dir: Path, event_log: Path | None):
    """Spark at local[nproc] with driver memory sized from physical RAM;
    every scratch file of the JVM and the Python driver stays in run_dir."""
    from etl_spark.session import get_spark

    nproc = os.cpu_count() or 1
    mem_gb = max(1, min(8, int(meminfo_gb() // 4)))
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # HotSpot writes its perf-counter file to /tmp whatever java.io.tmpdir is
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": f"{mem_gb}g",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # a fixed set of JIT compiler threads, so JvmCpu sees all of them
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    if event_log is not None:
        event_log.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.range(1).count()
    return spark, {"nproc": nproc, "driver_memory_gb": mem_gb}


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_phase(w, tracer) -> dict:
    from workloads import Samples, tree_sizes

    smp = Samples()
    roots = [Path(w.table_root), Path(w.mirror_root)]
    before = tree_sizes(roots)
    keep, keep_cpu = w.bookkeeping_s, w.bookkeeping_cpu_s
    landed_bytes = events = 0
    t0, c0 = time.time(), w.cpu_s()
    for _ in range(w.ops):
        nxt = range(w.next_epoch, w.next_epoch + w.spec.epochs_per_op)
        landed_bytes += sum(tree_sizes(
            [Path(w.pending, f"epoch={e}") for e in nxt]).values())
        events += w.op(smp, tracer)
    t1 = time.time()
    wall = t1 - t0 - (w.bookkeeping_s - keep)
    cpu = w.cpu_s() - c0 - (w.bookkeeping_cpu_s - keep_cpu)
    counters = (tracer.counter_values(len(w.pipe.table.files()))
                if hasattr(tracer, "counter_values") else None)
    after = tree_sizes(roots)

    # read debt the writes left behind
    w.settle()
    for _ in range(SCANS):
        t, c = time.perf_counter(), w.cpu_s()
        with tracer.consume("lake.read", w.pipe.table):
            rows = w.pipe.table.read().count()
        smp.scan_s.append(time.perf_counter() - t)
        smp.scan_cpu_s.append(w.cpu_s() - c)
    if not w.spec.consumers:
        w.lookups(smp, tracer)
    t2 = time.time()

    referenced = sum(f.get("bytes") or 0 for t in w.all_tables() for f in t.files())
    return {
        "samples": smp, "ops": w.ops, "events": events, "wall": wall,
        "cpu": cpu, "window": (t0, t2), "timed": (t0, t1),
        "counters": counters,
        "sizes": {"table_rows": rows, "table_files": len(w.pipe.table.files()),
                  "landed_bytes_per_op": landed_bytes / w.ops,
                  "events_per_op": events / w.ops},
        "write_amp": sum(v for k, v in after.items() if k not in before)
        / max(landed_bytes, 1),
        "space_amp": sum(after.values()) / max(referenced, 1),
    }


def end_to_end(setup_s: float, setup_wall_s: float, ph: dict,
               mem: dict) -> tuple[dict, dict, dict]:
    """The gated metrics (``end_to_end`` in BENCHMARK.json), the wall-clock
    figures printed beside them, and the percentile behind each tail.

    Set-up and operations are timed in CPU seconds of the driver and its
    JVM. On a shared virtual machine the hypervisor takes CPU away for
    minutes at a time; that moved the wall-clock figures of the same code by
    up to 2x between runs, and moves CPU time, which does not count the
    stolen time, far less (see NOTES.md)."""
    smp = ph["samples"]
    gated = {"setup_s": (setup_s, "s"),
             "ingest_events_per_cpu_s": (ph["events"] / ph["cpu"], "events/cpu-s")}
    wall = {"setup_wall_s": (setup_wall_s, "s"),
            "ingest_eps": (ph["events"] / ph["wall"], "events/s")}
    tails = {}

    def put(out: dict, name: str, xs: list[float], unit: str,
            with_tail: bool = True) -> None:
        if not xs:
            return
        out[f"{name}_p50"] = (statistics.median(xs), unit)
        if with_tail:
            v, pct, n = tail(xs)
            out[f"{name}_tail"] = (v, unit)
            tails[f"{name}_tail"] = {"percentile": pct, "samples": n}

    # no lookup tail: 10-12 lookups a run put the only percentile with ten
    # samples beyond it at the median, and their maximum is the first lookup
    # after a commit, which pays for the commit's garbage collection
    put(gated, "commit_cpu_s", smp.commit_cpu_s, "cpu-s")
    put(gated, "fresh_cpu_s", smp.fresh_cpu_s, "cpu-s")
    put(gated, "lookup_cpu_ms", smp.lookup_cpu_ms, "cpu-ms", with_tail=False)
    gated["scan_cpu_s"] = (statistics.median(smp.scan_cpu_s), "cpu-s")
    gated["write_amp"] = (ph["write_amp"], "ratio")
    gated["space_amp"] = (ph["space_amp"], "ratio")
    gated["heap_after_gc_mb"] = (mem["heap_after_gc"], "MB")
    put(wall, "commit_s", smp.commit_s, "s")
    put(wall, "fresh_s", smp.fresh_s, "s")
    put(wall, "lookup_ms", smp.lookup_ms, "ms", with_tail=False)
    wall["scan_s"] = (statistics.median(smp.scan_s), "s")
    wall["peak_rss_mb"] = (mem["peak_rss"], "MB")
    return gated, wall, tails


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.time()
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "loadavg_start": loadavg(), "ram_gb": round(meminfo_gb(), 2)}
    cpu0 = cpu_times()
    sys.path.insert(0, str(REPO))
    try:
        import pyspark

        import etl_spark  # noqa: F401 — the engine under test
        from workloads import SPECS, Workload
    except ImportError as err:
        print(f"perfbench: cannot import the engine from {REPO}: {err}",
              file=sys.stderr)
        return 2
    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(SPECS)}", file=sys.stderr)
        return 2
    record.update(code_identity(), pyspark=pyspark.__version__)

    run_dir = WORKDIR / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    event_log = run_dir / "eventlog" if args.trace else None
    spark = None
    try:
        spark, box = start_spark(run_dir, event_log)
        record.update(box, spark=spark.version)
        session_s = time.time() - t_start
        w = Workload(spark, args.workload, run_dir, args.seed, args.seconds)
        jvm_cpu = JvmCpu(spark.sparkContext._gateway.proc.pid)
        w.cpu_s = lambda: time.process_time() + jvm_cpu()
        w.setup()
        setup_wall_s = time.time() - t_start
        setup_s = w.cpu_s()  # CPU since the driver and the JVM started
        record["setup_phases"] = {"session_s": session_s, **w.setup_phases}

        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, w.role_of)
            tracer.install()
        else:
            from tracing import NullTracer

            tracer = NullTracer()
        try:
            ph = timed_phase(w, tracer)
        finally:
            if args.trace:
                tracer.uninstall()
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        pids = ["self"] + ([jvm.pid] if jvm else [])
        mem = {"peak_rss": sum(status_mb(p, "VmHWM") for p in pids)}
        # what the engine and Spark hold on to between operations; the
        # second collection takes what Spark's cleaner let go after the first
        spark._jvm.System.gc()
        time.sleep(0.5)
        spark._jvm.System.gc()
        rt = spark._jvm.java.lang.Runtime.getRuntime()
        mem["heap_after_gc"] = (rt.totalMemory() - rt.freeMemory()) / 2**20

        from oracle import gate

        findings = gate(w)
        stop_spark(spark)  # also flushes the event log
        spark = None
        if args.trace and not findings:
            from tracing import coverage, rollup

            roll = rollup(tracer.spans, str(event_log), ph["window"])
            cov = coverage(tracer.spans, ph["timed"])
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    smp = ph["samples"]
    if findings:
        for f in findings:
            print(f"perfbench: CORRECTNESS GATE FAILED: {f}", file=sys.stderr)
        return 1

    metrics, wall, tails = end_to_end(setup_s, setup_wall_s, ph, mem)
    record.update(
        loadavg_end=loadavg(), steal_share=steal_share(cpu0, cpu_times()),
        ops=ph["ops"], events=ph["events"],
        timed_s=ph["wall"], timed_cpu_s=ph["cpu"], sizes=ph["sizes"],
        tails=tails,
        errors=smp.errors,
        samples={k: getattr(smp, k) for k in (
            "commit_cpu_s", "fresh_cpu_s", "lookup_cpu_ms", "scan_cpu_s",
            "commit_s", "fresh_s", "lookup_ms", "scan_s")},
        end_to_end={k: v for k, (v, _) in metrics.items()},
        wall={k: v for k, (v, _) in wall.items()},
    )
    if args.trace:
        from tracing import layer_metrics

        metrics = layer_metrics(roll["layers"], ph["counters"] or {}, {
            "spark.unattributed_job_share":
                (roll["unattributed_job_share"], "ratio"),
            "trace.ingest_events_per_cpu_s":
                (ph["events"] / ph["cpu"], "events/cpu-s"),
        })
        record.update(
            coverage=cov, jobs=roll["jobs"],
            unattributed_jobs=roll["unattributed_jobs"],
            counters=ph["counters"], layers=roll["layers"],
            spans=[{"id": s.sid, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, **s.attrs}
                   for s in tracer.spans],
        )

    out = WORKDIR / "results"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-s{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=float))

    print(f"# {args.workload} seed={args.seed} ops={ph['ops']} "
          f"timed={ph['wall']:.1f}s cpu={ph['cpu']:.1f}s nproc={record['nproc']} "
          f"load={record['loadavg_start']}->{record['loadavg_end']} "
          f"steal={record['steal_share']:.3f}")
    if args.trace:
        print(f"# top-level span coverage of the timed phase: {cov:.3f}; "
              f"unattributed jobs {roll['unattributed_jobs']}/{roll['jobs']}")
    for title, group in (("", metrics), ("# not gated:", wall)):
        if title:
            print(title)
        for k, (v, unit) in group.items():
            note = tails.get(k)
            extra = f"  (p{note['percentile']:.0f} of {note['samples']})" if note else ""
            print(f"{k:48s} {v:14.4f} {unit}{extra}")
    print(json.dumps({
        "correct": True, "attempted": smp.attempted, "failed": smp.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
