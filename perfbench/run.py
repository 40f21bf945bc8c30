"""Per-change benchmark of LightGBM SQL inference.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload infer_default --seed 1 --seconds 20 --trace 0

One run: generate the seeded inputs and start one Spark driver on
``local[nproc]``.  Then, in each of ``CONTEXTS`` SparkContexts of that
JVM, set up (session configuration, ``SET`` and DDL statements) and run
one cold pass, then run passes back to back; all but the first context
share ``--seconds``.  Every result is checked.  The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics instead: passes alternate between plain and traced
(job groups and spans), the Spark UI REST endpoint gives stage and Arrow
metrics per traced pass, and in-process probes time the ``ml`` and
``functions.inference`` layers.  Spans go to ``.perfbench/spans/``.

The exit code is 0 only when every result was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: SparkContexts per run.  Each runs one set-up and one cold pass.  The
#: first only warms the JVM up; the others are counted, and each then runs
#: timed passes for an equal share of ``--seconds``.
CONTEXTS = 4

def session_settings(work: str) -> dict[str, str]:
    """The pinned session: ``local[nproc]``, nproc shuffle partitions,
    Arrow on, UTC, the default ``maxRecordsPerBatch``, a driver heap of at
    most an eighth of host memory, scratch files under ``work``."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    heap_mb = max(512, min(1024, ram_mb // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a pinned, pre-touched heap (-Xms = -Xmx) keeps heap growth out of
        # the timings and out of the peak RSS, which then moves with the
        # JVM's off-heap use (Arrow buffers, metaspace, code cache, threads)
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_session(settings: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for key, value in settings.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> float:
    """Stop Spark, wait for its JVM to exit, return the JVM's peak RSS (MB)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0


def jvm_gc_s(spark) -> float:
    """Collection time of all JVM collectors since launch.  Per-stage GC
    time is mostly zero on small passes; this counts launch and set-up too."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1e3


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


class Run:
    """One benchmark run: the session, the passes and their accounting."""

    def __init__(self, workload, seed: int, traced: bool):
        from perfbench.trace import Tracer

        self.w = workload
        self.traced = traced
        self.run_id = f"{workload.name}-s{seed}-p{os.getpid()}"
        self.tracer = Tracer(self.run_id, enabled=traced)
        self._off = Tracer(self.run_id, enabled=False)
        self.attempted = 0
        self.failed = 0

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"{self.w.name}: wrong result ({what} {self.attempted})", file=sys.stderr)

    def setup(self, spark, group: str | None) -> tuple[object, float]:
        """Session configuration plus the workload's statements; returns
        the wrapped session and the wall time."""
        from lightfusion_spark import configure_session

        tr = self.tracer
        if group is not None:
            spark.sparkContext.setJobGroup(group, "perfbench setup")
        t0 = time.perf_counter()
        with tr.span("setup", group=group):
            with tr.span("session.configure"):
                eng = configure_session(spark)
            for span_name, sql in self.w.statements(spark):
                with tr.span(span_name):
                    eng.sql(sql)
        elapsed = time.perf_counter() - t0
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return eng, elapsed

    def run_pass(self, eng, group: str | None) -> float:
        """One checked query execution; returns its wall time.  With a
        ``group``, its build and exec jobs are tagged and spans recorded."""
        sc = eng.spark.sparkContext
        tr = self.tracer if group is not None else self._off
        ok = False
        t0 = time.perf_counter()
        try:
            with tr.span("pass", group=group):
                if group is not None:
                    sc.setJobGroup(f"{group}:build", "perfbench build")
                with tr.span("spark.build"):
                    df = eng.sql(self.w.query)
                if group is not None:
                    sc.setJobGroup(f"{group}:exec", "perfbench exec")
                with tr.span("spark.exec"):
                    rows = df.collect()
            elapsed = time.perf_counter() - t0
            ok = self.w.check(rows)
        except Exception:  # a failed query counts; the loop goes on
            elapsed = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        finally:
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
        self.count(ok, "pass")
        return elapsed


#: driver and Spark JVM metrics of a traced pass, reported as per-pass medians
SPARK_KEYS = ["build_s", "build_jobs", "exec_s", "exec_jobs", "stages", "tasks", "task_run_s",
              "task_cpu_s", "core_busy_share", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "scan_bytes"]
ARROW_KEYS = ["arrow.bytes_to_python", "arrow.bytes_from_python", "arrow.python_run_s"]


def traced_passes(ui, tracer, groups: list[str], cores: int) -> list[dict[str, float]]:
    """Driver, Spark JVM and Arrow metrics of the traced passes ``groups``
    of the current SparkContext."""
    ui.settle({f"{g}:{p}" for g in groups for p in ("build", "exec")})
    child = {(s["parent"], s["name"]): s["end"] - s["start"] for s in tracer.spans}
    spans = {s["group"]: s for s in tracer.spans if s["name"] == "pass" and s.get("group")}
    out = []
    for g in groups:
        b, e = ui.group_metrics(f"{g}:build"), ui.group_metrics(f"{g}:exec")
        both = {k: b[k] + e[k] for k in b}
        both["build_jobs"], both["exec_jobs"] = b["jobs"], e["jobs"]
        both["build_s"] = child[(spans[g]["id"], "spark.build")]
        both["exec_s"] = child[(spans[g]["id"], "spark.exec")]
        both["core_busy_share"] = both["task_run_s"] / (both["exec_s"] * cores)
        out.append(both)
    return out


def measure(args, workload, work: str) -> tuple[dict[str, float], Run]:
    from perfbench.trace import SparkUI, layer_probes

    run = Run(workload, args.seed, bool(args.trace))
    tr = run.tracer
    settings = session_settings(work)
    cores = int(settings["spark.sql.shuffle.partitions"])
    layer: dict[str, float] = {}
    t0 = time.perf_counter()
    with tr.span("session.start"):
        spark = start_session(settings)
    t_launch = time.perf_counter()
    layer["session.start_s"] = t_launch - t0
    setup_times, firsts, plain, traced, per_pass = [], [], [], [], []
    i = 0
    try:
        for context in range(CONTEXTS):
            if context:
                # a new SparkContext in the same JVM: fresh Python workers and
                # executor model caches, a warm JIT
                with tr.span("session.restart"):
                    spark.stop()
                    spark = start_session(settings)
            eng, elapsed = run.setup(spark, "setup" if run.traced else None)
            first = run.run_pass(eng, "pass0" if run.traced else None)
            if not context:  # the first context warms the JVM up
                t_warm = time.perf_counter()
                continue
            setup_times.append(elapsed)
            firsts.append(first)
            # the timed passes are spread over the counted contexts, so every
            # metric samples the whole run, not one stretch of it
            t_end = time.perf_counter() + args.seconds / (CONTEXTS - 1)
            groups, n = [], 0
            while n == 0 or time.perf_counter() < t_end:
                i, n = i + 1, n + 1
                # a traced run alternates: odd passes traced, even passes plain
                group = f"pass{i}" if run.traced and i % 2 else None
                (traced if group else plain).append(run.run_pass(eng, group))
                if group:
                    groups.append(group)
            if run.traced:  # the UI of a context ends with it
                per_pass += traced_passes(SparkUI(spark), tr, groups, cores)
        t_passes = time.perf_counter()
        if run.traced:
            layer["spark.gc_s"] = jvm_gc_s(spark)
        if workload.final_check is not None:
            with tr.span("final_check"):
                run.count(workload.final_check(eng), "final check")

        if run.traced:
            layer.update({f"spark.{k}": median([p[k] for p in per_pass]) for k in SPARK_KEYS})
            layer.update({k: median([p[k] for p in per_pass]) for k in ARROW_KEYS})
            for name in ("session.configure", "frontdoor.create_function",
                         "frontdoor.create_table"):
                layer[f"{name}_s"] = median(tr.durations(name))
            # set-up and cold pass of the last context
            ui = SparkUI(spark)
            ui.settle({"setup", "pass0:build", "pass0:exec"})
            cold = ui.group_metrics("pass0:exec")
            setup_scan = ui.group_metrics("setup")["scan_bytes"]
            layer["sources.scan_amplification"] = (
                (setup_scan + cold["scan_bytes"]) / workload.input_bytes
            )
            layer["arrow.python_start_s"] = (
                cold["arrow.python_start_s"] + cold["arrow.python_init_s"]
            )
            arrow_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            batch_size = int(spark.conf.get("lightfusion.batch_size"))
            with tr.span("probes"):
                layer.update(layer_probes(
                    tr, workload.model_path, batch_size, workload.probe_batch(arrow_batch)
                ))
            layer["trace.overhead_s"] = median(traced) - median(plain)
    finally:
        peak_rss_mb = stop_session(spark)

    timed = plain + traced
    print(f"# {workload.name} seed={args.seed} trace={args.trace} settings={json.dumps(settings)}")
    print(f"# wall: launch {t_launch - t0:.1f} s, warm-up context {t_warm - t_launch:.1f} s, "
          f"counted contexts {t_passes - t_warm:.1f} s, "
          f"rest {time.perf_counter() - t_passes:.1f} s")
    print(f"# samples: setup_s={len(setup_times)} first_pass_s={len(firsts)} "
          f"pass_s={len(timed)}; failed_share={run.failed}/{run.attempted}")
    print(f"# setup_s samples: {' '.join(f'{t:.3f}' for t in setup_times)}")
    print(f"# first_pass_s samples: {' '.join(f'{t:.3f}' for t in firsts)}")
    print(f"# pass_s samples: {' '.join(f'{t:.3f}' for t in timed)}")
    if run.traced:
        spans_dir = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tr.write(os.path.join(spans_dir, f"{run.run_id}.jsonl"))
        return layer, run
    pass_s = median(timed)
    return {
        "setup_s": median(setup_times),
        "first_pass_s": median(firsts),
        "pass_s": pass_s,
        "rows_per_s": workload.rows / pass_s,
        "peak_rss_mb": peak_rss_mb,
    }, run


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lightfusion_spark")):
        print(f"perfbench: no lightfusion_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the Python workers the JVM starts import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in names}

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        workload = WORKLOADS[args.workload]()
        workload.generate(args.seed, work)
        values, run = measure(args, workload, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = set(units) - set(values)
    if missing:
        print(f"perfbench: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 2
    for name in units:
        print(f"# {name} = {values[name]:.6g} {units[name]}")
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": values[name], "unit": units[name]} for name in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
