"""Repo benchmark for the transcript validation engine.

Run from the repository root::

    python3 perfbench/run.py --workload full_suite --seed 1 --seconds 16 --trace 0

One process runs one workload (``full_suite``, ``drift_profile`` or
``incremental_job``, see ``workloads.py``) at ``local[N]``, N being half
the host's CPU count (``spark_cores``). Inputs come from ``--seed`` and
are cached under ``.perfbench_work/inputs``; generating them is never
timed.

A run: set up (imports, ``get_spark``, input registration, runner/job
construction), build the derived inputs, time the control scan, run
``WARMUP_OPS`` untimed ops (the first one cold), then warm ops until
``--seconds`` have passed. Every op is checked against the DuckDB oracle
(``oracle.py``); a mismatch or an exception makes it a failed op.

The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones:

* ``turns_per_s``: median over warm ops of validated turns / op wall
  time (for ``incremental_job``, the turns of the re-validated
  partitions);
* ``setup_s``: the cold set-up, from the start of this script through
  imports, ``get_spark`` (JVM launch included) and registration; input
  generation, oracle preparation and derived inputs are not counted;
* ``peak_rss_mb``: VmHWM of the Spark driver JVM after the ops.

With ``--trace 1``, warm ops alternate in pairs between traced and
untraced, and the metrics are the per-layer ones computed from spans
(``spans.py``). A traced run also drives the other two workloads through
their derived inputs and a cover op or two, so each traced run reports
every layer. The spans are written to ``.perfbench_work/traces/``.

The line before the result carries diagnostics that are not gated:
``host_cpus``, ``warmup_op_s`` (the cold first op), ``control_scan_s``
(a package-free ``bit_xor(xxhash64(text))`` scan over the clean input)
and ``window_steal_pct`` (the share of CPU time the hypervisor gave to
other guests while the warm ops ran), the two host indicators, every op
time, wall time per phase, input sizes and, when traced, the trace
overhead, the runner's Spark job, stage and shuffle-byte counts per op (a
traced run is correct only if they repeat exactly) and whether per-span
executor times add up to each op's total.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

DEFAULT_CONVS = 6000
DRIVER_MEM = "3g"  # driver JVM heap; leaves room on a 16 GB machine without swap
SHUFFLE_PARTITIONS = 8
# op times keep falling over the first ops while the JIT warms up; with
# two or three ops in a window, one warm-up op leaves the median on that slope
WARMUP_OPS = 2
CONTROL_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["full_suite", "drift_profile", "incremental_job"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--convs", type=int, default=DEFAULT_CONVS, help="conversations in the fixture")
    return p.parse_args(argv)


def host_cpus() -> int:
    """What ``env -u OMP_NUM_THREADS nproc`` prints."""
    return len(os.sched_getaffinity(0))


def spark_cores(cpus: int) -> int:
    """Spark task slots for a host with ``cpus`` CPUs: half of them.

    The driver JVM runs its JIT compiler and GC threads and the Python
    workers next to the task threads. With as many task slots as CPUs the
    guest is saturated, and on a shared host the time the hypervisor takes
    from it then slows every op: the warm-op rate spread twice as widely
    between runs at ``local[4]`` as at ``local[2]`` on a 4-CPU guest."""
    return max(1, cpus // 2)


def start_session(cpus: int, run_dir: str):
    from hdfs_anomaly_detection_spark.session import get_spark

    return get_spark(
        parallelism=spark_cores(cpus),
        shuffle_partitions=SHUFFLE_PARTITIONS,
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit,
    so no process of the run outlives it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=120)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Bench:
    def __init__(self, args, run_dir: str) -> None:
        from spans import Tracer

        self.args = args
        self.run_dir = run_dir
        self.cpus = host_cpus()
        self.tracer = Tracer(bool(args.trace))
        self.tracer.workload = args.workload
        self.attempted = 0
        self.errors: list[str] = []
        self.spark = None

    def close(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None

    def run_op(self, wl, i: int, traced: bool):
        """One timed op plus its untimed load generation and check.
        Returns (seconds, turns), or None when the op failed."""
        tr = self.tracer
        self.attempted += 1
        try:
            wl.before_op(i)
            tr.enabled = bool(self.args.trace) and traced
            try:
                t = time.perf_counter()
                with tr.span("op") as s:
                    out = wl.op(i)
                dt = s.duration if s else time.perf_counter() - t
            finally:
                tr.enabled = bool(self.args.trace)
            return dt, wl.check(i, out)
        except Exception:  # an op that raises is a failed op; keep measuring
            self.errors.append(f"{wl.name} op {i}: {traceback.format_exc(limit=3)}")
            print(self.errors[-1], file=sys.stderr)
            return None

    def main(self):
        from pyspark.sql import functions as F

        import inputs
        from oracle import Oracle
        from workloads import WORKLOADS, Context

        args, tr = self.args, self.tracer
        phases = {"start": time.perf_counter() - T0}

        def phase(name: str, t: float) -> float:
            now = time.perf_counter()
            phases[name] = now - t
            return now

        t = time.perf_counter()
        with tr.span("session.start"):
            spark = self.spark = start_session(self.cpus, self.run_dir)
        tr.bind(spark)
        t = phase("session", t)
        # a traced run covers incremental_job, which needs the partitioned layout
        parted = bool(args.trace) or WORKLOADS[args.workload].partitioned
        cache = inputs.ensure_inputs(spark, WORK, args.seed, args.convs, parted)
        oracle = Oracle(cache)
        ctx = Context(spark, tr, oracle, cache, self.run_dir)
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        t = phase("inputs", t)
        wl.derive()
        t = phase("derive", t)
        with tr.span("setup.register"):
            wl.register()
        t = phase("register", t)
        setup_s = phases["start"] + phases["session"] + phases["register"]

        control = []
        clean = ctx.read("clean")
        for _ in range(CONTROL_REPS):
            with tr.span("control.scan"):
                c0 = time.perf_counter()
                clean.agg(F.bit_xor(F.xxhash64("text"))).collect()
                control.append(time.perf_counter() - c0)
        t = phase("control", t)

        # the warm-up ops' spans stay out of the workload's own per-layer medians
        tr.workload = f"{wl.name}/warmup"
        warmups = [self.run_op(wl, i, traced=True) for i in range(WARMUP_OPS)]
        tr.workload = wl.name
        t = phase("warmup", t)
        ops = []  # (seconds, turns, traced) of the warm ops that passed
        failed = sum(w is None for w in warmups)
        start = time.perf_counter()
        steal0, total0 = cpu_jiffies()
        k = 0
        while True:
            # traced runs alternate in pairs: untraced, traced, traced, untraced
            traced = k % 4 in (1, 2)
            res = self.run_op(wl, WARMUP_OPS + k, traced)
            if res is None:
                failed += 1
            else:
                ops.append((*res, traced))
            k += 1
            # a traced run needs a traced and an untraced op for the overhead
            if time.perf_counter() - start >= args.seconds and k >= 3 * args.trace:
                break
        steal1, total1 = cpu_jiffies()
        t = phase("window", t)

        covers = {wl.name: wl}
        if args.trace:
            failed += self._call(wl, wl.finish)
            for name, cls in WORKLOADS.items():
                if name != wl.name:
                    covers[name] = cover = cls(ctx)
                    failed += self._cover(cover)
            tr.workload = wl.name
            t = phase("trace_extras", t)

        rss = jvm_peak_rss_mb(spark)
        self.close()
        oracle.close()
        phase("stop", t)

        detail = {
            "workload": args.workload, "seed": args.seed, "host_cpus": self.cpus,
            "spark_cores": spark_cores(self.cpus),
            "n_convs": args.convs, "rows": wl.rows, "shuffle_partitions": SHUFFLE_PARTITIONS,
            "n_buckets": inputs.N_BUCKETS,
            "warmup_op_s": warmups[0][0] if warmups[0] else None,
            "warmup_s": [w[0] if w else None for w in warmups],
            "control_scan_s": statistics.median(control),
            "window_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "op_s": [o[0] for o in ops],
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "errors": len(self.errors),
            "phases_s": phases,
        }
        if args.workload == "incremental_job":
            detail["changed_parts"] = list(inputs.CHANGED_PARTS)
            detail["changed_rows"] = wl.changed_rows
        correct = failed == 0
        if args.trace:
            from layers import layer_metrics, trace_detail

            metrics = layer_metrics(tr, wl.name, covers)
            detail.update(trace_detail(tr, wl.name, ops))
            correct = correct and detail["attribution_ok"] and detail["runner_counts_exact"]
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
            tr.dump(path)
            detail["trace_file"] = os.path.relpath(path, ROOT)
        else:
            metrics = {
                "turns_per_s": (statistics.median(n / s for s, n, _ in ops) if ops else 0.0, "1/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (rss, "MB"),
            }
        result = {
            "correct": correct,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return detail, result

    def _call(self, wl, fn, *args) -> int:
        """A checked traced call outside the ops; returns 1 if it failed."""
        self.attempted += 1
        try:
            fn(*args)
            return 0
        except Exception:
            self.errors.append(f"{wl.name} {fn.__name__}: {traceback.format_exc(limit=3)}")
            print(self.errors[-1], file=sys.stderr)
            return 1

    def _cover(self, wl) -> int:
        """Cover another workload's layers: derived inputs, then its first
        ``cover_ops`` ops, all traced. Returns the number of failures."""
        self.tracer.workload = wl.name
        wl.prepare()
        wl.derive()
        with self.tracer.span("setup.register"):
            wl.register()
        failed = sum(self.run_op(wl, i, traced=True) is None for i in range(wl.cover_ops))
        return failed + self._call(wl, wl.finish)


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # keep temp files inside the checkout; JAVA_TOOL_OPTIONS adds to the
    # driver's own JVM options instead of replacing them
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers (the t-digest UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)
    bench = Bench(args, run_dir)
    try:
        detail, result = bench.main()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
