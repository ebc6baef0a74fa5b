"""Per-layer metrics of a traced run, named after the package modules.

Times are medians over the spans of that name. ``runner.*`` counters and
executor times are summed over the ``runner.*`` spans under one warm op
of the traced workload, then the median over ops is taken. Stage executor times come from the
status store (``spans.py``): a scan stage is one whose RDD graph reads
input files. A stage that reads a cached frame built straight from a
file scan (no exchange in between, as in ``drift_profile``) shows that
scan in its graph too, so it counts as a scan stage.
"""

from __future__ import annotations

from statistics import median

from spans import STAGE_FIELDS, Tracer

UNITS = {"_s": "s", "_bytes": "bytes", "_ratio": "ratio", "_files": "count"}


def _unit(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def _sum_stats(spans) -> dict:
    return {f: sum(s.stats[f] for s in spans) for f in STAGE_FIELDS}


def runner_groups(tr: Tracer, workload: str) -> list[dict]:
    """Summed stage stats of the runner calls under each root of ``workload``."""
    groups = []
    for root in tr.spans:
        if root.parent is None and root.workload == workload:
            spans = [s for s in tr.children(root) if s.name.startswith("runner.")]
            if spans:
                groups.append(_sum_stats(spans))
    return groups


def layer_metrics(tr: Tracer, workload: str, instances: dict) -> dict:
    def dur(name: str, only_own: bool = False) -> float:
        return median(s.duration for s in tr.named(name, workload if only_own else None))

    groups = runner_groups(tr, workload)

    def runner(f) -> float:
        return median(f(g) for g in groups)

    digests = [_sum_stats(tr.children(s)) for s in tr.named("sketch.digest")]
    job = instances["incremental_job"]
    m = {
        "session.start_s": dur("session.start", only_own=True),
        "text.reference_hashes_s": dur("text.reference_hashes"),
        "control.scan_s": dur("control.scan", only_own=True),
        "runner.run_call_s": dur("runner.run", only_own=True),
        "runner.violations_s": dur("runner.violations", only_own=True),
        "runner.verdicts_s": dur("runner.verdicts", only_own=True),
        "runner.jobs": runner(lambda g: g["jobs"]),
        "runner.stages": runner(lambda g: g["stages"]),
        "runner.tasks": runner(lambda g: g["tasks"]),
        "runner.scan_stage_run_s": runner(lambda g: g["scan_run_s"]),
        "runner.post_scan_run_s": runner(lambda g: g["run_s"] - g["scan_run_s"]),
        "runner.executor_cpu_s": runner(lambda g: g["cpu_s"]),
        "runner.task_wait_s": runner(lambda g: g["run_s"] - g["cpu_s"]),
        "runner.shuffle_write_bytes": runner(lambda g: g["shuffle_write_bytes"]),
        "runner.spill_bytes": runner(lambda g: g["spill_bytes"]),
        "sketch.baseline_s": dur("sketch.baseline"),
        "sketch.digest_s": dur("sketch.digest"),
        "sketch.task_wait_s": median(d["run_s"] - d["cpu_s"] for d in digests),
        "stats.column_stats_s": dur("stats.column_stats"),
        "manifest.fingerprint_s": dur("manifest.fingerprint"),
        "manifest.completed_s": dur("manifest.completed"),
        "manifest.full_run_s": dur("manifest.full_run"),
        "manifest.noop_run_s": dur("manifest.noop_run"),
        "manifest.parts_processed_ratio": median(s["processed"] / s["planned"] for s in job.summaries),
        "manifest.output_bytes": median(b for b, _ in job.outputs),
        "manifest.output_files": median(f for _, f in job.outputs),
    }
    return {k: (v, _unit(k)) for k, v in m.items()}


def trace_detail(tr: Tracer, workload: str, ops: list) -> dict:
    """Diagnostics of a traced run: trace overhead (median traced warm op
    minus median untraced one), whether the runner's Spark counts repeat
    exactly across roots, and whether every root's per-span executor
    times add up to its status-store total."""
    traced = [s for s, _, t in ops if t]
    untraced = [s for s, _, t in ops if not t]
    counts = [(g["jobs"], g["stages"], g["shuffle_write_bytes"]) for g in runner_groups(tr, workload)]
    return {
        "trace_overhead_s": median(traced) - median(untraced) if traced and untraced else None,
        "runner_counts": counts,
        "runner_counts_exact": len(set(counts)) == 1,
        "attribution_ok": tr.attribution_ok(),
        "trace_harvest_s": tr.harvest_s,
    }
