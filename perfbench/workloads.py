"""The three workloads. Each one registers its inputs and builds the
runner or job (set-up), builds its derived inputs with the code under
test, runs ops and checks every op against the DuckDB oracle.

* ``full_suite``: ``ValidationRunner`` with the default checks plus
  ``TextEquals`` against reference hashes and both dimension tables; the
  only workload dominated by ``canonicalize`` and the ``hash(conv_id)``
  exchange with its sort-merge join and window.
* ``drift_profile``: two ``Drift`` checks (KS on text_length, PSI on
  turn_count) plus ``column_stats`` over all six columns; no joins, no
  ``TextEquals``, so it bypasses canonicalize and is bound by the
  t-digest pandas UDFs.
* ``incremental_job``: ``manifest.ValidationJob`` over the fact table
  partitioned on disk by ``part_id``; each op rewrites a fixed 1/8 of the
  partitions (untimed) and re-validates exactly those, so fixed per-run
  costs (fingerprint scan, manifest read, dynamic-overwrite writes)
  dominate.

A workload's ``op`` is the timed call sequence and returns its raw
outputs; ``check`` (untimed) compares them with the oracle, raises
``Mismatch`` on any difference and returns the turns the op validated.
"""

from __future__ import annotations

import math
import os
import shutil

from hdfs_anomaly_detection_spark.constraints import (
    Drift,
    TextEquals,
    ValidationRunner,
    default_transcript_checks,
)
from hdfs_anomaly_detection_spark.constraints.runner import reference_hashes
from hdfs_anomaly_detection_spark.manifest import ValidationJob
from hdfs_anomaly_detection_spark.sketch.drift import compute_baselines, drift_verdicts
from hdfs_anomaly_detection_spark.stats import column_stats

from inputs import CHANGED_PARTS, N_BUCKETS
from oracle import KS_TOLERANCE, close_enough


class Mismatch(Exception):
    """An op's output disagrees with the oracle."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


def _compare_verdicts(got: dict, want: dict, what: str) -> None:
    if got != want:
        diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))[:5]
        raise Mismatch(f"{what}: {len(diff)}+ verdicts differ, e.g. "
                       + ", ".join(f"{k}: got {got.get(k)} want {want.get(k)}" for k in diff))


class Context:
    """What a workload needs from the run: the session, the tracer, the
    oracle and its directories."""

    def __init__(self, spark, tracer, oracle, inputs: str, run_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.oracle = oracle
        self.inputs = inputs
        self.run_dir = run_dir

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.inputs, name))


class Workload:
    name = ""
    # ops a traced run of another workload runs here to cover this
    # workload's layers (its warm-up op is op 0)
    cover_ops = 0
    partitioned = False  # reads the part_id-partitioned copy of the fact table

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.span = ctx.tracer.span

    def prepare(self) -> None:
        """Untimed: oracle expectations and per-run input copies."""

    def derive(self) -> None:
        """Derived inputs, rebuilt every run by the code under test."""

    def register(self) -> None:
        """Set-up: register inputs and build the runner or job."""
        raise NotImplementedError

    def before_op(self, i: int) -> None:
        """Untimed load generation for op ``i``."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> int:
        raise NotImplementedError

    def finish(self) -> None:
        """Traced calls made once after the ops, for layers no op shows."""


def _runner_outputs(span, res) -> tuple[int, list]:
    with span("runner.violations"):
        n = res.violations.count()
    with span("runner.verdicts"):
        rows = res.verdicts.collect()
    with span("runner.unpersist"):
        res.unpersist()
    return n, rows


class FullSuite(Workload):
    name = "full_suite"

    def prepare(self) -> None:
        o = self.ctx.oracle
        fact = os.path.join(self.ctx.inputs, "fact")
        self.rows = o.fact_rows(fact)
        self.want = o.verdicts(fact, text_equals=True)

    def derive(self) -> None:
        self.ref_path = os.path.join(self.ctx.run_dir, "reference_hashes")
        with self.span("text.reference_hashes"):
            reference_hashes(self.ctx.read("clean"), TextEquals("text_equals")).write.parquet(
                self.ref_path
            )

    def register(self) -> None:
        spark = self.ctx.spark
        self.fact = self.ctx.read("fact")
        self.runner = ValidationRunner(
            default_transcript_checks() + [TextEquals("text_equals")],
            n_buckets=N_BUCKETS,
            dims={"conversations": self.ctx.read("conversations"), "tools": self.ctx.read("tools")},
            reference=spark.read.parquet(self.ref_path),
        )

    def op(self, i: int):
        with self.span("runner.run"):
            res = self.runner.run(self.fact)
        return _runner_outputs(self.span, res)

    def check(self, i: int, out) -> int:
        n, rows = out
        got = {(r["part_id"], r["check_id"]): (r["n_rows"], r["n_violations"]) for r in rows}
        _compare_verdicts(got, self.want, "full_suite")
        _expect(n == sum(v for _, v in self.want.values()), f"violations.count() {n}")
        _expect(all(r["passed"] == (r["n_violations"] == 0) for r in rows), "passed flags")
        return self.rows


DRIFT_CHECKS = [
    Drift("drift_text_length_ks", metric="text_length", method="ks"),
    Drift("drift_turn_count_psi", metric="turn_count", method="psi"),
]


class DriftProfile(Workload):
    name = "drift_profile"
    cover_ops = 1

    def prepare(self) -> None:
        o = self.ctx.oracle
        fact = os.path.join(self.ctx.inputs, "fact")
        self.rows = o.fact_rows(fact)
        self.ks = o.text_length_ks(fact)
        self.convs = o.conversations_per_part(fact)
        self.stats = o.column_stats(fact)

    def derive(self) -> None:
        with self.span("sketch.baseline"):
            self.baselines = compute_baselines(
                self.ctx.read("clean"), ["text_length", "turn_count"], n_buckets=N_BUCKETS
            )

    def register(self) -> None:
        self.fact = self.ctx.read("fact")
        self.runner = ValidationRunner(DRIFT_CHECKS, n_buckets=N_BUCKETS, baselines=self.baselines)

    def op(self, i: int):
        with self.span("runner.run"):
            res = self.runner.run(self.fact)
        n, rows = _runner_outputs(self.span, res)
        with self.span("stats.column_stats"):
            stats = column_stats(self.fact).collect()
        return n, rows, stats

    def check(self, i: int, out) -> int:
        n, rows, stats = out
        _expect(n == 0, f"drift-only suite produced {n} violation rows")
        self._check_drift(rows)
        got = {(r["column"], r["stat"]): r["value"] for r in stats}
        for key, want in self.stats.items():
            _expect(key in got and close_enough(got[key], want), f"column_stats {key}: {got.get(key)} vs {want}")
        return self.rows

    def _check_drift(self, rows) -> None:
        ks = {r["part_id"]: r for r in rows if r["check_id"] == "drift_text_length_ks"}
        psi = {r["part_id"]: r for r in rows if r["check_id"] == "drift_turn_count_psi"}
        _expect(set(ks) == set(self.ks), f"KS partitions {sorted(ks)}")
        for pid, (exact, n) in self.ks.items():
            r = ks[pid]
            _expect(r["n_rows"] == n, f"KS part {pid} n_rows {r['n_rows']} vs {n}")
            _expect(abs(r["statistic"] - exact) <= KS_TOLERANCE,
                    f"KS part {pid}: {r['statistic']:.4f} vs exact {exact:.4f}")
            _expect(r["passed"] == (exact <= DRIFT_CHECKS[0].threshold), f"KS part {pid} verdict")
        _expect(set(psi) == set(self.convs), f"PSI partitions {sorted(psi)}")
        for pid, n in self.convs.items():
            r = psi[pid]
            _expect(r["n_rows"] == n, f"PSI part {pid} n_rows {r['n_rows']} vs {n}")
            _expect(math.isfinite(r["statistic"]), f"PSI part {pid} statistic")
            _expect(r["passed"] == (r["statistic"] <= DRIFT_CHECKS[1].threshold), f"PSI part {pid} verdict")

    def finish(self) -> None:
        with self.span("sketch.digest"):
            rows = drift_verdicts(self.fact, DRIFT_CHECKS, self.baselines, n_buckets=N_BUCKETS).collect()
        self._check_drift(rows)


class IncrementalJob(Workload):
    name = "incremental_job"
    cover_ops = 2
    partitioned = True

    def prepare(self) -> None:
        o = self.ctx.oracle
        self.table = os.path.join(self.ctx.run_dir, "table")
        shutil.copytree(os.path.join(self.ctx.inputs, "parted", "v0"), self.table)
        self.job_dir = os.path.join(self.ctx.run_dir, "job")
        self.versions = [os.path.join(self.ctx.inputs, "parted", f"v{v}") for v in (0, 1)]
        self.rows = o.fact_rows(self.table)
        self.want_full = o.verdicts(self.table, text_equals=False)
        self.want = [o.verdicts(p, text_equals=False, parts=CHANGED_PARTS) for p in self.versions]
        self.changed_rows = [o.fact_rows(p, CHANGED_PARTS) for p in self.versions]
        self.summaries: list[dict] = []
        self.outputs: list[tuple[int, int]] = []

    def register(self) -> None:
        self.fact = self.ctx.spark.read.parquet(self.table)
        self.runner = ValidationRunner(
            default_transcript_checks(),
            n_buckets=N_BUCKETS,
            dims={"conversations": self.ctx.read("conversations"), "tools": self.ctx.read("tools")},
            part_col="part_id",
        )
        self.job = ValidationJob(self.runner, self.job_dir)

    def before_op(self, i: int) -> None:
        if i == 0:
            return
        src = self.versions[i % 2]  # alternate the content of the changed slice
        for p in CHANGED_PARTS:
            dst = os.path.join(self.table, f"part_id={p}")
            shutil.rmtree(dst)
            os.makedirs(dst)
            files = sorted(f for f in os.listdir(os.path.join(src, f"part_id={p}")) if f.endswith(".parquet"))
            for j, f in enumerate(files):
                shutil.copyfile(os.path.join(src, f"part_id={p}", f), os.path.join(dst, f"part-op{i:05d}-{j}.parquet"))

    def op(self, i: int):
        with self.span("manifest.read"):
            self.fact = self.ctx.spark.read.parquet(self.table)
        with self.span("manifest.full_run" if i == 0 else "manifest.run"):
            return self.job.run(self.fact)

    def check(self, i: int, summary) -> int:
        o = self.ctx.oracle
        if i == 0:
            parts, want, turns = tuple(range(N_BUCKETS)), self.want_full, self.rows
        else:
            parts, want, turns = CHANGED_PARTS, self.want[i % 2], self.changed_rows[i % 2]
            self.summaries.append(summary)
        _expect(
            (summary["planned"], summary["processed"], summary["skipped"])
            == (N_BUCKETS, len(parts), N_BUCKETS - len(parts)),
            f"job summary {summary}",
        )
        done = o.manifest_parts(self.job.manifest_path, summary["run_id"])
        _expect(done == set(parts), f"manifest rows for parts {sorted(done)}")
        _compare_verdicts(o.job_verdicts(self.job.verdicts_path, parts), want, "incremental_job")
        self.outputs.append(_tree_size(self.job_dir))
        return turns

    def finish(self) -> None:
        with self.span("manifest.fingerprint"):
            self.job.partition_fingerprints(self.fact)
        with self.span("manifest.completed"):
            self.job.completed_fingerprints(self.ctx.spark)
        with self.span("manifest.noop_run"):
            summary = self.job.run(self.ctx.spark.read.parquet(self.table))
        _expect(summary["processed"] == 0 and summary["skipped"] == N_BUCKETS, f"no-op run {summary}")


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


WORKLOADS = {w.name: w for w in (FullSuite, DriftProfile, IncrementalJob)}
