"""Benchmark entry point.

    python3 perfbench/run.py --workload dq_validate --seed 1 --seconds 25 \
        --trace 0

Run from the root of a checkout. One closed-loop client submits one CLI
job at a time, in process, through ``cloud_data_quality_spark.cli.main`` at
``local[<nproc>]`` with the driver heap pinned (``harness.DRIVER_MEMORY``).
Inputs come from ``--seed`` only. Each iteration starts from the same
on-disk state, runs the workload's job and then its resume step, and checks
both outputs; deletion, state preparation, checks and JVM/Python GC all
happen outside the clock.

The run warms up for one iteration, then times a fixed number of
iterations derived from ``--seconds`` and the workload's nominal iteration
time (not a time budget), so both sides of a comparison time the same
iterations. ``--trace 1`` runs the same loop and then one traced
iteration between untraced ones, and reports per-layer metrics instead
(``trace.py``).

The last stdout line is one JSON object: correct, attempted, failed,
metrics. ``correct`` is false when any check fails other than a known
package defect the workload names; known defects still count in
``failed``. Progress and diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

#: nominal seconds per timed iteration (job + resume) at the default size:
#: a run times max(MIN_TIMED, --seconds // nominal) iterations, the same
#: count on both sides of a comparison
NOMINAL_S = {"dq_validate": 6.0, "quality_filter": 6.0}
MIN_TIMED = 2
#: with the JIT pinned to C1 (harness.JIT_OPTIONS) job times level after
#: the first, cold iteration; each run logs the drift between the first
#: and second half of its timed iterations to show it
WARMUP_ITERATIONS = 1
SETUP_RESTARTS = 5


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def workload_class(name: str):
    from perfbench import dq, qfilter
    return {"dq_validate": dq.Workload,
            "quality_filter": qfilter.Workload}[name]


def run_cli(argv: list[str]) -> tuple[bool, str]:
    """One CLI invocation in process; (succeeded, captured stdout)."""
    from cloud_data_quality_spark import cli
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
    except Exception as e:  # noqa: BLE001 — a failed op, not a failed run
        log(f"cli {argv[0]} raised {type(e).__name__}: {e}")
        return False, buf.getvalue()
    return rc == 0, buf.getvalue()


class Loop:
    """Runs iterations of one workload and keeps their timings and ops."""

    def __init__(self, wl, spark, ops):
        self.wl, self.spark, self.ops = wl, spark, ops

    def _step(self, argv, check, label, tracer) -> tuple[float, str]:
        from perfbench.harness import collect_garbage
        collect_garbage(self.spark)
        with (tracer.step(label) if tracer else contextlib.nullcontext()):
            t0 = time.perf_counter()
            ok, out = run_cli(argv)
            seconds = time.perf_counter() - t0
        self.ops.record(1, [] if ok else [f"cli.{label}"])
        if ok:
            n, bad = check(out)
            self.ops.record(n, bad)
        return seconds, out

    def iteration(self, tracer=None) -> tuple[float, float]:
        self.wl.reset()
        job_s, _ = self._step(self.wl.job_argv(), self.wl.check_job, "job",
                              tracer)
        self.wl.between()
        resume_s, _ = self._step(self.wl.resume_argv(), self.wl.check_resume,
                                 "resume", tracer)
        return job_s, resume_s

    def warm_up(self) -> None:
        jobs = [self.iteration()[0] for _ in range(WARMUP_ITERATIONS)]
        log("warm-up job_s " + " ".join(f"{t:.3f}" for t in jobs))


def measure(args, wl, work: Path) -> dict:
    from perfbench import harness
    from perfbench.inputs import tree_digest, tree_size

    t0 = time.perf_counter()
    probe = wl.prepare()
    rows, nbytes = tree_size(wl.input_dir)
    log(f"inputs: {rows} rows, {nbytes} bytes, digest "
        f"{tree_digest(wl.input_dir)[:16]}, prepared in "
        f"{time.perf_counter() - t0:.1f}s")
    spark, cold_s = harness.start_session(work, probe)
    try:
        return _measure_session(args, wl, work, spark, cold_s, probe)
    finally:
        harness.stop_session()


def _measure_session(args, wl, work, spark, cold_s, probe) -> dict:
    from perfbench import harness

    restarts = []
    for _ in range(SETUP_RESTARTS):
        spark.stop()
        spark, s = harness.start_session(work, probe)
        restarts.append(s)
    log(f"cold start {cold_s:.2f}s; restarts "
        + " ".join(f"{s:.3f}" for s in restarts)
        + f"; storage memory {harness.storage_memory_mb(spark):.0f} MB")
    wl.start_oracle()
    ops = harness.Ops(wl.is_known_defect)
    loop = Loop(wl, spark, ops)
    loop.warm_up()
    n_timed = max(MIN_TIMED, int(args.seconds // NOMINAL_S[args.workload]))
    jobs, resumes, peaks = [], [], []
    rss = harness.PeakRss()
    for _ in range(n_timed):
        rss.reset()
        j, r = loop.iteration()
        peaks.append(rss.peak_mb())
        jobs.append(j)
        resumes.append(r)
    log(f"timed job_s {' '.join(f'{t:.3f}' for t in jobs)}; drift "
        f"{harness.drift(jobs):+.3f}")
    log(f"timed resume_s {' '.join(f'{t:.3f}' for t in resumes)}; drift "
        f"{harness.drift(resumes):+.3f}")
    log(f"timed peak_rss_mb {' '.join(f'{m:.0f}' for m in peaks)}")
    metrics = {
        "setup_s": (harness.median(restarts), "s"),
        "job_s": (harness.median(jobs), "s"),
        "resume_s": (harness.median(resumes), "s"),
        "peak_rss_mb": (harness.median(peaks), "MB"),
    }
    if args.trace:
        from perfbench import trace
        metrics = trace.traced_metrics(loop, wl, spark, jobs, resumes)
    if ops.failed:
        log(f"failed checks: {json.dumps(ops.failed, sort_keys=True)}")
    return {"correct": not ops.unexpected, "attempted": ops.attempted,
            "failed": ops.n_failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(NOMINAL_S))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=25)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import cloud_data_quality_spark.cli  # noqa: F401
    except ImportError as e:
        log(f"cannot import the package from {ROOT}: {e}")
        return 2
    from perfbench import harness

    cls = workload_class(args.workload)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    harness.prepare_env(ROOT, work)
    try:
        wl = cls(ROOT, work, args.seed, cls.default_size)
        result = measure(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
