"""Tests of the benchmark itself, at a tiny size.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the checkout root. One Spark session is shared by the module.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import (  # noqa: E402
    curate, dq, harness, inputs, qfilter, trace)
from perfbench.run import Loop, run_cli  # noqa: E402

DQ_ROWS, PAGES = 2_000, 300


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    harness.prepare_env(ROOT, work)
    probe = work / "probe"
    inputs.write_pages(probe, seed=0, rows=10)
    spark, _ = harness.start_session(work, probe)
    yield spark, work
    harness.stop_session()


def _iterate(spark, wl, tracer=None):
    wl.prepare()
    wl.start_oracle()
    ops = harness.Ops(wl.is_known_defect)
    loop = Loop(wl, spark, ops)
    return loop, ops, loop.iteration(tracer)


def test_dq_validate_end_to_end_only_known_defect_fails(env):
    spark, work = env
    wl = dq.Workload(ROOT, work / "dq", seed=3, size=DQ_ROWS)
    _, ops, (job_s, resume_s) = _iterate(spark, wl)
    assert job_s > 0 and resume_s > 0
    assert ops.attempted > 20
    assert not ops.unexpected, ops.failed
    # the dialect's date_trunc defect shows on both steps
    assert ops.failed == {
        "summary[RB_EVENTS_TS/VOLUME_PER_DAY_AT_LEAST]": 2}


def test_dq_corrupted_summary_is_counted(env):
    spark, work = env
    wl = dq.Workload(ROOT, work / "dq_bad", seed=3, size=DQ_ROWS)
    wl.prepare()
    wl.start_oracle()
    wl.reset()
    ok, out = run_cli(wl.job_argv())
    assert ok
    summary = next((wl.out / "summary").glob("*.parquet"))
    t = pq.read_table(summary)
    counts = t.column("rows_validated").to_pylist()
    t = t.set_column(t.schema.get_field_index("rows_validated"),
                     "rows_validated", [[c + 1 for c in counts]])
    pq.write_table(t, summary)
    ops = harness.Ops(wl.is_known_defect)
    ops.record(*wl.check_job(out))
    assert ops.unexpected and ops.n_failed > 1


def test_quality_filter_end_to_end_traced_spans_add_up(env):
    spark, work = env
    wl = qfilter.Workload(ROOT, work / "qf", seed=3, size=PAGES)
    store = trace.StatusStore(spark)
    tracer = trace.Tracer(store.max_job_id)
    with trace.instrumented(tracer):
        _, ops, (job_s, _) = _iterate(spark, wl, tracer)
    assert ops.failed == {} and ops.attempted == 8
    for step in ("job", "resume"):
        idx, span = tracer.step_span(step)
        total = tracer.self_seconds(idx) + sum(
            tracer.self_seconds(i) for i in tracer.descendants(idx))
        assert total == pytest.approx(span.seconds, abs=1e-9)
    assert tracer.step_span("job")[1].seconds >= job_s
    assert tracer.find("job", "engine.incremental.ResumableQualityRun.run")


def test_curate_checks_and_unit_spans(env):
    spark, work = env
    cu = curate.CurateRun(work / "curate", seed=3, size=PAGES)
    cu.prepare()
    cu.start_oracle()
    store = trace.StatusStore(spark)
    tracer = trace.Tracer(store.max_job_id)
    with trace.instrumented(tracer), tracer.step("curate"):
        ok, out = run_cli(cu.argv())
    assert ok
    n, bad = cu.check_job(out)
    assert n >= 12 and bad == []
    ok, again = run_cli(cu.argv())
    assert ok and cu.check_resume(again) == (1, [])
    assert {s.label for s in tracer.spans if s.label} == set(trace.UNITS)
    got = {}
    trace.pipeline_metrics(tracer, store, lambda k, v: got.update({k: v}),
                           out, "curate")
    assert got["engine.pipeline.unit_rows_out.quality"] == len(cu.kept)
    assert got["engine.pipeline.unit_s.span_dedup"] > 0

    # a corrupted output is a failed check
    shutil.rmtree(Path(curate.result_line(out)["stages"][-1]["output"]))
    n, bad = cu.check_job(out)
    assert n > len(bad) > 0


def test_inputs_follow_the_seed(tmp_path):
    for seed, name in ((1, "a"), (1, "b"), (2, "c")):
        inputs.write_dq_tables(tmp_path / name, seed, 400)
        inputs.write_pages(tmp_path / name / "pages", seed, 40)
    digest = {n: inputs.tree_digest(tmp_path / n) for n in "abc"}
    assert digest["a"] == digest["b"] != digest["c"]


def test_span_self_times_exclude_children(monkeypatch):
    clock = iter(range(100))
    monkeypatch.setattr(trace.time, "perf_counter", lambda: next(clock))
    tracer = trace.Tracer(lambda: -1)
    with tracer.step("job"):              # 0 .. 7
        with tracer.span("a", "x"):       # 1 .. 4
            with tracer.span("b", "y"):   # 2 .. 3
                pass
        with tracer.span("c", "x"):       # 5 .. 6
            pass
    monkeypatch.undo()
    assert [tracer.self_seconds(i) for i in range(4)] == [3, 2, 1, 1]
