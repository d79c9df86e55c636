"""The ``quality_filter`` workload: CLI steps and independent output checks.

``quality-filter --from-html`` over seeded crawl pages, then a rerun with
the same run id, which must skip every committed partition. Checks, each
one operation: the kept URLs equal the verdict of the quality kernel called
directly on the generated text, and on a fixed sample of pages the DuckDB
verdict (``_oracle_quality_verdict`` over ``sql_extract_text`` of the same
html) agrees; the reported and lineage row counts match the output.

The traced run also runs one ``curate`` job and rerun over a slice of the
same pages (``curate.py``), so the pipeline, span-dedup and near-dedup
layers are measured even though ``curate`` is not a timed workload.
"""

from __future__ import annotations

import contextlib
import json
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import curate

BUCKETS = 4
#: every SAMPLE_EVERY-th page goes through the DuckDB verdict (about 9 ms
#: a page, so the whole input would cost minutes)
SAMPLE_EVERY = 40


def job_argv(pages: Path, out: Path) -> list[str]:
    return ["quality-filter", "--input", str(pages),
            "--output", str(out / "kept"), "--lineage", str(out / "lineage"),
            "--run-id", "bench", "--buckets", str(BUCKETS), "--from-html"]


def kernel_kept(pages: Path) -> set[str]:
    """URLs the quality kernel keeps, called directly on the page text the
    html encodes (a NULL text renders as an empty page)."""
    import pandas as pd

    from cloud_data_quality_spark.functions.webtext_rules import (
        quality_annotations_batch)
    t = pq.read_table(pages, columns=["url", "text"])
    texts = pd.Series([x or "" for x in t.column("text").to_pylist()],
                      dtype=object)
    keep = quality_annotations_batch(texts)["keep"].to_numpy()
    return {u for u, k in zip(t.column("url").to_pylist(), keep) if k}


def duckdb_sample(pages: Path, sample: Path) -> dict[str, bool]:
    """{url: keep} by the DuckDB verdict over the sampled pages' html."""
    import duckdb

    from cloud_data_quality_spark.plans.oracle_fragments import (
        sql_extract_text)
    from cloud_data_quality_spark.plans.registry_corpus import (
        _oracle_quality_verdict)
    t = pq.read_table(pages, columns=["url", "html"])
    pq.write_table(t.take(list(range(0, t.num_rows, SAMPLE_EVERY))), sample)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE VIEW documents AS SELECT url AS doc_id, "
                f"{sql_extract_text('decode(html)')} AS text FROM "
                f"read_parquet('{sample}')")
    rows = con.execute(f"SELECT doc_id, keep FROM "
                       f"({_oracle_quality_verdict()})").fetchall()
    con.close()
    return dict(rows)


def _read(path: Path, columns: list[str]):
    try:
        return ds.dataset(path, format="parquet", partitioning="hive") \
            .to_table(columns=columns)
    except (OSError, pa.ArrowException):
        return None


class Workload:
    #: pages
    default_size = 10_000
    #: pages the traced run's curate probe reads (the first rows of the
    #: same seeded pages)
    curate_pages = 1_000

    def __init__(self, repo_root: Path, work: Path, seed: int, size: int):
        self.seed, self.size, self.work = seed, size, work
        self.pages, self.out = work / "pages", work / "out"

    def prepare(self) -> Path:
        from perfbench.inputs import write_pages
        write_pages(self.pages, self.seed, self.size)
        return self.pages

    def start_oracle(self) -> None:
        """The kernel verdict is computed now; the DuckDB sample runs on a
        thread during the untimed warm-up and the first check waits."""
        from concurrent.futures import ThreadPoolExecutor
        self.kept = kernel_kept(self.pages)
        pool = ThreadPoolExecutor(1)
        self._sample = pool.submit(duckdb_sample, self.pages,
                                   self.work / "sample.parquet")
        pool.shutdown(wait=False)

    @property
    def input_dir(self) -> Path:
        return self.pages

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def job_argv(self) -> list[str]:
        return job_argv(self.pages, self.out)

    resume_argv = job_argv

    def between(self) -> None:
        pass

    def check_job(self, stdout: str) -> tuple[int, list[str]]:
        bad = []
        try:
            res = json.loads(stdout.strip().splitlines()[-1])
        except (ValueError, IndexError):
            return 1, ["quality_filter.result_line"]
        kept = _read(self.out / "kept", ["url"])
        urls = set(kept.column("url").to_pylist()) if kept else set()
        if kept is None or urls != self.kept or kept.num_rows != len(urls):
            bad.append("quality_filter.kept_vs_kernel")
        sample = self._sample.result()
        if any((u in urls) != k for u, k in sample.items()):
            bad.append("quality_filter.kept_vs_duckdb_sample")
        if (res.get("rows_in"), res.get("rows_kept"),
                res.get("processed_partitions")) != (
                self.size, len(self.kept), BUCKETS):
            bad.append("quality_filter.reported_counts")
        lin = _read(self.out / "lineage", ["n_in", "n_kept"])
        if lin is None or (lin.num_rows, sum(lin.column("n_in").to_pylist()),
                           sum(lin.column("n_kept").to_pylist())) != (
                BUCKETS, self.size, len(self.kept)):
            bad.append("quality_filter.lineage")
        return 5, bad

    def check_resume(self, stdout: str) -> tuple[int, list[str]]:
        try:
            res = json.loads(stdout.strip().splitlines()[-1])
        except (ValueError, IndexError):
            return 1, ["quality_filter.resume_result_line"]
        ok = (res.get("processed_partitions"),
              res.get("skipped_partitions")) == (0, BUCKETS)
        return 1, [] if ok else ["quality_filter.resume_skips_all"]

    @staticmethod
    def is_known_defect(check: str) -> bool:
        return False

    def layer_metrics(self, tracer, store, put) -> None:
        from perfbench.trace import dir_bytes_files, sum_seconds
        put("engine.incremental.run_s", sum_seconds(tracer.find(
            "job", "engine.incremental.ResumableQualityRun.run")))
        nbytes, nfiles = dir_bytes_files(self.out / "kept")
        put("engine.incremental.bytes_written", nbytes)
        put("engine.incremental.files_written", nfiles)
        put("operators.quality_filter.keep_ratio", len(self.kept) / self.size)

    def layer_probes(self, spark, store, put, tracer, ops) -> None:
        """html extraction and annotation to a noop sink; the Arrow
        kernels; then one traced curate job and rerun over a slice of the
        pages, with its own checks, and the curate layer probes."""
        from pyspark.sql import functions as F

        from cloud_data_quality_spark.functions.html_extract import (
            extract_text)
        from cloud_data_quality_spark.operators.quality_filter import (
            annotate_quality_arrow)
        from perfbench.run import run_cli
        from perfbench.trace import (kernel_rates, pipeline_metrics,
                                     probe_seconds, timed_noop)
        pages = spark.read.parquet(str(self.pages))
        s, _ = probe_seconds(store, lambda: timed_noop(
            pages.select(extract_text(F.col("html")).alias("text"))))
        put("functions.html_extract.extract_s", s)
        s, _ = probe_seconds(store, lambda: timed_noop(annotate_quality_arrow(
            pages.withColumn("text", extract_text(F.col("html"))))
            .where("keep")))
        put("operators.quality_filter.annotate_s", s)
        texts = pq.read_table(self.pages, columns=["text"]).column(
            "text").to_pylist()
        for k, v in kernel_rates(texts).items():
            put(k, v)

        cu = curate.CurateRun(self.work / "curate", self.seed,
                              self.curate_pages)
        cu.prepare()
        cu.start_oracle()
        # one untraced job first, so the traced one does not time the
        # curate code paths' first (cold) run
        for step, check in (("curate_warmup", cu.check_job),
                            ("curate", cu.check_job),
                            ("curate_resume", cu.check_resume)):
            if step == "curate":
                curate.reset(cu.out)
            with (tracer.step(step) if step != "curate_warmup"
                  else contextlib.nullcontext()):
                ok, out = run_cli(cu.argv())
            ops.record(1, [] if ok else [f"cli.{step}"])
            if ok:
                ops.record(*check(out))
        if cu.job_stdout:
            pipeline_metrics(tracer, store, put, cu.job_stdout, "curate")
            cu.probes(spark, store, put)
