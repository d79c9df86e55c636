"""``curate``: CLI arguments, independent output checks and layer probes.

Not a timed workload: at this box's run budget its iterations were too
slow to time steadily, so the traced ``quality_filter`` run runs one
``curate`` job and rerun to measure the pipeline layers.

Checks, each one operation: the quality unit keeps exactly the pages the
DuckDB quality verdict keeps (the ``_oracle_quality_verdict`` spelling over
the same parquet), each unit's reported rows match its parquet output and
the next unit's input, ids stay unique, the host cap holds, the rerun
reuses every unit, and both jobs of a run produce the same output digest.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds

MAX_PER_HOST = 12
NEAR_DEDUP = 0.8
TOP_FRACTION = 0.9
PACK_BUDGET = 2048
BUCKETS = 4


def job_argv(pages: Path, work_dir: Path) -> list[str]:
    return ["curate", "--input", str(pages), "--work-dir", str(work_dir),
            "--run-id", "bench", "--buckets", str(BUCKETS),
            "--span-dedup", "--max-per-host", str(MAX_PER_HOST),
            "--near-dedup", str(NEAR_DEDUP),
            "--top-fraction", str(TOP_FRACTION),
            "--pack-budget", str(PACK_BUDGET)]


def reset(work_dir: Path) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)


def oracle_kept_urls(pages: Path) -> set[str]:
    """URLs the quality gates keep, evaluated in DuckDB."""
    import duckdb

    from cloud_data_quality_spark.plans.registry_corpus import (
        _oracle_quality_verdict)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE VIEW documents AS SELECT url AS doc_id, text FROM "
                f"read_parquet('{pages}/*.parquet')")
    rows = con.execute(f"SELECT doc_id FROM ({_oracle_quality_verdict()}) "
                       f"WHERE keep").fetchall()
    con.close()
    return {r[0] for r in rows}


def _column(path: str, column: str) -> list | None:
    """One column of a unit's parquet output; None if it cannot be read."""
    try:
        return ds.dataset(path, format="parquet", partitioning="hive") \
            .to_table(columns=[column]).column(column).to_pylist()
    except (OSError, pa.ArrowException):
        return None


def result_line(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def check_job(stdout: str, input_rows: int, kept: set[str]) -> tuple[
        int, list[str], str]:
    """Returns (checks run, failed check names, output digest)."""
    bad: list[str] = []
    try:
        res = result_line(stdout)
        stages = res["stages"]
    except (ValueError, KeyError, IndexError):
        return 1, ["curate.result_line"], ""
    names = [s["name"] for s in stages]
    chain_in = [input_rows] + [s["rows_out"] for s in stages[:-1]]
    if [s["rows_in"] for s in stages] != chain_in:
        bad.append("curate.row_chain")
    urls = {s["name"]: _column(s["output"], "url") for s in stages}
    for s in stages:
        if urls[s["name"]] is None or len(urls[s["name"]]) != s["rows_out"]:
            bad.append(f"curate.rows_on_disk[{s['name']}]")
    if set(urls.get("quality") or ()) != kept:
        bad.append("curate.quality_vs_oracle")
    hosts = Counter(u.split("/")[2] for u in urls.get("hosts") or ())
    if not hosts or max(hosts.values()) > MAX_PER_HOST:
        bad.append("curate.host_cap")
    final = urls.get("pack") or []
    if not final or len(final) != len(set(final)):
        bad.append("curate.unique_ids")
    pack = {c: _column(dict(zip(names, stages))["pack"]["output"], c)
            for c in ("pack_id", "pack_pos", "n_tokens")}
    rows = sorted(zip(final, *pack.values())) if all(
        v is not None for v in pack.values()) else []
    digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    return 4 + len(stages), bad, digest


def check_resume(stdout: str, job_stdout: str) -> tuple[int, list[str]]:
    try:
        res, job = result_line(stdout), result_line(job_stdout)
    except (ValueError, IndexError):
        return 1, ["curate.resume_result_line"]
    ok = (all(s["resumed"] for s in res["stages"])
          and [s["rows_out"] for s in res["stages"]]
          == [s["rows_out"] for s in job["stages"]])
    return 1, [] if ok else ["curate.resume_reuses_units"]


class CurateRun:
    """One ``curate`` job and its rerun over seeded pages, with checks and
    the layer probes over its unit outputs."""

    def __init__(self, work: Path, seed: int, size: int):
        self.seed, self.size = seed, size
        self.pages, self.out = work / "pages", work / "out"
        self.job_stdout, self._digest = "", None

    def prepare(self) -> None:
        from perfbench.inputs import write_pages
        write_pages(self.pages, self.seed, self.size)
        reset(self.out)

    def start_oracle(self) -> None:
        """The DuckDB verdict takes seconds; it runs on a thread and the
        first check waits for it."""
        from concurrent.futures import ThreadPoolExecutor
        pool = ThreadPoolExecutor(1)
        self._kept = pool.submit(oracle_kept_urls, self.pages)
        pool.shutdown(wait=False)

    @property
    def kept(self) -> set[str]:
        return self._kept.result()

    def argv(self) -> list[str]:
        return job_argv(self.pages, self.out)

    def check_job(self, stdout: str) -> tuple[int, list[str]]:
        self.job_stdout = stdout
        n, bad, digest = check_job(stdout, self.size, self.kept)
        self._digest = self._digest or digest
        if digest != self._digest:
            bad.append("curate.output_digest")
        return n + 1, bad

    def check_resume(self, stdout: str) -> tuple[int, list[str]]:
        return check_resume(stdout, self.job_stdout)

    def probes(self, spark, store, put) -> None:
        """span_dedup over the quality unit's output and the LSH pair join
        over the dedup unit's output, each to a noop sink."""
        from cloud_data_quality_spark.functions.corpus import span_dedup
        from cloud_data_quality_spark.functions.dedup import (
            minhash_pairs_from_columns)
        from perfbench.trace import probe_seconds, timed_noop
        out = {s["name"]: s["output"]
               for s in result_line(self.job_stdout)["stages"]}
        quality = spark.read.parquet(out["quality"])
        s, t = probe_seconds(store, lambda: timed_noop(span_dedup(
            quality, text_col="text", id_col="url", delimiter="\n")))
        put("functions.corpus.span_dedup_s", s)
        put("functions.corpus.span_dedup_shuffle_bytes",
            t["shuffle_write_bytes"])
        deduped = spark.read.parquet(out["dedup"])
        s, t = probe_seconds(store, lambda: minhash_pairs_from_columns(
            deduped, id_col="url", hs_col="__mh_hs", sig_col="__mh_sig",
            jaccard_threshold=NEAR_DEDUP, broadcast_verify=True).count())
        put("functions.dedup.near_dedup_s", s)
        put("functions.dedup.pairs", t["result"])
