"""The ``dq_validate`` workload: bindings, CLI steps and the DuckDB oracle.

One binding spec drives both sides: ``write_configs`` renders it as the
YAML the CLI loads, and ``expected_summary`` evaluates the same rules
independently — simple rules and SQL statements in DuckDB over the same
parquet, pandas-batch rules by calling the registered batch function on
the column read with pyarrow (the engine's Arrow-UDF path is what is under
check there, not the kernel, which the repo's oracle tests pin).

Every rule shipped in ``configs/rules/*.yml`` is bound at least once.
``VOLUME_PER_DAY_AT_LEAST`` is bound over an events stream with one sparse
day: the dialect rewrites its ``date_trunc('DAY', ts)`` with the arguments
swapped, so the engine groups every row under a NULL day and misses the
sparse one. The oracle truncates correctly, so that summary row fails its
check on every step until the dialect is fixed (``KNOWN_DEFECTS``).
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench.harness import cores
from perfbench.inputs import (
    DQ_TABLES,
    EVENT_DAYS,
    INCREMENTAL_TABLES,
    SPARSE_SHARE,
    WATERMARK,
    dq_sizes,
)

_COLUMNS = {
    "customer": {"c_custkey": "INT64", "c_name": "STRING",
                 "c_nationkey": "INT64", "c_acctbal": "FLOAT64",
                 "c_mktsegment": "STRING", "c_email": "STRING"},
    "orders": {"o_orderkey": "INT64", "o_custkey": "INT64",
               "o_orderstatus": "STRING", "o_totalprice": "FLOAT64",
               "o_orderdate": "DATE", "o_orderpriority": "STRING"},
    "lineitem": {"l_orderkey": "INT64", "l_linenumber": "INT64",
                 "l_quantity": "FLOAT64", "l_extendedprice": "FLOAT64",
                 "l_shipdate": "DATE", "l_comment": "STRING"},
    "events": {"event_id": "INT64", "ts": "TIMESTAMP", "user_id": "INT64",
               "event_type": "STRING", "value": "FLOAT64",
               "props": "STRING", "url": "STRING"},
    "documents": {"doc_id": "INT64", "text": "STRING", "lang": "STRING",
                  "source": "STRING", "n_chars": "INT64", "url": "STRING",
                  "fetched_at": "TIMESTAMP"},
}
_INCREMENTAL_COL = {"orders": "o_orderdate", "lineitem": "l_shipdate",
                    "events": "ts", "documents": "fetched_at"}


@dataclass(frozen=True)
class Binding:
    binding_id: str
    table: str
    column: str
    rules: tuple[tuple[str, dict], ...]

    @property
    def incremental_col(self) -> str | None:
        return _INCREMENTAL_COL.get(self.table)


def bindings(lineitem_rows: int) -> list[Binding]:
    per_day = dq_sizes(lineitem_rows)["events"] / (EVENT_DAYS - 1
                                                     + SPARSE_SHARE)
    min_rows = max(2, int(per_day / 4))
    return [
        Binding("RB_CUSTOMER_EMAIL", "customer", "c_email", (
            ("NOT_NULL_SIMPLE", {}), ("NOT_BLANK_SIMPLE", {}),
            ("VALID_EMAIL", {}),
            ("VALUE_LENGTH_BETWEEN", {"min_len": 20, "max_len": 30}),
            ("COMPLETENESS_PCT_ABOVE", {"threshold_pct": 99}))),
        Binding("RB_ORDERS_CUSTKEY", "orders", "o_custkey", (
            ("VALUE_NON_NEGATIVE", {}),
            ("VALUE_IN_REFERENCE_TABLE",
             {"ref_column": "c_custkey", "ref_table": "CUSTOMER"}),
            ("NO_DUPLICATES_IN_COLUMN_GROUPS",
             {"column_names": "o_orderkey"}))),
        Binding("RB_LINEITEM_COMMENT", "lineitem", "l_comment", (
            ("NOT_BLANK_SIMPLE", {}),
            ("VALUE_LENGTH_BETWEEN", {"min_len": 10, "max_len": 40}))),
        Binding("RB_EVENTS_TS", "events", "ts", (
            ("TIMESTAMP_NOT_FUTURE", {}),
            ("VOLUME_PER_DAY_AT_LEAST", {"min_rows": min_rows}))),
        Binding("RB_EVENTS_URL", "events", "url", (
            ("NOT_NULL_SIMPLE", {}), ("VALID_URL", {}))),
        Binding("RB_DOCUMENTS_TEXT", "documents", "text", (
            ("LANG_IS_ENGLISH", {}), ("LANG_IS_ENGLISH_FASTTEXT", {}),
            ("GOPHER_QUALITY_GATES", {}), ("PERPLEXITY_UNDER_30", {}),
            ("NO_PII_PRESENT", {}))),
    ]


#: entity groups run on a pool of <nproc> threads (the CLI default is one
#: at a time): the job takes half the time, which is what lets a run time
#: enough iterations within its budget
MAX_CONCURRENCY = cores()

#: (binding, rule) summary checks that fail because of a known package
#: defect, not because of the benchmark
KNOWN_DEFECTS = {("RB_EVENTS_TS", "VOLUME_PER_DAY_AT_LEAST"):
                 "compiler/dialect.py swaps date_trunc's arguments"}


def write_configs(cfg_dir: Path, repo_root: Path, lineitem_rows: int) -> None:
    """The shipped rule library plus this workload's entities and bindings."""
    import yaml
    cfg_dir.mkdir(parents=True, exist_ok=True)
    for f in sorted((repo_root / "configs" / "rules").glob("*.yml")):
        shutil.copy(f, cfg_dir / f.name)
    shutil.copy(repo_root / "configs" / "rule_dimensions.yml",
                cfg_dir / "rule_dimensions.yml")
    entities = {
        t.upper(): {"table_name": f"{{data_dir}}/tables/{t}",
                    "source_format": "parquet",
                    "columns": {c.upper(): {"data_type": ty}
                                for c, ty in cols.items()}}
        for t, cols in _COLUMNS.items()}
    rbs = {}
    for b in bindings(lineitem_rows):
        rb = {"entity_id": b.table.upper(), "column_id": b.column.upper(),
              "row_filter_id": "NONE",
              "rule_ids": [r if not args else {r: args}
                           for r, args in b.rules]}
        if b.incremental_col:
            rb["incremental_time_filter_column_id"] = b.incremental_col.upper()
        rbs[b.binding_id] = rb
    doc = {"entities": entities,
           "row_filters": {"NONE": {"filter_sql_expr": "True"}},
           "rule_bindings": rbs}
    (cfg_dir / "bench_bindings.yml").write_text(
        yaml.safe_dump(doc, sort_keys=True))


def job_argv(cfg_dir: Path, data_dir: Path, out_dir: Path,
             incremental: bool) -> list[str]:
    argv = ["validate", "--configs", str(cfg_dir),
            "--summary-path", str(out_dir / "summary"),
            "--failed-records-path", str(out_dir / "failed"),
            "--table-var", f"data_dir={data_dir}",
            "--max-concurrency", str(MAX_CONCURRENCY)]
    return argv + ["--incremental"] if incremental else argv


def append_delta(data_dir: Path) -> None:
    for t in INCREMENTAL_TABLES:
        shutil.copy(data_dir / "delta" / f"{t}.parquet",
                    data_dir / "tables" / t / "part-delta.parquet")


def remove_delta(data_dir: Path) -> None:
    for t in INCREMENTAL_TABLES:
        (data_dir / "tables" / t / "part-delta.parquet").unlink(
            missing_ok=True)


def pin_watermark(summary_dir: Path) -> None:
    """Re-date the job's summary rows to ``WATERMARK``, so the resume step's
    incremental window is exactly the appended delta whatever the clock."""
    t = ds.dataset(summary_dir, format="parquet").to_table()
    ts = pa.array([WATERMARK] * t.num_rows, pa.timestamp("us", tz="UTC"))
    t = t.set_column(t.schema.get_field_index("execution_ts"),
                     "execution_ts", ts)
    for f in summary_dir.iterdir():
        f.unlink()
    pq.write_table(t, summary_dir / "part-0.parquet", coerce_timestamps="us",
                   allow_truncated_timestamps=True)


# ---------------------------------------------------------------- oracle

def _simple_predicate(rule: str, col: str, args: dict) -> str:
    return {
        "NOT_NULL_SIMPLE": f"{col} IS NOT NULL",
        "NOT_BLANK_SIMPLE": f"trim({col}, ' ') != ''",
        "VALID_EMAIL": (
            f"regexp_matches(CAST({col} AS VARCHAR), "
            r"'^[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+\.[a-zA-Z0-9-.]+$')"),
        "VALID_URL": (f"regexp_matches(CAST({col} AS VARCHAR), "
                      r"'^https?://[A-Za-z0-9.-]+(/[^ ]*)?$')"),
        "VALUE_LENGTH_BETWEEN": (f"length({col}) BETWEEN {args.get('min_len')}"
                                 f" AND {args.get('max_len')}"),
        "VALUE_NON_NEGATIVE": f"{col} >= 0",
        "VALUE_IN_REFERENCE_TABLE": (
            f"{col} IN (SELECT {args.get('ref_column')} FROM "
            f"{str(args.get('ref_table')).lower()})"),
        "TIMESTAMP_NOT_FUTURE": f"CAST({col} AS TIMESTAMPTZ) <= now()",
    }[rule]


_STATEMENTS = {
    "NO_DUPLICATES_IN_COLUMN_GROUPS": (
        "SELECT count(*) FROM data a JOIN (SELECT {column_names} FROM data "
        "GROUP BY {column_names} HAVING count(*) > 1) d USING "
        "({column_names})"),
    "COMPLETENESS_PCT_ABOVE": (
        "SELECT count(*) FROM (SELECT 1 FROM data HAVING count({col}) * 100.0"
        " / count(*) < {threshold_pct})"),
    "VOLUME_PER_DAY_AT_LEAST": (
        "SELECT count(*) FROM (SELECT date_trunc('day', {col}) AS day, "
        "count(*) AS n FROM data GROUP BY 1) WHERE n < {min_rows}"),
}
_BATCH = {"LANG_IS_ENGLISH": ("LANGID_IS", {"lang": "en"}),
          "LANG_IS_ENGLISH_FASTTEXT": ("LANGID_HASHED_IS", {"lang": "en"}),
          "GOPHER_QUALITY_GATES": ("GOPHER_QUALITY", {}),
          "PERPLEXITY_UNDER_30": ("PERPLEXITY_BELOW", {"threshold": 30.0}),
          "NO_PII_PRESENT": ("NO_PII", {})}


def _row_counts(con, b: Binding, rule: str, args: dict) -> tuple:
    """(success, failed, null) with the engine's tri-valued semantics: a
    NULL column value is NULL validity except under NOT_NULL."""
    if rule in _BATCH:
        from cloud_data_quality_spark.functions.batch_registry import (
            get_batch_function)
        fn_name, params = _BATCH[rule]
        s = con.execute(f"SELECT {b.column} FROM data").df()[b.column]
        v = get_batch_function(fn_name)(s, {**params, **args})
        v = v.astype("boolean")
        return (int((v == True).sum()), int((v == False).sum()),  # noqa: E712
                int(v.isna().sum()))
    pred = _simple_predicate(rule, b.column, args)
    null_branch = rule != "NOT_NULL_SIMPLE"
    valid = (f"CASE WHEN {b.column} IS NULL THEN NULL WHEN {pred} THEN TRUE "
             f"ELSE FALSE END" if null_branch else
             f"CASE WHEN {pred} THEN TRUE ELSE FALSE END")
    return tuple(int(x) for x in con.execute(
        f"SELECT count(*) FILTER (WHERE v), count(*) FILTER (WHERE NOT v), "
        f"count(*) FILTER (WHERE v IS NULL) FROM (SELECT {valid} AS v "
        f"FROM data)").fetchone())


def expected_summary(data_dir: Path, lineitem_rows: int,
                     incremental: bool) -> dict[tuple[str, str], dict]:
    """{(binding, rule): summary fields} for one step. The resume step sees
    the base tables plus the delta; incremental bindings validate only rows
    dated after ``WATERMARK``."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET TimeZone = 'UTC'")
    for t in DQ_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{data_dir}/tables/{t}/*.parquet')")
    now = datetime.now(timezone.utc).isoformat()
    out = {}
    for b in bindings(lineitem_rows):
        where = "TRUE"
        if incremental and b.incremental_col:
            where = (f"CAST({b.incremental_col} AS TIMESTAMPTZ) BETWEEN "
                     f"TIMESTAMPTZ '{WATERMARK.isoformat()}' AND "
                     f"TIMESTAMPTZ '{now}'")
        con.execute(f"CREATE OR REPLACE TEMP VIEW data AS SELECT * FROM "
                    f"{b.table} WHERE {where}")
        rows = con.execute("SELECT count(*) FROM data").fetchone()[0]
        for rule, args in b.rules:
            if rule in _STATEMENTS:
                sql = _STATEMENTS[rule].format(col=b.column, **args)
                errors = con.execute(sql).fetchone()[0]
                out[(b.binding_id, rule)] = {
                    "rows_validated": rows, "success_count": None,
                    "failed_count": None, "null_count": None,
                    "complex_rule_validation_errors_count": errors}
                continue
            ok, bad, nul = _row_counts(con, b, rule, args)
            empty = rows == 0
            out[(b.binding_id, rule)] = {
                "rows_validated": rows,
                "success_count": None if empty else ok,
                "failed_count": None if empty else bad,
                "null_count": (None if empty or rule == "NOT_NULL_SIMPLE"
                               else nul),
                "complex_rule_validation_errors_count": None}
    con.close()
    return out


_FIELDS = ("rows_validated", "success_count", "failed_count", "null_count",
           "complex_rule_validation_errors_count")


def check_step(out_dir: Path, expected: dict,
               exclude_invocation: str | None) -> tuple[list[str], str]:
    """Compare one step's summary rows and failed-record counts with the
    oracle; rows of ``exclude_invocation`` (the job, when checking the
    resume) are skipped. Returns (names of failed checks, the step's
    invocation id); the number of checks run is ``check_count(expected)``."""
    try:
        summary = ds.dataset(out_dir / "summary", format="parquet").to_table(
            columns=["invocation_id", "rule_binding_id", "rule_id", *_FIELDS])
    except (OSError, pa.ArrowException):
        return ["summary[unreadable]"], ""
    rows = [r for r in summary.to_pylist()
            if r["invocation_id"] != exclude_invocation]
    inv = rows[0]["invocation_id"] if rows else ""
    got = {(r["rule_binding_id"], r["rule_id"]): r for r in rows}
    failed_paths = list((out_dir / "failed").glob("*.parquet"))
    fr = (ds.dataset(failed_paths, format="parquet").to_table(
        columns=["_dq_validation_invocation_id",
                 "_dq_validation_rule_binding_id", "_dq_validation_rule_id"])
        .to_pylist() if failed_paths else [])
    fr_counts: dict[tuple[str, str], int] = {}
    for r in fr:
        if r["_dq_validation_invocation_id"] == inv:
            k = (r["_dq_validation_rule_binding_id"],
                 r["_dq_validation_rule_id"])
            fr_counts[k] = fr_counts.get(k, 0) + 1
    bad = []
    for key, want in expected.items():
        row = got.get(key)
        if row is None or any(row[f] != want[f] for f in _FIELDS):
            bad.append(f"summary[{key[0]}/{key[1]}]")
        if want["complex_rule_validation_errors_count"] is None and \
                fr_counts.get(key, 0) != (want["failed_count"] or 0):
            bad.append(f"failed_records[{key[0]}/{key[1]}]")
    if set(got) - set(expected):
        bad.append("summary[unexpected rows]")
    return bad, inv


def check_count(expected: dict) -> int:
    """Checks per step: one per summary row, one per row-level failed-record
    count, one for unexpected rows."""
    return 1 + sum(1 + (v["complex_rule_validation_errors_count"] is None)
                   for v in expected.values())


def is_known_defect(check: str) -> bool:
    return check in {f"summary[{b}/{r}]" for b, r in KNOWN_DEFECTS}


class Workload:
    """``validate`` over the seeded tables, then ``--incremental`` over the
    fixed delta."""

    #: lineitem rows; the other tables scale from it (``dq_sizes``)
    default_size = 24_000

    def __init__(self, repo_root: Path, work: Path, seed: int, size: int):
        self.repo_root, self.seed, self.size = repo_root, seed, size
        self.data, self.cfg, self.out = (work / "data", work / "configs",
                                         work / "out")
        self._job_inv = ""

    def prepare(self) -> Path:
        from perfbench.inputs import write_dq_tables
        write_dq_tables(self.data, self.seed, self.size)
        write_configs(self.cfg, self.repo_root, self.size)
        append_delta(self.data)
        self.expected_resume = expected_summary(self.data, self.size, True)
        remove_delta(self.data)
        self.expected_job = expected_summary(self.data, self.size, False)
        return self.data / "tables" / "lineitem"

    @property
    def input_dir(self) -> Path:
        return self.data

    def reset(self) -> None:
        remove_delta(self.data)
        shutil.rmtree(self.out, ignore_errors=True)

    def job_argv(self) -> list[str]:
        return job_argv(self.cfg, self.data, self.out, incremental=False)

    def resume_argv(self) -> list[str]:
        return job_argv(self.cfg, self.data, self.out, incremental=True)

    def check_job(self, stdout: str) -> tuple[int, list[str]]:
        bad, self._job_inv = check_step(self.out, self.expected_job, None)
        return check_count(self.expected_job), bad

    def between(self) -> None:
        pin_watermark(self.out / "summary")
        append_delta(self.data)

    def check_resume(self, stdout: str) -> tuple[int, list[str]]:
        bad, _ = check_step(self.out, self.expected_resume, self._job_inv)
        return check_count(self.expected_resume), bad

    def start_oracle(self) -> None:
        pass

    @staticmethod
    def is_known_defect(check: str) -> bool:
        return is_known_defect(check)

    def layer_metrics(self, tracer, store, put) -> None:
        from perfbench.trace import runner_metrics
        runner_metrics(tracer, store, put, cores(), self.out / "failed")

    def layer_probes(self, spark, store, put, tracer, ops) -> None:
        """compiler: ``DqEngine.dry_run`` over every binding; the Arrow
        kernels on the documents text."""
        import time

        from cloud_data_quality_spark.config.loader import load_configs
        from cloud_data_quality_spark.engine.runner import DqEngine
        from perfbench.trace import kernel_rates
        registry = load_configs(self.cfg)
        engine = DqEngine(spark, registry,
                          table_name_vars={"data_dir": str(self.data)})
        t0 = time.perf_counter()
        plans = engine.dry_run(sorted(registry.rule_bindings))
        put("compiler.compile_s", time.perf_counter() - t0)
        put("compiler.bindings", len(plans))
        texts = pq.read_table(self.data / "tables" / "documents",
                              columns=["text"]).column("text").to_pylist()
        for k, v in kernel_rates(texts).items():
            put(k, v)
