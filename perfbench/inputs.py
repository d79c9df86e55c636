"""Seeded benchmark inputs, written as plain parquet with pyarrow.

Everything here is a pure function of (seed, size): the program under test
only ever sees the files. Two input families:

* ``write_dq_tables`` — TPC-H-shaped ``customer``/``orders``/``lineitem``
  plus an ``events`` stream and a ``documents`` web-text table, each a
  directory of parquet files, and a fixed *delta* per incremental table
  (rows dated after ``WATERMARK``) that the resume step appends.
* ``write_pages`` — the package's own synthetic crawl pages
  (``sources.pages.generate_rows``, the row function behind
  ``write_pages_parquet``), so content is identical to what that writer
  produces for the same seed.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the previous run's watermark for the resume step: every base row is
#: dated strictly before it, every delta row strictly after it
WATERMARK = datetime(2024, 4, 1, tzinfo=timezone.utc)
_BASE_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
_EVENTS_START = datetime(2024, 3, 18, tzinfo=timezone.utc)
_DELTA_START = datetime(2024, 4, 2, tzinfo=timezone.utc)
EVENT_DAYS = 14
DELTA_DAYS = 7
#: one day of the events stream (and of its delta) carries this share of a
#: normal day's rows, so VOLUME_PER_DAY_AT_LEAST has a day to flag
SPARSE_DAY, SPARSE_SHARE = 5, 0.05

DQ_TABLES = ("customer", "orders", "lineitem", "events", "documents")
INCREMENTAL_TABLES = ("orders", "lineitem", "events", "documents")
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
                      "HOUSEHOLD"])
_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
_EVENT_TYPES = np.array(["view", "click", "purchase", "share", "scroll"])
_WORDS = np.array("carefully final deposits regular requests ironic packages "
                  "quickly express accounts blithely pending theodolites "
                  "furiously special instructions even asymptotes".split())


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def _with_nulls(values: list, rng: np.random.Generator, share: float) -> list:
    mask = rng.random(len(values)) < share
    return [None if m else v for v, m in zip(values, mask)]


def _dates(rng: np.random.Generator, n: int, start: datetime,
           days: int) -> np.ndarray:
    return np.datetime64(start.date()) + rng.integers(0, days, n).astype(
        "timedelta64[D]")


def _comments(rng: np.random.Generator, n: int) -> list[str]:
    counts = rng.integers(1, 7, n)
    out = [" ".join(rng.choice(_WORDS, c)) for c in counts]
    blank = rng.random(n) < 0.01
    return ["   " if b else s for s, b in zip(out, blank)]


def _customer(rng, n: int) -> pa.Table:
    keys = np.arange(1, n + 1)
    names = [f"Customer#{k:09d}" for k in keys]
    names = ["  " if rng.random() < 0.01 else s for s in names]
    emails = [f"user{k}@mail{k % 7}.example.com" if rng.random() > 0.03
              else f"user{k}.example.com" for k in keys]
    return pa.table({
        "c_custkey": keys,
        "c_name": _with_nulls(names, rng, 0.02),
        "c_nationkey": rng.integers(0, 25, n),
        "c_acctbal": _with_nulls(
            list(np.round(rng.uniform(-999.99, 9999.99, n), 2)), rng, 0.01),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
        "c_email": _with_nulls(emails, rng, 0.02),
    })


def _orders(rng, n: int, n_cust: int, first_key: int, start: datetime,
            days: int) -> pa.Table:
    keys = np.arange(first_key, first_key + n)
    dup = rng.random(n) < 0.005
    keys[1:][dup[1:]] = keys[:-1][dup[1:]]
    cust = rng.integers(1, n_cust + 1, n)
    orphan = rng.random(n) < 0.02
    cust[orphan] = n_cust + rng.integers(1, 100, int(orphan.sum()))
    price = np.round(rng.uniform(900.0, 500_000.0, n), 2)
    price[rng.random(n) < 0.005] *= -1
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": cust,
        "o_orderstatus": rng.choice(_STATUS, n),
        "o_totalprice": price,
        "o_orderdate": _dates(rng, n, start, days),
        "o_orderpriority": rng.choice(_PRIORITY, n),
    })


def _lineitem(rng, n: int, n_orders: int, first_order: int, start: datetime,
              days: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    qty[rng.random(n) < 0.005] *= -1
    return pa.table({
        "l_orderkey": rng.integers(first_order, first_order + n_orders, n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n), 2),
        "l_shipdate": _dates(rng, n, start, days),
        "l_comment": _comments(rng, n),
    })


def _event_times(rng, n: int, start: datetime, days: int) -> list[datetime]:
    # day weights: one sparse day, the rest uniform
    w = np.ones(days)
    w[SPARSE_DAY] = SPARSE_SHARE
    day = rng.choice(days, n, p=w / w.sum())
    secs = rng.integers(0, 86_400, n)
    return [start + timedelta(days=int(d), seconds=int(s))
            for d, s in zip(day, secs)]


def _events(rng, n: int, first_id: int, start: datetime,
            days: int) -> pa.Table:
    ids = np.arange(first_id, first_id + n)
    urls = [f"https://site{i % 50}.example.org/p/{i}" if rng.random() > 0.04
            else f"site{i % 50} example org/p/{i}" for i in ids]
    props = [f'{{"k": {i % 13}, "src": "app"}}' for i in ids]
    value = np.round(rng.normal(50.0, 30.0, n), 3)
    return pa.table({
        "event_id": ids,
        "ts": pa.array(_event_times(rng, n, start, days),
                       pa.timestamp("us", tz="UTC")),
        "user_id": rng.integers(1, 5_000, n),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": value,
        "props": _with_nulls(props, rng, 0.03),
        "url": _with_nulls(urls, rng, 0.01),
    })


def _documents(seed: int, rng, n: int, first_id: int, start: datetime,
               days: int) -> pa.Table:
    from cloud_data_quality_spark.sources.pages import generate_rows
    pdf = generate_rows(np.arange(first_id, first_id + n), seed)
    fetched = [start + timedelta(seconds=int(s))
               for s in rng.integers(0, days * 86_400, n)]
    texts = pdf["text"].tolist()
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n),
        "text": texts,
        "lang": pdf["lang"].tolist(),
        "source": [u.split("/")[2] for u in pdf["url"]],
        "n_chars": [len(t) if t is not None else None for t in texts],
        "url": pdf["url"].tolist(),
        "fetched_at": pa.array(fetched, pa.timestamp("us", tz="UTC")),
    })


def dq_sizes(rows: int) -> dict[str, int]:
    """Row counts per table for a ``rows`` size knob (lineitem rows)."""
    return {"customer": max(50, rows // 24), "orders": max(200, rows // 3),
            "lineitem": rows, "events": max(300, rows // 2),
            "documents": max(100, rows // 40)}


def write_dq_tables(root: Path, seed: int, rows: int) -> dict[str, int]:
    """Base tables under ``root/tables/<name>/part-0.parquet`` and the fixed
    delta under ``root/delta/<name>.parquet``. Returns base row counts."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = dq_sizes(rows)
    base_days = (WATERMARK - _BASE_START).days
    tables = {
        "customer": _customer(rng, n["customer"]),
        "orders": _orders(rng, n["orders"], n["customer"], 1, _BASE_START,
                          base_days),
        "lineitem": _lineitem(rng, n["lineitem"], n["orders"], 1,
                              _BASE_START, base_days),
        "events": _events(rng, n["events"], 1, _EVENTS_START, EVENT_DAYS),
        "documents": _documents(seed, rng, n["documents"], 0,
                                _EVENTS_START, EVENT_DAYS),
    }
    delta = {
        "orders": _orders(rng, n["orders"] // 10, n["customer"],
                          n["orders"] + 1, _DELTA_START, DELTA_DAYS),
        "lineitem": _lineitem(rng, n["lineitem"] // 10, n["orders"] // 10,
                              n["orders"] + 1, _DELTA_START, DELTA_DAYS),
        "events": _events(rng, n["events"] // 10, n["events"] + 1,
                          _DELTA_START, DELTA_DAYS),
        "documents": _documents(seed, rng, n["documents"] // 10,
                                n["documents"], _DELTA_START, DELTA_DAYS),
    }
    for name, t in tables.items():
        _write(t, root / "tables" / name / "part-0.parquet")
    for name, t in delta.items():
        _write(t, root / "delta" / f"{name}.parquet")
    return {k: t.num_rows for k, t in tables.items()}


def write_pages(path: Path, seed: int, rows: int) -> None:
    """``rows`` synthetic crawl pages as one parquet file under ``path``."""
    from cloud_data_quality_spark.sources.pages import generate_rows
    pdf = generate_rows(np.arange(rows), seed)
    _write(pa.Table.from_pandas(pdf, preserve_index=False),
           path / "part-0.parquet")


def tree_digest(root: Path) -> str:
    """sha256 over every parquet file's decoded rows under ``root`` (file
    bytes would also hash writer metadata, which is not input content)."""
    h = hashlib.sha256()
    for f in sorted(root.rglob("*.parquet")):
        h.update(str(f.relative_to(root)).encode())
        for batch in pq.read_table(f).to_batches():
            h.update(str(batch.to_pydict()).encode())
    return h.hexdigest()


def tree_size(root: Path) -> tuple[int, int]:
    """(rows, bytes) over the parquet files under ``root``."""
    files = sorted(root.rglob("*.parquet"))
    return (sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            sum(f.stat().st_size for f in files))
