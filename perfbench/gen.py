"""Seeded input generator for the graft benchmark.

Writes `documents.parquet` and `events.parquet` (each a directory of
several part files, as Spark and DuckDB both read them):

- documents: a replication of the sf0.1 driver table `documents`, kept
  verbatim in data/documents.parquet (5,000 rows; doc_id BIGINT, text,
  lang, source VARCHAR, n_chars BIGINT). Copy r gets doc_id offset
  r * (max doc_id + 1); every other column is kept as it is, so the
  table's `source`/`lang` values are neither added to nor filtered. The
  rows are put in a seeded order and split over FILES part files.
- events(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type
  VARCHAR, value DOUBLE, props VARCHAR): a seeded resample in the shape
  of the sf0.1 `events` table (measured: uniform users, event types and
  times, `value` exponential with mean 50 at 2 decimals, props
  `{"k": 0..99}`): `n_events` events over `users` users and `days` UTC
  days from 2024-01-01, microsecond timestamps, in event-time order.

The same arguments always give byte-identical tables.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "documents.parquet")
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_VALUE_MEAN = 50.0
FILES = 4


def _write_split(table, path):
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def documents(out_dir, seed, rep):
    """Write out_dir/documents.parquet; returns its row count."""
    base = pq.read_table(BASE_DOCS)
    ids = base.column("doc_id")
    offset = pc.max(ids).as_py() + 1
    copies = [base.set_column(0, "doc_id", pc.add(ids, r * offset))
              for r in range(rep)]
    table = pa.concat_tables(copies)
    order = np.random.default_rng([seed, 2]).permutation(table.num_rows)
    table = table.take(pa.array(order))
    _write_split(table, os.path.join(out_dir, "documents.parquet"))
    return table.num_rows


def events(out_dir, seed, n_events, users, days):
    """Write out_dir/events.parquet; returns its row count."""
    rng = np.random.default_rng([seed, 3])
    span_us = days * 86_400_000_000
    offs = np.sort(rng.integers(0, span_us, n_events))
    epoch = datetime.datetime(2024, 1, 1)
    ts = pa.array(offs, pa.int64()).cast(pa.duration("us"))
    ts = pc.add(pa.scalar(epoch, pa.timestamp("us")), ts)
    table = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": ts.cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n_events), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events).tolist()],
            pa.string()),
        "value": pa.array(np.round(rng.exponential(EVENT_VALUE_MEAN, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_events).tolist()],
                          pa.string()),
    })
    _write_split(table, os.path.join(out_dir, "events.parquet"))
    return table.num_rows
