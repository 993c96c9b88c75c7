"""Seeded inputs of the benchmark.

Batch tables come from ``tools/gen_scale_data.py``'s generators, called in
the same order and with the same row counts as its ``main``, at a chosen
multiple of sf0.1. Stream files come from the generator below. Everything
is written under the run's work directory, never into the source tree.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen_scale_data as gsd


def gen_tables(out: str, mult: float, seed: int) -> dict:
    """Write all ten tables at ``mult`` x sf0.1; return rows and bytes
    per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    m = mult
    tables = {
        "documents": lambda: gsd.gen_documents(rng, int(5000 * m)),
        "embeddings": lambda: gsd.gen_embeddings(rng, int(2000 * m)),
        "orders": lambda: gsd.gen_orders(rng, int(150000 * m), int(15000 * m)),
        "events": lambda: gsd.gen_events(rng, int(100000 * m), int(1500 * m)),
        "lineitem": lambda: gsd.gen_lineitem(
            rng, int(150000 * m), int(20000 * m), int(1000 * m)
        ),
        "customer": lambda: gsd.gen_customer(rng, int(15000 * m)),
        "supplier": lambda: gsd.gen_supplier(rng, int(1000 * m)),
        "part": lambda: gsd.gen_part(rng, int(20000 * m)),
    }
    sizes = {}
    for name, make in tables.items():
        t = make()
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    nation, region = gsd.gen_nation_region()
    for name, t in (("nation", nation), ("region", region)):
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# Event kinds in the proportions of the batch events table.
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EVENT_T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))


def gen_event_file(
    rng: np.random.Generator,
    path: str,
    index: int,
    first_id: int,
    events: int,
    users: int,
    span_s: int,
) -> int:
    """Write stream file ``index``: ``events`` rows with ids from
    ``first_id`` and event time in [index * span_s, (index + 1) * span_s)
    after 2024-01-01, so event time advances with the file schedule and
    no file is late against the ones before it. Returns its bytes."""
    lo = EVENT_T0_US + index * span_s * 1_000_000
    ts = np.sort(rng.integers(lo, lo + span_s * 1_000_000, size=events))
    t = pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + events), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, size=events), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=events)]),
            "value": pa.array(np.round(rng.exponential(50.0, size=events), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=events)],
                pa.string(),
            ),
        }
    )
    pq.write_table(t, path)
    return os.path.getsize(path)


def gen_event_files(
    out: str, seed: int, sizes: list[int], users: int, span_s: int
) -> tuple[list[str], int]:
    """Write one stream file per entry of ``sizes`` (events per file) to
    ``out``; return their paths in schedule order and their total bytes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths, total, first_id = [], 0, 0
    for i, events in enumerate(sizes):
        p = os.path.join(out, f"events-{i:05d}.parquet")
        total += gen_event_file(rng, p, i, first_id, events, users, span_s)
        first_id += events
        paths.append(p)
    return paths, total
