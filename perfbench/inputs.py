"""Seeded inputs. The base tables in perfbench/data are a copy of the
repo's sf0.001 fixture tables (TESTDATA.md). A seed permutes each table's
rows, keeping the row multiset and schema, so every seed does the same
work on differently ordered files; it also fixes the query order of each
pass and which micro-batch file each arriving document lands in. The
program only ever sees the generated directory."""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def table_names() -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(BASE) if f.endswith(".parquet"))


def write_tables(seed: int, out_dir: str) -> dict:
    """Write every base table, rows permuted by `seed`, to out_dir.
    Returns {"rows": {table: n}, "bytes": total bytes written}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    n_bytes = 0
    for i, name in enumerate(table_names()):
        table = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table.take(pa.array(perm)), path)
        rows[name] = table.num_rows
        n_bytes += os.path.getsize(path)
    return {"rows": rows, "bytes": n_bytes}


def query_order(seed: int, names, pass_index: int) -> list[str]:
    """The order one pass runs its queries in (the warm-up is pass -1)."""
    rng = np.random.default_rng([seed, 1000 + pass_index + 1])
    return [names[i] for i in rng.permutation(len(names))]


def is_arrival(doc_id: int) -> bool:
    """maintain_dedup's split: documents whose md5(doc_id) starts at or
    above "e6" arrive by stream, the rest form the seeded corpus."""
    return hashlib.md5(str(doc_id).encode()).hexdigest()[:2] >= "e6"


def write_batches(seed: int, inputs_dir: str, stream_dir: str, n_batches: int) -> list[list[int]]:
    """Deal the arrival documents into n_batches parquet files by seed,
    one micro-batch each (the file source takes them oldest first).
    Returns the doc ids of each batch."""
    docs = pq.read_table(os.path.join(inputs_dir, "documents.parquet"), columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_pylist()
    arrivals = sorted(i for i, d in enumerate(ids) if is_arrival(d))
    deal = np.random.default_rng([seed, 2000]).permutation(len(arrivals)) % n_batches
    os.makedirs(stream_dir, exist_ok=True)
    batches = []
    t0 = int(time.time()) - n_batches
    for b in range(n_batches):
        rows = [arrivals[k] for k in range(len(arrivals)) if deal[k] == b]
        path = os.path.join(stream_dir, f"batch_{b:03d}.parquet")
        pq.write_table(docs.take(pa.array(rows, pa.int64())), path)
        # distinct, increasing mtimes fix the order the stream reads them
        os.utime(path, (t0 + b, t0 + b))
        batches.append([ids[r] for r in rows])
    return batches
