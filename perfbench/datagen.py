"""Seeded input of the ``udf_scan`` workload: the same seed writes
byte-identical parquet."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def udf_scan_table(seed: int, rows: int) -> pa.Table:
    """Columns ``a``, ``b`` (DOUBLE, 20% of ``b`` NULL) and ``s``
    (VARCHAR of 0–16 bytes, mixed case, some two-byte characters).

    The alphabet holds only characters whose upper-case form has the
    same length under Arrow's simple case mapping and the JVM's full
    one; ``ß`` (upper ``SS``) would make ``str_len_upper`` and
    ``length(upper())`` disagree by definition, not by a boundary fault.
    """
    rng = np.random.default_rng(seed)
    a = rng.uniform(0.5, 3.0, rows)
    b = pa.array(rng.uniform(0.0, 4.0, rows), mask=rng.random(rows) < 0.2)
    # each slot is two UTF-8 bytes (two ASCII letters or one two-byte
    # character), so strings are cut from one random byte buffer without
    # splitting a character
    slots = np.frombuffer(
        "".join(["ab", "cD", "Ef", "GH", "ij", " k", "Lm", "no", "Pq", "rS",
                 "tu", "VW", "xy", "z ", "é", "ø", "Ω"]).encode(), dtype="<u2"
    )
    lens = rng.integers(0, 9, rows)
    data = slots[rng.integers(0, len(slots), int(lens.sum()))]
    offsets = (2 * np.concatenate([[0], np.cumsum(lens)])).astype(np.int32)
    s = pa.StringArray.from_buffers(rows, pa.py_buffer(offsets), pa.py_buffer(data.tobytes()))
    return pa.table({"a": a, "b": b, "s": s})


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
