"""Layer microbenchmarks of the traced run, timed in the driver process.

- Function DDL: ``DDL_CYCLES`` CREATE/DROP statement pairs, with spans
  around the layer calls each statement makes.

Per-batch cost of the Python boundary layers, on one seeded Arrow batch
of the size the session hands a UDF:

- ``udf_runtime``: the DDL wrapper's function (``.func`` of the UDF that
  ``build_pandas_udf`` returns) against the bare guest function
  (``get_function``); their difference is the wrapper's own cost.
- ``wasm_backend``: Arrow IPC packing and unpacking, the copy the
  ``.wasm`` path adds on each side of the guest call.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa

from tracing import Tracer, ddl_layers

BATCH_ROWS = 65_536
REPEATS = 40
DDL_CYCLES = 20


def _median_ms(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1000.0


def ddl_cycles(workload) -> Tracer:
    tracer = Tracer(True)
    with ddl_layers(tracer):
        for _ in range(DDL_CYCLES):
            with tracer.span("ddl.create"):
                workload.create("f1")
            with tracer.span("ddl.drop"):
                workload.drop("f1")
    return tracer


def per_batch(seed: int, udf_path: str) -> dict[str, float]:
    from pyspark.sql import types as T

    from wasaffi_spark.udf_runtime import build_pandas_udf, get_function, resolve_module_path
    from wasaffi_spark.wasm_backend import pack_arrays, unpack_result

    rng = np.random.default_rng(seed)
    a = pa.array(rng.uniform(0.5, 3.0, BATCH_ROWS))
    b = pa.array(rng.uniform(0.0, 4.0, BATCH_ROWS), mask=rng.random(BATCH_ROWS) < 0.2)
    path = resolve_module_path(udf_path)
    guest = get_function(path, "f1")
    udf = build_pandas_udf(path, "f1", [T.DoubleType(), T.DoubleType()], T.DoubleType())
    sa, sb = pd.Series(a.to_pandas()), pd.Series(b.to_pandas())
    udf.func(sa, sb)  # load the module into this process's cache

    invoke = _median_ms(lambda: udf.func(sa, sb))
    guest_ms = _median_ms(lambda: guest([a, b]))

    payload = pack_arrays([a, b])
    result = pack_arrays([guest([a, b])])
    pack_ms = _median_ms(lambda: pack_arrays([a, b]))
    unpack_ms = _median_ms(lambda: unpack_result(result))
    return {
        "udf_runtime.invoke_ms_per_batch": invoke,
        "udf_runtime.guest_ms_per_batch": guest_ms,
        "udf_runtime.wrapper_ms_per_batch": invoke - guest_ms,
        "wasm_backend.pack_ms_per_mb": pack_ms / (len(payload) / 2**20),
        "wasm_backend.unpack_ms_per_mb": unpack_ms / (len(result) / 2**20),
        "wasm_backend.ipc_bytes_per_row": len(payload) / BATCH_ROWS,
    }
