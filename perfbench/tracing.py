"""In-memory spans for the traced run.

A span has a name, a start, an end and a parent. Spans are recorded from
the benchmark's own code, around its calls into each layer; inside a DDL
op the parse, factory, build and register calls are wrapped from outside
for the duration of a traced pass and restored afterwards, so the engine
itself stays untouched.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Iterator
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def as_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


@contextlib.contextmanager
def ddl_layers(tracer: Tracer) -> Iterator[None]:
    """Wrap the layer calls a function DDL statement makes with spans."""
    from pyspark.sql import SparkSession
    from pyspark.sql.udf import UDFRegistration

    from wasaffi_spark import engine, factory, registry

    def timed(name, fn):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    session_sql = SparkSession.sql

    def sql(self, query, *args, **kwargs):
        if query.startswith("DROP TEMPORARY FUNCTION"):
            with tracer.span("spark.drop_temp_fn"):
                return session_sql(self, query, *args, **kwargs)
        return session_sql(self, query, *args, **kwargs)

    patches = [
        (engine, "parse_function_ddl", timed("ddl.parse", engine.parse_function_ddl)),
        (engine, "build_pandas_udf", timed("udf_runtime.build", engine.build_pandas_udf)),
        (
            factory.PythonModuleFunctionFactory,
            "create",
            timed("factory.create", factory.PythonModuleFunctionFactory.create),
        ),
        (UDFRegistration, "register", timed("spark.udf_register", UDFRegistration.register)),
        (
            registry.FunctionRegistry,
            "register",
            timed("registry.register", registry.FunctionRegistry.register),
        ),
        (registry.FunctionRegistry, "drop", timed("registry.drop", registry.FunctionRegistry.drop)),
        (SparkSession, "sql", sql),
    ]
    originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    for owner, attr, new in patches:
        setattr(owner, attr, new)
    try:
        yield
    finally:
        for owner, attr, old in originals:
            setattr(owner, attr, old)
