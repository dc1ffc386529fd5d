"""End-to-end and per-layer figures from the records of one run."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

from sparkstats import OpLayers
from tracing import Tracer


@dataclass
class OpRecord:
    kind: str
    seconds: float
    ok: bool
    udf_rows: int = 0
    error: str | None = None
    layers: OpLayers | None = None


@dataclass
class PassRecord:
    index: int
    traced: bool
    seconds: float
    ops: list[OpRecord]
    tracer: Tracer
    resident_before: tuple[int, float] | None = None
    resident_after: tuple[int, float] | None = None
    # share of host CPU time stolen by the hypervisor during the pass
    steal_frac: float = 0.0


@dataclass
class CheckRecord:
    name: str
    seconds: float
    ok: bool
    error: str | None = None
    spans: list[dict] = field(default_factory=list)


@dataclass
class RunRecord:
    setup_s: list[float]
    checks: list[CheckRecord]
    # host CPU steal share of each untimed warm-up pass
    warm_up: list[float]
    passes: list[PassRecord]
    cpus: int
    pairs: tuple[tuple[str, str], ...]
    microbench: dict[str, float] = field(default_factory=dict)
    ddl: Tracer | None = None
    # share of CPU time stolen by the hypervisor during the timed passes
    steal_frac: float = 0.0

    @property
    def attempted(self) -> int:
        return len(self.checks) + sum(len(p.ops) for p in self.passes)

    @property
    def failed(self) -> int:
        return sum(not c.ok for c in self.checks) + sum(
            not o.ok for p in self.passes for o in p.ops
        )


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(run: RunRecord) -> dict[str, float]:
    """Figures from the untraced passes.

    The op kinds of a pass differ in cost by up to an order of
    magnitude, so a pooled median would sit on the boundary between two
    kinds; ``op_p50_ms`` is the geometric mean of the per-kind medians.
    """
    untraced = [p for p in run.passes if not p.traced]
    ops = [o for p in untraced for o in p.ops if o.ok]
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.seconds)
    logs = [math.log(statistics.median(v)) for v in by_kind.values()]
    return {
        "setup_s": _median(run.setup_s),
        "wall_s": _median([p.seconds for p in untraced]),
        "op_p50_ms": 1000.0 * math.exp(statistics.fmean(logs)) if logs else 0.0,
        "ops_ok_frac": 1.0 - run.failed / run.attempted,
    }


def per_layer(run: RunRecord) -> dict[str, float]:
    """Figures from the traced passes: layer counters summed per pass and
    then the median over passes. The DDL layer figures are span medians
    of the CREATE/DROP cycles alone, not of DDL a query op runs inside
    its construction."""
    traced = [p for p in run.passes if p.traced]

    def span_ms(name: str) -> float:
        return 1000.0 * _median(run.ddl.durations(name) if run.ddl else [])

    def per_pass(fn) -> float:
        return _median([fn(p) for p in traced])

    def layer_sum(attr: str):
        return lambda p: sum(getattr(o.layers, attr) for o in p.ops if o.layers)

    def udf_rows_per_s(p: PassRecord) -> float:
        exec_s = _exec_seconds(p)
        udf_ops = [o for o in p.ops if o.ok and o.udf_rows]
        seconds = sum(exec_s.get(o.kind, 0.0) for o in udf_ops)
        return sum(o.udf_rows for o in udf_ops) / seconds if seconds else 0.0

    last = traced[-1].resident_after if traced else (0, 0.0)
    out = {
        "ddl.create_ms": span_ms("ddl.create"),
        "ddl.drop_ms": span_ms("ddl.drop"),
        "ddl.parse_ms": span_ms("ddl.parse"),
        "factory.create_ms": span_ms("factory.create"),
        "udf_runtime.build_ms": span_ms("udf_runtime.build"),
        "spark.udf_register_ms": span_ms("spark.udf_register"),
        "spark.drop_temp_fn_ms": span_ms("spark.drop_temp_fn"),
        **run.microbench,
        "boundary.udf_rows_per_s": per_pass(udf_rows_per_s),
        "boundary.udf_minus_native_s": per_pass(lambda p: sum(_pair_gaps(p, run.pairs).values())),
        "query.construct_s": per_pass(lambda p: sum(p.tracer.durations("build"))),
        "query.exec_s": per_pass(lambda p: sum(p.tracer.durations("write"))),
        "scheduler.jobs": per_pass(layer_sum("jobs")),
        "scheduler.stages": per_pass(layer_sum("stages")),
        "scheduler.tasks": per_pass(layer_sum("tasks")),
        "scheduler.idle_s": per_pass(layer_sum("idle_s")),
        "exchange.shuffle_read_mb": per_pass(layer_sum("shuffle_read_mb")),
        "exchange.shuffle_write_mb": per_pass(layer_sum("shuffle_write_mb")),
        "executor.run_s": per_pass(layer_sum("executor_run_s")),
        "executor.cpu_s": per_pass(layer_sum("executor_cpu_s")),
        "executor.busy_frac": per_pass(
            lambda p: layer_sum("executor_run_s")(p) / (p.seconds * run.cpus)
        ),
        "storage.resident_rdds": last[0],
        "storage.resident_mb": last[1],
        "storage.rdds_added_per_pass": per_pass(
            lambda p: p.resident_after[0] - p.resident_before[0]
        ),
        "trace.overhead_s": per_pass(lambda p: p.seconds)
        - _median([p.seconds for p in run.passes if not p.traced]),
    }
    return out


def _exec_seconds(p: PassRecord) -> dict[str, float]:
    """Seconds in the ``write`` (execute) spans of each op kind of a
    traced pass; construction, and any DDL it runs, is left out."""
    spans = p.tracer.spans
    kind = {s.id: s.name for s in spans if s.parent is None}
    out: dict[str, float] = {}
    for s in spans:
        if s.name == "write" and s.parent in kind:
            out[kind[s.parent]] = out.get(kind[s.parent], 0.0) + s.seconds
    return out


def _pair_gaps(p: PassRecord, pairs: tuple[tuple[str, str], ...]) -> dict[str, float]:
    exec_s = _exec_seconds(p)
    return {f"{u} - {n}": exec_s.get(u, 0.0) - exec_s.get(n, 0.0) for u, n in pairs}


def boundary_pairs(run: RunRecord) -> dict[str, float]:
    """UDF op minus native twin execute seconds for each pair, median
    over traced passes."""
    gaps = [_pair_gaps(p, run.pairs) for p in run.passes if p.traced]
    return {k: _median([g[k] for g in gaps]) for k in (gaps[0] if gaps else {})}


def per_query(run: RunRecord) -> dict[str, dict[str, float]]:
    """Construct and execute seconds of each query op kind, median over
    traced passes (the catalog split the side file carries)."""
    out: dict[str, dict[str, list[float]]] = {}
    for p in run.passes:
        if not p.traced:
            continue
        spans = p.tracer.spans
        for s in spans:
            if s.parent is None and s.name.startswith(("query:", "scan:")):
                kids = [c for c in spans if c.parent == s.id]
                d = out.setdefault(s.name, {"construct_s": [], "exec_s": []})
                d["construct_s"].append(sum(c.seconds for c in kids if c.name == "build"))
                d["exec_s"].append(sum(c.seconds for c in kids if c.name == "write"))
    return {k: {m: _median(v) for m, v in d.items()} for k, d in out.items()}
