#!/usr/bin/env python3
"""Benchmark of the DDL-registered UDF engine on a local Spark session.

    python3 perfbench/run.py --workload udf_scan --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One process starts Spark on
``local[nproc]`` with ``wasaffi_spark.conf.recommended_builder``, sets
the workload up three times in that session (the median is
``setup_s``; only the first includes the session start), checks the
workload's outputs outside the timed region, runs untimed warm-up
passes until the host is quiet, then repeats the workload's pass for
``--seconds``. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and the metrics ``BENCHMARK.json`` declares, the
``end_to_end`` ones with ``--trace 0`` and the ``per_layer`` ones with
``--trace 1``. Everything else, Spark's logs included, goes to standard
error.

A traced run alternates untraced and traced passes; in a traced pass
each op records spans and reads the Spark status store at its
boundaries. ``trace.overhead_s`` is the median traced pass minus the
median untraced pass. Each run also writes a side file with the
environment, every op, every check and the spans, under
``perfbench/.work/results/``; ``perfbench/compare.py`` compares them.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import sys
import time
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "BENCHMARK.json",
    "__spark_entry__.py",
    "fixtures/udfs.py",
    "tools/oracle_check.py",
    "wasaffi_spark/engine.py",
)
SETUP_REPS = 3
DEADLINE_S = 170
# On a shared host, CPU steal comes in bursts of 20-30 s; a catalog_mix
# pass in a burst of 16% steal took twice as long. The timed passes start
# after an untimed pass with steal at most QUIET_STEAL, or once
# MAX_WAIT_S more seconds of untimed passes have run.
QUIET_STEAL = 0.01
MAX_WAIT_S = 10.0


class Deadline(BaseException):
    """The run has exceeded its time limit."""


def _first_line(e: BaseException) -> str:
    text = str(e).strip()
    for line in text.splitlines():
        if "[Wasm Invocation" in line:
            return line.strip()[:300]
    return (text.splitlines() or [type(e).__name__])[0][:300]


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def env_stamp(cpus: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": cpus,
        "master": f"local[{cpus}]",
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "load1": os.getloadavg()[0],
    }


def run_pass(wl, n: int, traced: bool, ledger):
    from metrics import OpRecord, PassRecord
    from tracing import Tracer, ddl_layers

    tracer = Tracer(traced)
    records = []
    before = ledger.resident() if traced else None
    ticks = cpu_ticks()
    start = time.perf_counter()
    with ddl_layers(tracer) if traced else contextlib.nullcontext():
        for op in wl.ops():
            if traced:
                ledger.begin()
            wall0, t0 = time.time(), time.perf_counter()
            error = None
            try:
                with tracer.span(op.kind):
                    op.run(tracer)
            except Exception as e:  # a failed op is counted, and the loop goes on
                error = _first_line(e)
            seconds = time.perf_counter() - t0
            layers = ledger.end(wall0, time.time()) if traced else None
            records.append(OpRecord(op.kind, seconds, error is None, op.udf_rows, error, layers))
    wall = time.perf_counter() - start
    steal = steal_frac(ticks, cpu_ticks())
    after = ledger.resident() if traced else None
    return PassRecord(n, traced, wall, records, tracer, before, after, steal)


def run_workload(args, cpus: int, work: str):
    import microbench
    from metrics import CheckRecord, RunRecord
    from sparkstats import JobLedger, shutdown_jvm, start_session
    from tracing import Tracer
    from workloads import WORKLOADS

    udfs = os.path.join(ROOT, "fixtures", "udfs.py")
    cls = WORKLOADS[args.workload]
    spark = None
    try:
        setup_s = []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            if spark is None:
                spark = start_session(cpus, os.path.join(work, "local"))
            wl = cls(spark, args.seed, os.path.join(work, "data"), udfs)
            wl.setup()
            setup_s.append(time.perf_counter() - t0)

        checks = []
        checks_start = time.perf_counter()
        for name, check in wl.checks():
            tracer = Tracer(bool(args.trace))
            t0 = time.perf_counter()
            error = None
            try:
                with tracer.span(f"check:{name}"):
                    check(tracer)
            except Exception as e:  # a failed check is counted as a failed op
                error = _first_line(e)
            checks.append(
                CheckRecord(name, time.perf_counter() - t0, error is None, error, tracer.as_json())
            )

        warm_up = []  # host steal of each untimed pass
        wait_until = None
        while True:
            ticks = cpu_ticks()
            wl.warm_up()
            warm_up.append(steal_frac(ticks, cpu_ticks()))
            now = time.perf_counter()
            if now - checks_start < cls.WARM_UP_S:
                continue
            wait_until = wait_until or now + MAX_WAIT_S
            if warm_up[-1] <= QUIET_STEAL or now >= wait_until:
                break

        ledger = JobLedger(spark) if args.trace else None
        passes = []
        ticks = cpu_ticks()
        start = time.perf_counter()
        while len(passes) < 1 + args.trace or time.perf_counter() - start < args.seconds:
            n = len(passes)
            passes.append(run_pass(wl, n, bool(args.trace) and n % 2 == 1, ledger))
        timed_steal = steal_frac(ticks, cpu_ticks())

        micro = microbench.per_batch(args.seed, udfs) if args.trace else {}
        ddl = microbench.ddl_cycles(wl) if args.trace else None
    finally:
        shutdown_jvm(spark)
    return RunRecord(setup_s, checks, warm_up, passes, cpus, cls.pairs, micro, ddl, timed_steal)


def side_file(args, run, env: dict, e2e: dict, layers: dict) -> dict:
    from metrics import boundary_pairs, per_query

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {**env, "timed_steal_frac": run.steal_frac},
        "setup_s": run.setup_s,
        "end_to_end": e2e,
        "per_layer": layers,
        "per_query": per_query(run),
        "boundary_pairs": boundary_pairs(run),
        "checks": [asdict(c) for c in run.checks],
        "warm_up_steal_frac": run.warm_up,
        "passes": [
            {
                "index": p.index,
                "traced": p.traced,
                "seconds": p.seconds,
                "steal_frac": p.steal_frac,
                "ops": [
                    {**asdict(o), "layers": asdict(o.layers) if o.layers else None}
                    for o in p.ops
                ],
                "spans": p.tracer.as_json(),
            }
            for p in run.passes
        ],
        "ddl_spans": run.ddl.as_json() if run.ddl else [],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Keep standard output for the result line: the JVM and the Python
    # workers inherit descriptor 1, which now points at standard error.
    result_fd = os.dup(1)
    os.dup2(2, 1)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the repository; missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )

    def deadline(signum, frame):
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    cpus = len(os.sched_getaffinity(0))
    try:
        env = {"before": env_stamp(cpus)}
        run = run_workload(args, cpus, work)
        env["after"] = env_stamp(cpus)
    except Deadline as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    import metrics

    e2e = metrics.end_to_end(run)
    layers = metrics.per_layer(run) if args.trace else {}
    section = declared["per_layer" if args.trace else "end_to_end"]
    shown = layers if args.trace else e2e
    if set(shown) != {m["name"] for m in section}:
        print(f"perfbench: measured {sorted(shown)} but BENCHMARK.json declares "
              f"{sorted(m['name'] for m in section)}", file=sys.stderr)
        return 4

    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(side_file(args, run, env, e2e, layers), f, indent=1)

    for c in run.checks:
        print(f"check {c.name}: {'ok' if c.ok else c.error}", file=sys.stderr)
    print("host steal in untimed passes: " + " ".join(f"{s:.1%}" for s in run.warm_up)
          + f"; in timed passes: {run.steal_frac:.1%} ("
          + " ".join(f"{p.seconds:.2f}s/{p.steal_frac:.1%}" for p in run.passes) + ")", file=sys.stderr)
    for m in section:
        print(f"{m['name']:32s} {shown[m['name']]:14.6g} {m['unit']}", file=sys.stderr)
    line = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": shown[m["name"]], "unit": m["unit"]} for m in section},
    }
    os.write(result_fd, (json.dumps(line) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
