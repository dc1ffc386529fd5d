"""The benchmark workloads. Each is a closed loop with one client that
repeats a fixed pass of ops, each op running one query to a noop sink.

- ``udf_scan``: DDL-registered UDFs over a seeded table of a million
  rows, each paired with its native twin. Only the JVM↔Python Arrow
  boundary and the ``udf_runtime`` wrapper differ between the two.
- ``catalog_mix``: one catalog query per family (relational, text,
  search, graph, boundary) on the repository's sf0.001 fixture tables,
  plus ``udf_pow``'s native twin. Driver-side plan construction and
  Spark's per-job scheduling dominate; the boundary does little.

Outside the timed region every workload checks the reference's golden
values, a literal-only call (the functions are Volatile, so it must
still run) and the error protocol, plus its own outputs against a
reference."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

import datagen
from tracing import Tracer

GOLDEN = [4.0, 27.0, 256.0, 3670.684197150057]
ERROR_MESSAGE = "[Wasm Invocation] wasm function returned error"
# Arrow's pow and the JVM's differ in the last bit on about one row in
# ten; both are within one ulp of the exact power.
POW_ULPS = 2 * 2.220446049250313e-16


@dataclass
class Op:
    kind: str
    run: Callable[[Tracer], None]
    udf_rows: int = 0


class CheckFailed(Exception):
    """An op's output differs from the expected one."""


def _noop_sink(tracer: Tracer, build: Callable[[], DataFrame]) -> None:
    with tracer.span("build"):
        df = build()
    with tracer.span("write"):
        df.write.format("noop").mode("overwrite").save()


def _collect(tracer: Tracer, build: Callable[[], DataFrame]) -> list:
    with tracer.span("build"):
        df = build()
    with tracer.span("write"):
        return df.collect()


class Workload:
    """Set-up, timed ops and checks shared by the workloads."""

    name = ""
    functions: tuple[str, ...] = ("f1",)
    # (UDF op kind, native twin op kind) pairs of one pass
    pairs: tuple[tuple[str, str], ...] = ()
    # untimed passes run until this many seconds after the checks began
    WARM_UP_S = 0.0

    def __init__(self, spark: SparkSession, seed: int, data_dir: str, udfs: str) -> None:
        from wasaffi_spark import Engine

        self.spark = spark
        self.seed = seed
        self.data_dir = data_dir
        self.udfs = udfs
        self.engine = Engine(spark)

    def setup(self) -> None:
        """Generate and register inputs and functions, then warm up with
        the reference's 4-row golden query."""
        self.spark.createDataFrame(
            [(2.0, 2.0), (3.0, 3.0), (4.0, 4.0), (5.0, 5.1)], "a double, b double"
        ).createOrReplaceTempView("golden_t")
        self.load()
        for name in self.functions:
            self.create(name)
        self.engine.sql("select f1(a, b) from golden_t").collect()

    def load(self) -> None:
        pass

    _SIGNATURES = {
        "f1": "(DOUBLE, DOUBLE) RETURNS DOUBLE",
        "str_len_upper": "(VARCHAR) RETURNS BIGINT",
        "f_return_error": "(DOUBLE, DOUBLE) RETURNS DOUBLE",
    }

    def create(self, name: str) -> None:
        self.engine.sql(
            f"CREATE OR REPLACE FUNCTION {name}{self._SIGNATURES[name]} "
            f"LANGUAGE WASM AS '{self.udfs}!{name}'"
        )

    def drop(self, name: str) -> None:
        self.engine.sql(f"DROP FUNCTION {name}")

    def ops(self) -> list[Op]:
        """The ops of one pass."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """One untimed pass."""
        for op in self.ops():
            op.run(Tracer(False))

    # -- correctness outside the timed region -------------------------------

    def checks(self) -> list[tuple[str, Callable[[Tracer], None]]]:
        """Named checks; each raises :class:`CheckFailed` on a mismatch."""
        return [
            ("golden", self._golden),
            ("literal_call", self._literal),
            ("error_protocol", self._error),
        ]

    def _golden(self, tracer: Tracer) -> None:
        # f1 must reproduce the reference exactly
        rows = _collect(tracer, lambda: self.engine.sql("select a, f1(a, b) as f from golden_t"))
        got = [r.f for r in sorted(rows)]
        if got != GOLDEN:
            raise CheckFailed(f"golden f1 values {got} != {GOLDEN}")

    def _literal(self, tracer: Tracer) -> None:
        # f1 is Volatile, so a literal-only call is not folded away
        rows = _collect(tracer, lambda: self.engine.sql("select f1(2.0, 3.0) as v"))
        if [r.v for r in rows] != [8.0]:
            raise CheckFailed(f"literal f1(2, 3) gave {rows}")

    def _error(self, tracer: Tracer) -> None:
        self.create("f_return_error")
        try:
            _collect(tracer, lambda: self.engine.sql("select f_return_error(a, b) as v from golden_t"))
        except Exception as e:  # the error protocol surfaces as a Python worker exception
            if ERROR_MESSAGE in str(e):
                return
            raise CheckFailed(f"error call raised without the protocol prefix: {str(e)[:200]}") from e
        finally:
            self.drop("f_return_error")
        raise CheckFailed("f_return_error returned rows instead of failing")


class UdfScan(Workload):
    name = "udf_scan"
    functions = ("f1", "str_len_upper")
    pairs = (
        ("scan:f1", "scan:pow"),
        ("scan:str_len_upper", "scan:length_upper"),
    )
    ROWS = 1_000_000

    def load(self) -> None:
        path = os.path.join(self.data_dir, "udf_scan")
        datagen.write_tables({"scan": datagen.udf_scan_table(self.seed, self.ROWS)}, path)
        scan = self.spark.read.parquet(os.path.join(path, "scan.parquet")).cache()
        scan.count()
        scan.createOrReplaceTempView("scan_t")

    def ops(self) -> list[Op]:
        def q(sql: str) -> Callable[[Tracer], None]:
            return lambda tracer: _noop_sink(tracer, lambda: self.engine.sql(sql))

        return [
            Op("scan:f1", q("select f1(a, b) as r from scan_t"), udf_rows=self.ROWS),
            Op("scan:pow", q("select pow(a, b) as r from scan_t")),
            Op("scan:str_len_upper", q("select str_len_upper(s) as r from scan_t"), udf_rows=self.ROWS),
            Op("scan:length_upper", q("select length(upper(s)) as r from scan_t")),
        ]

    def checks(self):
        def twins(tracer: Tracer) -> None:
            sql = (
                "select count_if(not ((x is null and y is null) "
                f"or coalesce(abs(x - y) <= {POW_ULPS!r} * abs(y), false))), "
                "count_if(not (n <=> m)) from ("
                "select f1(a, b) as x, pow(a, b) as y, "
                "str_len_upper(s) as n, cast(length(upper(s)) as bigint) as m from scan_t)"
            )
            with tracer.span("check"):
                bad_f1, bad_str = self.engine.sql(sql).collect()[0]
            if bad_f1 or bad_str:
                raise CheckFailed(
                    f"of {self.ROWS} rows, {bad_f1} differ between f1 and pow and "
                    f"{bad_str} between str_len_upper and length(upper())"
                )

        return super().checks() + [("udf_vs_native_twins", twins)]


class CatalogMix(Workload):
    name = "catalog_mix"
    pairs = (("query:udf_pow", "query:udf_pow_native"),)
    # the repository's sf0.001 fixture tables (FIXTURES.md), copied
    # unchanged into the benchmark's directory; the seed cannot change them
    TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.001")
    # one query per family: relational, text, search, graph, boundary
    SLICE = ("join_collect_aggs", "tfidf", "sq8_topk", "entity_clusters", "udf_pow")
    # The pass is mostly driver-side planning, which the JIT keeps
    # speeding up: on 4 vCPUs, passes fell from 5.2 s right after one
    # warm-up pass to 4.0 s after 15 s more and 3.3 s after 60 s more.
    WARM_UP_S = 20.0

    def __init__(self, *args) -> None:
        super().__init__(*args)
        import __spark_entry__ as entry

        self.queries = {**entry.queries(), **entry.extra_queries()}
        self.oracles = {**entry.oracle_sql(), **entry.extra_oracle_sql()}

    def load(self) -> None:
        import pyarrow.parquet as pq

        self.engine.load_tables(self.TABLES_DIR)
        path = os.path.join(self.TABLES_DIR, "lineitem.parquet")
        self.lineitem_rows = pq.read_metadata(path).num_rows

    def _query(self, name: str) -> Callable[[Tracer], None]:
        fn = self.queries[name]
        return lambda tracer: _noop_sink(tracer, lambda: fn(self.spark, self.TABLES_DIR))

    def _udf_pow_native(self, tracer: Tracer) -> None:
        # udf_pow's oracle on Spark: the same plan with the native pow
        _noop_sink(tracer, lambda: self.spark.sql(self.oracles["udf_pow"]))

    def ops(self) -> list[Op]:
        return [
            Op(f"query:{q}", self._query(q), udf_rows=self.lineitem_rows if q == "udf_pow" else 0)
            for q in self.SLICE
        ] + [Op("query:udf_pow_native", self._udf_pow_native)]

    def checks(self):
        def oracle(name: str) -> Callable[[Tracer], None]:
            def check(tracer: Tracer) -> None:
                import duckdb

                from tools.oracle_check import table_hash
                from wasaffi_spark.engine import TESTDATA_TABLES

                with tracer.span("build"):
                    df = self.queries[name](self.spark, self.TABLES_DIR)
                with tracer.span("write"):
                    rows = [tuple(r) for r in df.collect()]
                with tracer.span("oracle"), duckdb.connect() as con:
                    for t in TESTDATA_TABLES:
                        path = os.path.join(self.TABLES_DIR, f"{t}.parquet")
                        con.execute(f"create view {t} as select * from read_parquet('{path}')")
                    cur = con.execute(self.oracles[name])
                    ocols = [d[0] for d in cur.description]
                    orows = [tuple(r) for r in cur.fetchall()]
                if len(rows) != len(orows):
                    raise CheckFailed(f"{name}: {len(rows)} rows, oracle {len(orows)}")
                if table_hash(df.columns, rows) != table_hash(ocols, orows):
                    raise CheckFailed(f"{name}: value hash differs from the oracle")

            return check

        return super().checks() + [(f"oracle:{q}", oracle(q)) for q in self.SLICE]


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (UdfScan, CatalogMix)}
