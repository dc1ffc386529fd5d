#!/usr/bin/env python
"""Line-for-line Spark equivalent of the reference's runnable example
(≙ /root/reference/wasmedge_factory/examples/wasaffi.rs:10-31).

reference                                   | here
--------------------------------------------|----------------------------
SessionContext::new()                       | SparkSession.builder...
  .with_function_factory(...)               | Engine(spark, function_factory=...)
Float64Array columns a, b                   | createDataFrame(..., "a double, b double")
ctx.register_batch("t", batch)              | eng.register("t", df)
CREATE FUNCTION ... AS 'wasm_function.wasm!f1' | the SAME prebuilt .wasm when
                                              | present (runs through wasmtime
                                              | or the bundled pure-Python
                                              | interpreter), else the Python
                                              | parity fixture 'udfs.py!f1'
ctx.sql(...).show()                         | eng.sql(...).show()

Expected output (the reference's golden values, lib.rs:199-208):

    4.0, 27.0, 256.0, 3670.684197150057

Run: python examples/wasaffi.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from wasaffi_spark import Engine
from wasaffi_spark.factory import PythonModuleFunctionFactory


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("wasaffi-example")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # ≙ SessionContext::new().with_function_factory(...)  (wasaffi.rs:10)
    eng = Engine(spark, function_factory=PythonModuleFunctionFactory())

    # ≙ the 4-row RecordBatch registered as table "t"  (wasaffi.rs:12-16)
    df = spark.createDataFrame(
        [(2.0, 2.0), (3.0, 3.0), (4.0, 4.0), (5.0, 5.1)], "a double, b double"
    )
    eng.register("t", df)

    # ≙ CREATE FUNCTION ... LANGUAGE WASM AS 'wasm_function.wasm!f1'
    #   (wasaffi.rs:18-25). Use the reference's actual prebuilt guest
    #   module when it is present (executed by wasmtime if importable,
    #   else by wasaffi_spark.wasm_interp); fall back to the Python
    #   parity fixture otherwise.
    module = "/root/reference/wasm_function.wasm"
    if not os.path.exists(module):
        module = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "fixtures",
            "udfs.py",
        )
    eng.sql(
        "CREATE FUNCTION f1(DOUBLE, DOUBLE) RETURNS DOUBLE "
        f"LANGUAGE WASM AS '{module}!f1'"
    ).show()

    # ≙ ctx.sql("select a, b, f1(a,b) from t").show()  (wasaffi.rs:27)
    eng.sql("select a, b, f1(a,b) from t").show()

    spark.stop()


if __name__ == "__main__":
    main()
