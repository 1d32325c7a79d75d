"""Bit-parity of the portable priority functions between Spark and DuckDB —
the foundation of every oracle-checked sampling query (SURVEY.md §7.5)."""

import hashlib
import math

import duckdb
from pyspark.sql import functions as F

from trace_aware_reservoir_otel_spark.functions import hashing as H
from trace_aware_reservoir_otel_spark.operators.reservoir import with_priorities
from trace_aware_reservoir_otel_spark.operators.windows import (
    duck_window_start_s,
    window_start_s,
)


def py_pbig(key: str, seed: int) -> int:
    return int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:13], 16)


def py_u(key: str, seed: int) -> float:
    return (py_pbig(key, seed) + 0.5) / 2**52


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def test_pbig_parity_spark_duckdb_python(spark):
    # the engine's one priority derivation (md5 form) against DuckDB and
    # Python: the key it hashes is f"{window}:{unit}"
    windows = [1704067260, 0]
    units = [f"conv-{i:08d}" for i in range(100)] + ["x", "conv-7'q"]
    df = spark.createDataFrame(
        [(w, c) for w in windows for c in units],
        "window_start_s long, conv_id string",
    )
    got = {
        (r["window_start_s"], r["conv_id"]): (r["prio_int"], r["ares_key"])
        for r in with_priorities(df, 42, ["conv_id"], hash_impl="md5").collect()
    }
    con = duckdb.connect()
    for (w, c), (prio, ares) in got.items():
        key = f"{w}:{c}"
        dh, du = con.execute(
            f"select {H.duck_pbig(_quote(key), 42)}, {H.duck_u(_quote(key), 42)}"
        ).fetchone()
        assert prio == dh == py_pbig(key, 42)
        assert du == py_u(key, 42)
        # JVM vs libm log may differ in the last ulp; integer/u parity is
        # exact (and contract queries order by the exact integer priority).
        assert math.isclose(ares, -math.log(py_u(key, 42)), rel_tol=1e-14)
    assert len(got) == len(windows) * len(units)


def test_window_bucket_parity(spark):
    stamps = ["2024-01-01 00:09:58.778549", "2024-03-05 13:00:00"]
    df = spark.createDataFrame([(s,) for s in stamps], "s string").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    got = sorted(r[0] for r in df.select(window_start_s("ts", 60)).collect())
    con = duckdb.connect()
    exp = sorted(
        con.execute(
            "select " + duck_window_start_s(f"TIMESTAMP '{s}'", 60)
        ).fetchone()[0]
        for s in stamps
    )
    assert got == exp


def test_row_key_hash_is_xxhash64(spark):
    df = spark.createDataFrame([("a", 1)], "c string, i int")
    r = df.select(
        H.row_key_hash("c", "i").alias("h"), F.xxhash64("c", "i").alias("x")
    ).collect()[0]
    assert r["h"] == r["x"]
