"""Dialect-portable deterministic hashing / priority functions.

The reference derives row identity from xxhash64(trace_id || span_id)
(span_utils.go:25-44) and sampling decisions from a time-seeded RNG
(reservoir.go:52-54). We need something stronger: a priority that is a
pure function of (seed, key), bit-identical in Spark *and* in the DuckDB
oracle SQL (SURVEY.md §7.5), so that sampling top-k sets can be verified
engine-against-engine.

Construction (identical in both dialects):

    hex  = md5(seed || ':' || key)              -- 32 lowercase hex chars
    pbig = int(hex[0:13], 16)                   -- 52 bits, fits a double
    u    = (pbig + 0.5) / 2^52                  -- strictly in (0, 1)

Spark:  conv(substring(md5(s), 1, 13), 16, 10) :: long
DuckDB: cast('0x' || substr(md5(s), 1, 13) as bigint)

Both verified bit-equal (tests/test_hashing.py). 13 nibbles = 52 bits so
``u`` is exactly representable and the (0,1) mapping is exact in IEEE754.

For weighted A-Res (Efraimidis–Spirakis), the sort key is
``-ln(u)/w`` kept **smallest**-first (derived from ``pbig`` in one place,
``operators/reservoir.with_priorities``), equivalent to keeping the k largest
``u^(1/w)``; with uniform weights this degenerates to ordering by ``pbig``
descending, which is what the integer-only contract queries use.

For row identity (P3, span_utils.go:25-44) the production path uses
Spark's built-in ``xxhash64`` (JVM codegen, no md5 string materialization);
``row_key_hash`` below. The md5 path is only for oracle-checked priorities.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

HEX_DIGITS = 13
TWO_POW_52 = float(2**52)


def phex(key: "Column | str", seed: int) -> Column:
    """32-char md5 hex of (seed, key) — the portable entropy source."""
    key = F.col(key) if isinstance(key, str) else key
    return F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))


def pbig(key: "Column | str", seed: int) -> Column:
    """52-bit positive bigint priority, portable to DuckDB."""
    return F.conv(F.substring(phex(key, seed), 1, HEX_DIGITS), 16, 10).cast("long")


def fast_prio_int(seed: int, *cols: "Column | str") -> Column:
    """52-bit positive integer priority from xxhash64 — the production
    fast path (JVM codegen, no string materialization). Same distribution
    role as `pbig` but NOT portable to the DuckDB oracle; contract queries
    pin the md5 path, everything else defaults to this (at 10^12 rows the
    md5-on-concat-string cost is the unit path's dominant term)."""
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.shiftrightunsigned(F.xxhash64(F.lit(seed), *parts), 12)


def row_key_hash(*cols: "Column | str") -> Column:
    """64-bit row identity — analog of hashSpanKey (span_utils.go:25-44).

    Uses Spark's built-in xxhash64 (same XXH64 family as the reference's
    cespare/xxhash): stays in JVM codegen, no string materialization.
    """
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(*parts)


# ---------------------------------------------------------------------------
# DuckDB SQL fragment generators (used by __spark_entry__.oracle_sql so the
# oracle computes *identical* values).
# ---------------------------------------------------------------------------


def duck_phex(key_sql: str, seed: int) -> str:
    return f"md5('{seed}:' || cast({key_sql} as varchar))"


def duck_pbig(key_sql: str, seed: int) -> str:
    return f"cast('0x' || substr({duck_phex(key_sql, seed)}, 1, {HEX_DIGITS}) as bigint)"


def duck_u(key_sql: str, seed: int) -> str:
    return f"((cast({duck_pbig(key_sql, seed)} as double) + 0.5) / {TWO_POW_52!r})"

