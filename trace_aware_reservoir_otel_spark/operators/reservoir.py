"""Deterministic distributed reservoir sampling (A1/A3/L1 — the core op).

Reference semantics: per tumbling window, keep a uniform k-sample of rows
via Algorithm R (reservoir.go:80-126); trace-aware mode buffers spans per
trace so traces are kept whole (trace_buffer.go:78-141). Upgraded here per
the north star to *weighted, conversation-atomic, mergeable, deterministic*
Efraimidis–Spirakis A-Res:

    key(unit, window) -> u = hash01(seed, window, unit) in (0,1)
    ares = -ln(u) / w          (uniform w=1)
    winners(window) = k smallest ares (ties broken by the unit key)

`with_priorities` is the one derivation of u and ares for every sampler,
whether the unit is a conversation or a single turn (row).

Because ares is a pure function of (seed, window, conv, w), partial top-k
sets computed independently on any partitioning merge associatively to the
same global answer — the distributed replacement for the reference's
single-process RNG replacement loop (reservoir.go:106-121) with the same
marginal inclusion law for uniform weights, but reproducible and mergeable
(SURVEY.md §7.4; quirks §2.11.1-2 fixed by construction).

Scale design (100 TB posture):
 - turns -> conv-level units via groupBy(window, conv): map-side partial
   aggregation absorbs mega-conversation skew before any shuffle;
 - phase 1: top-k per (window, salt) — salting splits a window with many
   conversations across `salt_buckets` sort groups (never a single-node
   sort of all conv rows of a hot window);
 - phase 2: global top-k per window over <= salt_buckets*k candidate rows
   — bounded, tiny;
 - fan-out: winners (<= k * n_windows rows) broadcast-joined back to turns
   — no shuffle of the big side, no skew (a sampled mega-conversation
   never hashes to one reducer).

Two phase-1 implementations with identical output, chosen by
`topk_units(method=)`; every sampler and pipeline runs the first:
 - method='sql'   : window-function row_number (JVM whole-stage codegen);
 - method='pandas': applyInPandas partial reservoirs (Arrow-vectorized
   nsmallest per group) — the north-star-named formulation, reachable
   only through `topk_units(method=)`: it forks Python workers, and on
   the batch benchmark's input it ran slower than 'sql'.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

from trace_aware_reservoir_otel_spark.functions.hashing import (
    TWO_POW_52,
    fast_prio_int,
    pbig,
)


def with_priorities(
    units: DataFrame,
    seed: int,
    key_cols: "list[str]",
    window_col: str = "window_start_s",
    weight_col: "str | None" = None,
    hash_impl: str = "md5",
) -> DataFrame:
    """The one priority derivation of every sampler: `prio_int` from ONE
    hash of (seed, window, unit key), then the A-Res `ares_key` from it.

    hash_impl 'md5' hashes the portable string `window:key` (`pbig`, the
    DuckDB-checked form; a multi-column key joins with '#'); 'xxh' hashes
    the columns themselves (`fast_prio_int`, no string materialization).
    The A-Res key reuses the integer: u = (prio_int + 0.5) / 2^52 (the
    construction in functions/hashing.py), key = -ln(u) / w (w =
    `weight_col`, uniform when None).
    """
    if hash_impl == "xxh":
        prio = fast_prio_int(seed, window_col, *key_cols)
    else:
        if len(key_cols) == 1:
            key = F.col(key_cols[0]).cast("string")
        else:
            key = F.concat_ws("#", *[F.col(c).cast("string") for c in key_cols])
        prio = pbig(F.concat(F.col(window_col).cast("string"), F.lit(":"), key), seed)
    u = (F.col("prio_int").cast("double") + F.lit(0.5)) / F.lit(TWO_POW_52)
    ares = -F.log(u)
    if weight_col is not None:
        ares = ares / F.col(weight_col).cast("double")
    return units.withColumn("prio_int", prio).withColumn("ares_key", ares)


def _check_weighting(priority: str, weight_col: "str | None") -> None:
    # the 'int' order reads prio_int, which carries no weight
    if priority == "int" and weight_col is not None:
        raise ValueError("priority='int' ignores weights; use priority='ares' with weight_col")


def conversation_units(
    df: DataFrame,
    window_col: str = "window_start_s",
    conv_col: str = "conv_id",
    weight_col: "str | None" = None,
    seed: int = 42,
) -> DataFrame:
    """One row per (window, conversation) with its deterministic A-Res key.

    Conversation weight = max(turn weight) within the window (documented
    choice; uniform when weight_col is None).
    """
    aggs = [F.count(F.lit(1)).alias("n_turns")]
    if weight_col is not None:
        aggs.append(F.max(F.col(weight_col).cast("double")).alias("_w"))
    units = df.groupBy(window_col, conv_col).agg(*aggs)
    w = "_w" if weight_col is not None else None
    return with_priorities(units, seed, [conv_col], window_col, w).drop("_w")


def _order_cols(priority: str, conv_col: str):
    # 'ares': weighted A-Res key, keep smallest (general case).
    # 'int' : raw 52-bit integer priority, keep largest — identical
    #         inclusion law for uniform weights but exact (no
    #         transcendentals), used by DuckDB-oracle-checked contract
    #         queries (SURVEY.md §7.5).
    if priority == "ares":
        return [F.col("ares_key").asc(), F.col(conv_col).asc()]
    if priority == "int":
        return [F.col("prio_int").desc(), F.col(conv_col).asc()]
    raise ValueError(f"unknown priority mode {priority!r}")


def _phase1_sql(units, k, window_col, conv_col, salt_buckets, priority):
    salted = units.withColumn("_salt", F.pmod(F.xxhash64(F.col(conv_col)), F.lit(salt_buckets)))
    w1 = W.partitionBy(window_col, "_salt").orderBy(*_order_cols(priority, conv_col))
    return (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )


def _phase1_pandas(units, k, window_col, conv_col, salt_buckets, priority):
    salted = units.withColumn("_salt", F.pmod(F.xxhash64(F.col(conv_col)), F.lit(salt_buckets)))
    out_schema = units.schema
    by, asc = (
        (["ares_key", conv_col], [True, True])
        if priority == "ares"
        else (["prio_int", conv_col], [False, True])
    )

    def partial_reservoir(pdf: pd.DataFrame) -> pd.DataFrame:
        # per-(window, salt) partial reservoir: keep the k best priorities;
        # deterministic tie-break on the conversation id.
        kept = pdf.sort_values(by, ascending=asc, kind="mergesort").head(k)
        return kept.drop(columns=["_salt"])

    return salted.groupBy(window_col, "_salt").applyInPandas(partial_reservoir, schema=out_schema)


def topk_units(
    units: DataFrame,
    k: int,
    window_col: str = "window_start_s",
    conv_col: str = "conv_id",
    salt_buckets: int = 16,
    method: str = "sql",
    priority: str = "ares",
) -> DataFrame:
    """Two-phase deterministic top-k: salted partials, then global merge."""
    phase1 = _phase1_sql if method == "sql" else _phase1_pandas
    candidates = phase1(units, k, window_col, conv_col, salt_buckets, priority)
    w2 = W.partitionBy(window_col).orderBy(*_order_cols(priority, conv_col))
    return (
        candidates.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def sample_conversations(
    df: DataFrame,
    k: int,
    window_col: str = "window_start_s",
    conv_col: str = "conv_id",
    weight_col: "str | None" = None,
    seed: int = 42,
    salt_buckets: int = 16,
    priority: str = "ares",
) -> "tuple[DataFrame, DataFrame]":
    """Conversation-atomic reservoir: returns (turns_with_flag, winners).

    ``turns_with_flag`` is ``df`` plus a boolean ``sampled`` column — every
    turn of a winning (window, conv) is kept, every turn of a losing one
    dropped (all-or-nothing, trace_buffer.go semantics / FIXTURES.md §4).
    """
    _check_weighting(priority, weight_col)
    units = conversation_units(df, window_col, conv_col, weight_col, seed)
    winners = topk_units(units, k, window_col, conv_col, salt_buckets, priority=priority)
    win_small = F.broadcast(winners.select(window_col, conv_col, "ares_key"))
    flagged = df.join(
        win_small.withColumn("sampled", F.lit(True)),
        on=[window_col, conv_col],
        how="left",
    ).withColumn("sampled", F.coalesce(F.col("sampled"), F.lit(False)))
    return flagged, winners


def sample_rows(
    df: DataFrame,
    k: int,
    key_cols: "list[str]",
    window_col: str = "window_start_s",
    weight_col: "str | None" = None,
    seed: int = 42,
    salt_buckets: int = 16,
    priority: str = "ares",
) -> DataFrame:
    """Simple (non-trace-aware) per-window row reservoir
    (processor.go:265-288 consumeTracesSimple analog): the unit IS the row.
    """
    _check_weighting(priority, weight_col)
    keyed = df.withColumn(
        "_unit", F.concat_ws("#", *[F.col(c).cast("string") for c in key_cols])
    )
    with_key = with_priorities(keyed, seed, ["_unit"], window_col, weight_col)
    return topk_units(
        with_key, k, window_col, "_unit", salt_buckets, priority=priority
    ).drop("_unit")
