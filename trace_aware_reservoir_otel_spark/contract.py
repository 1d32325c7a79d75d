"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Each entry maps one operator from SURVEY.md §2 (or a training-data-pipeline
op) onto the driver's testdata tables. Queries are written once against a
tiny dialect shim so the Spark plan and the DuckDB oracle compute
*identical* values (the portable md5-priority scheme of SURVEY.md §7.5);
sampling queries additionally exercise the real library operators and are
mirrored by generated oracle SQL.

Conventions (driver compares row count + schema + order-insensitive value
hash, matching column names):
 - every computed column is aliased identically on both sides;
 - numeric outputs are exact (bigint / integer cents) wherever possible —
   money sums as cents via round(x*100)::bigint, never float sums;
 - timestamps leave as epoch-second bigints;
 - top-k orderings use the exact 52-bit integer priority with full
   tie-breaks, never floating point.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from trace_aware_reservoir_otel_spark.session import local_frame
from trace_aware_reservoir_otel_spark.sources.tables import TABLES

SEED = 42
DAY = 86400
K_SIMPLE = 50
K_TRACE = 5
CAP = 12
SESSION_GAP_S = 3600


# (session identity, applicationId) -> sf_dir whose views are registered.
# Temp-view registration costs ~10 parquet schema/footer reads of driver
# work PER QUERY CALL (measured as a fixed ~0.2-0.4s tax on every contract
# query); the views are idempotent session state, so re-registering the
# same sf_dir into the same session is pure waste. Keyed by applicationId
# as well as id() so a recycled session object address can never alias a
# fresh session that lacks the views. Registers only VIEW POINTERS — never
# caches data or results.
_REGISTERED: "dict[tuple, str]" = {}


def _register(spark: SparkSession, sf_dir: str) -> None:
    key = (id(spark), spark.sparkContext.applicationId)
    if _REGISTERED.get(key) == sf_dir:
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    _REGISTERED[key] = sf_dir


class Dialect:
    """SQL fragments that differ between Spark SQL and DuckDB."""

    def __init__(self, kind: str):
        assert kind in ("spark", "duck")
        self.kind = kind

    # --- scalars -----------------------------------------------------------
    def epoch_s(self, ts: str) -> str:
        """Integer epoch seconds (truncating, both positive-time)."""
        if self.kind == "spark":
            return f"unix_timestamp({ts})"
        return f"cast(floor(epoch({ts})) as bigint)"

    def bucket(self, ts: str, width: int) -> str:
        return f"cast(floor({self.epoch_s(ts)} / {width}) * {width} as bigint)"

    def pbig(self, expr: str, seed: int = SEED) -> str:
        """Portable 52-bit md5 priority (SURVEY.md §7.5)."""
        inner = f"md5('{seed}:' || cast({expr} as {self.str_t()}))"
        if self.kind == "spark":
            return f"cast(conv(substring({inner}, 1, 13), 16, 10) as bigint)"
        return f"cast('0x' || substr({inner}, 1, 13) as bigint)"

    def u01(self, expr: str, seed: int = SEED) -> str:
        """Deterministic uniform (0,1) double from the 52-bit priority."""
        return f"((cast({self.pbig(expr, seed)} as double) + 0.5) / {float(2**52)!r})"

    def str_t(self) -> str:
        return "string" if self.kind == "spark" else "varchar"

    def re_lit(self, pattern: str) -> str:
        """A regex as a SQL string literal (Spark SQL processes escapes)."""
        if self.kind == "spark":
            return "'" + pattern.replace("\\", "\\\\") + "'"
        return "'" + pattern + "'"

    def regexp_count(self, s: str, pattern: str) -> str:
        p = self.re_lit(pattern)
        if self.kind == "spark":
            return f"regexp_count({s}, {p})"
        return f"len(regexp_extract_all({s}, {p}))"

    def regexp_extract(self, s: str, pattern: str, group: int) -> str:
        return f"regexp_extract({s}, {self.re_lit(pattern)}, {group})"

    def ntokens(self, s: str) -> str:
        split = (
            f"size(split(trim({s}), {self.re_lit(chr(92) + 's+')}))"
            if self.kind == "spark"
            else f"len(regexp_split_to_array(trim({s}), {self.re_lit(chr(92) + 's+')}))"
        )
        return f"(case when length(trim({s})) = 0 then 0 else cast({split} as bigint) end)"

    def explode_ints(self, lo: str, hi_incl: str, alias: str, col: str) -> str:
        """FROM-clause fragment producing one row per int in [lo, hi]."""
        if self.kind == "spark":
            return f"lateral view explode(sequence({lo}, {hi_incl})) {alias}_t as {col}"
        return f"cross join unnest(range({lo}, ({hi_incl}) + 1)) as {alias}_t({col})"

    def cents(self, expr: str) -> str:
        return f"cast(round(({expr}) * 100) as bigint)"


SPARK = Dialect("spark")
DUCK = Dialect("duck")


# ---------------------------------------------------------------------------
# Shared-logic SQL builders: build(d) returns the same query in dialect d.
# ---------------------------------------------------------------------------

def q_checkpoint_projection(d: Dialect) -> str:
    # P5 (serialization.go:18-38): lossy fixed projection + epoch seconds
    return f"""
    select event_id,
           user_id,
           event_type,
           {d.epoch_s('ts')} as ts_s
    from events
    """


def q_invalid_filter(d: Dialect) -> str:
    # P2 (trace_buffer.go:80-85): classify rows into keep/dlq, count per sink
    return """
    select case when event_type = 'error' then 'dlq' else 'keep' end as sink,
           cast(count(*) as bigint) as n_rows,
           cast(count(distinct user_id) as bigint) as n_users
    from events
    group by 1
    """


def q_row_identity(d: Dialect) -> str:
    # P3 (span_utils.go:25-44): deterministic 52-bit row identity
    return f"""
    select event_id,
           {d.pbig("cast(user_id as " + d.str_t() + ") || '#' || cast(event_id as " + d.str_t() + ")")} as row_h
    from events
    """


def q_tumbling_window_count(d: Dialect) -> str:
    # W1/A2 (window.go:69-71,108-122): per-window n
    return f"""
    select {d.bucket('ts', DAY)} as window_start_s,
           cast(count(*) as bigint) as n_rows,
           cast(count(distinct user_id) as bigint) as n_users
    from events
    group by 1
    """


def q_reservoir_simple(d: Dialect) -> str:
    # A1 simple mode (reservoir.go:88-126): uniform k-sample of rows per
    # window; exact integer priority, full tie-break
    return f"""
    with pri as (
      select {d.bucket('ts', DAY)} as window_start_s,
             event_id,
             {d.pbig(f"{d.bucket('ts', DAY)} || ':' || cast(event_id as " + d.str_t() + ")")} as prio_int
      from events
    ), ranked as (
      select *, row_number() over (
               partition by window_start_s
               order by prio_int desc, event_id asc) as rn
      from pri
    )
    select window_start_s, event_id, prio_int
    from ranked where rn <= {K_SIMPLE}
    """


def q_trace_aware_reservoir(d: Dialect) -> str:
    # A1+A3 trace-aware (trace_buffer.go:78-141 + reservoir): per window,
    # keep k whole "conversations" (user_id), emit every kept row
    return f"""
    with ev as (
      select {d.bucket('ts', DAY)} as window_start_s, user_id, event_id
      from events
    ), units as (
      select window_start_s, user_id,
             {d.pbig("window_start_s || ':' || cast(user_id as " + d.str_t() + ")")} as prio_int
      from ev
      group by window_start_s, user_id
    ), winners as (
      select window_start_s, user_id
      from (select *, row_number() over (
                   partition by window_start_s
                   order by prio_int desc, user_id asc) as rn
            from units)
      where rn <= {K_TRACE}
    )
    select ev.window_start_s, ev.user_id, ev.event_id
    from ev join winners
      on ev.window_start_s = winners.window_start_s
     and ev.user_id = winners.user_id
    """


def q_capacity_overflow(d: Dialect) -> str:
    # L2 (trace_buffer.go:107-110,201-240): deterministic capacity ranking;
    # conversations beyond CAP route whole to overflow
    return f"""
    with units as (
      select {d.bucket('ts', DAY)} as window_start_s,
             user_id,
             cast(count(*) as bigint) as n_events
      from events
      group by 1, 2
    )
    select window_start_s, user_id, n_events
    from (select *, row_number() over (
                 partition by window_start_s
                 order by n_events desc, user_id asc) as rn
          from units)
    where rn > {CAP}
    """


def q_routing_counts(d: Dialect) -> str:
    # A6 (metrics.go:47-142): per-window per-sink conservation counters
    return f"""
    with ev as (
      select {d.bucket('ts', DAY)} as window_start_s, user_id, event_id
      from events
    ), units as (
      select window_start_s, user_id,
             {d.pbig("window_start_s || ':' || cast(user_id as " + d.str_t() + ")")} as prio_int
      from ev
      group by window_start_s, user_id
    ), winners as (
      select window_start_s, user_id
      from (select *, row_number() over (
                   partition by window_start_s
                   order by prio_int desc, user_id asc) as rn
            from units)
      where rn <= {K_TRACE}
    ), flagged as (
      select ev.window_start_s,
             case when winners.user_id is not null then 1 else 0 end as s
      from ev left join winners
        on ev.window_start_s = winners.window_start_s
       and ev.user_id = winners.user_id
    )
    select window_start_s,
           cast(count(*) as bigint) as rows_total,
           cast(sum(s) as bigint) as rows_sampled,
           cast(count(*) - sum(s) as bigint) as rows_overflow
    from flagged
    group by window_start_s
    """


def q_reservoir_weighted(d: Dialect) -> str:
    # A1 weighted (north-star upgrade): A-Res key -ln(u)/w, keep k
    # smallest. The only contract ordering involving a transcendental —
    # rounded to 9 digits on both sides so last-ulp ln() differences
    # between engines cannot flip ranks.
    w = "(value + 1.0)"
    ukey = d.u01(f"{d.bucket('ts', DAY)} || ':' || cast(event_id as {d.str_t()})")
    return f"""
    with pri as (
      select {d.bucket('ts', DAY)} as window_start_s,
             event_id,
             round(- ln({ukey}) / {w}, 9) as ares9
      from events
    )
    select window_start_s, event_id, ares9
    from (select *, row_number() over (
                 partition by window_start_s
                 order by ares9 asc, event_id asc) as rn
          from pri)
    where rn <= {K_SIMPLE}
    """


def q_rollup_pricing(d: Dialect) -> str:
    # grouping-sets coverage (Catalyst expand): ROLLUP over lineitem flags
    return f"""
    select coalesce(l_returnflag, '(all)') as returnflag,
           coalesce(l_linestatus, '(all)') as linestatus,
           cast(count(*) as bigint) as n_rows,
           cast(sum({d.cents('l_quantity')}) as bigint) as sum_qty_c
    from lineitem
    group by rollup(l_returnflag, l_linestatus)
    """


def q_session_window(d: Dialect) -> str:
    # A4 (trace_buffer.go:144-185): inactivity-gap sessionization per user
    return f"""
    with ordered as (
      select user_id, ts, event_id,
             {d.epoch_s('ts')} as ts_s,
             lag({d.epoch_s('ts')}) over (
               partition by user_id order by ts, event_id) as prev_s
      from events
    ), marked as (
      select user_id, ts, event_id, ts_s,
             case when prev_s is null or ts_s - prev_s > {SESSION_GAP_S}
                  then 1 else 0 end as new_sess
      from ordered
    ), sess as (
      select user_id, ts_s,
             sum(new_sess) over (
               partition by user_id order by ts, event_id
               rows between unbounded preceding and current row) as sess_id
      from marked
    )
    select user_id,
           cast(count(distinct sess_id) as bigint) as n_sessions,
           cast(max(cnt) as bigint) as max_session_events
    from (select user_id, sess_id, count(*) as cnt
          from sess group by user_id, sess_id)
    group by user_id
    """


def q_value_percentiles(d: Dialect) -> str:
    # observability staple (per-window latency percentiles; the OTel
    # processor's span-duration histogram analog): EXACT rank-based
    # percentiles over integer cents — k-th smallest, never float
    # interpolation, so the oracle matches bit-for-bit
    return f"""
    with v as (
      select {d.bucket('ts', DAY)} as window_start_s,
             {d.cents('value')} as v
      from events
    ), ranked as (
      select window_start_s, v,
             row_number() over (partition by window_start_s order by v) as rn,
             count(*) over (partition by window_start_s) as n
      from v
    )
    select window_start_s,
           cast(count(*) as bigint) as n_rows,
           max(case when rn <= cast(ceil(0.50 * n) as bigint) then v end) as p50_c,
           max(case when rn <= cast(ceil(0.95 * n) as bigint) then v end) as p95_c,
           max(case when rn <= cast(ceil(0.99 * n) as bigint) then v end) as p99_c,
           max(v) as max_c
    from ranked
    group by window_start_s
    """


def q_dedup_upsert(d: Dialect) -> str:
    # A7 (reservoir.go:137): distinct-by-key, latest wins
    return """
    select user_id, event_type, event_id
    from (select user_id, event_type, event_id,
                 row_number() over (
                   partition by user_id, event_type
                   order by ts desc, event_id desc) as rn
          from events)
    where rn = 1
    """


def q_root_turn(d: Dialect) -> str:
    # P4 (span_utils.go:50-52): the root span / first turn per trace
    return f"""
    select user_id, event_id, {d.epoch_s('ts')} as ts_s
    from (select user_id, event_id, ts,
                 row_number() over (
                   partition by user_id order by ts asc, event_id asc) as rn
          from events)
    where rn = 1
    """


def q_union_completed(d: Dialect) -> str:
    # §2.7: union of two routed subsets re-fed through one path
    return """
    select event_type, cast(count(*) as bigint) as n_rows
    from (
      select event_id, event_type from events where event_type = 'purchase'
      union
      select event_id, event_type from events where event_type = 'error'
    )
    group by event_type
    """


def q_parse_props(d: Dialect) -> str:
    # F7 north-star: vectorized regex field extraction from a text payload
    ext = d.regexp_extract("props", '"k": (\\d+)', 1)
    return f"""
    select event_id,
           cast({ext} as bigint) as k_val
    from events
    """


def q_enrich_broadcast(d: Dialect) -> str:
    # §2.3 north-star broadcast dim enrichment (dim inline on both sides)
    return f"""
    with dim as (
      select 'click' as event_type, 'interaction' as kind
      union all select 'view', 'interaction'
      union all select 'purchase', 'conversion'
      union all select 'signup', 'conversion'
    )
    select coalesce(dim.kind, 'other') as kind,
           cast(count(*) as bigint) as n_rows,
           cast(sum({d.cents('value')}) as bigint) as value_cents
    from events left join dim on events.event_type = dim.event_type
    group by 1
    """


# --- TPC-H-flavored relational coverage ------------------------------------

def q_pricing_summary(d: Dialect) -> str:
    # TPC-H Q1 shape over lineitem; exact integer cents
    return f"""
    select l_returnflag, l_linestatus,
           cast(sum({d.cents('l_quantity')}) as bigint) as sum_qty_c,
           cast(sum({d.cents('l_extendedprice')}) as bigint) as sum_base_c,
           cast(sum({d.cents('l_extendedprice * (1 - l_discount)')}) as bigint) as sum_disc_c,
           cast(count(*) as bigint) as n_rows
    from lineitem
    where l_shipdate <= date '1998-09-02'
    group by l_returnflag, l_linestatus
    """


def q_top_revenue_orders(d: Dialect) -> str:
    # TPC-H Q3 shape: join + agg + deterministic top-10
    return f"""
    with rev as (
      select o.o_orderkey,
             {d.epoch_s('o.o_orderdate')} as o_orderdate_s,
             cast(sum({d.cents('l.l_extendedprice * (1 - l.l_discount)')}) as bigint) as revenue_c
      from customer c
      join orders o on c.c_custkey = o.o_custkey
      join lineitem l on l.l_orderkey = o.o_orderkey
      where c.c_mktsegment = 'BUILDING'
      group by o.o_orderkey, o.o_orderdate
    )
    select o_orderkey, o_orderdate_s, revenue_c
    from rev
    order by revenue_c desc, o_orderkey asc
    limit 10
    """


def q_nation_revenue(d: Dialect) -> str:
    # TPC-H Q5 shape: multi-join star traversal
    return f"""
    select n.n_name,
           cast(sum({d.cents('l.l_extendedprice * (1 - l.l_discount)')}) as bigint) as revenue_c,
           cast(count(*) as bigint) as n_rows
    from region r
    join nation n on n.n_regionkey = r.r_regionkey
    join customer c on c.c_nationkey = n.n_nationkey
    join orders o on o.o_custkey = c.c_custkey
    join lineitem l on l.l_orderkey = o.o_orderkey
    where r.r_name = 'ASIA'
    group by n.n_name
    """


def q_top_order_per_customer(d: Dialect) -> str:
    # analytic-window coverage: per-group top-1 with tie-breaks
    return f"""
    select o_custkey, o_orderkey, {d.cents('o_totalprice')} as total_c
    from (select o_custkey, o_orderkey, o_totalprice,
                 row_number() over (
                   partition by o_custkey
                   order by o_totalprice desc, o_orderkey asc) as rn
          from orders)
    where rn = 1
    """


def q_small_quantity_revenue(d: Dialect) -> str:
    # TPC-H Q17 shape: correlated scalar subquery (per-part average) —
    # Catalyst rewrites it to an aggregate + join; exercises the
    # scalar-subquery surface the other relational queries don't
    return f"""
    select cast(count(*) as bigint) as n_rows,
           cast(sum({d.cents('l.l_extendedprice')}) as bigint) as revenue_c
    from lineitem l
    where l.l_quantity < (
      select 0.5 * avg(l2.l_quantity)
      from lineitem l2
      where l2.l_partkey = l.l_partkey
    )
    """


def q_customers_without_orders(d: Dialect) -> str:
    # TPC-H Q22 flavor: NOT EXISTS anti-join (left-anti in the plan) —
    # customers who never placed a large order (threshold keeps the anti
    # side non-trivial at every test scale)
    return """
    select c.c_mktsegment,
           cast(count(*) as bigint) as n_customers
    from customer c
    where not exists (
      select 1 from orders o
      where o.o_custkey = c.c_custkey
        and o.o_totalprice > 350000
    )
    group by c.c_mktsegment
    """


def q_part_type_stats(d: Dialect) -> str:
    return f"""
    select p_type,
           cast(count(*) as bigint) as n_parts,
           cast(sum({d.cents('p_retailprice')}) as bigint) as retail_c,
           cast(max(p_size) as bigint) as max_size
    from part
    group by p_type
    """


# --- documents: text analysis / dedup ---------------------------------------

def q_token_count(d: Dialect) -> str:
    return f"""
    select doc_id,
           {d.ntokens('text')} as n_tokens,
           cast(length(text) as bigint) as n_chars_m
    from documents
    """


def q_lang_stopword(d: Dialect) -> str:
    # n-gram/stopword language-ID heuristic: integer arithmetic only
    hits = d.regexp_count("(' ' || text || ' ')", r"\b(the|a|of|and|to|in|is)\b")
    return f"""
    select doc_id,
           cast({hits} as bigint) as sw_hits,
           {d.ntokens('text')} as n_tokens,
           (case when cast({hits} as bigint) * 12 >= {d.ntokens('text')}
                 then 'en_like' else 'other' end) as lang_pred
    from documents
    """


def q_quality_score(d: Dialect) -> str:
    nt = d.ntokens("text")
    return f"""
    select doc_id,
           cast(length(text) as bigint) as n_chars_m,
           {nt} as n_tokens,
           (case when {nt} = 0 then 0
                 else cast(round(100.0 * length(replace(text, ' ', '')) / {nt}) as bigint)
            end) as avg_token_len_x100
    from documents
    """


def q_dedup_exact(d: Dialect) -> str:
    # exact dedup by content hash; survivor = min doc_id
    return """
    select md5(text) as text_h,
           cast(min(doc_id) as bigint) as survivor_doc_id,
           cast(count(*) as bigint) as n_copies
    from documents
    group by md5(text)
    """


def q_doc_fingerprint(d: Dialect) -> str:
    # rolling-hash fingerprint: min hash over 8-char grams (winnowing-lite)
    return f"""
    with grams as (
      select doc_id,
             {d.pbig('substr(text, i, 8)')} as gh
      from documents
      {d.explode_ints('1', 'greatest(length(text) - 7, 1)', 'g', 'i')}
    )
    select doc_id, min(gh) as fingerprint
    from grams
    group by doc_id
    """


def q_dataset_split(d: Dialect) -> str:
    # deterministic train/val/test assignment: pure function of the doc id
    # (a row's split never changes as the corpus grows — the property that
    # matters for reproducible training sets)
    h = d.pbig(f"'split:' || cast(doc_id as {d.str_t()})")
    return f"""
    select case
             when {h} % 100 < 80 then 'train'
             when {h} % 100 < 90 then 'val'
             else 'test'
           end as split,
           cast(count(*) as bigint) as n_docs,
           cast(sum(length(text)) as bigint) as n_chars
    from documents
    group by 1
    """


QUERY_BUILDERS: "dict[str, Callable[[Dialect], str]]" = {
    "checkpoint_projection": q_checkpoint_projection,
    "invalid_filter": q_invalid_filter,
    "row_identity": q_row_identity,
    "tumbling_window_count": q_tumbling_window_count,
    "reservoir_simple": q_reservoir_simple,
    "reservoir_weighted": q_reservoir_weighted,
    "rollup_pricing": q_rollup_pricing,
    "trace_aware_reservoir": q_trace_aware_reservoir,
    "capacity_overflow": q_capacity_overflow,
    "routing_counts": q_routing_counts,
    "session_window": q_session_window,
    "value_percentiles": q_value_percentiles,
    "dedup_upsert": q_dedup_upsert,
    "root_turn": q_root_turn,
    "union_completed": q_union_completed,
    "parse_props": q_parse_props,
    "enrich_broadcast": q_enrich_broadcast,
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "nation_revenue": q_nation_revenue,
    "top_order_per_customer": q_top_order_per_customer,
    "small_quantity_revenue": q_small_quantity_revenue,
    "customers_without_orders": q_customers_without_orders,
    "part_type_stats": q_part_type_stats,
    "token_count": q_token_count,
    "lang_stopword": q_lang_stopword,
    "quality_score": q_quality_score,
    "dedup_exact": q_dedup_exact,
    "doc_fingerprint": q_doc_fingerprint,
    "dataset_split": q_dataset_split,
}


def _mk_query(builder: Callable[[Dialect], str]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return spark.sql(builder(SPARK))

    return run


def _driver_rotation_order(names: "list[str]") -> "list[str]":
    """Order the registry so least-recently-driver-verified queries come FIRST.

    The driver's correctness gate records only the first 50 ``queries()``
    entries per round (round-4 verdict: six queries at positions 50-55 never
    got a driver row). Sorting by (last round a query appeared in any
    CORRECTNESS_r*.json, original position) guarantees: (a) queries with no
    driver row in ANY round sort to the front and get one next run; (b) with
    a 56-entry registry and a 50-row window, every query is re-verified on a
    bounded rotation (at most ceil(56/50)=2 rounds between rows).
    Deterministic: depends only on committed CORRECTNESS files.
    """
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_round: "dict[str, int]" = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)", os.path.basename(path)).group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            for name in rows:
                last_round[name] = max(last_round.get(name, -1), rnd)
    return sorted(
        names, key=lambda n: (last_round.get(n, -1), names.index(n))
    )


def contract_queries() -> "dict[str, Callable[[SparkSession, str], DataFrame]]":
    from trace_aware_reservoir_otel_spark.contract_dedup import DEDUP_QUERIES
    from trace_aware_reservoir_otel_spark.contract_quality import QUALITY_QUERIES

    out = {name: _mk_query(b) for name, b in QUERY_BUILDERS.items()}
    out.update(_library_queries())
    out.update(DEDUP_QUERIES)
    out.update(QUALITY_QUERIES)
    order = _driver_rotation_order(list(out))
    return {name: out[name] for name in order}


def contract_oracles() -> "dict[str, str]":
    from trace_aware_reservoir_otel_spark.contract_dedup import dedup_oracles
    from trace_aware_reservoir_otel_spark.contract_quality import quality_oracles

    out = {name: b(DUCK) for name, b in QUERY_BUILDERS.items()}
    out.update(_library_oracles())
    out.update(dedup_oracles())
    out.update(quality_oracles())
    return out


# ---------------------------------------------------------------------------
# Library-operator queries: the Spark side runs the real engine code
# (reservoir/pipeline modules); the oracle replays the semantics in SQL.
# ---------------------------------------------------------------------------


def _q_lib_reservoir_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.operators.reservoir import sample_rows
    from trace_aware_reservoir_otel_spark.operators.windows import with_tumbling_window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    win = with_tumbling_window(ev, "ts", DAY)
    got = sample_rows(
        win, K_SIMPLE, key_cols=["event_id"], seed=SEED, priority="int", salt_buckets=8
    )
    return got.select(
        "window_start_s", "event_id", F.col("prio_int").alias("prio_int")
    )


def _q_lib_trace_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.operators.reservoir import sample_conversations
    from trace_aware_reservoir_otel_spark.operators.windows import with_tumbling_window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "conv_id", F.col("user_id").cast("string")
    )
    win = with_tumbling_window(ev, "ts", DAY)
    flagged, _ = sample_conversations(
        win, K_TRACE, seed=SEED, priority="int", salt_buckets=8
    )
    return flagged.filter(F.col("sampled")).select(
        "window_start_s",
        F.col("conv_id").cast("long").alias("user_id"),
        "event_id",
    )


def _oracle_lib_reservoir_events() -> str:
    d = DUCK
    return f"""
    with pri as (
      select {d.bucket('ts', DAY)} as window_start_s,
             event_id,
             {d.pbig("{b} || ':' || cast(event_id as varchar)".format(b=d.bucket('ts', DAY)))} as prio_int
      from events
    )
    select window_start_s, event_id, prio_int
    from (select *, row_number() over (
                 partition by window_start_s
                 order by prio_int desc, cast(event_id as varchar) asc) as rn
          from pri)
    where rn <= {K_SIMPLE}
    """


def _oracle_lib_trace_sample_events() -> str:
    d = DUCK
    return f"""
    with ev as (
      select {d.bucket('ts', DAY)} as window_start_s,
             cast(user_id as varchar) as conv_id,
             user_id, event_id
      from events
    ), units as (
      select window_start_s, conv_id, user_id,
             {d.pbig("window_start_s || ':' || conv_id")} as prio_int
      from ev group by window_start_s, conv_id, user_id
    ), winners as (
      select window_start_s, conv_id
      from (select *, row_number() over (
                   partition by window_start_s
                   order by prio_int desc, conv_id asc) as rn
            from units)
      where rn <= {K_TRACE}
    )
    select ev.window_start_s, ev.user_id, ev.event_id
    from ev join winners
      on ev.window_start_s = winners.window_start_s
     and ev.conv_id = winners.conv_id
    """


def _q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full flagship pipeline (parse -> enrich -> window -> sample ->
    route) over transcripts derived from the driver's events table, checked
    end-to-end against a pure-SQL oracle."""
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.config import PipelineConfig
    from trace_aware_reservoir_otel_spark.plans.pipeline import run_pipeline
    from trace_aware_reservoir_otel_spark.sources.tables import transcripts_from_events

    tr = transcripts_from_events(spark, sf_dir)
    cfg = PipelineConfig(
        size_k=K_TRACE,
        window_duration_s=DAY,
        seed=SEED,
        priority="int",
        hash_impl="md5",  # oracle-portable priorities
        late_tolerance_s=10 * DAY,
    )
    res = run_pipeline(tr, cfg)
    return res.sampled_traces.select(
        "conv_id",
        "turn_idx",
        "window_start_s",
        "role",
        "tool",
        "role_kind",
        "p_tool",
        "p_dur_ms",
        F.unix_timestamp("ts").alias("ts_s"),
        "text",
    )


def _oracle_flagship() -> str:
    d = DUCK
    pat = r"<tool_call name=(\w+) dur_ms=(\d+)> trace=([0-9a-f]{16}) span=([0-9a-f]{8})"
    return f"""
    with tr as (
      select 'conv-' || cast(user_id as varchar) as conv_id,
             cast(row_number() over (
               partition by user_id order by ts, event_id) - 1 as int) as turn_idx,
             case when event_type in ('click', 'view') then 'user'
                  when event_type in ('purchase', 'signup') then 'assistant'
                  else 'tool' end as role,
             case when event_type in ('purchase', 'signup', 'error')
                  then event_type end as tool,
             case when event_type in ('purchase', 'signup', 'error')
                  then 'event ' || event_type || ' ' || props
                       || ' <tool_call name=' || event_type
                       || ' dur_ms=' || cast(cast(floor(value * 10) as bigint) as varchar)
                       || '> trace=' || substr(md5('ev:' || cast(event_id as varchar)), 1, 16)
                       || ' span=' || substr(md5('ev:' || cast(event_id as varchar)), 17, 8)
                  else 'event ' || event_type || ' ' || props end as text,
             ts
      from events
    ), w as (
      select *, {d.bucket('ts', DAY)} as window_start_s from tr
    ), units as (
      select window_start_s, conv_id,
             {d.pbig("window_start_s || ':' || conv_id")} as prio_int
      from w group by window_start_s, conv_id
    ), winners as (
      select window_start_s, conv_id
      from (select *, row_number() over (
                   partition by window_start_s
                   order by prio_int desc, conv_id asc) as rn
            from units)
      where rn <= {K_TRACE}
    )
    select w.conv_id, w.turn_idx, w.window_start_s, w.role, w.tool,
           case w.role when 'user' then 'human' when 'assistant' then 'model'
                when 'system' then 'control' when 'tool' then 'machine' end as role_kind,
           nullif(regexp_extract(w.text, '{pat}', 1), '') as p_tool,
           cast(nullif(regexp_extract(w.text, '{pat}', 2), '') as bigint) as p_dur_ms,
           {d.epoch_s('w.ts')} as ts_s,
           w.text
    from w join winners
      on w.window_start_s = winners.window_start_s
     and w.conv_id = winners.conv_id
    """


def _q_parse_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas-UDF grok path (F7's escape hatch), verified
    against the same SQL oracle as the JVM-regex path."""
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.functions.parse import (
        with_parsed_fields_pandas,
    )
    from trace_aware_reservoir_otel_spark.sources.tables import transcripts_from_events

    tr = transcripts_from_events(spark, sf_dir)
    parsed = with_parsed_fields_pandas(tr)
    return parsed.filter(F.col("p_tool").isNotNull()).select(
        "conv_id", "turn_idx", "p_tool", "p_dur_ms", "p_trace_hex", "p_span_hex"
    )


def _oracle_parse_pandas() -> str:
    pat = r"<tool_call name=(\w+) dur_ms=(\d+)> trace=([0-9a-f]{16}) span=([0-9a-f]{8})"
    return f"""
    with tr as (
      select 'conv-' || cast(user_id as varchar) as conv_id,
             cast(row_number() over (
               partition by user_id order by ts, event_id) - 1 as int) as turn_idx,
             case when event_type in ('purchase', 'signup', 'error')
                  then 'event ' || event_type || ' ' || props
                       || ' <tool_call name=' || event_type
                       || ' dur_ms=' || cast(cast(floor(value * 10) as bigint) as varchar)
                       || '> trace=' || substr(md5('ev:' || cast(event_id as varchar)), 1, 16)
                       || ' span=' || substr(md5('ev:' || cast(event_id as varchar)), 17, 8)
                  else 'event ' || event_type || ' ' || props end as text
      from events
    )
    select conv_id, turn_idx,
           nullif(regexp_extract(text, '{pat}', 1), '') as p_tool,
           cast(nullif(regexp_extract(text, '{pat}', 2), '') as bigint) as p_dur_ms,
           nullif(regexp_extract(text, '{pat}', 3), '') as p_trace_hex,
           nullif(regexp_extract(text, '{pat}', 4), '') as p_span_hex
    from tr
    where nullif(regexp_extract(text, '{pat}', 1), '') is not null
    """


def _q_stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling: k docs per stratum (source), via the
    SAME library reservoir as the flagship — `sample_rows` partitions by
    any stratum column, not just time windows (training-data pipelines
    balance sources/languages exactly this way)."""
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.operators.reservoir import sample_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    got = sample_rows(
        docs, k=20, key_cols=["doc_id"], window_col="source",
        seed=SEED, priority="int", salt_buckets=8,
    )
    return got.select("source", F.col("doc_id").cast("long").alias("doc_id"), "prio_int")


def _oracle_stratified_doc_sample() -> str:
    d = DUCK
    return f"""
    with pri as (
      select source, doc_id,
             {d.pbig("source || ':' || cast(doc_id as varchar)")} as prio_int
      from documents
    )
    select source, doc_id, prio_int
    from (select *, row_number() over (
                 partition by source
                 order by prio_int desc, cast(doc_id as varchar) asc) as rn
          from pri)
    where rn <= 20
    """


def _q_flagship_via_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME flagship semantics executed through the resumable
    checkpoint path (plans/state.py: time-slice units -> durable partials
    -> finalize) — oracle-checked against the identical SQL as
    `flagship_pipeline`, proving the unit/merge algebra end-to-end on the
    driver tables, not just in pytest."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.config import PipelineConfig
    from trace_aware_reservoir_otel_spark.plans.state import run_with_checkpoint
    from trace_aware_reservoir_otel_spark.sources.tables import transcripts_from_events

    tr = transcripts_from_events(spark, sf_dir)
    cfg = PipelineConfig(
        size_k=K_TRACE,
        window_duration_s=DAY,
        seed=SEED,
        priority="int",
        hash_impl="md5",
        late_tolerance_s=10 * DAY,
        run_id="contract-ckpt",
    )
    work = tempfile.mkdtemp(prefix="taro_ckpt_contract_")
    try:
        run_with_checkpoint(
            spark, tr, cfg, f"{work}/state", f"{work}/out", n_units=3
        )
        from trace_aware_reservoir_otel_spark.plans.commit import read_committed

        routed = read_committed(spark, f"{work}/out/routed")
        out = routed.filter(F.col("sink") == "sampled_traces").select(
            "conv_id",
            "turn_idx",
            "window_start_s",
            "role",
            "tool",
            "role_kind",
            "p_tool",
            "p_dur_ms",
            F.unix_timestamp("ts").alias("ts_s"),
            "text",
        )
        # materialize before the temp dir disappears
        rows = out.collect()
        return local_frame(spark, rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_flagship_via_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME flagship semantics through Structured Streaming: the
    transcripts land as files, a foreachBatch availableNow stream
    accumulates batch_id-keyed state, and the rollover/flush export routes
    every window — oracle-checked against the identical SQL as
    `flagship_pipeline` (the reference's hot path IS streaming export,
    processor.go:317-347)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.config import PipelineConfig
    from trace_aware_reservoir_otel_spark.sources.tables import transcripts_from_events
    from trace_aware_reservoir_otel_spark.streaming.pipeline import (
        flush_incremental,
        read_exported,
        run_incremental_routed,
    )

    cfg = PipelineConfig(
        size_k=K_TRACE,
        window_duration_s=DAY,
        seed=SEED,
        priority="int",
        hash_impl="md5",
        late_tolerance_s=10 * DAY,
        run_id="contract-stream",
    )
    work = tempfile.mkdtemp(prefix="taro_stream_contract_")
    try:
        tr = transcripts_from_events(spark, sf_dir)
        # two event-time-ordered input files -> two micro-batches
        lo, hi = tr.agg(
            F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
        ).first()
        mid = (int(lo) + int(hi)) // 2
        sec = F.unix_timestamp("ts")
        tr.filter(sec < mid).write.mode("overwrite").parquet(f"{work}/in/f0")
        tr.filter(sec >= mid).write.mode("overwrite").parquet(f"{work}/in/f1")
        import glob
        import os

        files = sorted(glob.glob(f"{work}/in/f*/part-*.parquet"))
        os.makedirs(f"{work}/stream_in", exist_ok=True)
        for i, f in enumerate(files):
            shutil.copy(f, f"{work}/stream_in/{i:04d}.parquet")
        run_incremental_routed(
            spark,
            f"{work}/stream_in",
            cfg,
            f"{work}/state",
            f"{work}/ck",
            f"{work}/out",
            max_files_per_trigger=max(1, len(files) // 2),
        )
        flush_incremental(spark, cfg, f"{work}/state", f"{work}/out")
        # through the marks gate, as a consumer reads it
        routed = read_exported(spark, f"{work}/state", f"{work}/out")
        out = routed.filter(F.col("sink") == "sampled_traces").select(
            "conv_id",
            "turn_idx",
            "window_start_s",
            "role",
            "tool",
            "role_kind",
            "p_tool",
            "p_dur_ms",
            F.unix_timestamp("ts").alias("ts_s"),
            "text",
        )
        rows = out.collect()
        return local_frame(spark, rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _q_lib_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 via Spark's BUILT-IN session_window (the merging event-time
    session operator Catalyst plans natively — the batch analog of the
    trace buffer's inactivity gap, trace_buffer.go:144-185).

    Sessionized on second-truncated timestamps on BOTH sides: the driver
    events carry sub-second ts, and a gap straddling the 3600.0s boundary
    would otherwise split differently under the oracle's integer-second
    lag arithmetic."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts_sec", F.timestamp_seconds(F.unix_timestamp("ts"))
    )
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts_sec", f"{SESSION_GAP_S} seconds").alias("sw"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("sw.start").alias("session_start_s"),
            F.unix_timestamp("sw.end").alias("session_end_s"),
            "n_events",
        )
    )


def _oracle_lib_session_window() -> str:
    # session_window semantics: an event at exactly prev + gap starts a NEW
    # session (the window [t, t+gap) is half-open), hence `>= gap`
    return f"""
    with ordered as (
      select user_id, cast(floor(epoch(ts)) as bigint) as ts_s, ts, event_id,
             lag(cast(floor(epoch(ts)) as bigint)) over (
               partition by user_id order by ts, event_id) as prev_s
      from events
    ), marked as (
      select user_id, ts_s, ts, event_id,
             case when prev_s is null or ts_s - prev_s >= {SESSION_GAP_S}
                  then 1 else 0 end as new_sess
      from ordered
    ), sess as (
      select user_id, ts_s,
             sum(new_sess) over (
               partition by user_id order by ts, event_id
               rows between unbounded preceding and current row) as sess_id
      from marked
    )
    select user_id,
           cast(min(ts_s) as bigint) as session_start_s,
           cast(max(ts_s) + {SESSION_GAP_S} as bigint) as session_end_s,
           cast(count(*) as bigint) as n_events
    from sess
    group by user_id, sess_id
    """


def _q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas binary plumbing (decode stubbed — see multimodal.py).

    Oracle-checked: payload = utf-8(text), payload_hash = first 8 md5
    bytes >> 1, media_type = pbig(text) % 3 — all replayable in DuckDB, so
    the Arrow batch path's n_items/total_bytes/distinct_payloads are
    verified value-exactly, not just rows-only."""
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.operators.multimodal import (
        extract_features,
        media_stats,
        synthesize_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    media = synthesize_media(docs, portable=True, seed=SEED)
    return media_stats(extract_features(media))


def _oracle_multimodal_stats() -> str:
    # replay of synthesize_media(portable) + extract_features + media_stats:
    # payload bytes are the utf-8 text, so md5(payload) == md5(text) and
    # n_bytes == strlen(text); payload_hash = big-endian first 8 md5 bytes
    # with the sign bit shifted off (multimodal.py stable_hash)
    mt = (
        "case cast(cast('0x' || substr(md5('42:' || text), 1, 13) as bigint) % 3 as int)"
        " when 0 then 'image' when 1 then 'audio' else 'video' end"
    )
    ph = (
        "cast((cast(cast('0x' || substr(md5(text), 1, 8) as bigint) as hugeint)"
        " * 4294967296 + cast('0x' || substr(md5(text), 9, 8) as bigint)) >> 1"
        " as bigint)"
    )
    return f"""
    with media as (
      select {mt} as media_type,
             cast(strlen(text) as bigint) as n_bytes,
             {ph} as payload_hash
      from documents
      where text is not null
    )
    select media_type,
           cast(count(*) as bigint) as n_items,
           cast(sum(n_bytes) as bigint) as total_bytes,
           cast(count(distinct payload_hash) as bigint) as distinct_payloads
    from media
    group by media_type
    """


def _q_enrich_from_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension tables loaded from PARQUET FILES (the production lookup
    layout) through operators.enrich.load_dims — the joins stay explicit
    broadcasts (plan-asserted in tests/test_planshape.py), output
    identical to the inline-dim path."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.operators.enrich import (
        enrich,
        load_dims,
        write_dims,
    )
    from trace_aware_reservoir_otel_spark.sources.tables import transcripts_from_events

    work = tempfile.mkdtemp(prefix="taro_dims_contract_")
    try:
        write_dims(spark, work)
        dim_role, dim_tool = load_dims(spark, work)
        out = (
            enrich(transcripts_from_events(spark, sf_dir), dim_role, dim_tool)
            .groupBy("role_kind", "is_human")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        )
        rows = out.collect()
        return local_frame(spark, rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _oracle_enrich_from_files() -> str:
    # the dim files hold schema.DIM_ROLE_ROWS; roles present in the
    # events-derived transcripts are user/assistant/tool
    return """
    with tr as (
      select case when event_type in ('click', 'view') then 'user'
                  when event_type in ('purchase', 'signup') then 'assistant'
                  else 'tool' end as role
      from events
    )
    select case role when 'user' then 'human' when 'assistant' then 'model'
                     when 'system' then 'control' else 'machine' end as role_kind,
           (role = 'user') as is_human,
           cast(count(*) as bigint) as n_rows
    from tr
    group by 1, 2
    """


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data scrubbing: deterministic PII (emails / IPv4s / phone
    runs, varied per doc so zero-match paths are exercised) is planted
    into the documents' text identically on both sides, then redacted via
    functions.text.redact_pii (pure JVM regexp chain). The md5 of the
    redacted text is the strong check — one mis-redacted character flips
    the hash."""
    from pyspark.sql import functions as F

    from trace_aware_reservoir_otel_spark.functions.text import pii_counts, redact_pii
    from trace_aware_reservoir_otel_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" at 10.0."), (did % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" or +1 (415) 555-01"),
                F.lpad((did % 100).cast("string"), 2, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    base = docs.select("doc_id", planted.alias("t"))
    return pii_counts(base, "t").select(
        "doc_id",
        F.md5(redact_pii(F.col("t"))).alias("redacted_md5"),
        "n_email",
        "n_ipv4",
        "n_phone",
    )


def _oracle_pii_redaction() -> str:
    from trace_aware_reservoir_otel_spark.functions.text import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    return f"""
    with planted as (
      select doc_id,
             text || ' contact user' || cast(doc_id as varchar) || '@example.com'
             || case when doc_id % 2 = 0
                     then ' at 10.0.' || cast(doc_id % 256 as varchar) || '.7'
                     else '' end
             || case when doc_id % 3 = 0
                     then ' or +1 (415) 555-01' || lpad(cast(doc_id % 100 as varchar), 2, '0')
                     else '' end as t
      from documents
    )
    select doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{IPV4_RE}', '<IP>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g')) as redacted_md5,
           cast(len(regexp_extract_all(t, '{EMAIL_RE}')) as bigint) as n_email,
           cast(len(regexp_extract_all(t, '{IPV4_RE}')) as bigint) as n_ipv4,
           cast(len(regexp_extract_all(t, '{PHONE_RE}')) as bigint) as n_phone
    from planted
    """


def _q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep over documents — the composed
    pipeline a corpus actually goes through before a training run, each
    stage the real operator: quality/language gate (quality_features) →
    exact dedup with min-id survivor (window over the content hash — one
    shuffle keyed by md5(text), NO join, the 100-TB shape: survivor
    selection never materializes a survivor table to join back) → PII
    scrub (redact_pii). Output stats + redacted-text md5 (one mis-scrubbed
    character flips the row hash)."""
    from pyspark.sql import Window as W, functions as F

    from trace_aware_reservoir_otel_spark.functions.text import (
        quality_features,
        redact_pii,
    )
    from trace_aware_reservoir_otel_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    q = quality_features(docs)
    kept = q.filter(
        (F.col("n_tokens") >= 5) & (F.col("lang_pred") == "en_like")
    )
    wdup = W.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    surv = (
        kept.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return surv.select(
        "doc_id",
        F.md5(redact_pii(F.col("text"))).alias("redacted_md5"),
        "n_tokens",
        "n_tokens_bpe_ish",
    )


def _oracle_corpus_prep() -> str:
    from trace_aware_reservoir_otel_spark.functions.text import (
        BPE_ISH_RE,
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    nt = DUCK.ntokens("text")
    hits = DUCK.regexp_count("(' ' || text || ' ')", r"\b(the|a|of|and|to|in|is)\b")
    return f"""
    with q as (
      select doc_id, text,
             {nt} as n_tokens,
             cast({hits} as bigint) as sw_hits
      from documents
    ),
    kept as (
      select * from q
      where n_tokens >= 5 and sw_hits * 12 >= n_tokens
    ),
    surv as (
      select doc_id, text, n_tokens from (
        select *, row_number() over (
          partition by md5(text) order by doc_id) as rn
        from kept)
      where rn = 1
    )
    select doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{IPV4_RE}', '<IP>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g')) as redacted_md5,
           n_tokens,
           cast(len(regexp_extract_all(text, '{BPE_ISH_RE}')) as bigint)
             as n_tokens_bpe_ish
    from surv
    """


def _library_queries():
    return {
        "lib_reservoir_events": _q_lib_reservoir_events,
        "lib_trace_sample_events": _q_lib_trace_sample_events,
        "flagship_pipeline": _q_flagship,
        "parse_tool_calls_pandas_udf": _q_parse_pandas,
        "multimodal_media_stats": _q_multimodal_stats,
        "lib_session_window": _q_lib_session_window,
        "flagship_via_checkpoint": _q_flagship_via_checkpoint,
        "flagship_via_streaming": _q_flagship_via_streaming,
        "stratified_doc_sample": _q_stratified_doc_sample,
        "enrich_from_files": _q_enrich_from_files,
        "pii_redaction": _q_pii_redaction,
        "corpus_prep": _q_corpus_prep,
    }


def _library_oracles():
    return {
        "lib_reservoir_events": _oracle_lib_reservoir_events(),
        "lib_trace_sample_events": _oracle_lib_trace_sample_events(),
        "flagship_pipeline": _oracle_flagship(),
        "parse_tool_calls_pandas_udf": _oracle_parse_pandas(),
        "multimodal_media_stats": _oracle_multimodal_stats(),
        "lib_session_window": _oracle_lib_session_window(),
        # same oracle as flagship_pipeline: the checkpoint and streaming
        # paths must reproduce the uninterrupted plan exactly
        "flagship_via_checkpoint": _oracle_flagship(),
        "flagship_via_streaming": _oracle_flagship(),
        "stratified_doc_sample": _oracle_stratified_doc_sample(),
        "enrich_from_files": _oracle_enrich_from_files(),
        "pii_redaction": _oracle_pii_redaction(),
        "corpus_prep": _oracle_corpus_prep(),
    }
