"""Similarity search over embedding columns (array<float>).

Training-data-pipeline ops (no reference analog): brute-force cosine
top-k as the exact baseline, and a banded random-hyperplane LSH as the
scale path.

LSH scheme (mirrors the MinHash-LSH structure in operators/dedup.py):

 - `tables` independent hash tables, each with `bands` bands of
   `planes_per_band` random hyperplanes — seed-derived ±1 coefficient
   vectors (SRP / sign-random-projection, the standard cosine LSH);
 - a vector's bucket in (table, band) is the integer formed by the sign
   bits of its projections onto that band's planes;
 - candidate pairs share at least one (table, band, bucket); per-bucket
   membership is capped at `max_bucket` rows (skew guard: a degenerate
   bucket — e.g. all-zero embeddings — cannot go quadratic);
 - candidates are then verified with exact cosine.

Scale knobs: `planes_per_band` controls bucket granularity
(2^planes_per_band buckets per band — raise it as the corpus grows so
expected bucket size stays O(1..10^3)); `bands * tables` controls recall
(a true near-pair is missed only if every band of every table splits it).
At 10^9 vectors: planes_per_band=20 (~10^6 buckets/band), bands=4,
tables=2 keeps bucket-local self-joins bounded while multi-band/multi-
table OR-construction recovers the recall a single coarse bucketing loses.

Determinism / oracle portability: embedding components are quantized to
integers (floor(x * 10^6)) before projection, so the sign of a projection
is exact integer arithmetic — bit-identical in Spark (long fold) and
DuckDB (list_dot_product of values < 2^53 is exact in doubles). No float
summation-order hazard can flip a bucket. Coefficients derive from
md5(seed:table:band:plane:dim) — the same portable construction as
functions/hashing.pbig — computed driver-side and embedded as literals in
both plans.

Exact cosine sums products left to right from 0.0 (a sequential fold —
deterministic summation order, reproducible across partitionings),
unrolled per dimension (the fixed-dimension forms below).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, functions as F

QUANT = 1_000_000  # embedding quantization for exact-integer projections


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _quantized(col: Column) -> Column:
    return F.transform(col, lambda x: F.floor(x.cast("double") * QUANT).cast("long"))


# --- fixed-dimension unrolled forms ------------------------------------------
#
# A generic fold (F.zip_with + F.aggregate) is a higher-order function,
# which Spark evaluates INTERPRETED per element (no whole-stage codegen) —
# measured as the dominant cost of every pairwise-cosine operator. When the dimension is
# known (it always is: embedding corpora are fixed-width), the same
# arithmetic unrolls into a plain left-associated expression chain that
# codegen compiles: ((0.0 + a0*b0) + a1*b1) + ... is BIT-IDENTICAL to the
# fold's summation order (and a repr() double literal round-trips to the
# identical IEEE754 value through Spark's SQL parser), so results — and
# the DuckDB oracle match — are unchanged.
#
# The chains are built as ONE SQL string handed to F.expr, not as chained
# Column operators: each PySpark Column op is a py4j round-trip, and the
# operator form cost ~6s of pure DRIVER time per ivf_assign construction
# (16 centroids x 64 dims x ~4 calls). Callers pass column NAMES of
# pre-projected attributes, not expressions — the unrolled form references
# its input `dim` times.


def _dbl(x: float) -> str:
    return f"{float(x)!r}D"


def _dot_fixed_sql(a: str, b: str, dim: int) -> str:
    s = "0.0D"
    for i in range(dim):
        s = f"({s} + (`{a}`[{i}] * `{b}`[{i}]))"
    return s


def dot_fixed(a: str, b: str, dim: int) -> Column:
    return F.expr(_dot_fixed_sql(a, b, dim))


def _dot_const_sql(a: str, vec: "list[float]") -> str:
    s = "0.0D"
    for i, x in enumerate(vec):
        s = f"({s} + (`{a}`[{i}] * {_dbl(x)}))"
    return s


def dot_const(a: str, vec: "list[float]") -> Column:
    """Unrolled dot against a Python constant vector — the same left fold
    from 0.0 as `dot_fixed`."""
    return F.expr(_dot_const_sql(a, vec))


def _norm_fixed_sql(a: str, dim: int) -> str:
    s = "0.0D"
    for i in range(dim):
        s = f"({s} + (`{a}`[{i}] * `{a}`[{i}]))"
    return f"SQRT({s})"


def norm_fixed(a: str, dim: int) -> Column:
    return F.expr(_norm_fixed_sql(a, dim))


def _pin(col: Column) -> Column:
    """Pin an expensive expression in place (guide §4.4): the always-true
    rand() guard marks it non-deterministic, so the optimizer can neither
    push a consumer filter below it nor fold it into a join condition —
    without this, the exact round(sim) filter collapses into the
    BroadcastHashJoin condition NEXT TO the raw-margin prefilter, the
    generated join method carries the unrolled dot TWICE, outgrows what
    HotSpot will JIT, and the whole pair stage runs interpreted. The VALUE
    is bit-identical (the branch is always taken).

    rand() gets a FIXED seed: an analysis-time random seed would differ
    per plan instance, change the generated source, and miss the codegen
    class cache — every re-run would then pay JIT warm-up on a brand-new
    class (measured ~19s on the SemDeDup pair stage) instead of reusing
    the already-hot one."""
    return F.when(F.rand(42) < 2.0, col)


def _py_norm(vec: "list[float]") -> float:
    """Driver-side norm with the SAME op order as `norm_fixed` (0.0,
    then += x*x left to right, then sqrt) — IEEE754 doubles in Python and
    the JVM agree bit-for-bit, so embedding it as a literal is exact."""
    import math

    s = 0.0
    for x in vec:
        s += float(x) * float(x)
    return math.sqrt(s)


def cosine_topk(
    df: DataFrame,
    query_vec: "list[float]",
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: "int | None" = 6,
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to a constant query.

    Narrow scan + TakeOrderedAndProject — the exact baseline at any scale.
    Rounding the similarity (default 6 digits) before ranking makes the
    result robust to last-ulp float summation differences across engines
    (ties broken by id).

    Per-row math is the unrolled fixed-dim form (codegen, not interpreted
    HOF folds) with the query's norm precomputed driver-side — the same
    left-to-right summation order as the folds, so values are bit-
    identical (oracle rows unchanged)."""
    dim = len(query_vec)
    base = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("_v"))
    sim = dot_const("_v", query_vec) / (
        norm_fixed("_v", dim) * F.lit(_py_norm(query_vec))
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = base.select(F.col(id_col), sim.alias("sim"))
    return scored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


# --- seeded random-hyperplane LSH --------------------------------------------


def hyperplane_coefs(
    dim: int,
    tables: int = 2,
    bands: int = 4,
    planes_per_band: int = 8,
    seed: int = 42,
) -> "list[list[list[list[int]]]]":
    """±1 coefficients, coefs[t][b][p][d] — pure function of the seed.

    Derivation is the portable md5 scheme of functions/hashing.pbig
    (md5('{seed}:plane:{t}:{b}:{p}:{d}'), first 13 hex nibbles, parity),
    computed driver-side so Spark and the DuckDB oracle embed the SAME
    literal planes."""
    return [
        [
            [
                [
                    1
                    if int(
                        hashlib.md5(
                            f"{seed}:plane:{t}:{b}:{p}:{d}".encode()
                        ).hexdigest()[:13],
                        16,
                    )
                    % 2
                    == 0
                    else -1
                    for d in range(dim)
                ]
                for p in range(planes_per_band)
            ]
            for b in range(bands)
        ]
        for t in range(tables)
    ]


def _projection(qv: Column, coef: "list[int]") -> Column:
    """Exact-integer projection of the quantized vector onto a ±1 plane.

    Stays a fold (NOT the unrolled form): tables*bands*planes*dim unrolled
    terms explode generated code (measured: driver OOM compiling the
    16-bucket struct array at dim=64). The caller pre-projects the
    quantized vector instead, which removes the repeated per-projection
    quantization — same integer results."""
    plane = F.array(*[F.lit(c).cast("long") for c in coef])
    return F.aggregate(
        F.zip_with(qv, plane, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _bucket_expr(qv: Column, band_coefs: "list[list[int]]") -> Column:
    out = F.lit(0).cast("long")
    for i, coef in enumerate(band_coefs):
        bit = F.when(_projection(qv, coef) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        out = out + bit.cast("long")
    return out


def hyperplane_buckets(
    df: DataFrame,
    coefs: "list[list[list[list[int]]]]",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, tb, band, bucket) — one row per (table, band); narrow (no
    vector payload), so the bucket shuffle moves ids + 3 ints only.

    The quantized vector is materialized ONCE per row into an attribute
    column before the (heavily unrolled) bucket expressions reference it —
    without that projection each of the tables*bands*planes*dim references
    would re-expand the transform() subtree."""
    base = df.select(
        F.col(id_col), _quantized(F.col(vec_col)).alias("_q")
    )
    qv = F.col("_q")
    entries = []
    for t, table in enumerate(coefs):
        for b, band in enumerate(table):
            entries.append(
                F.struct(
                    F.lit(t).alias("tb"),
                    F.lit(b).alias("band"),
                    _bucket_expr(qv, band).alias("bucket"),
                )
            )
    return base.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("e")
    ).select(id_col, "e.tb", "e.band", "e.bucket")


def query_buckets(
    query_vec: "list[float]", coefs: "list[list[list[list[int]]]]"
) -> "list[tuple[int, int, int]]":
    """Driver-side bucket ids for a constant query vector — the same exact
    integer math as `hyperplane_buckets` (floor-quantize then ±1 dot)."""
    import math

    q = [math.floor(float(x) * QUANT) for x in query_vec]
    out = []
    for t, table in enumerate(coefs):
        for b, band in enumerate(table):
            bucket = 0
            for i, coef in enumerate(band):
                if sum(c * x for c, x in zip(coef, q)) >= 0:
                    bucket |= 1 << i
            out.append((t, b, bucket))
    return out


def ann_topk_lsh(
    df: DataFrame,
    query_vec: "list[float]",
    k: int = 10,
    tables: int = 2,
    bands: int = 4,
    planes_per_band: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: "int | None" = 6,
) -> DataFrame:
    """Approximate top-k: exact cosine over only the vectors sharing at
    least one (table, band, bucket) with the query — a multi-probe OR over
    tables*bands buckets, so recall does not collapse as planes_per_band
    grows (the round-1 single-table 16-bucket ceiling is gone)."""
    coefs = hyperplane_coefs(len(query_vec), tables, bands, planes_per_band, seed)
    qb = set(query_buckets(query_vec, coefs))
    buckets = hyperplane_buckets(df, coefs, vec_col, id_col)
    match = buckets.filter(
        F.struct("tb", "band", "bucket").isin(
            [
                F.struct(F.lit(t), F.lit(b), F.lit(v).cast("long"))
                for (t, b, v) in sorted(qb)
            ]
        )
    )
    cand_ids = match.select(id_col).distinct()
    cand = df.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
    return cosine_topk(cand, query_vec, k, vec_col, id_col, round_digits)


def embedding_near_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    tables: int = 2,
    bands: int = 4,
    planes_per_band: int = 8,
    seed: int = 42,
    max_bucket: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: "int | None" = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded SRP-LSH.

    Plan shape at scale: the bucket frame is narrow (id + 3 ints); the
    bucket-local self-join is capped at `max_bucket`; candidate pairs are
    verified with exact cosine by joining vectors back (the corpus
    shuffles once on id, never pairwise). Identical vectors share every
    bucket, so exact-duplicate recall is 1.0 by construction; near-pair
    recall is the OR over tables*bands band-collisions."""
    from trace_aware_reservoir_otel_spark.operators.dedup import scale_out

    dim = _dim_of(df, vec_col)
    df = scale_out(df)  # bucket projections amplify CPU ~10^3x per byte
    coefs = hyperplane_coefs(dim, tables, bands, planes_per_band, seed)
    buckets = hyperplane_buckets(df, coefs, vec_col, id_col)
    from pyspark.sql import Window as W

    wb = W.partitionBy("tb", "band", "bucket").orderBy(id_col)
    capped = (
        buckets.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )
    # self-join consumes `capped` twice — materialize the bucket rows once
    # (the full quantize+project pipeline would otherwise run per side)
    capped = capped.localCheckpoint(eager=False)
    a = capped.select("tb", "band", "bucket", F.col(id_col).alias("id_a"))
    b = capped.select("tb", "band", "bucket", F.col(id_col).alias("id_b"))
    pairs = (
        a.join(b, on=["tb", "band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # per-side norms precomputed once per row; the per-pair work is one
    # unrolled dot — same values bit-for-bit as the fold-per-pair form
    va = df.select(
        F.col(id_col).alias("id_a"), _to_double(F.col(vec_col)).alias("_va")
    ).withColumn("_na", norm_fixed("_va", dim))
    vb = df.select(
        F.col(id_col).alias("id_b"), _to_double(F.col(vec_col)).alias("_vb")
    ).withColumn("_nb", norm_fixed("_vb", dim))
    raw = dot_fixed("_va", "_vb", dim) / (F.col("_na") * F.col("_nb"))
    sim = F.round(raw, round_digits) if round_digits is not None else raw
    joined = pairs.join(va, on="id_a").join(vb, on="id_b")
    if round_digits is not None:
        # sound raw prefilter before the per-pair BigDecimal round — see
        # semdedup_pairs; same rows out, bit-identical sims
        joined = joined.filter(
            raw >= F.lit(threshold - 2.0 * 10.0 ** (-round_digits))
        )
    return joined.select("id_a", "id_b", _pin(sim).alias("sim")).filter(
        F.col("sim") >= threshold
    )


def _dim_of(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        return 0
    return int(row["d"])


# --- IVF (inverted-file) ANN --------------------------------------------------


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic centroid selection: the `n_centroids` vectors with the
    smallest portable priority pbig(seed, 'ivf:'||id) — i.e. a seeded
    uniform sample of the corpus as centroid seeds (the standard k-means++
    -free IVF bootstrap; one Lloyd iteration away from k-means, and fully
    oracle-portable because no float iteration is involved)."""
    from trace_aware_reservoir_otel_spark.functions.hashing import pbig

    pri = pbig(F.concat(F.lit("ivf:"), F.col(id_col).cast("string")), seed)
    return (
        df.select(
            F.col(id_col).alias("centroid_id"),
            _to_double(F.col(vec_col)).alias("centroid_vec"),
            pri.alias("_pri"),
        )
        .orderBy("_pri", "centroid_id")
        .limit(n_centroids)
        .drop("_pri")
    )


def ivf_assign(
    df: DataFrame,
    centroids: "DataFrame | list",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
    keep_vec: bool = False,
) -> DataFrame:
    """(id, centroid_id, sim): each vector's nearest centroid by cosine
    (rounded, ties to the smaller centroid id — deterministic and
    engine-portable).

    Plan shape: ZERO row inflation. The centroid table (bounded by
    n_centroids) is collected driver-side and embedded as per-centroid
    (sim, id) struct expressions; the argmax is ONE projection — an
    `F.aggregate` fold over the struct array carrying (best_sim, best_id)
    — entirely inside whole-stage codegen. No join, no explode, no
    groupBy, no shuffle: cost is O(rows * n_centroids) multiply-adds with
    no aggregation machinery (the round-2 shape was broadcast-crossJoin +
    groupBy argmax, which materialized a rows x n_centroids intermediate
    through the full aggregation path).

    Expression size grows as n_centroids * dim literals; the fold is
    chunked (256 structs per array literal, each chunk seeded with the
    previous winner — same algebra, max is associative) so codegen'd
    expressions stay bounded at any n_centroids. `centroids` may be the
    `ivf_centroids`
    DataFrame or its collected rows; the output centroid_id type follows
    the centroid schema (inferred from the row values when pre-collected), so
    non-long ids (e.g. string doc ids) work.
    """
    if isinstance(centroids, DataFrame):
        id_type = centroids.schema["centroid_id"].dataType
        cent_rows = [
            (r["centroid_id"], list(r["centroid_vec"])) for r in centroids.collect()
        ]
    else:
        cent_rows = [(r["centroid_id"], list(r["centroid_vec"])) for r in centroids]
        # carry the centroid id's OWN type (inferred from the Python value)
        # rather than borrowing df's id_col type: with string doc ids a
        # borrowed string type would make the argmax tie-break lexicographic
        # ('10' < '2'), diverging from the numeric DataFrame-path/oracle rule
        from pyspark.sql import types as T

        first = cent_rows[0][0] if cent_rows else None
        if isinstance(first, bool) or first is None:
            id_type = df.schema[id_col].dataType
        elif isinstance(first, int):
            id_type = T.LongType()
        elif isinstance(first, float):
            id_type = T.DoubleType()
        else:
            id_type = T.StringType()
    if not cent_rows:
        return df.select(
            F.col(id_col),
            F.lit(None).cast(id_type).alias("centroid_id"),
            F.lit(None).cast("double").alias("sim"),
            *([_to_double(F.col(vec_col)).alias("_vec")] if keep_vec else []),
        ).limit(0)

    # _py_norm literal: same op order as the `norm` fold, bit-identical.
    # Per-row math is the unrolled fixed-dim form (dot_const/norm_fixed),
    # and the argmax is array_min over (ns, centroid_id, sim) structs —
    # NO higher-order function anywhere, so the whole projection is
    # whole-stage-codegen (the former F.aggregate fold was a
    # CodegenFallback evaluated interpreted per row — measured 3.4x slower
    # on the contract ivf_assign query).
    #
    # Equivalence with the fold's pick rule (max sim, ties -> smallest
    # centroid_id, NaN sims never win, all-NaN/empty -> (null, -2.0)):
    #  - ns = -(sim + 0.0): +0.0 normalizes -0.0 so the ORDERING ties
    #    exactly where the fold's primitive == did (Double.compare would
    #    otherwise order -0.0 < 0.0); the struct's third field keeps the
    #    ORIGINAL rounded sim bits for output. NaN ns sorts greatest
    #    (Spark total order), so NaN sims lose to any real sim.
    #  - the sentinel (ns=2.0 > any -sim, cid=null, sim=-2.0) wins only
    #    when every centroid sim is NaN — the fold's untouched-accumulator
    #    case, same output.
    dim = len(cent_rows[0][1])
    scored = df.select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("_v")
    ).withColumn("_vn", norm_fixed("_v", dim))
    # stage 1: each centroid's rounded sim as its own column — every sim
    # expression appears in the plan EXACTLY ONCE (the former shape
    # embedded them inside the argmax structure, where multi-reference of
    # the result re-expanded them and planning/eval cost blew up)
    sim_cols = [
        F.expr(
            f"round(({_dot_const_sql('_v', vec)}) / "
            f"(`_vn` * {_dbl(_py_norm(vec))}), {int(round_digits)})"
        ).alias(f"_s{i}")
        for i, (_cid, vec) in enumerate(cent_rows)
    ]
    wide = scored.select(
        F.col(id_col),
        *([F.col("_v")] if keep_vec else []),
        *sim_cols,
    )
    # stage 2: argmin over (ns, centroid_id, sim) structs built from the
    # CHEAP attribute refs of stage 1
    entries = [
        F.struct(
            (-(F.col(f"_s{i}") + F.lit(0.0))).alias("ns"),
            F.lit(cid).cast(id_type).alias("centroid_id"),
            F.col(f"_s{i}").alias("sim"),
        )
        for i, (cid, _vec) in enumerate(cent_rows)
    ]
    sentinel = F.struct(
        F.lit(2.0).alias("ns"),
        F.lit(None).cast(id_type).alias("centroid_id"),
        F.lit(-2.0).alias("sim"),
    )
    # chunked min-of-mins (min is associative): one array literal never
    # exceeds ~256 structs, so expression size stays bounded at any
    # n_centroids
    chunk = 256
    mins = [
        F.array_min(F.array(*entries[i : i + chunk]))
        for i in range(0, len(entries), chunk)
    ]
    picked = wide.select(
        F.col(id_col),
        F.array_min(F.array(sentinel, *mins)).alias("_b"),
        *([F.col("_v").alias("_vec")] if keep_vec else []),
    )
    return picked.select(
        F.col(id_col),
        F.col("_b")["centroid_id"].alias("centroid_id"),
        F.col("_b")["sim"].alias("sim"),
        *([F.col("_vec")] if keep_vec else []),
    )


def corpus_fingerprint(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> "dict[str, int]":
    """Cheap content fingerprint of an embedding corpus: row count plus an
    order-insensitive bit_xor of xxhash64(id, vector). One narrow scan;
    any regeneration of the corpus (ids OR vector values) changes it.
    Used to detect a stale materialized IVF index (round-4 verdict #2)."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.expr(f"bit_xor(xxhash64({id_col}, {vec_col}))").alias("xor"),
    ).first()
    return {"rows": int(row["rows"]), "xor": int(row["xor"] or 0)}


_FINGERPRINT_FILE = "_FINGERPRINT"

# index dirs whose stored fingerprint was checked against the live corpus
# in THIS process — validation is one narrow corpus scan, paid once per
# process per index rather than per query (the index exists to amortize
# corpus passes, so per-query validation would defeat it)
_IVF_VALIDATED: "set[str]" = set()


def ivf_index(
    df: DataFrame,
    index_dir: str,
    n_centroids: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> "dict[str, int]":
    """Materialize the inverted file: ONE assignment pass over the corpus,
    committed as two snapshot tables (plans/commit.py — readers never see
    a half-written index, rebuilds swap in atomically):

      {index_dir}/centroids  (centroid_id, centroid_vec)
      {index_dir}/assign     (id, centroid_id, sim), PARTITIONED BY
                             centroid_id — a probe of `nprobe` cells is
                             partition pruning, reading nprobe/n_centroids
                             of the index and none of the corpus.

    This is what makes IVF an index: assignment cost (O(rows*C*dim)) is
    paid once at build and amortized across every subsequent query,
    instead of per query (the round-3 shape this replaces). Returns the
    committed version numbers."""
    from trace_aware_reservoir_otel_spark.plans import commit

    from trace_aware_reservoir_otel_spark import fsutil

    cents = ivf_centroids(df, n_centroids, seed, vec_col, id_col)
    v_cent = commit.commit_write(cents, f"{index_dir}/centroids")
    assigned = ivf_assign(df, cents, vec_col, id_col, round_digits)
    v_assign = commit.commit_write(
        assigned, f"{index_dir}/assign", partition_by=["centroid_id"]
    )
    # record what corpus+knobs this index was built from, so probes can
    # detect a regenerated corpus and rebuild instead of silently serving
    # stale candidates. Written AFTER the snapshot commits: a crash in
    # between leaves no/old fingerprint, and the mismatch path rebuilds —
    # fail-safe in the correct direction.
    fp = corpus_fingerprint(df, vec_col, id_col)
    fp.update({"n_centroids": n_centroids, "seed": seed})
    fsutil.write_jsonl_atomic(os.path.join(index_dir, _FINGERPRINT_FILE), [fp])
    _IVF_VALIDATED.add(index_dir)
    return {"centroids": v_cent, "assign": v_assign}


def ivf_probe_ids(
    spark,
    index_dir: str,
    query_vec: "list[float]",
    nprobe: int = 4,
    round_digits: int = 6,
) -> list:
    """The query's `nprobe` nearest centroid ids — driver-side math over
    the committed centroid table (bounded by n_centroids; ties to the
    smaller centroid id, same rule as the assignment argmax)."""
    import math

    from trace_aware_reservoir_otel_spark.plans import commit

    cents = commit.read_committed(spark, f"{index_dir}/centroids").collect()
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))

    def cos_to_query(vec):
        d = sum(float(a) * float(b) for a, b in zip(vec, query_vec))
        n = math.sqrt(sum(float(a) * float(a) for a in vec))
        return round(d / (n * qn), round_digits)

    probed = sorted(
        ((-cos_to_query(list(r["centroid_vec"])), r["centroid_id"]) for r in cents)
    )[:nprobe]
    return [cid for _, cid in probed]


def ann_topk_ivf_indexed(
    spark,
    df: DataFrame,
    index_dir: str,
    query_vec: "list[float]",
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: "int | None" = 6,
    broadcast_cap: int = 1_000_000,
) -> DataFrame:
    """IVF top-k against a materialized index (`ivf_index`): rank the
    probed cells' members only. The assign read carries a partition filter
    (centroid_id IN probes), so the scan touches nprobe cells of the
    index — never the full assignment, never a full corpus pass; the
    corpus itself is touched only by the semi-join on the candidate ids.

    The candidate-id side is broadcast ONLY when its size is known to be
    small: probed-cell row counts come from a partition-pruned count (cheap
    — nprobe cells), and above `broadcast_cap` ids the hint is dropped so
    a skewed centroid cell (real embedding distributions have them) falls
    back to a shuffle/AQE-chosen semi-join instead of forcing an oversized
    broadcast (round-4 verdict #3)."""
    from trace_aware_reservoir_otel_spark.plans import commit

    probe_ids = ivf_probe_ids(spark, index_dir, query_vec, nprobe, round_digits or 6)
    assign = commit.read_committed(spark, f"{index_dir}/assign")
    cand_ids = assign.filter(F.col("centroid_id").isin(probe_ids)).select(id_col)
    n_cand = cand_ids.count()  # partition-pruned: touches nprobe cells only
    join_side = F.broadcast(cand_ids) if n_cand <= broadcast_cap else cand_ids
    cand = df.join(join_side, on=id_col, how="left_semi")
    return cosine_topk(cand, query_vec, k, vec_col, id_col, round_digits)


def ann_topk_ivf(
    df: DataFrame,
    query_vec: "list[float]",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: "int | None" = 6,
    index_dir: "str | None" = None,
    validate_index: bool = True,
) -> DataFrame:
    """IVF approximate top-k: probe the query's `nprobe` nearest centroid
    cells, exact-rank only their members — the classic inverted-file scale
    path (candidates ~ nprobe/n_centroids of the corpus). Raise
    `n_centroids` with corpus size so cells stay O(corpus/n_centroids);
    `nprobe` is the recall knob.

    With `index_dir` set, probes the materialized index (building it
    first if absent) — assignment is amortized across queries, which is
    the only regime where IVF beats the brute-force scan. Without it,
    falls back to assigning the corpus inline (one-shot/ad-hoc use).

    `validate_index` guards against a silently stale index: the first use
    of an index_dir in a process compares the index's stored corpus
    fingerprint (row count + xxhash xor, `corpus_fingerprint`) and build
    knobs against the live df and rebuilds on any mismatch — a corpus
    regenerated at the same path can never serve wrong candidates. The
    check is one narrow scan, paid once per process per index."""
    import math

    if index_dir is not None:
        from trace_aware_reservoir_otel_spark import fsutil
        from trace_aware_reservoir_otel_spark.plans import commit

        if commit.current_version(f"{index_dir}/assign") is None:
            ivf_index(
                df, index_dir, n_centroids, seed, vec_col, id_col, round_digits or 6
            )
        elif validate_index and index_dir not in _IVF_VALIDATED:
            stored = fsutil.read_jsonl(os.path.join(index_dir, _FINGERPRINT_FILE))
            want = corpus_fingerprint(df, vec_col, id_col)
            want.update({"n_centroids": n_centroids, "seed": seed})
            got = {k: stored[-1].get(k) for k in want} if stored else None
            if got != want:
                ivf_index(
                    df, index_dir, n_centroids, seed, vec_col, id_col,
                    round_digits or 6,
                )
            _IVF_VALIDATED.add(index_dir)
        return ann_topk_ivf_indexed(
            df.sparkSession, df, index_dir, query_vec, k, nprobe,
            vec_col, id_col, round_digits,
        )

    cents = ivf_centroids(df, n_centroids, seed, vec_col, id_col).collect()
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))

    def cos_to_query(vec):
        d = sum(float(a) * float(b) for a, b in zip(vec, query_vec))
        n = math.sqrt(sum(float(a) * float(a) for a in vec))
        return round(d / (n * qn), round_digits or 6)

    probed = sorted(
        ((-cos_to_query(r["centroid_vec"]), r["centroid_id"]) for r in cents)
    )[:nprobe]
    probe_ids = [cid for _, cid in probed]
    # pass the already-collected rows straight through — ivf_assign embeds
    # them as literals, and the id type is inferred from the row values
    assigned = ivf_assign(df, cents, vec_col, id_col, round_digits or 6)
    cand_ids = assigned.filter(F.col("centroid_id").isin(probe_ids)).select(id_col)
    # no broadcast hint: the candidate set is data-proportional (a skewed
    # cell can own most of the corpus) and counting it here would run the
    # inline assignment twice — let AQE size the semi-join at runtime
    cand = df.join(cand_ids, on=id_col, how="left_semi")
    return cosine_topk(cand, query_vec, k, vec_col, id_col, round_digits)


_SEMDEDUP_REFS = 4  # reference directions for the angle-band prefilter


def _ref_dirs(dim: int, n: int, seed: int = 42) -> "list[list[float]]":
    """Deterministic ±1 reference directions for the angle-band prefilter
    (md5-derived like hyperplane_coefs; pure function of the seed). These
    only gate which pairs reach the exact cosine — any choice is sound —
    so determinism is for plan stability, not results."""
    return [
        [
            1.0
            if int(
                hashlib.md5(f"{seed}:semref:{j}:{d}".encode()).hexdigest()[:13],
                16,
            )
            % 2
            == 0
            else -1.0
            for d in range(dim)
        ]
        for j in range(n)
    ]


def semdedup_pairs(
    df: DataFrame,
    centroids: "DataFrame | list",
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell: "int | None" = None,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    semantic near-duplicates found by exact pairwise cosine WITHIN each
    k-means cell only — the cluster assignment is the blocking key that
    makes semantic dedup tractable (never all-pairs across the corpus).

    Returns (id_a, id_b, sim) with id_a < id_b and sim >= threshold.

    Shape at scale: one assignment projection (ivf_assign — no join, no
    shuffle, vectors carried through via keep_vec), then ONE shuffle on
    centroid_id for the within-cell self-join. Pair work is sum over
    cells of |cell|^2, which the centroid count controls (SemDeDup's own
    knob); `max_cell` additionally caps any degenerate cell by keeping
    its smallest-id members only (row_number, spill-safe sort window) so
    an adversarial cell cannot produce a quadratic blowup.

    Per-task shape: the corpus is scaled out to full parallelism BEFORE
    assignment (the within-cell join is broadcast-built, so the pair
    evaluation's parallelism equals the probe side's partition count — a
    byte-packed 1-2 partition scan would run the whole Σ|cell|² pair work
    on 1-2 cores); per-side norms are computed once per ROW so the
    per-pair work is one unrolled dot + one multiply — same values
    bit-for-bit as the fold-per-pair form."""
    from trace_aware_reservoir_otel_spark.operators.dedup import scale_out

    dim = _dim_of(df, vec_col)
    a = ivf_assign(
        scale_out(df), centroids, vec_col, id_col, round_digits, keep_vec=True
    )
    a = a.select(id_col, "centroid_id", "sim", "_vec")
    if max_cell is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("centroid_id").orderBy(F.col(id_col).asc())
        a = (
            a.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_cell)
            .drop("_rn")
        )
    # Per-row precomputes: the vector norm, plus ANGLE-BAND coordinates
    # against `_SEMDEDUP_REFS` deterministic reference directions (and the
    # cell centroid, whose rounded sim the assignment already computed).
    # For ANY reference r, angle(a,b) >= |θ(a,r) - θ(b,r)| (spherical
    # triangle inequality), so cos(a,b) <= c_a*c_b + s_a*s_b computed per
    # reference — a pair that misses the threshold band on ANY reference
    # (with 0.005 slack covering the 1e-6 rounding of the centroid sim and
    # the sin's error amplification near c=1) provably cannot pass the
    # exact filter. Each extra reference multiplies selectivity (the
    # centroid band alone is useless when a cell's members all sit at the
    # same angle to the centroid — measured 94% pass rate at sf1.0), so
    # the O(Σ|cell|²) join evaluates a handful of flops per pair and the
    # full-dimension dot runs on the surviving sliver only. No false
    # negatives; same rows out, bit-identical sims.
    a = a.withColumn("_n", norm_fixed("_vec", dim)).withColumn(
        "_s",
        F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("sim") * F.col("sim"))),
    )
    refs = _ref_dirs(dim, _SEMDEDUP_REFS)
    for j, rv in enumerate(refs):
        c = dot_const("_vec", rv) / (F.col("_n") * F.lit(_py_norm(rv)))
        a = a.withColumn(f"_rc{j}", c).withColumn(
            f"_rs{j}",
            F.sqrt(
                F.greatest(
                    F.lit(0.0), F.lit(1.0) - F.col(f"_rc{j}") * F.col(f"_rc{j}")
                )
            ),
        )
    # both join sides derive from `a` — materialize the assignment once
    # (the argmax projection would otherwise run per side)
    a = a.localCheckpoint(eager=False)
    band_cols = [("sim", "_s")] + [(f"_rc{j}", f"_rs{j}") for j in range(len(refs))]

    def side(idn, suffix):
        cols = [
            F.col(id_col).alias(idn),
            F.col("centroid_id").alias("_cid"),
            F.col("_vec").alias(f"_v{suffix}"),
            F.col("_n").alias(f"_n{suffix}"),
        ]
        for k, (ccol, scol) in enumerate(band_cols):
            cols += [
                F.col(ccol).alias(f"_c{k}{suffix}"),
                F.col(scol).alias(f"_s{k}{suffix}"),
            ]
        return a.select(*cols)

    left, right = side("id_a", "a"), side("id_b", "b")
    slack = F.lit(threshold - 0.005)
    band_ok = None
    for k in range(len(band_cols)):
        ok = (
            F.col(f"_c{k}a") * F.col(f"_c{k}b")
            + F.col(f"_s{k}a") * F.col(f"_s{k}b")
        ) >= slack
        band_ok = ok if band_ok is None else (band_ok & ok)
    # (An interpreted-fold dot here was measured WORSE than the unrolled
    # codegen form despite the latter's per-fresh-plan compile cost —
    # both variants recorded in OPTIMIZATION_r06.md.)
    raw = dot_fixed("_va", "_vb", dim) / (F.col("_na") * F.col("_nb"))
    # the exact math runs only on band survivors, and in two further
    # stages: the raw dot (pinned out of the join via _pin so it cannot
    # fold into the join condition and bloat the generated join method)
    # against threshold - 0.5*10^-d (round(x,d) >= T implies x >= T-5e-7),
    # then the exact BigDecimal round — which was the dominant per-pair
    # cost when it ran for every pair — on near-threshold survivors only.
    margin = threshold - 2.0 * 10.0 ** (-round_digits)
    return (
        left.join(right, "_cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(band_ok)
        .withColumn("_raw", _pin(raw))
        .filter(F.col("_raw") >= F.lit(margin))
        .withColumn("sim", F.round(F.col("_raw"), round_digits))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def semdedup_survivors(
    df: DataFrame,
    centroids: "DataFrame | list",
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell: "int | None" = None,
) -> DataFrame:
    """The SemDeDup-deduplicated corpus: within-cell cosine pairs above
    `threshold` → connected components → keep each cluster's smallest-id
    member. Composes semdedup_pairs with the same CC + broadcast
    anti-join survivor path the text dedup family uses
    (operators.dedup.dedup_survivors) — the corpus itself never
    shuffles."""
    from trace_aware_reservoir_otel_spark.operators.dedup import dedup_survivors

    pairs = semdedup_pairs(df, centroids, threshold, vec_col, id_col, max_cell)
    return dedup_survivors(df, pairs, id_col=id_col, src="id_a", dst="id_b")


def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    centroids: "DataFrame | list",
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Semantic train/test decontamination: flag TRAIN vectors whose
    embedding is within `threshold` cosine of ANY benchmark vector
    assigned to the same k-means cell — the embedding-space analog of the
    n-gram `operators.dedup.decontaminate` (paraphrased benchmark leaks
    share no 5-gram but do sit next to the original in embedding space),
    with the SemDeDup cell assignment as the blocking key. Both sets are
    assigned against the SAME centroids, so an exact copy always lands in
    its original's cell.

    Returns contaminated train vectors only:
    (id_col, n_contaminated_by, max_sim).

    Shape at 100 TB: the benchmark set is FIXED SIZE (eval suites don't
    grow with the corpus), so its assigned+carried-vector side is
    broadcast; the train corpus is touched by ONE assignment projection
    (ivf_assign's chunked literal-fold argmax — no join, no shuffle) +
    one broadcast join; only the flagged pairs (O(benchmark leaks), not
    O(corpus)) reach the final groupBy."""
    from trace_aware_reservoir_otel_spark.operators.dedup import scale_out

    dim = _dim_of(train, vec_col)
    # scale the train side out BEFORE assignment: the broadcast join's
    # parallelism equals the probe side's partition count, and per-side
    # norms are computed once per row (per-pair work = one unrolled dot) —
    # same values bit-for-bit as the fold-per-pair form
    ta = ivf_assign(
        scale_out(train), centroids, vec_col, id_col, round_digits, keep_vec=True
    ).select(id_col, "centroid_id", "_vec")
    # materialization barrier: single-use alias collapsing would otherwise
    # cascade the whole assignment argmax INTO the downstream norm/sim/
    # filter expressions (measured: the composed plan re-expanded the
    # centroid fold per reference — 8.8s -> 230s at sf1.0 before this)
    ta = ta.localCheckpoint(eager=False).withColumn(
        "_nt", norm_fixed("_vec", dim)
    )
    ba = ivf_assign(
        bench, centroids, vec_col, id_col, round_digits, keep_vec=True
    ).select(
        F.col("centroid_id").alias("_cid"),
        F.col("_vec").alias("_vb"),
    ).withColumn("_nb", norm_fixed("_vb", dim))
    # materialize the (fixed-size) benchmark side once: the broadcast
    # build otherwise re-executes its assignment subplan per action
    ba = ba.localCheckpoint(eager=False)
    raw = dot_fixed("_vec", "_vb", dim) / (F.col("_nt") * F.col("_nb"))
    sim = F.round(raw, round_digits)
    hits = (
        ta.join(F.broadcast(ba), ta["centroid_id"] == ba["_cid"])
        # sound raw prefilter before the per-pair BigDecimal round — see
        # semdedup_pairs; same rows out, bit-identical sims
        .filter(raw >= F.lit(threshold - 2.0 * 10.0 ** (-round_digits)))
        .withColumn("sim", _pin(sim))
        .filter(F.col("sim") >= threshold)
    )
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_contaminated_by"),
        F.max("sim").alias("max_sim"),
    )


def ivf_cell_stats(
    df: DataFrame,
    centroids: "DataFrame | list",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Cell-balance diagnostics for IVF / SemDeDup tuning: per k-means
    cell, the member count and the distribution of similarity-to-centroid.
    Skewed cells are THE scale hazard for both ANN probe cost (a probed
    hot cell reads a huge partition) and SemDeDup pair work (sum of
    |cell|^2) — this is the query an operator runs before picking
    n_centroids / max_cell / broadcast_cap.

    Returns (centroid_id, n_members, sum_sim_micro, min_sim, max_sim) —
    the mean arrives as an exact integer micro-unit sum (sum of
    round(sim*1e6) longs) because a float avg is summation-order-
    dependent across engines; min/max of already-rounded sims are exact.

    Shape: one assignment projection (no join, no shuffle) + ONE
    map-side-combined groupBy at centroid grain (n_centroids rows out)."""
    a = ivf_assign(df, centroids, vec_col, id_col, round_digits)
    return a.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.round(F.col("sim") * 1000000).cast("long"))
        .cast("long")
        .alias("sum_sim_micro"),
        F.min("sim").alias("min_sim"),
        F.max("sim").alias("max_sim"),
    )
