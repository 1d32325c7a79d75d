"""Deduplication operators for large-scale training-data pipelines.

No analog in the reference (its dedup is the reservoir's by-key upsert,
reservoir.go:137); these are the standard corpus-dedup family, built
Spark-first:

 - exact_dedup          : content-hash groupBy, survivor = min id.
 - shingles             : word n-gram sets (the common unit for Jaccard).
 - minhash_signatures   : H deterministic min-hashes per doc — one
   explode + single groupBy with H conditional mins (no H passes).
 - lsh_candidate_pairs  : banding -> bucket join -> candidate pairs;
   the scalable near-dup path (pairs only within buckets, never all-pairs).
 - ngram_jaccard_pairs  : exact Jaccard via shingle equi-join (verifier
   for LSH candidates, or standalone for small candidate sets).
 - simhash              : 52-bit charge-accumulation fingerprint;
   near-dups = small hamming distance.

Determinism: every hash is the portable md5-based ``pbig`` when
``portable=True`` (DuckDB-oracle-checkable) or JVM ``xxhash64`` when False
(fastest; default for production use).

Scale notes: shingle explode multiplies rows by ~tokens/doc — all
downstream aggregations are partial-agg'd per doc before any shuffle;
bucket joins shuffle only (band_hash, doc_id) pairs; `max_bucket` caps
degenerate buckets (e.g. empty-text collisions) exactly like production
LSH dedup pipelines drop mega-buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from trace_aware_reservoir_otel_spark.functions.hashing import pbig
from trace_aware_reservoir_otel_spark.session import local_frame


def _hash64(col: Column, salt: str, portable: bool, seed: int) -> Column:
    if portable:
        return pbig(F.concat(F.lit(f"{salt}:"), col), seed)
    # xxhash64 silently skips NULL inputs (hashing just the salt); null
    # must propagate so shingle-less docs get NULL signatures
    return F.when(col.isNull(), F.lit(None).cast("long")).otherwise(
        F.xxhash64(F.lit(f"{seed}:{salt}"), col)
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Survivor (min id) per distinct content + duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_h"))
        .agg(
            F.min(id_col).cast("long").alias(f"survivor_{id_col}"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


def tokens_col(text_col: str = "text") -> Column:
    t = F.trim(F.col(text_col))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def scale_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism —
    ONLY when the input has fewer partitions than cores.

    Why: CPU-amplifying operators (shingle explode + per-shingle hashing
    multiply work ~50x per input byte) are often fed by a byte-packed
    parquet scan that maxPartitionBytes splits into just 1-2 partitions,
    so the whole pipeline runs on 2 of N cores (measured at sf0.1:
    minhash_lsh_pairs 6.1s -> 1.8s from exactly this). At real scale the
    scan already exceeds the core count and this is a no-op — the guard
    makes it safe to leave in the operator unconditionally."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def with_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", out_col: str = "shingles"
) -> DataFrame:
    """Distinct word n-grams per document (empty array if < n tokens).
    Scales the input out to full parallelism first — every consumer
    (minhash, jaccard, simhash) amplifies CPU ~50x per input byte."""
    df = scale_out(df)
    toks = tokens_col(text_col)
    count = F.size(toks) - (n - 1)
    sh = F.when(count <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    return df.withColumn(out_col, F.array_distinct(sh))


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    seed: int = 42,
) -> DataFrame:
    """One row per doc with columns mh_0..mh_{H-1} (min over shingles of
    hash(h, shingle)); docs with no shingles get NULL signatures.

    Single explode + single groupBy: the per-shingle row carries all H
    hashes as columns, min-aggregated per doc (map-side combine)."""
    sh = with_shingles(df, n, text_col).select(
        id_col, F.explode_outer("shingles").alias("sh")
    )
    per = sh.select(
        id_col,
        *[
            _hash64(F.col("sh"), f"mh{h}", portable, seed).alias(f"_h{h}")
            for h in range(num_hashes)
        ],
    )
    return per.groupBy(id_col).agg(
        *[F.min(f"_h{h}").alias(f"mh_{h}") for h in range(num_hashes)]
    )


def lsh_band_rows(
    signatures: DataFrame,
    bands: int = 4,
    id_col: str = "doc_id",
    max_bucket: "int | None" = None,
) -> DataFrame:
    """(id_col, band, bucket): LSH bucket membership rows. Signature
    columns mh_* are split into `bands` contiguous bands; a band's bucket
    key is the md5 of its concatenated values. Docs with NULL signatures
    (no shingles) emit no rows. With `max_bucket`, membership of each
    (band, bucket) is capped to its smallest-id members (spill-safe
    row_number window) — the skew guard that bounds downstream join
    fan-out; capping preserves bucket EXISTENCE exactly, so semi-join
    consumers (incremental_dedup_survivors) are unaffected."""
    mh_cols = sorted(
        (c for c in signatures.columns if c.startswith("mh_")),
        key=lambda c: int(c.split("_")[1]),
    )
    assert len(mh_cols) % bands == 0, "num_hashes must divide evenly into bands"
    rpb = len(mh_cols) // bands
    sig = signatures.filter(F.col(mh_cols[0]).isNotNull())
    band_rows = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",", *[F.col(c).cast("string") for c in mh_cols[b * rpb:(b + 1) * rpb]]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    if max_bucket is not None:
        wb = W.partitionBy("band", "bucket").orderBy(id_col)
        band_rows = (
            band_rows.withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") <= max_bucket)
            .drop("_rn")
        )
    return band_rows


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    id_col: str = "doc_id",
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.
    Pairs emerge from a self-join per bucket (skew-capped at
    `max_bucket` — see lsh_band_rows)."""
    band_rows = lsh_band_rows(signatures, bands, id_col, max_bucket)
    # the self-join consumes band_rows TWICE and Catalyst does not reuse
    # the subtree: without a materialization the entire signature pipeline
    # (shingle explode + H hashes per shingle + groupBy + band window)
    # executes once per join side (measured at sf1.0: both plan branches
    # identical, no ReusedExchange). Lazy localCheckpoint computes it once
    # into executor block storage — the same pattern as ngram_jaccard_pairs'
    # shingle set; size is O(docs * bands), far below the shingle explode.
    band_rows = band_rows.localCheckpoint(eager=False)
    a = band_rows.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("doc_a")
    )
    b = band_rows.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("doc_b")
    )
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: "DataFrame | None" = None,
    max_df: "int | None" = 1000,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (>= threshold).

    Without `candidates`, pairs come from the shingle equi-join (every
    co-shingled pair); with `candidates` (e.g. LSH output) only those
    pairs are scored — the scalable composition is
    lsh_candidate_pairs |> ngram_jaccard_pairs.

    `max_df` (document-frequency cap, the standard df-cap of corpus dedup)
    drops shingles shared by more than `max_df` documents BEFORE the
    equi-join: one stock 3-gram shared by 10^6 docs would otherwise emit
    10^12 join rows. The hot-shingle set is tiny (it scales with the
    number of cliché phrases, not the corpus) so it broadcasts as an
    anti-join; sizes and Jaccard are computed over the capped shingle sets
    on both engine and oracle, keeping the metric self-consistent.

    `broadcast_candidates=False` switches the candidate restriction to a
    shuffle join — required when the candidate pair set exceeds broadcast
    limits (e.g. LSH output over a web-scale corpus)."""
    # explode_outer + isNotNull, NOT plain explode: explode's implicit
    # `size(shingles) > 0` filter gets pushed below scale_out's repartition
    # exchange, re-evaluating the whole shingle expression on the
    # unparallelized scan side (measured 7x at sf0.1). The isNotNull filter
    # sits on the GENERATED column, which cannot be pushed past the
    # Generate. No .distinct(): with_shingles already array_distincts per
    # doc, so (id, sh) rows are unique by construction — a distinct here
    # is a pure-waste extra shuffle.
    sh = (
        with_shingles(df, n, text_col)
        .select(id_col, F.explode_outer("shingles").alias("sh"))
        .filter(F.col("sh").isNotNull())
    )
    # `sh` feeds FOUR consumers (df-cap, sizes, both self-join sides) and
    # Catalyst does not reuse the exchange across them — without a
    # materialization the tokenize+shingle work runs 4x (measured). Lazy
    # localCheckpoint computes it once into executor block storage
    # (spillable; O(corpus shingles), the same order as the join input
    # itself), exactly the CC-edge-list pattern in connected_components.
    sh = sh.localCheckpoint(eager=False)
    if max_df is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), on="sh", how="left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("doc_a"), "sh")
    b = sh.select(F.col(id_col).alias("doc_b"), "sh")
    inter = (
        a.join(b, on="sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if candidates is not None:
        cand = candidates.select("doc_a", "doc_b")
        if broadcast_candidates:
            cand = F.broadcast(cand)
        inter = inter.join(cand, on=["doc_a", "doc_b"])
    sza = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sza, "doc_a")
        .join(szb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_common", "sz_a", "sz_b", "jaccard")


def decontaminate(
    train_df: DataFrame,
    bench_df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark n-gram decontamination — flag training documents that
    share any word n-gram with a held-out benchmark/eval set (the standard
    train/test-overlap scrub before corpus text reaches a training run;
    n=13 in the published recipes, configurable here).

    Returns one row per CONTAMINATED training doc:
    (id_col, n_grams = its distinct n-gram count, n_shared = how many of
    those appear anywhere in the benchmark set).

    Shape at scale: the benchmark side is tiny relative to a 100-TB corpus
    (eval suites are fixed-size), so its distinct gram set is broadcast
    (`broadcast_bench=False` falls back to a shuffle join for
    pathologically large benchmark sets). The train side is ONE explode +
    ONE left broadcast join + ONE groupBy with map-side partial
    aggregation — the corpus is scanned once and never shuffled at gram
    grain beyond the doc-keyed count."""
    bench_grams = (
        with_shingles(bench_df, n, text_col)
        .select(F.explode_outer("shingles").alias("sh"))
        .filter(F.col("sh").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    # explode_outer + isNotNull (not plain explode): see ngram_jaccard_pairs
    # — explode's implicit size()>0 filter would be pushed below scale_out's
    # repartition exchange and re-evaluate the shingle expression on the
    # unparallelized scan side.
    tr = (
        with_shingles(train_df, n, text_col)
        .select(id_col, F.explode_outer("shingles").alias("sh"))
        .filter(F.col("sh").isNotNull())
    )
    return (
        tr.join(bench_grams, "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_shared").cast("long").alias("n_shared"),
        )
    )


def simhash(
    df: DataFrame,
    bits: int = 52,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Charge-accumulation SimHash over tokens (52 bits so the value stays
    exact in doubles and portable SQL).

    bit b of simhash = 1 iff sum over tokens of (+1 if bit b of
    hash(token) else -1) > 0. Computed as one explode + one groupBy with
    `bits` conditional sums (no per-bit passes)."""
    toks = scale_out(df).select(
        id_col, F.explode_outer(tokens_col(text_col)).alias("tok")
    )
    h = _hash64(F.col("tok"), "simhash", portable, seed)
    per = toks.select(
        id_col,
        *[
            F.when(F.col("tok").isNull(), F.lit(0))
            .otherwise(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            )
            .alias(f"_b{b}")
            for b in range(bits)
        ],
    )
    agg = per.groupBy(id_col).agg(
        *[F.sum(f"_b{b}").alias(f"_s{b}") for b in range(bits)]
    )
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"_s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return agg.select(id_col, sim.alias("simhash"))


def simhash_near_pairs(
    sim_df: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    chunks: int = 4,
    max_bucket: "int | None" = 1024,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Pigeonhole LSH: split the 52 bits into `chunks` chunks; any pair
    within distance < chunks must share at least one exact chunk -> join
    on (chunk_idx, chunk_value), then verify with bit_count. `max_bucket`
    caps per-(chunk, value) membership — the same skew guard as
    lsh_candidate_pairs: 13-bit chunks give 8192 buckets, so an uncapped
    self-join goes quadratic once the corpus passes ~10^5 docs; at larger
    scale raise `chunks`' width by hashing into more buckets or cap."""
    bits = 52
    per = bits // chunks
    chunk_cols = [
        (
            F.shiftright(F.col("simhash"), i * per)
            .bitwiseAND(F.lit((1 << per) - 1))
            .alias(f"c{i}")
        )
        for i in range(chunks)
    ]
    e = sim_df.select(id_col, "simhash", *chunk_cols).select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("ci"), F.col(f"c{i}").alias("cv"))
                    for i in range(chunks)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.ci", "ch.cv")
    if max_bucket is not None:
        wb = W.partitionBy("ci", "cv").orderBy(id_col)
        e = (
            e.withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") <= max_bucket)
            .drop("_rn")
        )
    a = e.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "ci", "cv")
    b = e.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "ci", "cv")
    pairs = (
        a.join(b, on=["ci", "cv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("doc_a", "doc_b", "hamming")


# --- duplicate clustering (connected components over near-dup pairs) ---------


def _cc_driver_union_find(sym: DataFrame) -> DataFrame:
    """Exact min-label components via a driver-side union-find over an
    already-materialized (a, b) symmetric edge frame. Only called when the
    edge count is under the driver edge bound — the edge list is
    O(duplicate pairs), already broadcast-sized downstream, so the collect
    is bounded by construction. One collect replaces the O(log n) rounds
    of Spark jobs the distributed fallback
    (`connected_components_two_phase`) runs — per-round job overhead
    dominated every small-pair CC consumer (measured: SemDeDup's ~20-pair
    component step cost seconds of pure round overhead).

    Component id = min member id, the same labels as the fallback
    (unique, engine-independent); a self-loop-only vertex is its own
    component."""
    rows = sym.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    out = [(v, comp_min[find(v)]) for v in parent]
    from pyspark.sql import types as T

    id_type = sym.schema[0].dataType
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("comp", id_type)]
    )
    return local_frame(sym.sparkSession, out, schema)


_CC_DRIVER_MAX_EDGES = 2_000_000  # symmetric rows; ~32 MB of (long, long)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    driver_max_edges: int = _CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """(id, component) for every vertex of the undirected near-duplicate
    edge list; component = the smallest member id — the missing step
    between pairwise near-dup detection and an actual deduplicated corpus
    (pairs are not clusters: A~B, B~C must collapse to one survivor).

    Near-dup edge sets are O(duplicates): when the symmetric edge count is
    at most `driver_max_edges` (the overwhelmingly common case; the count
    is free on the checkpointed edges), a driver union-find labels them
    with one bounded collect. Above it, the large-star/small-star
    alternation (`connected_components_two_phase`, O(log n) rounds) runs
    on the same checkpointed edges. Both give identical labels."""
    # materialize the DIRECTED edge list once, BEFORE symmetrizing: the
    # union's two branches (and the fallback) would otherwise each execute
    # the caller's (typically expensive — LSH candidate generation,
    # within-cell cosine) edge plan — measured 2x the pair cost on SemDeDup
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint()
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint()
    if sym.count() <= driver_max_edges:
        return _cc_driver_union_find(sym)
    return connected_components_two_phase(e, "a", "b")


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star operation (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): for every node u, connect each STRICTLY LARGER
    neighbor to the minimum of Γ(u) ∪ {u}. One symmetrize + one
    groupBy-min + one join — all id-level."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_mv"))
    mins = mins.select("u", F.least("_mv", "u").alias("m"))
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star operation: direct each edge large→small; for every node
    u connect its (all smaller) neighbors and u itself to their minimum."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nodes = d.join(mins, on="u").select(F.col("v").alias("n"), "m").unionByName(
        mins.select(F.col("u").alias("n"), "m")
    )
    return (
        nodes.filter(F.col("n") != F.col("m"))
        .select(F.col("n").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def connected_components_two_phase(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) via alternating large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — the distributed
    algorithm behind `connected_components` when the edge list exceeds
    the driver bound. O(log n) alternations whatever the component
    diameter: a 10^6-node chain converges in ~20; each alternation is two
    id-level groupBy-min + join rounds.

    Fixpoint: both operations leave the edge set unchanged exactly when it
    is a union of min-rooted stars; labels are then star edges plus their
    centers, plus vertices whose only edges are self-loops (their own
    singleton components). The check is exact (two one-row exceptAll
    probes), not a hash. Lineage truncated per alternation
    (localCheckpoint). Same min-of-component labels as the driver
    union-find, asserted equal in tests. Raises RuntimeError on
    non-convergence rather than returning a half-contracted labeling."""
    d = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint()
    )
    loops = d.filter(F.col("u") == F.col("v")).select(F.col("u").alias("id"))
    e = d.filter(F.col("u") != F.col("v"))
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("comp")).limit(0)
    if e.head(1):
        for _ in range(max_iter):
            nxt = _small_star(_large_star(e)).localCheckpoint()
            unchanged = (
                not nxt.exceptAll(e).head(1) and not e.exceptAll(nxt).head(1)
            )
            e = nxt
            if unchanged:
                centers = e.select(F.col("v").alias("id")).distinct()
                labels = e.select(
                    F.col("u").alias("id"), F.col("v").alias("comp")
                ).unionByName(centers.select("id", F.col("id").alias("comp")))
                break
        else:
            raise RuntimeError(
                f"connected_components_two_phase did not converge in "
                f"{max_iter} alternations; raise max_iter"
            )
    singletons = loops.join(labels.select("id"), on="id", how="left_anti")
    return labels.unionByName(singletons.select("id", F.col("id").alias("comp")))


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """The deduplicated corpus: drop every document that is in a
    near-duplicate cluster but is not its smallest-id member. Documents in
    no pair survive untouched. One broadcast-able anti-join against the
    (tiny, cluster-members-only) loser set — the corpus itself never
    shuffles."""
    cc = connected_components(pairs, src, dst)
    losers = cc.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(F.broadcast(losers), on=id_col, how="left_anti")


def dedup_survivors_by_quality(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: Column,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Quality-aware survivor selection: within each near-duplicate
    cluster keep the HIGHEST-quality member (ties -> smallest id) instead
    of dedup_survivors' smallest-id convention — the keep-the-best-copy
    policy real corpus prep wants (e.g. quality_col = token count keeps
    the longest duplicate; any integer Column works and stays
    oracle-exact). Documents in no pair survive untouched.

    Shape at 100 TB: connected_components output is O(cluster members);
    member quality comes from ONE broadcast join into an (id, quality)
    projection of the corpus (column-pruned scan — quality_col prunes to
    its input columns); the per-cluster ranking is a window over the tiny
    member set; the final drop is the same broadcast anti-join as
    dedup_survivors. The corpus itself never shuffles."""
    cc = connected_components(pairs, src, dst).withColumnRenamed("id", id_col)
    members = docs.select(F.col(id_col), quality_col.alias("_q")).join(
        F.broadcast(cc), on=id_col
    )
    w = W.partitionBy("comp").orderBy(F.col("_q").desc(), F.col(id_col).asc())
    losers = (
        members.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select(id_col)
    )
    return docs.join(F.broadcast(losers), on=id_col, how="left_anti")


def dup_span_stats(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Substring-level duplication signal: per document, how many of its
    positional word k-gram spans occur >= 2 times corpus-wide (the
    suffix-array substring-dedup signal of Lee et al. 2021, approximated
    at word-window granularity — within-doc repeats count, matching the
    "substring occurs more than once in the corpus" rule).

    Returns (id_col, n_spans, n_dup_spans); docs with < k tokens emit no
    row. n_dup_spans/n_spans is the span-duplication fraction a prep
    pipeline thresholds on; keeping both integers keeps the oracle exact.

    Shape at scale (replaces the suffix array, which does not distribute):
    spans stay POSITIONAL (no array_distinct — a doc repeating one span
    50x must count 50), hashed to 64 bits before any shuffle so raw span
    text never leaves the executor. Then (1) groupBy(span_hash, doc) with
    map-side combine collapses within-doc repeats, (2) a window sum over
    span_hash gets the corpus-wide total without a self-join, (3)
    groupBy(doc) folds to one row per doc. Three shuffles total, each at
    span-hash or doc grain, never at raw-span-string width."""
    df = scale_out(df)
    toks = tokens_col(text_col)
    n_spans = F.size(toks) - (k - 1)
    spans = F.when(n_spans <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_spans),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )
    # explode_outer + isNotNull (not plain explode): explode's implicit
    # size()>0 filter gets pushed below scale_out's repartition exchange
    # and re-evaluates the span expression on the unparallelized scan side.
    per = (
        df.select(F.col(id_col), F.explode_outer(spans).alias("sp"))
        .filter(F.col("sp").isNotNull())
        .select(id_col, _hash64(F.col("sp"), f"span{k}", portable, seed).alias("h"))
    )
    perdoc = per.groupBy("h", id_col).agg(F.count(F.lit(1)).alias("c"))
    tot = perdoc.withColumn("tot", F.sum("c").over(W.partitionBy("h")))
    return tot.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("tot") >= 2, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup_spans"),
    )


# --- incremental dedup index -------------------------------------------------
#
# The 100-TB ingestion pattern: a corpus is deduplicated ONCE, its LSH
# bucket membership is committed as an index, and every subsequent ingest
# batch dedups against the index in O(batch) — never a historical-corpus
# rescan. Mirrors the materialized IVF index (operators/similarity.ivf_index):
# snapshot commits for atomicity, stored knobs for probe-time validation,
# commit_append deltas for growth.

_MINHASH_META = "_minhash_meta.jsonl"


def _minhash_knobs(index_dir: str) -> dict:
    from trace_aware_reservoir_otel_spark import fsutil
    import os

    rows = fsutil.read_jsonl(os.path.join(index_dir, _MINHASH_META))
    if not rows:
        raise ValueError(f"no minhash index meta at {index_dir}")
    return rows[-1]


def _knob_schema(k: dict):
    from pyspark.sql import types as T

    s = k.get("schema")
    return T.StructType.fromJson(s) if s else None


def minhash_index(
    docs: DataFrame,
    index_dir: str,
    num_hashes: int = 16,
    n: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    seed: int = 42,
    max_bucket: int = 256,
) -> "dict[str, int]":
    """Materialize a historical corpus's LSH bucket membership:

      {index_dir}/buckets  (id_col, band, bucket), PARTITIONED BY band,
                           committed via the snapshot protocol (readers
                           never see a half-built index).

    The hashing knobs (num_hashes, shingle n, bands, seed, hash family,
    id column) are stored beside the snapshot; probes hash their batch
    with the STORED knobs, so an index built under one scheme can never
    be silently probed under another — the correctness trap of any
    persistent signature store. Bucket membership is capped at
    `max_bucket` smallest ids: existence (what survivor queries need) is
    preserved exactly; pair witnesses are bounded.

    Scale note: probes join on (band, bucket) — a shuffle join at bucket
    grain (never doc-text grain). On a real cluster, save the bucket
    table as a catalog table with bucketBy(band, bucket) to make every
    probe join one-sided."""
    import os

    from trace_aware_reservoir_otel_spark import fsutil
    from trace_aware_reservoir_otel_spark.plans import commit

    sig = minhash_signatures(docs, num_hashes, n, text_col, id_col, portable, seed)
    rows = lsh_band_rows(sig, bands, id_col, max_bucket)
    v = commit.commit_write(rows, f"{index_dir}/buckets", partition_by=["band"])
    meta = {
        "num_hashes": num_hashes,
        "n": n,
        "bands": bands,
        "portable": portable,
        "seed": seed,
        "max_bucket": max_bucket,
        "id_col": id_col,
        # stored so probes can read back a legitimately EMPTY snapshot
        # (no parquet footers to infer from — e.g. an index built before
        # any history exists)
        "schema": rows.schema.jsonValue(),
    }
    fsutil.write_jsonl_atomic(os.path.join(index_dir, _MINHASH_META), [meta])
    return {"buckets": v}


def minhash_index_append(
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: "str | None" = None,
) -> int:
    """Extend the committed index with a new batch (typically the batch's
    dedup SURVIVORS, after incremental_dedup_survivors): hash ONLY the
    batch under the stored knobs and append as an immutable delta
    (commit_append) — O(batch), no rescan. Per-delta bucket caps mean a
    bucket can exceed max_bucket across deltas; existence semantics are
    unaffected (see lsh_band_rows). `key` stamps the append for replay
    detection (commit.commit_append idempotency tag)."""
    from trace_aware_reservoir_otel_spark.plans import commit

    k = _minhash_knobs(index_dir)
    rows = _batch_band_rows(new_docs, k, text_col, id_col, k["max_bucket"]).select(
        F.col(id_col).alias(k["id_col"]), "band", "bucket"
    )
    return commit.commit_append(
        rows, f"{index_dir}/buckets", partition_by=["band"], key=key
    )


def _batch_band_rows(
    batch: DataFrame,
    k: dict,
    text_col: str,
    id_col: str,
    max_bucket: "int | None",
) -> DataFrame:
    sig = minhash_signatures(
        batch, k["num_hashes"], k["n"], text_col, id_col, k["portable"], k["seed"]
    )
    return lsh_band_rows(sig, k["bands"], id_col, max_bucket)


def incremental_dedup_survivors(
    batch: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The incremental-dedup result: batch docs that collide with NO
    indexed historical bucket (history always wins — the committed corpus
    is immutable). Collision detection is a LEFT SEMI join of the batch's
    band rows against the index (existence only — no pair fan-out, so a
    mega-bucket cannot blow up the plan); the matched id set is
    O(batch dups) and drops out via the same broadcast anti-join as the
    rest of the survivor family. Batch docs with no shingles trivially
    survive. Within-batch duplicates are deliberately out of scope —
    compose with dedup_survivors on the batch first."""
    from trace_aware_reservoir_otel_spark.plans import commit

    k = _minhash_knobs(index_dir)
    idx = commit.read_committed(
        batch.sparkSession, f"{index_dir}/buckets", schema=_knob_schema(k)
    ).select("band", "bucket")
    # UNCAPPED batch rows: capping the probe side would drop a capped-out
    # batch doc's bucket row and let a true duplicate wrongly survive —
    # only the index side's cap is existence-preserving. A semi-join has
    # no pair fan-out, so the uncapped probe is still blowup-free.
    rows = _batch_band_rows(batch, k, text_col, id_col, None)
    matched = (
        rows.join(idx, on=["band", "bucket"], how="left_semi")
        .select(id_col)
        .distinct()
    )
    return batch.join(F.broadcast(matched), on=id_col, how="left_anti")


def dup_source_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Cross-source duplication matrix: for each unordered source pair,
    how many near-duplicate pairs span it — the governance diagnostic
    that shows which domains copy from which (and how much of a source is
    self-duplication). Returns (source_a, source_b, n_pairs) with
    source_a <= source_b.

    Shape at 100 TB: the pair set is O(duplicates), tiny next to the
    corpus — both lookups broadcast the PAIR side into a column-pruned
    (id, source) projection of the corpus, so the corpus is scanned
    narrow and never shuffled; the final groupBy is at source-pair grain
    (bounded by #sources^2)."""
    sdim = docs.select(F.col(id_col), F.col(source_col))
    a = (
        sdim.join(
            F.broadcast(pairs.select(F.col(src).alias(id_col), dst)), on=id_col
        )
        .select(
            F.col(source_col).alias("_sa"), F.col(dst).alias(id_col)
        )
    )
    ab = sdim.join(F.broadcast(a), on=id_col).select(
        F.col("_sa"), F.col(source_col).alias("_sb")
    )
    return (
        ab.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
