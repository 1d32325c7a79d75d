"""Contract queries for dedup / similarity operators, with generated
DuckDB oracle SQL (loops keep the H-hash / per-bit SQL consistent with the
library's column generation).

Near-dup fixtures are constructed inside the queries (deterministically,
from the driver tables themselves): documents gets perturbed copies
(first token replaced) at doc_id+1_000_000; embeddings gets identical
copies at vec_id+100_000 — so candidate-pair results are non-trivial at
every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

MINHASHES = 8
BANDS = 4
SHINGLE_N = 3
SEED = 42
JACCARD_T = 0.5
MAX_DF = 1000
ANN_K = 10
LSH_TABLES = 2
LSH_BANDS = 4
LSH_PLANES = 8
LSH_MAX_BUCKET = 256
EMB_DIM = 64
SIM_BITS = 52
MAX_BUCKET = 64


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    near = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "xyzzy").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(near)


AUG_DOCS_SQL = (
    "select doc_id, text from documents\n"
    "      union all\n"
    "      select doc_id + 1000000 as doc_id,\n"
    "             regexp_replace(text, '^\\S+', 'xyzzy') as text\n"
    "      from documents where doc_id < 50"
)


def _duck_pbig(expr: str) -> str:
    return "cast('0x' || substr(md5(" + expr + "), 1, 13) as bigint)"


def _shingle_ctes() -> str:
    n1 = SHINGLE_N - 1
    return (
        "    aug as (\n      " + AUG_DOCS_SQL + "\n    ),\n"
        "    toks as (\n"
        "      select doc_id, regexp_split_to_array(trim(text), '\\s+') as tk\n"
        "      from aug where length(trim(text)) > 0\n"
        "    ),\n"
        "    sh as (\n"
        "      select distinct doc_id,\n"
        f"             array_to_string(tk[i:i+{n1}], ' ') as sh\n"
        "      from toks\n"
        f"      cross join unnest(range(1, greatest(len(tk) - {n1}, 0) + 1)) as t(i)\n"
        "    )"
    )


def _minhash_cte() -> str:
    mins = ",\n             ".join(
        "min(" + _duck_pbig(f"'{SEED}:mh{h}:' || sh") + f") as mh_{h}"
        for h in range(MINHASHES)
    )
    return (
        _shingle_ctes() + ",\n"
        "    mh as (\n"
        "      select doc_id,\n             " + mins + "\n"
        "      from sh group by doc_id\n"
        "    )"
    )


# --- minhash signatures ------------------------------------------------------

def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.dedup import minhash_signatures

    aug = _aug_docs(spark, sf_dir)
    sig = minhash_signatures(
        aug, num_hashes=MINHASHES, n=SHINGLE_N, portable=True, seed=SEED
    )
    return sig.filter(F.col("mh_0").isNotNull())


def oracle_minhash_signatures() -> str:
    return "with\n" + _minhash_cte() + "\n    select * from mh"


# --- LSH candidate pairs -----------------------------------------------------

def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    aug = _aug_docs(spark, sf_dir)
    sig = minhash_signatures(
        aug, num_hashes=MINHASHES, n=SHINGLE_N, portable=True, seed=SEED
    )
    return lsh_candidate_pairs(sig, bands=BANDS, max_bucket=MAX_BUCKET)


def oracle_lsh_pairs() -> str:
    rpb = MINHASHES // BANDS
    band_selects = []
    for b in range(BANDS):
        cols = " || ',' || ".join(
            f"cast(mh_{i} as varchar)" for i in range(b * rpb, (b + 1) * rpb)
        )
        band_selects.append(
            f"select doc_id, {b} as band, md5({cols}) as bucket from mh"
        )
    bands_sql = "\n      union all\n      ".join(band_selects)
    return (
        "with\n" + _minhash_cte() + ",\n"
        "    band_rows_all as (\n      " + bands_sql + "\n    ),\n"
        "    band_rows as (\n"
        "      select doc_id, band, bucket\n"
        "      from (select *, row_number() over (\n"
        "                   partition by band, bucket order by doc_id) as rn\n"
        "            from band_rows_all)\n"
        f"      where rn <= {MAX_BUCKET}\n"
        "    )\n"
        "    select distinct a.doc_id as doc_a, b.doc_id as doc_b\n"
        "    from band_rows a join band_rows b\n"
        "      on a.band = b.band and a.bucket = b.bucket\n"
        "    where a.doc_id < b.doc_id"
    )


# --- exact n-gram Jaccard pairs ----------------------------------------------

def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.dedup import ngram_jaccard_pairs

    aug = _aug_docs(spark, sf_dir)
    return ngram_jaccard_pairs(aug, n=SHINGLE_N, threshold=JACCARD_T, max_df=MAX_DF)


def oracle_ngram_jaccard() -> str:
    # shc = df-capped shingles (shingles shared by > MAX_DF docs dropped),
    # mirroring the operator's hot-shingle anti-join
    return (
        "with\n" + _shingle_ctes() + ",\n"
        "    shc as (\n"
        "      select sh.doc_id, sh.sh from sh\n"
        "      join (select sh as s2, count(*) as cd from sh group by sh) d\n"
        f"        on sh.sh = d.s2 where d.cd <= {MAX_DF}\n"
        "    ),\n"
        "    sizes as (select doc_id, cast(count(*) as bigint) as sz from shc group by doc_id),\n"
        "    inter as (\n"
        "      select a.doc_id as doc_a, b.doc_id as doc_b,\n"
        "             cast(count(*) as bigint) as n_common\n"
        "      from shc a join shc b on a.sh = b.sh and a.doc_id < b.doc_id\n"
        "      group by a.doc_id, b.doc_id\n"
        "    )\n"
        "    select doc_a, doc_b, n_common,\n"
        "           sa.sz as sz_a, sb.sz as sz_b,\n"
        "           n_common / cast(sa.sz + sb.sz - n_common as double) as jaccard\n"
        "    from inter\n"
        "    join sizes sa on sa.doc_id = doc_a\n"
        "    join sizes sb on sb.doc_id = doc_b\n"
        f"    where n_common / cast(sa.sz + sb.sz - n_common as double) >= {JACCARD_T}"
    )


# --- simhash -----------------------------------------------------------------

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.dedup import simhash

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    return simhash(docs, bits=SIM_BITS, portable=True, seed=SEED)


def oracle_simhash() -> str:
    h = _duck_pbig(f"'{SEED}:simhash:' || tok")
    sums = ",\n             ".join(
        f"sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) as s{b}"
        for b in range(SIM_BITS)
    )
    terms = "\n           + ".join(
        f"(case when s{b} > 0 then cast({1 << b} as bigint) else 0 end)"
        for b in range(SIM_BITS)
    )
    return (
        "with toks as (\n"
        "      select doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) as tok\n"
        "      from documents where length(trim(text)) > 0\n"
        "    ),\n"
        "    hashed as (select doc_id, " + h + " as h from toks),\n"
        "    agg as (\n"
        "      select doc_id,\n             " + sums + "\n"
        "      from hashed group by doc_id\n"
        "    )\n"
        "    select doc_id,\n           " + terms + " as simhash\n"
        "    from agg"
    )


# --- embedding similarity ----------------------------------------------------

def _query_vec(spark: SparkSession, sf_dir: str) -> "list[float]":
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=ANN_K)


_DUCK_COS = (
    "round(list_dot_product(ev, qv)"
    " / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))), 6)"
)


def oracle_ann_cosine_topk() -> str:
    return (
        "with q as (\n"
        "      select list_transform(embedding, x -> cast(x as double)) as qv\n"
        "      from embeddings where vec_id = 0\n"
        "    ),\n"
        "    e as (\n"
        "      select vec_id, list_transform(embedding, x -> cast(x as double)) as ev\n"
        "      from embeddings\n"
        "    )\n"
        "    select vec_id, " + _DUCK_COS + " as sim\n"
        "    from e, q\n"
        f"    order by sim desc, vec_id asc limit {ANN_K}"
    )


def _lsh_coefs():
    from trace_aware_reservoir_otel_spark.operators.similarity import (
        hyperplane_coefs,
    )

    return hyperplane_coefs(EMB_DIM, LSH_TABLES, LSH_BANDS, LSH_PLANES, SEED)


def _duck_band_bucket(band: "list[list[int]]") -> str:
    # exact-integer SRP bucket: list_dot_product of quantized bigints stays
    # < 2^53 so the double result is exact — sign agrees with Spark's long
    # fold bit-for-bit (verified by this oracle row)
    bits = []
    for i, coef in enumerate(band):
        arr = "[" + ",".join(str(c) for c in coef) + "]"
        bits.append(
            f"(case when list_dot_product(q, {arr}) >= 0 then {1 << i} else 0 end)"
        )
    return "(" + " + ".join(bits) + ")"


_DUCK_QUANT = (
    "list_transform(embedding, x -> cast(floor(cast(x as double) * 1000000) as bigint))"
)


def _duck_buckets_cte(src: str) -> str:
    parts = []
    for t, table in enumerate(_lsh_coefs()):
        for b, band in enumerate(table):
            parts.append(
                f"select vec_id, {t} as tb, {b} as band, "
                f"{_duck_band_bucket(band)} as bucket from e"
            )
    return (
        f"    e as (select vec_id, {_DUCK_QUANT} as q from {src}),\n"
        "    b as (\n      " + "\n      union all\n      ".join(parts) + "\n    )"
    )


def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.similarity import ann_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_topk_lsh(
        emb,
        _query_vec(spark, sf_dir),
        k=ANN_K,
        tables=LSH_TABLES,
        bands=LSH_BANDS,
        planes_per_band=LSH_PLANES,
        seed=SEED,
    )


def oracle_ann_lsh_bucket() -> str:
    return (
        "with\n" + _duck_buckets_cte("embeddings") + ",\n"
        "    qb as (select tb, band, bucket from b where vec_id = 0),\n"
        "    cand as (select distinct b.vec_id from b join qb using (tb, band, bucket)),\n"
        "    ev as (\n"
        "      select vec_id, list_transform(embedding, x -> cast(x as double)) as ev\n"
        "      from embeddings where vec_id in (select vec_id from cand)\n"
        "    ),\n"
        "    q as (\n"
        "      select list_transform(embedding, x -> cast(x as double)) as qv\n"
        "      from embeddings where vec_id = 0\n"
        "    )\n"
        "    select vec_id, " + _DUCK_COS + " as sim\n"
        "    from ev, q\n"
        f"    order by sim desc, vec_id asc limit {ANN_K}"
    )


def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.similarity import (
        embedding_near_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return embedding_near_pairs(
        emb.unionByName(copies),
        threshold=0.95,
        tables=LSH_TABLES,
        bands=LSH_BANDS,
        planes_per_band=LSH_PLANES,
        seed=SEED,
        max_bucket=LSH_MAX_BUCKET,
    )


_AUG_EMB_SQL = (
    "(select vec_id, embedding from embeddings\n"
    "      union all\n"
    "      select vec_id + 100000 as vec_id, embedding\n"
    "      from embeddings where vec_id < 20)"
)


def oracle_embedding_near_pairs() -> str:
    cos = (
        "round(list_dot_product(va.v, vb.v)"
        " / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))), 6)"
    )
    return (
        "with aug as " + _AUG_EMB_SQL + ",\n"
        + _duck_buckets_cte("aug") + ",\n"
        "    capped as (\n"
        "      select vec_id, tb, band, bucket\n"
        "      from (select *, row_number() over (\n"
        "                   partition by tb, band, bucket order by vec_id) as rn\n"
        "            from b)\n"
        f"      where rn <= {LSH_MAX_BUCKET}\n"
        "    ),\n"
        "    pairs as (\n"
        "      select distinct a.vec_id as id_a, c.vec_id as id_b\n"
        "      from capped a join capped c\n"
        "        on a.tb = c.tb and a.band = c.band and a.bucket = c.bucket\n"
        "      where a.vec_id < c.vec_id\n"
        "    ),\n"
        "    v as (select vec_id, list_transform(embedding, x -> cast(x as double)) as v from aug)\n"
        "    select id_a, id_b, " + cos + " as sim\n"
        "    from pairs join v va on va.vec_id = id_a join v vb on vb.vec_id = id_b\n"
        f"    where {cos} >= 0.95"
    )


# --- simhash near pairs (pigeonhole LSH) --------------------------------------

SIMHASH_MAX_HAMMING = 8
SIMHASH_CHUNKS = 4
SIMHASH_MAX_BUCKET = 1024


def _aug_docs_with_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _aug_docs(spark, sf_dir)
    exact = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 30)
        .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    return aug.unionByName(exact).filter(F.length(F.trim("text")) > 0)


_AUG_EXACT_SQL = (
    "select doc_id, text from (\n"
    "      " + AUG_DOCS_SQL + "\n"
    "      union all\n"
    "      select doc_id + 2000000 as doc_id, text\n"
    "      from documents where doc_id < 30\n"
    "    ) where length(trim(text)) > 0"
)


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )

    docs = _aug_docs_with_exact(spark, sf_dir)
    sim = simhash(docs, bits=SIM_BITS, portable=True, seed=SEED)
    return simhash_near_pairs(
        sim,
        max_hamming=SIMHASH_MAX_HAMMING,
        chunks=SIMHASH_CHUNKS,
        max_bucket=SIMHASH_MAX_BUCKET,
    )


def oracle_simhash_near_pairs() -> str:
    h = _duck_pbig(f"'{SEED}:simhash:' || tok")
    sums = ",\n             ".join(
        f"sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) as s{b}"
        for b in range(SIM_BITS)
    )
    terms = "\n           + ".join(
        f"(case when s{b} > 0 then cast({1 << b} as bigint) else 0 end)"
        for b in range(SIM_BITS)
    )
    per = SIM_BITS // SIMHASH_CHUNKS
    mask = (1 << per) - 1
    chunk_rows = "\n      union all\n      ".join(
        f"select doc_id, simhash, {i} as ci, (simhash >> {i * per}) & {mask} as cv from sims"
        for i in range(SIMHASH_CHUNKS)
    )
    return (
        "with aug as (\n      " + _AUG_EXACT_SQL + "\n    ),\n"
        "    toks as (\n"
        "      select doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) as tok\n"
        "      from aug\n"
        "    ),\n"
        "    hashed as (select doc_id, " + h + " as h from toks),\n"
        "    agg as (\n"
        "      select doc_id,\n             " + sums + "\n"
        "      from hashed group by doc_id\n"
        "    ),\n"
        "    sims as (select doc_id,\n           " + terms + " as simhash from agg),\n"
        "    chunk_all as (\n      " + chunk_rows + "\n    ),\n"
        "    chunked as (\n"
        "      select doc_id, simhash, ci, cv\n"
        "      from (select *, row_number() over (\n"
        "                   partition by ci, cv order by doc_id) as rn\n"
        "            from chunk_all)\n"
        f"      where rn <= {SIMHASH_MAX_BUCKET}\n"
        "    )\n"
        "    select doc_a, doc_b, hamming from (\n"
        "      select distinct a.doc_id as doc_a, b.doc_id as doc_b,\n"
        "             bit_count(xor(a.simhash, b.simhash)) as hamming\n"
        "      from chunked a join chunked b on a.ci = b.ci and a.cv = b.cv\n"
        "      where a.doc_id < b.doc_id\n"
        f"    ) where hamming <= {SIMHASH_MAX_HAMMING}"
    )


# --- IVF ANN -------------------------------------------------------------------

IVF_CENTROIDS = 16
IVF_NPROBE = 4


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, n_centroids=IVF_CENTROIDS, seed=SEED)
    return ivf_assign(emb, cents)


_DUCK_IVF_CENT = (
    "cent as (\n"
    "      select vec_id as centroid_id, v as cv\n"
    "      from (select e.*, "
    + _duck_pbig(f"'{SEED}:ivf:' || cast(vec_id as varchar)")
    + " as pri from e)\n"
    f"      order by pri, centroid_id limit {IVF_CENTROIDS}\n"
    "    )"
)

_DUCK_E = (
    "e as (select vec_id, list_transform(embedding, x -> cast(x as double)) as v\n"
    "      from embeddings)"
)

_DUCK_ASSIGN = (
    "scored as (\n"
    "      select e.vec_id, c.centroid_id,\n"
    "             round(list_dot_product(e.v, c.cv)\n"
    "               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) as sim\n"
    "      from e cross join cent c\n"
    "    ),\n"
    "    assign as (\n"
    "      select vec_id, centroid_id, sim\n"
    "      from (select *, row_number() over (\n"
    "                   partition by vec_id order by sim desc, centroid_id asc) as rn\n"
    "            from scored)\n"
    "      where rn = 1\n"
    "    )"
)


def oracle_ivf_assign() -> str:
    return (
        "with " + _DUCK_E + ",\n    " + _DUCK_IVF_CENT + ",\n    " + _DUCK_ASSIGN + "\n"
        "    select vec_id, centroid_id, sim from assign"
    )


def _source_stat(path: str) -> str:
    """Cheap file-level fingerprint of a parquet source (total bytes +
    newest mtime, file or directory layout) — no data scan. Folded into
    the index cache key so a regenerated corpus at the same path gets a
    fresh index location instead of silently reusing a stale one."""
    import os

    if os.path.isfile(path):
        st = os.stat(path)
        return f"{st.st_size}:{st.st_mtime_ns}"
    total, latest = 0, 0
    for root, _, files in os.walk(path):
        for fn in files:
            st = os.stat(os.path.join(root, fn))
            total += st.st_size
            latest = max(latest, st.st_mtime_ns)
    return f"{total}:{latest}"


def _ivf_index_dir(sf_dir: str) -> str:
    """Deterministic scratch location for the materialized IVF index of a
    given corpus+knobs (rebuilt only when absent — the amortized-index
    usage the inverted file exists for; the commit protocol makes a
    concurrent rebuild invisible to readers). The key carries BOTH the
    path+knobs and a size+mtime fingerprint of the source file (stale-key
    defense, round-4 ADVICE #1); the operator itself additionally
    content-validates via `corpus_fingerprint` on first probe per process,
    so even an mtime-preserving rewrite cannot serve stale candidates."""
    import hashlib
    import tempfile

    key = hashlib.md5(
        f"{sf_dir}:{IVF_CENTROIDS}:{SEED}:"
        f"{_source_stat(f'{sf_dir}/embeddings.parquet')}".encode()
    ).hexdigest()[:12]
    return f"{tempfile.gettempdir()}/taro_ivf_index_{key}"


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from trace_aware_reservoir_otel_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_topk_ivf(
        emb,
        _query_vec(spark, sf_dir),
        k=ANN_K,
        n_centroids=IVF_CENTROIDS,
        nprobe=IVF_NPROBE,
        seed=SEED,
        index_dir=_ivf_index_dir(sf_dir),
    )


def oracle_ann_ivf_topk() -> str:
    return (
        "with " + _DUCK_E + ",\n    " + _DUCK_IVF_CENT + ",\n    " + _DUCK_ASSIGN + ",\n"
        "    q as (select v as qv from e where vec_id = 0),\n"
        "    probe as (\n"
        "      select centroid_id\n"
        "      from (select c.centroid_id,\n"
        "                   round(list_dot_product(c.cv, q.qv)\n"
        "                     / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) as sim\n"
        "            from cent c, q)\n"
        f"      order by sim desc, centroid_id asc limit {IVF_NPROBE}\n"
        "    ),\n"
        "    cand as (\n"
        "      select vec_id from assign\n"
        "      where centroid_id in (select centroid_id from probe)\n"
        "    ),\n"
        "    ev as (select e.vec_id, e.v as ev from e join cand using (vec_id))\n"
        "    select vec_id, " + _DUCK_COS + " as sim\n"
        "    from ev, q\n"
        f"    order by sim desc, vec_id asc limit {ANN_K}"
    )


# --- duplicate clustering (connected components over LSH pairs) ---------------


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    candidate pairs (operators/dedup.connected_components: a driver
    union-find, large-star/small-star above its edge bound). Pairs are
    not clusters — A~B, B~C must collapse to one group before survivor
    selection."""
    from trace_aware_reservoir_otel_spark.operators.dedup import (
        connected_components,
    )

    cc = connected_components(q_lsh_pairs(spark, sf_dir))
    from pyspark.sql import functions as F

    return cc.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


def _walk_cte() -> str:
    """Recursive reachability over the LSH pair set; min(dst) per id is the
    component label — the oracle for both Spark component algorithms (the
    driver union-find and the large-star/small-star alternation)."""
    return (
        "pairs as (\n"
        "      select * from (" + oracle_lsh_pairs() + ") t\n"
        "    ),\n"
        "    cedges as (\n"
        "      select doc_a as a, doc_b as b from pairs\n"
        "      union all\n"
        "      select doc_b, doc_a from pairs\n"
        "    ),\n"
        "    cverts as (select distinct a as id from cedges),\n"
        "    walk(id, dst) as (\n"
        "      select id, id from cverts\n"
        "      union\n"
        "      select w.id, e.b from walk w join cedges e on e.a = w.dst\n"
        "    )"
    )


def oracle_dup_clusters() -> str:
    return (
        "with recursive " + _walk_cte() + "\n"
        "    select id as doc_id, cast(min(dst) as bigint) as component\n"
        "    from walk group by id"
    )


def q_dup_clusters_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters via the large-star/small-star alternation
    (operators/dedup.connected_components_two_phase) — the O(log n)-round
    algorithm `connected_components` falls back to above its driver edge
    bound, forced here at any size and checked against the same
    recursive-CTE oracle."""
    from trace_aware_reservoir_otel_spark.operators.dedup import (
        connected_components_two_phase,
    )

    cc = connected_components_two_phase(q_lsh_pairs(spark, sf_dir))
    from pyspark.sql import functions as F

    return cc.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: smallest-id member of each near-dup
    cluster survives; unclustered documents pass through."""
    from trace_aware_reservoir_otel_spark.operators.dedup import dedup_survivors

    aug = _aug_docs(spark, sf_dir)
    return dedup_survivors(aug, q_lsh_pairs(spark, sf_dir)).select("doc_id")


def oracle_dedup_survivors() -> str:
    return (
        "with recursive aug as (\n      " + AUG_DOCS_SQL + "\n    ),\n    "
        + _walk_cte() + ",\n"
        "    losers as (\n"
        "      select id from walk group by id having min(dst) <> id\n"
        "    )\n"
        "    select doc_id from aug where doc_id not in (select id from losers)"
    )


def q_embedding_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space deduplicated corpus: SRP-LSH near-pairs →
    connected components → smallest-id survivor anti-join — the full
    semantic-dedup path (pairs → clusters → corpus) over the embedding
    column, composing the same operators the text-space dedup uses."""
    from trace_aware_reservoir_otel_spark.operators.dedup import dedup_survivors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(copies)
    pairs = q_embedding_near_pairs(spark, sf_dir)
    return dedup_survivors(
        aug, pairs, id_col="vec_id", src="id_a", dst="id_b"
    ).select("vec_id")


def oracle_embedding_dedup_survivors() -> str:
    return (
        "with recursive np as (\n"
        "      select * from (" + oracle_embedding_near_pairs() + ") t\n"
        "    ),\n"
        "    eedges as (\n"
        "      select id_a as a, id_b as b from np\n"
        "      union all\n"
        "      select id_b, id_a from np\n"
        "    ),\n"
        "    everts as (select distinct a as id from eedges),\n"
        "    ewalk(id, dst) as (\n"
        "      select id, id from everts\n"
        "      union\n"
        "      select w.id, e.b from ewalk w join eedges e on e.a = w.dst\n"
        "    ),\n"
        "    elosers as (select id from ewalk group by id having min(dst) <> id),\n"
        "    eaug as " + _AUG_EMB_SQL + "\n"
        "    select vec_id from eaug\n"
        "    where vec_id not in (select id from elosers)"
    )


def q_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (within-k-means-cell cosine dedup) over the augmented
    embedding corpus: planted exact copies (sim 1.0) land in the same
    cell as their originals and are dropped; unrelated vectors survive.
    threshold=0.99 sits above the corpus's natural same-label similarity
    band, so only the planted duplicates cluster."""
    from trace_aware_reservoir_otel_spark.operators.similarity import (
        ivf_centroids,
        semdedup_survivors,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(copies)
    cents = ivf_centroids(aug, n_centroids=IVF_CENTROIDS, seed=SEED)
    return semdedup_survivors(aug, cents, threshold=SEMDEDUP_T).select("vec_id")


SEMDEDUP_T = 0.99


def oracle_semdedup_survivors() -> str:
    cos = (
        "round(list_dot_product({a}.v, {b}.v)\n"
        "               / (sqrt(list_dot_product({a}.v, {a}.v)) "
        "* sqrt(list_dot_product({b}.v, {b}.v))), 6)"
    )
    return (
        "with recursive eaug as " + _AUG_EMB_SQL + ",\n"
        "    e as (select vec_id, list_transform(embedding, x -> cast(x as double)) as v\n"
        "      from eaug),\n"
        "    " + _DUCK_IVF_CENT + ",\n"
        "    " + _DUCK_ASSIGN + ",\n"
        "    av as (\n"
        "      select a.vec_id, a.centroid_id, e.v\n"
        "      from assign a join e using (vec_id)\n"
        "    ),\n"
        "    sp as (\n"
        "      select x.vec_id as id_a, y.vec_id as id_b,\n"
        "             " + cos.format(a="x", b="y") + " as sim\n"
        "      from av x join av y\n"
        "        on x.centroid_id = y.centroid_id and x.vec_id < y.vec_id\n"
        "    ),\n"
        f"    sp2 as (select id_a, id_b from sp where sim >= {SEMDEDUP_T}),\n"
        "    sedges as (\n"
        "      select id_a as a, id_b as b from sp2\n"
        "      union all\n"
        "      select id_b, id_a from sp2\n"
        "    ),\n"
        "    sverts as (select distinct a as id from sedges),\n"
        "    swalk(id, dst) as (\n"
        "      select id, id from sverts\n"
        "      union\n"
        "      select w.id, s.b from swalk w join sedges s on s.a = w.dst\n"
        "    ),\n"
        "    slosers as (select id from swalk group by id having min(dst) <> id)\n"
        "    select vec_id from eaug\n"
        "    where vec_id not in (select id from slosers)"
    )


def q_dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: within each near-dup cluster the member with
    the most tokens survives (ties -> smallest id) — the keep-the-best-
    copy policy (operators/dedup.dedup_survivors_by_quality), checked
    against the same recursive-CTE component oracle with a window rank."""
    from trace_aware_reservoir_otel_spark.functions.text import n_tokens
    from trace_aware_reservoir_otel_spark.operators.dedup import (
        dedup_survivors_by_quality,
    )

    aug = _aug_docs(spark, sf_dir)
    return dedup_survivors_by_quality(
        aug, q_lsh_pairs(spark, sf_dir), n_tokens("text")
    ).select("doc_id")


def oracle_dedup_survivors_quality() -> str:
    ntok = (
        "(case when length(trim(a.text)) = 0 then 0 "
        "else len(regexp_split_to_array(trim(a.text), '\\s+')) end)"
    )
    return (
        "with recursive aug as (\n      " + AUG_DOCS_SQL + "\n    ),\n    "
        + _walk_cte() + ",\n"
        "    comp as (select id, min(dst) as comp from walk group by id),\n"
        "    memq as (\n"
        f"      select c.id, c.comp, {ntok} as q\n"
        "      from comp c join aug a on a.doc_id = c.id\n"
        "    ),\n"
        "    ranked as (\n"
        "      select id, row_number() over (\n"
        "        partition by comp order by q desc, id asc) as rk\n"
        "      from memq\n"
        "    ),\n"
        "    qlosers as (select id from ranked where rk > 1)\n"
        "    select doc_id from aug\n"
        "    where doc_id not in (select id from qlosers)"
    )


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/test decontamination: the train corpus is
    the augmented embedding set (originals + 20 planted exact copies at
    vec_id+100000); the benchmark is the vec_id < 20 slice. Copies land
    in their original's k-means cell (same vector, same centroids) and
    are flagged at sim 1.0 — as are the benchmark rows themselves, which
    the train set accidentally contains (the realistic leak)."""
    from trace_aware_reservoir_otel_spark.operators.similarity import (
        ivf_centroids,
        semantic_decontaminate,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    train = emb.unionByName(copies)
    bench = emb.filter(F.col("vec_id") < 20)
    cents = ivf_centroids(train, n_centroids=IVF_CENTROIDS, seed=SEED)
    return semantic_decontaminate(train, bench, cents, threshold=SEMDEDUP_T)


def oracle_semantic_decontaminate() -> str:
    cos = (
        "round(list_dot_product(t.v, b.bv)\n"
        "               / (sqrt(list_dot_product(t.v, t.v)) "
        "* sqrt(list_dot_product(b.bv, b.bv))), 6)"
    )
    return (
        "with eaug as " + _AUG_EMB_SQL + ",\n"
        "    e as (select vec_id, list_transform(embedding, x -> cast(x as double)) as v\n"
        "      from eaug),\n"
        "    " + _DUCK_IVF_CENT + ",\n"
        "    " + _DUCK_ASSIGN + ",\n"
        "    be as (select vec_id, list_transform(embedding, x -> cast(x as double)) as v\n"
        "      from embeddings where vec_id < 20),\n"
        "    bscored as (\n"
        "      select be.vec_id, c.centroid_id,\n"
        "             round(list_dot_product(be.v, c.cv)\n"
        "               / (sqrt(list_dot_product(be.v, be.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) as sim\n"
        "      from be cross join cent c\n"
        "    ),\n"
        "    bassign as (\n"
        "      select vec_id, centroid_id\n"
        "      from (select *, row_number() over (\n"
        "                   partition by vec_id order by sim desc, centroid_id asc) as rn\n"
        "            from bscored)\n"
        "      where rn = 1\n"
        "    ),\n"
        "    tv as (select a.vec_id, a.centroid_id, e.v\n"
        "      from assign a join e using (vec_id)),\n"
        "    bvt as (select a.centroid_id, be.v as bv\n"
        "      from bassign a join be on be.vec_id = a.vec_id),\n"
        "    hits as (\n"
        "      select t.vec_id, " + cos + " as sim\n"
        "      from tv t join bvt b on t.centroid_id = b.centroid_id\n"
        f"      where {cos} >= {SEMDEDUP_T}\n"
        "    )\n"
        "    select vec_id, cast(count(*) as bigint) as n_contaminated_by,\n"
        "           max(sim) as max_sim\n"
        "    from hits group by vec_id"
    )


def q_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-balance diagnostics over the embedding corpus — the query an
    operator runs before picking n_centroids / max_cell / broadcast_cap
    (operators/similarity.ivf_cell_stats)."""
    from trace_aware_reservoir_otel_spark.operators.similarity import (
        ivf_cell_stats,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(emb, n_centroids=IVF_CENTROIDS, seed=SEED)
    return ivf_cell_stats(emb, cents)


def oracle_ivf_cell_stats() -> str:
    return (
        "with " + _DUCK_E + ",\n    " + _DUCK_IVF_CENT + ",\n    " + _DUCK_ASSIGN + "\n"
        "    select centroid_id,\n"
        "           cast(count(*) as bigint) as n_members,\n"
        "           cast(sum(cast(round(sim * 1000000) as bigint)) as bigint)\n"
        "               as sum_sim_micro,\n"
        "           min(sim) as min_sim,\n"
        "           max(sim) as max_sim\n"
        "    from assign group by centroid_id"
    )


_INC_HIST_SQL = (
    "select doc_id, text from documents where doc_id % 2 = 0"
)
_INC_BATCH_SQL = (
    "select doc_id, text from documents where doc_id % 2 = 1\n"
    "      union all\n"
    "      select doc_id + 1000000 as doc_id,\n"
    "             regexp_replace(text, '^\\S+', 'xyzzy') as text\n"
    "      from documents where doc_id % 2 = 0 and doc_id < 50"
)


def _minhash_index_dir(sf_dir: str) -> str:
    """Deterministic scratch location for the committed MinHash dedup
    index of a given historical corpus + knobs (built once, probed by
    every subsequent call — the amortized-index usage it exists for).
    Same stale-key defense as _ivf_index_dir: the key folds in a
    size+mtime stat of the source parquet."""
    import hashlib
    import tempfile

    key = hashlib.md5(
        f"{sf_dir}:mhidx:{MINHASHES}:{SHINGLE_N}:{BANDS}:{SEED}:{MAX_BUCKET}:"
        f"{_source_stat(f'{sf_dir}/documents.parquet')}".encode()
    ).hexdigest()[:12]
    return f"{tempfile.gettempdir()}/taro_mh_index_{key}"


def q_incremental_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the even-doc_id half of the corpus is the
    committed historical index; the batch is the odd half (mostly fresh)
    plus perturbed copies of indexed docs (planted cross-set near-dups,
    dropped). History always wins; the batch never rescans the corpus
    (operators/dedup.minhash_index + incremental_dedup_survivors)."""
    import os

    from trace_aware_reservoir_otel_spark.operators.dedup import (
        incremental_dedup_survivors,
        minhash_index,
        _MINHASH_META,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 50)).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.regexp_replace("text", r"^\S+", "xyzzy").alias("text"),
        )
    )
    index_dir = _minhash_index_dir(sf_dir)
    if not os.path.exists(os.path.join(index_dir, _MINHASH_META)):
        minhash_index(
            hist,
            index_dir,
            num_hashes=MINHASHES,
            n=SHINGLE_N,
            bands=BANDS,
            portable=True,
            seed=SEED,
            max_bucket=MAX_BUCKET,
        )
    return incremental_dedup_survivors(batch, index_dir).select("doc_id")


def _inc_band_rows_ctes(inc_body: str) -> str:
    """CTE chain inc -> toks -> sh -> mh -> br for a tagged doc union
    (`inc_body` must yield (doc_id, text, grp)); `br` holds the LSH band
    rows (doc_id, grp, band, bucket) under the contract knobs — the SQL
    mirror of minhash_signatures + lsh_band_rows."""
    n1 = SHINGLE_N - 1
    rpb = MINHASHES // BANDS
    mins = ",\n             ".join(
        "min(" + _duck_pbig(f"'{SEED}:mh{h}:' || sh") + f") as mh_{h}"
        for h in range(MINHASHES)
    )
    band_selects = []
    for b in range(BANDS):
        cols = " || ',' || ".join(
            f"cast(mh_{i} as varchar)" for i in range(b * rpb, (b + 1) * rpb)
        )
        band_selects.append(
            f"select doc_id, grp, {b} as band, md5({cols}) as bucket from mh"
        )
    bands_sql = "\n      union all\n      ".join(band_selects)
    return (
        "inc as (\n      " + inc_body + "\n    ),\n"
        "    toks as (\n"
        "      select doc_id, grp, regexp_split_to_array(trim(text), '\\s+') as tk\n"
        "      from inc where length(trim(text)) > 0\n"
        "    ),\n"
        "    sh as (\n"
        "      select distinct doc_id, grp,\n"
        f"             array_to_string(tk[i:i+{n1}], ' ') as sh\n"
        "      from toks\n"
        f"      cross join unnest(range(1, greatest(len(tk) - {n1}, 0) + 1)) as t(i)\n"
        "    ),\n"
        "    mh as (\n"
        "      select doc_id, grp,\n             " + mins + "\n"
        "      from sh group by doc_id, grp\n"
        "    ),\n"
        "    br as (\n      " + bands_sql + "\n    )"
    )


def oracle_incremental_dedup_survivors() -> str:
    inc_body = (
        "select doc_id, text, 0 as grp from (" + _INC_HIST_SQL + ") h\n"
        "      union all\n"
        "      select doc_id, text, 1 as grp from (" + _INC_BATCH_SQL + ") b"
    )
    return (
        "with " + _inc_band_rows_ctes(inc_body) + ",\n"
        "    hsel as (select distinct band, bucket from br where grp = 0),\n"
        "    matched as (\n"
        "      select distinct b.doc_id from br b\n"
        "      join hsel h on b.band = h.band and b.bucket = h.bucket\n"
        "      where b.grp = 1\n"
        "    )\n"
        "    select doc_id from inc where grp = 1\n"
        "      and doc_id not in (select doc_id from matched)"
    )


_STREAM_B1_SQL = (
    "select doc_id, text from documents where doc_id % 4 = 1\n"
    "      union all\n"
    "      select doc_id + 1000000 as doc_id,\n"
    "             regexp_replace(text, '^\\S+', 'xyzzy') as text\n"
    "      from documents where doc_id % 2 = 0 and doc_id < 50"
)
_STREAM_B2_SQL = (
    "select doc_id, text from documents where doc_id % 4 = 3\n"
    "      union all\n"
    "      select doc_id + 2000000 as doc_id,\n"
    "             regexp_replace(text, '^\\S+', 'qwerty') as text\n"
    "      from documents where doc_id % 4 = 1 and doc_id < 100"
)


def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming form of the incremental dedup index
    (streaming/dedup.run_incremental_dedup): two micro-batch files with
    pinned mtimes stream through foreachBatch; batch 1 dedups against the
    committed historical index, batch 2 against history ∪ batch-1
    survivors (appended between batches). Planted cross-set copies make
    both fold steps non-trivial: batch 1 carries perturbed copies of
    indexed docs (dropped vs history), batch 2 carries perturbed copies
    of batch-1 docs (dropped vs the APPENDED survivors — the step a
    one-shot dedup cannot express). Fresh index/out/checkpoint dirs per
    call: the stream mutates its index, so nothing is cached."""
    import os
    import tempfile
    import time as _time

    from trace_aware_reservoir_otel_spark.operators.dedup import minhash_index
    from trace_aware_reservoir_otel_spark.streaming.dedup import (
        read_survivors,
        run_incremental_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 4 == 1).unionByName(
        docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 50)).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.regexp_replace("text", r"^\S+", "xyzzy").alias("text"),
        )
    )
    b2 = docs.filter(F.col("doc_id") % 4 == 3).unionByName(
        docs.filter((F.col("doc_id") % 4 == 1) & (F.col("doc_id") < 100)).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.regexp_replace("text", r"^\S+", "qwerty").alias("text"),
        )
    )
    root = tempfile.mkdtemp(prefix="taro_sdedup_")
    idx, inp = f"{root}/idx", f"{root}/in"
    os.makedirs(inp)
    minhash_index(
        hist,
        idx,
        num_hashes=MINHASHES,
        n=SHINGLE_N,
        bands=BANDS,
        portable=True,
        seed=SEED,
        max_bucket=MAX_BUCKET,
    )
    t0 = _time.time() - 100
    for name, frame, mt in (("b1", b1, t0), ("b2", b2, t0 + 10)):
        tmp = f"{root}/stage_{name}"
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet")
        )
        os.replace(os.path.join(tmp, part), f"{inp}/{name}.parquet")
        os.utime(f"{inp}/{name}.parquet", (mt, mt))
    run_incremental_dedup(spark, inp, idx, f"{root}/out", f"{root}/ckpt")
    return read_survivors(spark, f"{root}/out").select("doc_id")


def oracle_streaming_incremental_dedup() -> str:
    inc_body = (
        "select doc_id, text, 0 as grp from (" + _INC_HIST_SQL + ") h\n"
        "      union all\n"
        "      select doc_id, text, 1 as grp from (" + _STREAM_B1_SQL + ") b1\n"
        "      union all\n"
        "      select doc_id, text, 2 as grp from (" + _STREAM_B2_SQL + ") b2"
    )
    return (
        "with " + _inc_band_rows_ctes(inc_body) + ",\n"
        "    hsel as (select distinct band, bucket from br where grp = 0),\n"
        "    m1 as (\n"
        "      select distinct b.doc_id from br b\n"
        "      join hsel h on b.band = h.band and b.bucket = h.bucket\n"
        "      where b.grp = 1\n"
        "    ),\n"
        "    s1 as (\n"
        "      select doc_id from inc where grp = 1\n"
        "        and doc_id not in (select doc_id from m1)\n"
        "    ),\n"
        "    hsel2 as (\n"
        "      select band, bucket from hsel\n"
        "      union\n"
        "      select distinct b.band, b.bucket from br b\n"
        "      join s1 on b.doc_id = s1.doc_id where b.grp = 1\n"
        "    ),\n"
        "    m2 as (\n"
        "      select distinct b.doc_id from br b\n"
        "      join hsel2 h on b.band = h.band and b.bucket = h.bucket\n"
        "      where b.grp = 2\n"
        "    ),\n"
        "    s2 as (\n"
        "      select doc_id from inc where grp = 2\n"
        "        and doc_id not in (select doc_id from m2)\n"
        "    )\n"
        "    select doc_id from s1 union all select doc_id from s2"
    )


def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix over the augmented corpus (planted
    near-dup copies inherit their original's source), counting LSH
    near-dup pairs per unordered source pair
    (operators/dedup.dup_source_matrix)."""
    from trace_aware_reservoir_otel_spark.operators.dedup import dup_source_matrix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_map = docs.select("doc_id", "source").unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "source"
        )
    )
    return dup_source_matrix(q_lsh_pairs(spark, sf_dir), src_map)


def oracle_dup_source_matrix() -> str:
    return (
        "with pairs as (select * from (" + oracle_lsh_pairs() + ") t),\n"
        "    smap as (\n"
        "      select doc_id, source from documents\n"
        "      union all\n"
        "      select doc_id + 1000000 as doc_id, source\n"
        "      from documents where doc_id < 50\n"
        "    ),\n"
        "    ab as (\n"
        "      select ma.source as s_a, mb.source as s_b\n"
        "      from pairs p\n"
        "      join smap ma on ma.doc_id = p.doc_a\n"
        "      join smap mb on mb.doc_id = p.doc_b\n"
        "    )\n"
        "    select least(s_a, s_b) as source_a,\n"
        "           greatest(s_a, s_b) as source_b,\n"
        "           cast(count(*) as bigint) as n_pairs\n"
        "    from ab group by 1, 2"
    )


DEDUP_QUERIES = {
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_lsh_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard,
    "simhash52": q_simhash,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_bucket": q_ann_lsh_bucket,
    "embedding_near_pairs": q_embedding_near_pairs,
    "simhash_near_pairs": q_simhash_near_pairs,
    "ivf_assign": q_ivf_assign,
    "ann_ivf_topk": q_ann_ivf_topk,
    "dup_clusters": q_dup_clusters,
    "dup_clusters_two_phase": q_dup_clusters_two_phase,
    "dedup_survivors": q_dedup_survivors,
    "embedding_dedup_survivors": q_embedding_dedup_survivors,
    "semdedup_survivors": q_semdedup_survivors,
    "dedup_survivors_quality": q_dedup_survivors_quality,
    "semantic_decontaminate": q_semantic_decontaminate,
    "ivf_cell_stats": q_ivf_cell_stats,
    "incremental_dedup_survivors": q_incremental_dedup_survivors,
    "streaming_incremental_dedup": q_streaming_incremental_dedup,
    "dup_source_matrix": q_dup_source_matrix,
}


def dedup_oracles() -> "dict[str, str]":
    return {
        "minhash_signatures": oracle_minhash_signatures(),
        "minhash_lsh_pairs": oracle_lsh_pairs(),
        "ngram_jaccard_pairs": oracle_ngram_jaccard(),
        "simhash52": oracle_simhash(),
        "ann_cosine_topk": oracle_ann_cosine_topk(),
        "ann_lsh_bucket": oracle_ann_lsh_bucket(),
        "embedding_near_pairs": oracle_embedding_near_pairs(),
        "simhash_near_pairs": oracle_simhash_near_pairs(),
        "ivf_assign": oracle_ivf_assign(),
        "ann_ivf_topk": oracle_ann_ivf_topk(),
        "dup_clusters": oracle_dup_clusters(),
        "dup_clusters_two_phase": oracle_dup_clusters(),
        "dedup_survivors": oracle_dedup_survivors(),
        "embedding_dedup_survivors": oracle_embedding_dedup_survivors(),
        "semdedup_survivors": oracle_semdedup_survivors(),
        "dedup_survivors_quality": oracle_dedup_survivors_quality(),
        "semantic_decontaminate": oracle_semantic_decontaminate(),
        "ivf_cell_stats": oracle_ivf_cell_stats(),
        "incremental_dedup_survivors": oracle_incremental_dedup_survivors(),
        "streaming_incremental_dedup": oracle_streaming_incremental_dedup(),
        "dup_source_matrix": oracle_dup_source_matrix(),
    }
