"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Training-data-pipeline ops for the 100 TB engine: brute-force cosine top-k as
the correctness baseline, random-hyperplane LSH bucketing and an IVF-style
nearest-centroid assignment as the scale paths.

Cross-engine determinism: all arithmetic is forced to float64 in BOTH engines
(Spark: cast each element to double before the fold; DuckDB: ``::DOUBLE[]``),
cosines are rounded to 4 decimals and ordering always tie-breaks on ids, so
value-hashes match. The LSH hyperplanes are deterministic constants derived
from md5 in Python and inlined as literals into both plans — no engine-hash
dependence.

Scale notes: top-k brute force is O(Q x N) with the probe side broadcast —
right for small probe sets; the LSH/IVF variants turn neighbor search into an
equi-join / hash-partition on bucket id, which shuffles uniformly and scales
to 10^12 rows. At 100 TB, the bucket id becomes the table's partition key so
candidate generation is shuffle-free.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame
from ._tables import load

DIM = 64
N_PLANES = 8
TOP_K = 5
N_CENTROIDS = 8


def _plane(h: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — same constants are
    inlined into the Spark plan and the oracle SQL."""
    return [
        int(hashlib.md5(f"{h}_{i}".encode()).hexdigest()[:8], 16) / 2**31 - 1.0
        for i in range(DIM)
    ]


PLANES: list[list[float]] = [_plane(h) for h in range(N_PLANES)]


def _to_double(col: F.Column) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(_dot(a, a))



# ---------------------------------------------------------------------------
# brute-force cosine top-k (correctness baseline)
# ---------------------------------------------------------------------------

def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "e", _to_double(F.col("embedding"))
    )
    # norms are computed ONCE per side before the pair join — per-pair work
    # is a single dot-product fold; recomputing norms inside the join would
    # triple the O(Q x N) per-pair fold work. (Round-4 A/B: the fold also
    # beats an unrolled 64-term getItem chain 2x — Spark 4 evaluates array
    # folds efficiently while the giant expression defeats codegen/JIT —
    # so the fold IS the fast form, not just the readable one.)
    probes = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        _norm(F.col("e")).alias("pn"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ne"),
        _norm(F.col("e")).alias("nn"),
    )
    joined = cand.join(
        F.broadcast(probes), F.col("neighbor_id") != F.col("probe_id")
    )
    cos = _dot(F.col("pe"), F.col("ne")) / (F.col("pn") * F.col("nn"))
    scored = joined.select(
        "probe_id", "neighbor_id", F.round(cos + 1e-9, 4).alias("cos_sim")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
probes AS (SELECT vec_id AS probe_id, e AS pe FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT probe_id, vec_id AS neighbor_id,
         round(list_dot_product(pe, e)
               / (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(e, e)))
               + 1e-9, 4) AS cos_sim
  FROM e JOIN probes ON vec_id != probe_id
)
SELECT probe_id, neighbor_id, cos_sim,
       rank::INTEGER AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# random-hyperplane LSH bucketing (scale path: equi-join on bucket)
# ---------------------------------------------------------------------------

def _sql_plane_literal(h: int) -> str:
    return "[" + ", ".join(repr(v) for v in PLANES[h]) + "]"


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "e", _to_double(F.col("embedding"))
    )
    bucket = F.lit(0)
    for h in range(N_PLANES):
        plane = F.array(*[F.lit(v) for v in PLANES[h]])
        bucket = bucket + F.when(_dot(F.col("e"), plane) > 0, 1 << h).otherwise(0)
    return (
        emb.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


def _lsh_buckets_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {_sql_plane_literal(h)}) > 0 "
        f"THEN {1 << h} ELSE 0 END)"
        for h in range(N_PLANES)
    )
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
SELECT ({terms})::INTEGER AS bucket,
       count(*)::BIGINT AS n_vectors,
       count(DISTINCT label)::BIGINT AS n_labels
FROM e GROUP BY 1
"""


# ---------------------------------------------------------------------------
# IVF-style nearest-centroid assignment (scale path: partition by centroid)
# ---------------------------------------------------------------------------

def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "e", _to_double(F.col("embedding"))
    )
    cents = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        _norm(F.col("e")).alias("cn"),
    )
    # per-side norms precomputed before the fan-out join (see
    # similarity_topk_bruteforce) — per-pair work is one fold, not three
    joined = emb.withColumn("en", _norm(F.col("e"))).join(
        F.broadcast(cents), F.col("vec_id") >= F.lit(N_CENTROIDS)
    )
    cos = _dot(F.col("e"), F.col("ce")) / (F.col("en") * F.col("cn"))
    scored = joined.select(
        "vec_id", "label", "centroid_id", F.round(cos + 1e-9, 4).alias("cos_sim")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("centroid_id").asc()
    )
    assigned = (
        scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    return assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_assigned"),
        F.round(F.avg("cos_sim") + 1e-9, 4).alias("avg_cos"),
    )


_IVF_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, e AS ce FROM e WHERE vec_id < {N_CENTROIDS}),
scored AS (
  SELECT vec_id, centroid_id,
         round(list_dot_product(e, ce)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce)))
               + 1e-9, 4) AS cos_sim
  FROM e CROSS JOIN cents
  WHERE vec_id >= {N_CENTROIDS}
),
assigned AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, centroid_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT centroid_id, count(*)::BIGINT AS n_assigned,
       round(avg(cos_sim) + 1e-9, 4) AS avg_cos
FROM assigned GROUP BY centroid_id
"""


# ---------------------------------------------------------------------------
# IVF search — assign to inverted lists, probe only the query's own list
# ---------------------------------------------------------------------------

def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-style ANN search (assign + probe, nprobe=1): every vector
    joins its nearest centroid's inverted list; each probe vector searches
    ONLY its own list via an equi-join on centroid_id, then exact cosine +
    windowed top-k. The scale shape: candidate generation is a
    hash-partitioned equi-join on the centroid key (at 10^12 vectors the
    table is partitioned BY centroid so probing is shuffle-free), and the
    quadratic work is confined to one inverted list per probe — never the
    full table (that's `similarity_topk_bruteforce`'s baseline role)."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "e", _to_double(F.col("embedding"))
    )
    cents = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        _norm(F.col("e")).alias("cn"),
    )
    data = emb.filter(F.col("vec_id") >= N_CENTROIDS).withColumn(
        "en", _norm(F.col("e"))
    )
    cos_c = _dot(F.col("e"), F.col("ce")) / (F.col("en") * F.col("cn"))
    scored = data.join(F.broadcast(cents)).select(
        "vec_id", "e", "en", "centroid_id", F.round(cos_c + 1e-9, 4).alias("cos_c")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cos_c").desc(), F.col("centroid_id").asc()
    )
    assigned = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", "en", "centroid_id")
    )
    probes = assigned.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("en").alias("qn"),
        "centroid_id",
    )
    cand = probes.join(assigned, "centroid_id").filter(
        F.col("vec_id") != F.col("q_id")
    )
    cos_q = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("en"))
    pairs = cand.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos_q + 1e-9, 4).alias("cos_sim"),
    )
    w_k = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "neighbor_id", "cos_sim", "rank")
    )


_IVF_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, e AS ce FROM e WHERE vec_id < {N_CENTROIDS}),
scored AS (
  SELECT vec_id, e, centroid_id,
         round(list_dot_product(e, ce)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce)))
               + 1e-9, 4) AS cos_c
  FROM e CROSS JOIN cents
  WHERE vec_id >= {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, e, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_c DESC, centroid_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, e AS qe, centroid_id FROM assigned WHERE vec_id % 101 = 0
),
pairs AS (
  SELECT q_id, a.vec_id AS neighbor_id,
         round(list_dot_product(qe, a.e)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(a.e, a.e)))
               + 1e-9, 4) AS cos_sim
  FROM probes p JOIN assigned a USING (centroid_id)
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, neighbor_id, cos_sim, rank::INTEGER AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM pairs
)
WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# norm sanity stats (cheap cardinality/health counters, A5 analog)
# ---------------------------------------------------------------------------

def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "e", _to_double(F.col("embedding"))
    )
    return (
        emb.withColumn("nrm", F.round(_norm(F.col("e")) + 1e-9, 4))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.min("nrm") + 1e-9, 4).alias("min_norm"),
            F.round(F.max("nrm") + 1e-9, 4).alias("max_norm"),
        )
    )


_NORM_STATS_SQL = """
WITH e AS (
  SELECT label, round(sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[])) + 1e-9, 4) AS nrm
  FROM embeddings
)
SELECT label, count(*)::BIGINT AS n_vectors,
       round(min(nrm) + 1e-9, 4) AS min_norm,
       round(max(nrm) + 1e-9, 4) AS max_norm
FROM e GROUP BY label
"""


# ---------------------------------------------------------------------------
# embedding near-dup — LSH bucket candidates verified by exact cosine
# ---------------------------------------------------------------------------

_NEAR_DUP_COS = 0.3


def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for embedding near-dup detection: candidate pairs come
    from an equi-join on the LSH bucket (no quadratic blow-up), then exact
    cosine verifies. At 10^12 rows the bucket is the shuffle/partition key."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "e", _to_double(F.col("embedding"))
    )
    bucket = F.lit(0)
    for h in range(N_PLANES):
        plane = F.array(*[F.lit(v) for v in PLANES[h]])
        bucket = bucket + F.when(_dot(F.col("e"), plane) > 0, 1 << h).otherwise(0)
    b = emb.select(
        "vec_id",
        "e",
        bucket.cast("int").alias("bucket"),
        # norm computed once per row, not once per candidate pair
        _norm(F.col("e")).alias("nrm"),
    )
    left = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
        "bucket",
    )
    right = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    pairs = left.join(right, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos + 1e-9, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= _NEAR_DUP_COS)
    )


def _neardup_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {_sql_plane_literal(h)}) > 0 "
        f"THEN {1 << h} ELSE 0 END)"
        for h in range(N_PLANES)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT vec_id, e, ({terms})::INTEGER AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         round(list_dot_product(a.e, b2.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b2.e, b2.e))) + 1e-9, 4) AS cos_sim
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {_NEAR_DUP_COS}
"""


# ---------------------------------------------------------------------------
# product quantization — per-block nearest-centroid code assignment
# ---------------------------------------------------------------------------

PQ_M = 4        # sub-vector blocks (64 dims → 4 x 16)
PQ_SUB = DIM // PQ_M
PQ_K = 4        # centroids per block (codebook = first PQ_K vectors' slices)


def _pq_codebook_and_best(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared PQ machinery: (codebook(m, c_id, ce), best(vec_id, m, c_id,
    d)) — per database vector and block, the nearest codebook centroid
    with its squared-L2 distance (deterministic tie-break). Used by the
    encoder (``embedding_pq_code``) and the ADC search
    (``ann_pq_topk``)."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "e", _to_double(F.col("embedding"))
    )
    blocks = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    sub_expr = F.slice(
        F.col("e"), F.col("m") * PQ_SUB + F.lit(1), F.lit(PQ_SUB)
    )
    cb = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("c_id"), "e")
        .select("c_id", blocks, "e")
        .select("c_id", "m", sub_expr.alias("ce"))
    )
    sub = (
        emb.filter(F.col("vec_id") >= PQ_K)
        .select("vec_id", blocks, "e")
        .select("vec_id", "m", sub_expr.alias("se"))
    )
    # same algebraic form as the oracle (dot expansions) so doubles match
    d = F.round(
        _dot(F.col("se"), F.col("se"))
        - 2.0 * _dot(F.col("se"), F.col("ce"))
        + _dot(F.col("ce"), F.col("ce"))
        + 1e-9,
        4,
    )
    scored = sub.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "c_id", d.alias("d")
    )
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d").asc(), F.col("c_id").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return cb, best


def embedding_pq_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: split each vector into ``PQ_M``
    sub-vectors, assign each to its nearest codebook centroid (squared L2,
    deterministic tie-break), pack the per-block codes into one small int.

    The compressed-ANN scale path: at 10^12 vectors the 64-dim float payload
    (256 B) collapses to a 1-byte code per block; candidate scan becomes a
    table-lookup over codes. Codebook is tiny (PQ_M x PQ_K rows) and
    broadcast — the only wide op is the per-(vector, block) argmin window,
    partitioned by vec_id (uniform keys, no skew).
    """
    _, best = _pq_codebook_and_best(spark, sf_dir)
    return best.groupBy("vec_id").agg(
        F.sum(F.col("c_id") * F.pow(F.lit(float(PQ_K)), 3 - F.col("m")))
        .cast("int")
        .alias("pq_code"),
        F.round(F.sum("d") + 1e-9, 4).alias("q_err"),
    )


# shared oracle chain for the PQ family: encoder (_PQ_SQL) and ADC search
# (_PQ_TOPK_SQL) replay the SAME codebook / sub-vector / per-block argmin
# CTEs — one definition, so a tie-break or rounding change cannot drift
# between them (same pattern as corpus._bpe_chain_sql)
_PQ_CHAIN_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
blocks AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
cb AS (
  SELECT m, e.vec_id AS c_id,
         list_slice(e.e, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS ce
  FROM e, blocks WHERE e.vec_id < {PQ_K}
),
sub AS (
  SELECT vec_id, m, list_slice(e, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS se
  FROM e, blocks WHERE vec_id >= {PQ_K}
),
scored AS (
  SELECT vec_id, sub.m AS m, c_id,
         round(list_dot_product(se, se) - 2*list_dot_product(se, ce)
               + list_dot_product(ce, ce) + 1e-9, 4) AS d
  FROM sub JOIN cb ON sub.m = cb.m
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d ASC, c_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)"""

_PQ_SQL = _PQ_CHAIN_SQL + f"""
SELECT vec_id,
       sum(c_id * pow({PQ_K}, 3 - m))::INTEGER AS pq_code,
       round(sum(d) + 1e-9, 4) AS q_err
FROM best GROUP BY vec_id
"""

PQ_PROBE_ID = PQ_K   # query vector: the first database (non-codebook) row
PQ_TOPK = 10


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search: the query vector stays
    uncompressed; each database vector is represented only by its per-block
    nearest-centroid code, and its approximate distance is the sum of
    precomputed ``||q_m - centroid||²`` lookup-table entries — the
    Jegou-style PQ search loop, as a plan.

    Scale shape: the lookup table is PQ_M x PQ_K rows (tiny, broadcast);
    the database side touches only the code columns (at 10^12 vectors the
    scan reads 4 bytes/vector, not the 256-byte float payload — the entire
    point of PQ), the distance is a broadcast equi-join on (m, code) plus
    a per-vector partial-aggregating sum, and only the k-row result sorts.
    Same rounding discipline as the encoder so both engines sum identical
    4-decimal table entries.
    """
    cb, best = _pq_codebook_and_best(spark, sf_dir)
    probe = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == PQ_PROBE_ID)
        .withColumn("e", _to_double(F.col("embedding")))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"), "e"
        )
        .select(
            "m",
            F.slice(
                F.col("e"), F.col("m") * PQ_SUB + F.lit(1), F.lit(PQ_SUB)
            ).alias("qe"),
        )
    )
    lut = probe.join(F.broadcast(cb), "m").select(
        "m",
        "c_id",
        F.round(
            _dot(F.col("qe"), F.col("qe"))
            - 2.0 * _dot(F.col("qe"), F.col("ce"))
            + _dot(F.col("ce"), F.col("ce"))
            + 1e-9,
            4,
        ).alias("lq"),
    )
    adist = (
        best.select("vec_id", "m", "c_id")
        .join(F.broadcast(lut), ["m", "c_id"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("lq") + 1e-9, 4).alias("approx_d2"))
    )
    # TakeOrdered for the global cut (per-partition heaps + k-row merge —
    # never a single-partition sort of the full table), then rank the tiny
    # k-row result with a window
    top = adist.orderBy(
        F.col("approx_d2").asc(), F.col("vec_id").asc()
    ).limit(PQ_TOPK)
    w = Window.orderBy(F.col("approx_d2").asc(), F.col("vec_id").asc())
    return top.withColumn("rk", F.row_number().over(w)).select(
        "vec_id", "approx_d2", "rk"
    )


_PQ_TOPK_SQL = _PQ_CHAIN_SQL + f"""
, probe AS (
  SELECT m, list_slice(e, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS qe
  FROM e, blocks WHERE vec_id = {PQ_PROBE_ID}
),
lut AS (
  SELECT cb.m AS m, c_id,
         round(list_dot_product(qe, qe) - 2*list_dot_product(qe, ce)
               + list_dot_product(ce, ce) + 1e-9, 4) AS lq
  FROM probe JOIN cb ON probe.m = cb.m
),
adist AS (
  SELECT vec_id, round(sum(lq) + 1e-9, 4) AS approx_d2
  FROM best JOIN lut ON best.m = lut.m AND best.c_id = lut.c_id
  GROUP BY vec_id
)
SELECT vec_id, approx_d2, rk::INTEGER AS rk
FROM (
  SELECT *, row_number() OVER (ORDER BY approx_d2 ASC, vec_id ASC) AS rk
  FROM adist
) WHERE rk <= {PQ_TOPK}
"""


# ---------------------------------------------------------------------------
# iterative k-means training (Lloyd's algorithm, broadcast-centroid pattern)
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3


def _sq_l2_to(lit_centroid: list[float]) -> F.Column:
    """Squared L2 distance from column ``e`` to a centroid literal, in the
    dot-expansion form ``e·e − 2·e·c + c·c`` — the SAME algebraic tree as
    the oracle's ``list_dot_product`` expansion (the _PQ_CHAIN_SQL
    discipline), so both engines accumulate identical float64 sums. The
    earlier ``Σ(x−y)²`` fold paired with the oracle's
    ``list_distance(..)^2`` (sqrt then square) differed by ~1 ulp — enough
    to flip an argmin tie or a .00005 rounding boundary and then compound
    through the Lloyd iterations."""
    c = F.array(*[F.lit(float(v)) for v in lit_centroid])
    e = F.col("e")
    return _dot(e, e) - 2.0 * _dot(e, c) + _dot(c, c)


def _kmeans_assign(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment with centroids inlined as literals: a
    map-only projection — ZERO shuffle, the shape that matters at 10^12
    rows (Spark MLlib's KMeans does the same broadcast-and-scan per
    iteration). Distances are rounded (4 dp, +1e-9 nudge — the repo's
    cross-engine convention) and ties break to the lowest cluster id via
    array_position's first-match semantics, mirroring the oracle's
    ``ORDER BY dist, cid`` window."""
    dists = F.array(*[F.round(_sq_l2_to(c) + 1e-9, 4) for c in cents])
    return emb.withColumn("dists", dists).select(
        "vec_id",
        "label",
        "e",
        (F.expr("array_position(dists, array_min(dists))") - 1)
        .cast("int")
        .alias("cluster_id"),
    )


def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative Lloyd's k-means over the embeddings table — the
    "iterative algorithm" category of the training-data-pipeline brief,
    expressed Spark-first: per iteration, assignment is a broadcast-literal
    map-only projection (no shuffle) and the centroid update is ONE partial
    (map-side-combined) aggregation of K x DIM cells; only the K updated
    centroids (tiny) return to the driver between iterations. Deterministic
    end-to-end: init = the K lowest-vec_id vectors, per-dim means rounded in
    the PLAN (F.round, 6 dp) before becoming next-iteration literals, so a
    re-run — or the DuckDB oracle, which replays the same 3 iterations as a
    CTE chain — reproduces identical assignments. Output is integer-only
    (cluster x true-label contingency) so the value-hash is rounding-proof.

    Reference analog: the reference has no iterative op; this extends the
    IVF centroid-assignment family (``ann_ivf_assign``) into training.
    """
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    )
    init_rows = emb.orderBy("vec_id").limit(KMEANS_K).select("e").collect()
    cents = [list(r["e"]) for r in init_rows]

    assigned = _kmeans_assign(emb, cents)
    for _ in range(KMEANS_ITERS - 1):
        upd = (
            assigned.groupBy("cluster_id")
            .agg(
                *[
                    F.round(F.avg(F.col("e").getItem(d)) + 1e-9, 6).alias(f"m{d}")
                    for d in range(DIM)
                ]
            )
            .collect()
        )
        by_cid = {r["cluster_id"]: [r[f"m{d}"] for d in range(DIM)] for r in upd}
        # empty clusters keep their previous centroid (standard Lloyd)
        cents = [by_cid.get(cid, cents[cid]) for cid in range(KMEANS_K)]
        assigned = _kmeans_assign(emb, cents)

    return (
        assigned.groupBy("cluster_id", "label")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("cluster_id", "label")
    )


def _kmeans_sql() -> str:
    """Oracle: the same 3 Lloyd iterations as a DuckDB CTE chain (assign via
    dist/cid-ordered window, update via unnest+generate_subscripts per-dim
    avg, empty clusters carried through a left join)."""
    parts = [
        "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
  FROM e ORDER BY vec_id LIMIT {KMEANS_K}
),""",
    ]
    for it in range(KMEANS_ITERS):
        parts.append(f"""a{it} AS (
  SELECT vec_id, label, e, cid FROM (
    SELECT e.vec_id, e.label, e.e, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.e, e.e) - 2*list_dot_product(e.e, c.ce)
                            + list_dot_product(c.ce, c.ce) + 1e-9, 4) ASC,
                      c.cid ASC) AS rn
    FROM e CROSS JOIN c{it} c
  ) WHERE rn = 1
),""")
        if it < KMEANS_ITERS - 1:
            parts.append(f"""u{it} AS (
  SELECT cid, list(m ORDER BY dim) AS ce FROM (
    SELECT cid, dim, round(avg(v) + 1e-9, 6) AS m FROM (
      SELECT cid, unnest(e) AS v, generate_subscripts(e, 1) AS dim FROM a{it}
    ) GROUP BY cid, dim
  ) GROUP BY cid
),""")
            parts.append(f"""c{it + 1} AS (
  SELECT c.cid, COALESCE(u.ce, c.ce) AS ce
  FROM c{it} c LEFT JOIN u{it} u USING (cid)
),""")
    final = KMEANS_ITERS - 1
    # the last CTE fragment carries a trailing comma by construction
    parts[-1] = parts[-1].rstrip().rstrip(",")
    parts.append(f"""SELECT cid AS cluster_id, label, count(*)::BIGINT AS n_vecs
FROM a{final} GROUP BY 1, 2 ORDER BY 1, 2""")
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# top principal component — distributed power iteration
# ---------------------------------------------------------------------------

PCA_ITERS = 4


def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the centered embedding cloud by
    distributed power iteration — the whitening/decorrelation precursor
    (a corpus whose embeddings collapse onto one axis ANN-indexes and
    clusters badly; the top PC's variance share is the cheap detector).

    Spark-first iterative shape, same contract as ``kmeans_train``: per
    step, the matvec ``w = Σ_i (x_i − μ)((x_i − μ)·v)`` is ONE map-side-
    combined 64-cell aggregation with the current direction embedded as
    broadcast literals; only the 64 rounded cells return to the driver.
    Between steps the direction renormalizes by MAX-NORM, not L2 — the
    max is order-free and the per-component division is a single IEEE op,
    so the literal chain is bit-reproducible across engines (an L2 norm
    would inject a summation-order ulp into every literal). Cells round
    at 6 dp IN THE PLAN (F.round) before becoming literals; the DuckDB
    oracle replays the identical ``PCA_ITERS``-step CTE chain. The L2
    normalization and the Rayleigh-quotient variance share appear only in
    the FINAL projection, under plan-side rounding.

    Output: (dim, loading, lam, var_share) — loading the unit top PC,
    ``lam`` its Rayleigh eigenvalue estimate, ``var_share`` = lam / trace.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        _to_double(F.col("embedding")).alias("e")
    )
    mu_row = emb.agg(
        *[
            F.round(F.avg(F.col("e").getItem(d)) + 1e-9, 6).alias(f"m{d}")
            for d in range(DIM)
        ]
    ).collect()[0]
    mu = [mu_row[f"m{d}"] for d in range(DIM)]

    v = [1.0] * DIM  # deterministic seed, max-norm 1
    for _ in range(PCA_ITERS):
        dot = sum(
            (F.col("e").getItem(d) - mu[d]) * v[d] for d in range(DIM)
        )
        w_row = (
            emb.select("e", dot.alias("dot"))
            .agg(
                *[
                    F.round(
                        F.sum((F.col("e").getItem(d) - mu[d]) * F.col("dot"))
                        + 1e-9,
                        6,
                    ).alias(f"w{d}")
                    for d in range(DIM)
                ]
            )
            .collect()[0]
        )
        w = [w_row[f"w{d}"] for d in range(DIM)]
        m = max(abs(x) for x in w)
        # exact: each component is one IEEE division of rounded decimals
        v = [x / m for x in w]

    fin_dot = sum((F.col("e").getItem(k) - mu[k]) * v[k] for k in range(DIM))
    n_row = (
        emb.select("e", fin_dot.alias("dot"))
        .agg(
            F.count("*").alias("n"),
            *[
                F.round(
                    F.avg(
                        (F.col("e").getItem(d) - mu[d])
                        * (F.col("e").getItem(d) - mu[d])
                    )
                    + 1e-9,
                    6,
                ).alias(f"t{d}")
                for d in range(DIM)
            ],
            *[
                F.round(
                    F.sum((F.col("e").getItem(d) - mu[d]) * F.col("dot"))
                    + 1e-9,
                    6,
                ).alias(f"w{d}")
                for d in range(DIM)
            ],
        )
        .collect()[0]
    )
    n = n_row["n"]
    trace = sum(n_row[f"t{d}"] for d in range(DIM))
    w_fin = [n_row[f"w{d}"] for d in range(DIM)]
    vv = sum(x * x for x in v)
    vw = sum(a * b for a, b in zip(v, w_fin))
    lam = vw / (n * vv)
    l2 = vv ** 0.5
    rows = [
        (
            d,
            round(v[d] / l2 + 1e-9, 6),
            round(lam + 1e-9, 4),
            round(lam / trace + 1e-9, 4),
        )
        for d in range(DIM)
    ]
    return local_frame(
        spark, rows, "dim int, loading double, lam double, var_share double"
    ).orderBy("dim")


def _top_pc_sql() -> str:
    """Oracle: replay the identical literal chain — same plan-side
    roundings, same max-norm renormalization, same final Rayleigh
    projection. Driver-side Python rounds with round() (banker's) while
    SQL rounds half-away-from-zero, so the FINAL scalars are computed on
    values already rounded in-plan where halves cannot occur (+1e-9
    epsilon convention)."""
    def dot_expr(vcols: str) -> str:
        return " + ".join(
            f"(e[{d + 1}] - m{d}) * {vcols}{d}" for d in range(DIM)
        )

    parts = [
        "WITH e AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),",
        "mu AS (SELECT "
        + ", ".join(
            f"round(avg(e[{d + 1}]) + 1e-9, 6) AS m{d}" for d in range(DIM)
        )
        + " FROM e),",
        "v0 AS (SELECT "
        + ", ".join(f"1.0::DOUBLE AS v{d}" for d in range(DIM))
        + "),",
    ]
    for t in range(PCA_ITERS):
        parts.append(
            f"w{t} AS (SELECT "
            + ", ".join(
                f"round(sum((e[{d + 1}] - m{d}) * dot) + 1e-9, 6) AS w{d}"
                for d in range(DIM)
            )
            + f" FROM (SELECT e.e, mu.*, {dot_expr('v')} AS dot"
            f" FROM e CROSS JOIN mu CROSS JOIN v{t}) ),"
        )
        gm = "greatest(" + ", ".join(f"abs(w{d})" for d in range(DIM)) + ")"
        parts.append(
            f"v{t + 1} AS (SELECT "
            + ", ".join(f"w{d} / {gm} AS v{d}" for d in range(DIM))
            + f" FROM w{t}),"
        )
    vfin = f"v{PCA_ITERS}"
    parts.append(
        "fin AS (SELECT count(*)::BIGINT AS n, "
        + ", ".join(
            f"round(avg((e[{d + 1}] - m{d}) * (e[{d + 1}] - m{d})) + 1e-9, 6)"
            f" AS t{d}"
            for d in range(DIM)
        )
        + ", "
        + ", ".join(
            f"round(sum((e[{d + 1}] - m{d}) * dot) + 1e-9, 6) AS w{d}"
            for d in range(DIM)
        )
        + f" FROM (SELECT e.e, mu.*, {dot_expr('v')} AS dot"
        f" FROM e CROSS JOIN mu CROSS JOIN {vfin}) ),"
    )
    trace = " + ".join(f"t{d}" for d in range(DIM))
    vv = " + ".join(f"v{d} * v{d}" for d in range(DIM))
    vw = " + ".join(f"v{d} * w{d}" for d in range(DIM))
    parts.append(
        f"""scal AS (
  SELECT ({vw}) / (n * ({vv})) AS lam, {trace} AS tr, sqrt({vv}) AS l2
  FROM fin CROSS JOIN {vfin}
), dims AS (
  SELECT unnest(range(0, {DIM})) AS dim
), vrow AS (
  SELECT unnest([{", ".join(f"v{d}" for d in range(DIM))}]) AS vc,
         generate_subscripts([{", ".join(f"v{d}" for d in range(DIM))}], 1) - 1
           AS dim
  FROM {vfin}
)
SELECT d.dim::INT AS dim,
       round(vr.vc / s.l2 + 1e-9, 6) AS loading,
       round(s.lam + 1e-9, 4) AS lam,
       round(s.lam / s.tr + 1e-9, 4) AS var_share
FROM dims d JOIN vrow vr USING (dim) CROSS JOIN scal s
ORDER BY dim"""
    )
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup — cluster-blocked cosine pruning
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.3


def semantic_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication in the SemDeDup shape (Abbas et al. 2023,
    arXiv:2303.09540): block the corpus by k-means cluster, compare pairs
    ONLY within a cluster, and among near-duplicates keep the vector closest
    to its centroid. This is the third — and at 100 TB the cheapest —
    candidate-generation strategy in the embedding-dedup family:
    `dedup_embedding_neardup` blocks by LSH bucket (recall bounded by the
    hyperplane count), `similarity_topk_bruteforce` is the exact-but-
    quadratic baseline; cluster blocking reuses centroids the pipeline
    already trains (`kmeans_train`) so candidate generation costs one
    broadcast-literal map-only assignment (zero shuffle) plus ONE window +
    ONE self-equi-join on `cluster_id` — the window's hash-partitioning on
    `cluster_id` is reused by the join, and the quadratic work is confined
    to a cluster (K fixed → cluster size ~N/K; at 10^12 rows K grows with N
    to hold cluster size constant, exactly as the paper scales it).

    Election rule (deterministic, both engines): within a cluster, rank by
    (rounded centroid distance ASC, vec_id ASC); a vector is REMOVED iff
    some better-ranked vector in its cluster has cosine ≥ SEMDEDUP_TAU with
    it. The greedy rank form (not connected components) is the paper's
    semantics — a removed vector still shadows worse-ranked ones, which
    `dedup_connected_components` handles when full transitive grouping is
    wanted. Centroids here are the deterministic kmeans init (K lowest
    vec_ids) so the DuckDB oracle can replay assignment exactly; in
    production they'd be `kmeans_train`'s output, broadcast as literals the
    same way.

    Reference analog: none (the reference dedups nothing) — this extends
    SURVEY §2's A3/A6 distinct-key family to the semantic domain.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _to_double(F.col("embedding")).alias("e")
    )
    init_rows = emb.orderBy("vec_id").limit(KMEANS_K).select("e").collect()
    cents = [list(r["e"]) for r in init_rows]
    dists = F.array(*[F.round(_sq_l2_to(c) + 1e-9, 4) for c in cents])
    assigned = emb.withColumn("dists", dists).select(
        "vec_id",
        "e",
        (F.expr("array_position(dists, array_min(dists))") - 1)
        .cast("int")
        .alias("cluster_id"),
        F.array_min("dists").alias("centroid_d2"),
        _norm(F.col("e")).alias("nrm"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("centroid_d2").asc(), F.col("vec_id").asc()
    )
    ranked = assigned.withColumn("rk", F.row_number().over(w))
    better = ranked.select(
        "cluster_id",
        F.col("rk").alias("b_rk"),
        F.col("e").alias("be"),
        F.col("nrm").alias("bn"),
    )
    worse = ranked.select(
        "cluster_id",
        F.col("rk").alias("w_rk"),
        F.col("vec_id").alias("w_id"),
        F.col("e").alias("we"),
        F.col("nrm").alias("wn"),
    )
    cos = _dot(F.col("be"), F.col("we")) / (F.col("bn") * F.col("wn"))
    removed = (
        better.join(worse, "cluster_id")
        .filter(F.col("b_rk") < F.col("w_rk"))
        .filter(F.round(cos + 1e-9, 4) >= SEMDEDUP_TAU)
        .select(F.col("w_id").alias("vec_id"))
        .distinct()
        .withColumn("removed", F.lit(True))
    )
    return (
        ranked.join(removed, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            "centroid_d2",
            F.col("removed").isNull().alias("keep"),
        )
    )


_SEMDEDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
  FROM e ORDER BY vec_id LIMIT {KMEANS_K}
),
a AS (
  SELECT vec_id, e, cid AS cluster_id, dist AS centroid_d2 FROM (
    SELECT e.vec_id, e.e, c.cid,
           round(list_dot_product(e.e, e.e) - 2*list_dot_product(e.e, c.ce)
                 + list_dot_product(c.ce, c.ce) + 1e-9, 4) AS dist,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.e, e.e)
                            - 2*list_dot_product(e.e, c.ce)
                            + list_dot_product(c.ce, c.ce) + 1e-9, 4) ASC,
                      c.cid ASC) AS rn
    FROM e CROSS JOIN c0 c
  ) WHERE rn = 1
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY centroid_d2 ASC, vec_id ASC) AS rk
  FROM a
),
removed AS (
  SELECT DISTINCT w.vec_id
  FROM r b JOIN r w ON b.cluster_id = w.cluster_id AND b.rk < w.rk
  WHERE round(list_dot_product(b.e, w.e)
              / (sqrt(list_dot_product(b.e, b.e))
                 * sqrt(list_dot_product(w.e, w.e))) + 1e-9, 4)
        >= {SEMDEDUP_TAU}
)
SELECT r.vec_id, r.cluster_id, r.centroid_d2,
       removed.vec_id IS NULL AS keep
FROM r LEFT JOIN removed ON r.vec_id = removed.vec_id
"""


# ---------------------------------------------------------------------------
# embedding diversity — EXACT mean pairwise cosine without the pair join
# ---------------------------------------------------------------------------

def embedding_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mean pairwise cosine similarity per label — the corpus
    diversity/redundancy metric a data-mixing loop reads — computed WITHOUT
    materializing any pair: for unit-normalized vectors,
    ``Σ_{i≠j} cos(i,j) = ||Σ e_i||² − N``, so the whole statistic is ONE
    map-side-combined aggregation of DIM sum cells per group. The naive
    form is an O(N²) self-join (exactly what `dedup_embedding_neardup`
    confines to LSH buckets because it's unaffordable corpus-wide); this
    identity makes the corpus-wide answer O(N) — the canonical example of
    an algebraic rewrite beating a physical-plan optimization. At 10^12
    rows: one scan, partial aggregation collapses everything map-side,
    K×DIM cells cross the wire.

    Determinism: the per-dim sums are the only cross-engine float risk
    (summation order); the result is rounded at 6 dp after the +1e-9
    nudge — the `kmeans_train` handoff discipline.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "label", _to_double(F.col("embedding")).alias("e")
    )
    unit = emb.select(
        "label",
        F.transform(
            F.col("e"), lambda x: x / F.sqrt(_dot(F.col("e"), F.col("e")))
        ).alias("u"),
    )
    sums = unit.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        *[F.sum(F.col("u").getItem(d)).alias(f"s{d}") for d in range(DIM)],
    )
    sq = sum((F.col(f"s{d}") * F.col(f"s{d}") for d in range(DIM)), F.lit(0.0))
    n = F.col("n_vectors")
    return sums.select(
        "label",
        "n_vectors",
        F.round((sq - n) / (n * (n - 1)) + 1e-9, 6).alias("mean_pairwise_cos"),
    )


_DIVERSITY_SQL = """
WITH u AS (
  SELECT label,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS u
  FROM embeddings
),
dims AS (
  SELECT label, dim, sum(x) AS s
  FROM (SELECT label, unnest(u) AS x, generate_subscripts(u, 1) AS dim FROM u)
  GROUP BY label, dim
),
agg AS (
  SELECT label, sum(s * s) AS sq FROM dims GROUP BY label
),
counts AS (SELECT label, count(*) AS n_vectors FROM u GROUP BY label)
SELECT label, n_vectors::BIGINT AS n_vectors,
       round((sq - n_vectors) / (n_vectors * (n_vectors - 1.0)) + 1e-9, 6)
         AS mean_pairwise_cos
FROM agg JOIN counts USING (label)
"""


# ---------------------------------------------------------------------------
# contrastive pair mining — LSH-blocked positive / hard-negative generation
# ---------------------------------------------------------------------------

PAIRS_PER_ANCHOR = 4
HARDNEG_TAU = 0.1


def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pair generation for a contrastive/metric-learning objective
    (SimCLR/CLIP-style supervised variant): POSITIVES are same-label pairs,
    HARD NEGATIVES are different-label pairs the encoder currently confuses
    (cosine ≥ ``HARDNEG_TAU``) — the pairs that carry gradient signal, as
    opposed to random negatives that are already far apart.

    The mining is where the 100 TB shape lives: candidate pairs come ONLY
    from within an 8-hyperplane LSH bucket (the same blocking as
    ``ann_lsh_buckets`` / ``dedup_embedding_neardup``), so pair generation
    is a self-equi-join on ``bucket`` — never all-pairs — and the per-anchor
    budget (``row_number ≤ PAIRS_PER_ANCHOR`` per (anchor, class)) bounds
    the output at O(N·budget) rows regardless of bucket skew. The budget
    window hash-partitions on ``anchor_id``; everything else is codegen
    (norms precomputed per side before the join — one fold per pair).

    Deterministic in both engines: cosine rounded 4 dp after the +1e-9
    nudge, budget ranking tie-breaks on ``other_id``.

    Reference analog: none (the reference trains nothing) — this is the
    training-data-pipeline extension of the LSH bucket family.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e")
    )
    bucket = F.lit(0)
    for h in range(N_PLANES):
        plane = F.array(*[F.lit(v) for v in PLANES[h]])
        bucket = bucket + F.when(_dot(F.col("e"), plane) > 0, 1 << h).otherwise(0)
    b = emb.select(
        "vec_id",
        "label",
        "e",
        bucket.cast("int").alias("bucket"),
        _norm(F.col("e")).alias("nrm"),
    )
    a, c = b.alias("a"), b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col("a.vec_id") < F.col("c.vec_id")),
    )
    cos = _dot(F.col("a.e"), F.col("c.e")) / (F.col("a.nrm") * F.col("c.nrm"))
    labeled = pairs.select(
        F.col("a.vec_id").alias("anchor_id"),
        F.col("c.vec_id").alias("other_id"),
        F.round(cos + 1e-9, 4).alias("cos_sim"),
        F.when(F.col("a.label") == F.col("c.label"), F.lit("positive"))
        .when(
            F.round(cos + 1e-9, 4) >= HARDNEG_TAU, F.lit("hard_negative")
        )
        .alias("pair_label"),
    ).filter(F.col("pair_label").isNotNull())
    w = Window.partitionBy("anchor_id", "pair_label").orderBy(
        F.col("cos_sim").desc(), F.col("other_id").asc()
    )
    return (
        labeled.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PAIRS_PER_ANCHOR)
        .select("anchor_id", "other_id", "pair_label", "cos_sim", "rank")
    )


def _contrastive_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {_sql_plane_literal(h)}) > 0 "
        f"THEN {1 << h} ELSE 0 END)"
        for h in range(N_PLANES)
    )
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT vec_id, label, e, ({terms}) AS bucket FROM e),
labeled AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS other_id,
         -- + 0.0 normalizes IEEE negative zero: a cosine a hair below 0
         -- rounds to -0.0 in DuckDB but +0.0 in Spark (BigDecimal has no
         -- signed zero) and the two stringify differently under the
         -- driver's value-hash (caught by the sf0.1 full sweep)
         round(list_dot_product(a.e, c.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(c.e, c.e))) + 1e-9, 4) + 0.0
           AS cos_sim,
         CASE WHEN a.label = c.label THEN 'positive'
              WHEN round(list_dot_product(a.e, c.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(c.e, c.e))) + 1e-9, 4)
                   >= {HARDNEG_TAU} THEN 'hard_negative'
         END AS pair_label
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT anchor_id, other_id, pair_label, cos_sim, rank::INTEGER AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY anchor_id, pair_label
    ORDER BY cos_sim DESC, other_id ASC) AS rank
  FROM labeled WHERE pair_label IS NOT NULL
) WHERE rank <= {PAIRS_PER_ANCHOR}
"""


# ---------------------------------------------------------------------------
# IVF recall evaluation — measure the nprobe=1 approximation, don't guess
# ---------------------------------------------------------------------------

def ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine recall@k of the IVF(nprobe=1) search against exact
    brute-force ground truth on the SAME probe set — the measured answer
    to "what does confining each probe to one inverted list cost?". A
    probe whose true neighbors straddle a centroid boundary loses them;
    this query quantifies how often. The vector-space sibling of
    ``dedup_lsh_recall_eval``.

    Scale shape: the predicted pairs reuse the production IVF chain
    verbatim; ground truth is brute force ONLY for the gated probe subset
    (broadcast probes fanned over the data scan — bounded by the probe
    gate, the explicit dial), then two windowed top-k's and a left join on
    the (probe, neighbor) key. Ties are impossible by construction: both
    engines rank on ROUNDED cosine with a neighbor-id tiebreak.
    """
    pred = ann_ivf_topk(spark, sf_dir).select("q_id", "neighbor_id")
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "e", _to_double(F.col("embedding"))
    )
    data = emb.filter(F.col("vec_id") >= N_CENTROIDS).withColumn(
        "en", _norm(F.col("e"))
    )
    probes = data.filter(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("en").alias("qn"),
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("en"))
    pairs = data.join(
        F.broadcast(probes), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos + 1e-9, 4).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    truth = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "neighbor_id")
    )
    per_q = (
        truth.join(
            pred.withColumn("hit", F.lit(1)), ["q_id", "neighbor_id"], "left"
        )
        .groupBy("q_id")
        .agg(
            F.count("*").alias("k_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("k_hit"),
        )
    )
    return per_q.agg(
        F.count("*").alias("n_probes"),
        F.lit(TOP_K).cast("int").alias("k"),
        F.round(
            F.avg(F.col("k_hit") / F.col("k_true")) + 1e-9, 4
        ).alias("avg_recall"),
        F.round(
            F.min(F.col("k_hit") / F.col("k_true")) + 1e-9, 4
        ).alias("min_recall"),
        F.sum(
            (F.col("k_hit") == F.col("k_true")).cast("long")
        ).alias("n_perfect"),
    )


_IVF_RECALL_SQL = f"""
WITH pred AS (
{_IVF_TOPK_SQL}
),
e2 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       WHERE vec_id >= {N_CENTROIDS}),
probes2 AS (SELECT vec_id AS q_id, e AS qe FROM e2 WHERE vec_id % 101 = 0),
pairs2 AS (
  SELECT q_id, d.vec_id AS neighbor_id,
         round(list_dot_product(qe, d.e)
               / (sqrt(list_dot_product(qe, qe))
                  * sqrt(list_dot_product(d.e, d.e)))
               + 1e-9, 4) AS cos_sim
  FROM probes2 p JOIN e2 d ON d.vec_id <> p.q_id
),
truth AS (
  SELECT q_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
    FROM pairs2
  ) WHERE rk <= {TOP_K}
),
per_q AS (
  SELECT t.q_id, count(*)::BIGINT AS k_true,
         sum(CASE WHEN p.rank IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS k_hit
  FROM truth t LEFT JOIN pred p USING (q_id, neighbor_id)
  GROUP BY t.q_id
)
SELECT count(*)::BIGINT AS n_probes, {TOP_K}::INTEGER AS k,
       round(avg(k_hit / k_true::DOUBLE) + 1e-9, 4) AS avg_recall,
       round(min(k_hit / k_true::DOUBLE) + 1e-9, 4) AS min_recall,
       sum(CASE WHEN k_hit = k_true THEN 1 ELSE 0 END)::BIGINT AS n_perfect
FROM per_q
"""


QUERIES = {
    "similarity_topk_bruteforce": similarity_topk_bruteforce,
    "contrastive_pair_mining": contrastive_pair_mining,
    "embedding_diversity": embedding_diversity,
    "ann_lsh_buckets": ann_lsh_buckets,
    "ann_ivf_assign": ann_ivf_assign,
    "ann_ivf_topk": ann_ivf_topk,
    "embedding_norm_stats": embedding_norm_stats,
    "dedup_embedding_neardup": dedup_embedding_neardup,
    "embedding_pq_code": embedding_pq_code,
    "ann_pq_topk": ann_pq_topk,
    "kmeans_train": kmeans_train,
    "embedding_top_pc": embedding_top_pc,
    "semantic_cluster_dedup": semantic_cluster_dedup,
    "ann_ivf_recall_eval": ann_ivf_recall_eval,
}

ORACLE = {
    "ann_ivf_recall_eval": _IVF_RECALL_SQL,
    "kmeans_train": _kmeans_sql(),
    "embedding_top_pc": _top_pc_sql(),
    "contrastive_pair_mining": _contrastive_sql(),
    "semantic_cluster_dedup": _SEMDEDUP_SQL,
    "embedding_diversity": _DIVERSITY_SQL,
    "similarity_topk_bruteforce": _TOPK_SQL,
    "ann_lsh_buckets": _lsh_buckets_sql(),
    "ann_ivf_assign": _IVF_SQL,
    "ann_ivf_topk": _IVF_TOPK_SQL,
    "embedding_norm_stats": _NORM_STATS_SQL,
    "dedup_embedding_neardup": _neardup_sql(),
    "embedding_pq_code": _PQ_SQL,
    "ann_pq_topk": _PQ_TOPK_SQL,
}
