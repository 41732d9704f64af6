"""ANN quality evaluation at scale: recall@k of the IVF scale path
against exact brute force, on generated million-row embedding tables.

The oracle-checked similarity queries (queries/similarity.py) prove the
IVF/LSH/PQ MECHANICS on the small shared `embeddings` table; what they
cannot show is the quality/cost TRADE-OFF that justifies the scale path —
how much recall nprobe buys, and what fraction of the corpus each probe
touches. This module provides the measured answer: a deterministic
cluster-structured vector generator, an exact distributed top-k (the
ground truth), a sample-trained IVF coarse quantizer, and a probed search
whose scanned-candidate count is part of the result. BENCH/ann-recall.md
records the curve at 1M vectors; tests/test_ann_eval.py pins the semantics
(full probing == brute force exactly; recall monotone in nprobe).

Scale shapes: both searches are ``mapInArrow`` passes (embeddings decoded
zero-copy from the Arrow list buffer — same argument as
operators/fused_stage.py; ``np.stack`` over a million object rows is the
slow path) doing per-batch float32 matmuls with per-partition top-k and a
driver merge of nq·k partials per partition — never a global sort. The
probed search ships each base row AT MOST ONCE (per-cell query lists via
a closure map, not a row-replicating pair join) and reads from a
cell-partitioned layout, so the probed-cell union prunes parquet
partitions before any byte moves.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DIM = 64

# ---------------------------------------------------------------------------
# deterministic cluster-structured vectors
# ---------------------------------------------------------------------------


def cluster_centers(n_clusters: int, seed: int, dim: int = DIM) -> np.ndarray:
    """Generative cluster centers (unit-norm rows), Philox-keyed — the
    same center matrix is reproducible anywhere from (seed, n_clusters)."""
    rng = np.random.default_rng([seed, 7, n_clusters])
    c = rng.standard_normal((n_clusters, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def generate_vectors(
    spark: SparkSession,
    n: int,
    n_clusters: int = 128,
    seed: int = 42,
    noise: float = 0.5,
    n_parts: int = 32,
    dim: int = DIM,
) -> DataFrame:
    """(vec_id bigint, embedding array<float>): row i = unit-normalized
    center[i % n_clusters] + gaussian noise of EXPECTED NORM ``noise``
    (per-component sigma = noise/sqrt(dim) — noise is specified in the
    same units as the unit centers, so 0.5 means "half as strong as the
    signal", realistic embedding-space geometry; a per-component sigma of
    0.35 at dim 64 would give noise norm ~2.8 and a near-uniform sphere).

    Determinism is per-ROW, not per-partition: each row's noise comes
    from a Philox stream keyed by its ALIGNED 4096-id block (the stream
    draws the whole block, the batch keeps its rows), so the table is
    identical under any partitioning, Arrow batch size, retry, or
    speculative re-execution (same argument as datagen.py)."""
    centers = cluster_centers(n_clusters, seed, dim)
    sigma = noise / np.sqrt(dim)
    block = 4096

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = np.empty((len(ids), dim), dtype=np.float64)
            if len(ids):
                blocks = ids // block
                for b in np.unique(blocks):
                    m = blocks == b
                    full = np.random.default_rng(
                        [seed, int(b)]
                    ).standard_normal((block, dim))
                    vecs[m] = full[ids[m] % block]
            v = centers[ids % len(centers)] + sigma * vecs
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(v.astype(np.float32))}
            )

    return spark.range(0, n, numPartitions=n_parts).mapInPandas(
        gen, out_schema
    )


# ---------------------------------------------------------------------------
# Arrow plumbing shared by both search passes
# ---------------------------------------------------------------------------


def _emb_matrix(batch: pa.RecordBatch, dim: int = DIM) -> np.ndarray:
    """(n, dim) float32 view of the batch's `embedding` list column —
    reshaped from the Arrow values buffer, no per-row object loop."""
    col = batch.column(batch.schema.get_field_index("embedding"))
    return (
        col.flatten().to_numpy(zero_copy_only=False)
        .astype(np.float32, copy=False)
        .reshape(len(col), dim)
    )


_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)

_TOPK_PA = pa.schema(
    [
        ("query_id", pa.int32()),
        ("vec_id", pa.int64()),
        ("score", pa.float64()),
    ]
)


def _topk_batch(qids, vids, scores) -> pa.RecordBatch:
    return pa.record_batch(
        [
            pa.array(np.asarray(qids, dtype=np.int32), pa.int32()),
            pa.array(np.asarray(vids, dtype=np.int64), pa.int64()),
            pa.array(np.asarray(scores, dtype=np.float64), pa.float64()),
        ],
        schema=_TOPK_PA,
    )


def _merge_partials(rows, k: int) -> dict[int, list[int]]:
    """Driver merge of per-partition partial top-k rows; ties broken by
    (score desc, vec_id asc) for determinism."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((-r["score"], r["vec_id"]))
    return {
        qid: [v for _, v in sorted(pairs)[:k]]
        for qid, pairs in by_q.items()
    }


# ---------------------------------------------------------------------------
# exact ground truth: distributed brute-force top-k
# ---------------------------------------------------------------------------


def brute_topk(
    base: DataFrame, queries: np.ndarray, k: int = 10
) -> dict[int, list[int]]:
    """Exact top-k per query: per-batch float32 matmul against the
    broadcast query matrix (cosine == dot — both sides unit-norm by
    construction), per-batch top-k, driver merge."""
    q = queries.astype(np.float32).T  # (dim, nq)

    def worker(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            x = _emb_matrix(batch)
            ids = batch.column(
                batch.schema.get_field_index("vec_id")
            ).to_numpy()
            scores = x @ q  # (n, nq)
            kk = min(k, len(ids))
            top = np.argpartition(-scores, kk - 1, axis=0)[:kk]
            nq = q.shape[1]
            qids = np.repeat(np.arange(nq, dtype=np.int32), kk)
            rows = top.T.reshape(-1)  # query-major
            yield _topk_batch(qids, ids[rows], scores[rows, qids])

    part = base.select("vec_id", "embedding").mapInArrow(
        worker, _TOPK_SCHEMA
    )
    return _merge_partials(part.collect(), k)


# ---------------------------------------------------------------------------
# IVF: sample-trained coarse quantizer, assignment, probed search
# ---------------------------------------------------------------------------


def train_centroids(
    base: DataFrame,
    n_cells: int,
    sample_rows: int = 50_000,
    iters: int = 8,
    seed: int = 1,
    n_total: int | None = None,
) -> np.ndarray:
    """Coarse quantizer: Lloyd k-means on a driver-sized sample (standard
    IVF practice — the quantizer sees ~50k rows however big the corpus;
    the distributed variant for huge K lives in queries/similarity.py
    kmeans_train). Deterministic: seeded init, deterministic hash-gated
    sample (no rand() — same argument as sample_stratified).

    When ``n_total`` is known, the sample is a codegen hash-threshold
    filter (keeps ~2·sample_rows rows, then a cheap limit) — one narrow
    scan, no ordering. The orderBy(hash).limit fallback compiles to
    TakeOrderedAndProject, whose driver merge grows with partition count
    — fine in the sandbox, wrong at 10^12 rows, hence only a fallback."""
    sampled = base.select("vec_id", "embedding")
    if n_total and n_total > sample_rows:
        permille = min(1000, 2000 * sample_rows // n_total + 1)
        sampled = sampled.filter(
            F.pmod(F.xxhash64("vec_id", F.lit(seed)), F.lit(1000))
            < permille
        )
    else:
        sampled = sampled.orderBy(F.xxhash64("vec_id", F.lit(seed)))
    x = np.stack(
        [r["embedding"] for r in sampled.limit(sample_rows).collect()]
    ).astype(np.float64)
    rng = np.random.default_rng([seed, n_cells])
    cents = x[rng.choice(len(x), size=n_cells, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cents[c] = v / (np.linalg.norm(v) or 1.0)
    return cents


_ASSIGN_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("cell", T.IntegerType()),
    ]
)


def ivf_assign(base: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Tag every vector with its nearest-centroid cell: one matmul per
    Arrow batch against the broadcast centroid matrix (K×D floats — a few
    hundred KB at any realistic K; ships in the task closure). Input
    columns pass through as the batch's own Arrow arrays."""
    cents = centroids.astype(np.float32).T

    def worker(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            cell = np.argmax(_emb_matrix(batch) @ cents, axis=1).astype(
                np.int32
            )
            yield pa.record_batch(
                [
                    batch.column(batch.schema.get_field_index("vec_id")),
                    batch.column(
                        batch.schema.get_field_index("embedding")
                    ),
                    pa.array(cell, pa.int32()),
                ],
                names=["vec_id", "embedding", "cell"],
            )

    return base.select("vec_id", "embedding").mapInArrow(
        worker, _ASSIGN_SCHEMA
    )


def probe_cells_for(
    queries: np.ndarray, centroids: np.ndarray, nprobe: int
) -> np.ndarray:
    """(nq, nprobe) nearest cells per query — the driver-side probe plan
    (nq·nprobe ints; the only thing the driver decides)."""
    return np.argsort(-(queries.astype(np.float64) @ centroids.T))[
        :, :nprobe
    ]


def ivf_topk(
    spark: SparkSession,
    assigned: DataFrame,
    queries: np.ndarray,
    centroids: np.ndarray,
    nprobe: int,
    k: int = 10,
    cell_counts: dict[int, int] | None = None,
) -> tuple[dict[int, list[int]], int]:
    """Probed search: each query scores ONLY the vectors in its nprobe
    nearest cells. Returns (top-k per query, candidate rows scanned —
    pair-level work, the per-query cost that stays sublinear at scale).

    Plan shape: filter on the probed-cell UNION (partition pruning when
    ``assigned`` is stored partitioned/bucketed by cell — unprobed cells'
    files are never opened), then ONE mapInArrow pass where each batch
    row is scored against just the queries probing its cell (per-cell
    query lists ride the task closure; a (query, cell) pair JOIN would
    replicate every candidate's embedding once per probing query — 8× the
    Arrow traffic at nprobe=8, measured slower than brute force)."""
    probes = probe_cells_for(queries, centroids, nprobe)
    cell_to_qids: dict[int, np.ndarray] = {}
    for qid in range(len(queries)):
        for c in probes[qid]:
            cell_to_qids.setdefault(int(c), []).append(qid)
    cell_to_qids = {
        c: np.asarray(v, dtype=np.int32) for c, v in cell_to_qids.items()
    }
    q = queries.astype(np.float32)

    def worker(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            x = _emb_matrix(batch)
            ids = batch.column(
                batch.schema.get_field_index("vec_id")
            ).to_numpy()
            cells = batch.column(
                batch.schema.get_field_index("cell")
            ).to_numpy()
            out_q, out_v, out_s = [], [], []
            for c in np.unique(cells):
                qids = cell_to_qids.get(int(c))
                if qids is None:
                    continue
                m = cells == c
                xc, ic = x[m], ids[m]
                scores = xc @ q[qids].T  # (n_c, len(qids))
                kk = min(k, len(ic))
                top = np.argpartition(-scores, kk - 1, axis=0)[:kk]
                for j, qid in enumerate(qids):
                    rows = top[:, j]
                    out_q.append(np.full(kk, qid, dtype=np.int32))
                    out_v.append(ic[rows])
                    out_s.append(scores[rows, j])
            if out_q:
                yield _topk_batch(
                    np.concatenate(out_q),
                    np.concatenate(out_v),
                    np.concatenate(out_s),
                )

    union = sorted(cell_to_qids)
    cand = assigned.filter(F.col("cell").isin(union))
    part = cand.select("vec_id", "embedding", "cell").mapInArrow(
        worker, _TOPK_SCHEMA
    )
    # scanned-candidate accounting from the cell histogram (one slim agg,
    # reusable across nprobe settings)
    if cell_counts is None:
        cell_counts = {
            r["cell"]: r["count"]
            for r in assigned.groupBy("cell").count().collect()
        }
    n_scanned = int(
        sum(
            cell_counts.get(int(c), 0) * len(qids)
            for c, qids in cell_to_qids.items()
        )
    )
    return _merge_partials(part.collect(), k), n_scanned


def recall_at_k(
    truth: dict[int, list[int]], got: dict[int, list[int]], k: int = 10
) -> float:
    """Mean |approx ∩ exact| / k over queries (absent query → 0 overlap)."""
    tot = 0.0
    for qid, t in truth.items():
        g = set(got.get(qid, []))
        tot += len(g & set(t[:k])) / k
    return tot / max(1, len(truth))
