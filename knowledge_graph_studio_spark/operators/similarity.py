"""Similarity search over embedding columns (array<float>).

Reference parity: Q8/Q9 $vectorSearch (services/crud/chunks.py:64-100,
graph_service.py:1650-1779) — Atlas ANN with numCandidates/limit knobs.
Here:
  * brute_force_topk — exact cosine top-k: broadcast the query set, JVM-side
    zip_with/aggregate dot products, TakeOrderedAndProject. Exact >= ANN for
    P/R (SURVEY §4), and at 100 TB it's the per-partition reduce inside every
    bucketed variant anyway.
  * ann_lsh_topk — the scale path: random-hyperplane LSH (sign bits of h
    deterministic projections) buckets vectors; only same-bucket candidates get
    exact scoring. Multi-table probing trades recall for cost exactly like the
    reference's numCandidates knob. Projections are generated from a fixed
    seed, evaluated in a vectorized Arrow pandas UDF (numpy matmul — the one
    place Python beats nested SQL folds for 64-dim x h-plane math).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.literals import literal_array
from ..functions.vector import cosine_col


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
) -> DataFrame:
    """Exact top-k per query: (qid, vec_id, score, rank). queries must be
    small (broadcast); vectors arbitrary size."""
    q = F.broadcast(queries.select(F.col(qid_col).alias("qid"),
                                   F.col(vec_col).alias("_qvec")))
    scored = vectors.crossJoin(q).select(
        "qid", F.col(id_col).alias("vec_id"),
        cosine_col(F.col(vec_col), F.col("_qvec")).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


_PAIR_SCHEMA = T.StructType([T.StructField("va", T.LongType()),
                             T.StructField("vb", T.LongType())])


def _ids_mat(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Extract (ids, row-normalized float64 matrix) from a pandas group.

    Empty slices are legal: a block pair (i, j) materializes whenever EITHER
    block has rows, so the other side can be zero rows (e.g. N < n_blocks).
    Return a (0, 0) matrix and let _gemm_pairs' len==0 fast path no-op."""
    ids = pdf["_id"].to_numpy(dtype=np.int64)
    if len(ids) == 0:
        return ids, np.zeros((0, 0), dtype=np.float64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_vec"]])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat


_GEMM_ROW_BLOCK = 2048  # bounds the sims slab at block x |B| float64


def _gemm_pairs(ids_a: np.ndarray, mat_a: np.ndarray,
                ids_b: np.ndarray, mat_b: np.ndarray,
                threshold: float, same: bool) -> pd.DataFrame:
    """Dense cosine kernel: emit (va, vb), va < vb, for sims >= threshold.
    `same=True` means both sides are the same set (dedupe by id order).
    mat_a is processed in row blocks so peak memory is
    _GEMM_ROW_BLOCK x |B| doubles (a 10k-vector bucket would otherwise
    allocate a |B|^2 slab — 800 MB — in one task)."""
    if len(ids_a) == 0 or len(ids_b) == 0:
        return pd.DataFrame({"va": np.array([], dtype=np.int64),
                             "vb": np.array([], dtype=np.int64)})
    outs_a: list[np.ndarray] = []
    outs_b: list[np.ndarray] = []
    for lo in range(0, len(ids_a), _GEMM_ROW_BLOCK):
        hi = lo + _GEMM_ROW_BLOCK
        sims = mat_a[lo:hi] @ mat_b.T
        ai, bj = np.nonzero(sims >= threshold)
        xa, xb = ids_a[lo:hi][ai], ids_b[bj]
        if same:
            # the symmetric matrix yields both (x, y) and (y, x); keep one
            keep = xa < xb
            outs_a.append(xa[keep])
            outs_b.append(xb[keep])
        else:
            va, vb = np.minimum(xa, xb), np.maximum(xa, xb)
            keep = va < vb
            outs_a.append(va[keep])
            outs_b.append(vb[keep])
    return pd.DataFrame({"va": np.concatenate(outs_a),
                         "vb": np.concatenate(outs_b)})


def _collapse_expand_vectors(df, id_col, vec_col, rep_pairs_fn):
    """Shared verbatim-duplicate collapse for the vector near-dup operators
    (dedup.collapse_verbatim / dedup.expand_rep_pairs): collapse identical
    vectors to one representative (min id, ids cast to long), compute
    representative-level (va, vb) pairs with ``rep_pairs_fn(reps_df)``,
    then expand back — intra-content pairs exactly (identical nonzero
    vectors have cosine 1 by definition; all-zero groups are skipped, their
    cosine is undefined and the GEMM drops them too). k verbatim copies
    otherwise multiply pairwise GEMM work by k^2 (BENCH_sf16: measured 12x
    LSH / 2x+ exact degradation on a 16x-tiled corpus)."""
    from .dedup import collapse_verbatim, expand_rep_pairs

    # content key: a DOUBLE xxhash64 taken directly on the array column
    # (two independent seeds = 128 combined bits, collision-safe at any
    # corpus size like md5, but JVM-codegen'd with NO per-row
    # stringification of the 1024-float array — the md5(cast-to-string)
    # version measured ~1s/16k rows)
    key = F.struct(F.xxhash64(F.col(vec_col)).alias("h1"),
                   F.xxhash64(F.lit(7), F.col(vec_col)).alias("h2"))
    d = df.select(F.col(id_col).cast("long").alias(id_col), vec_col)
    reps, mem = collapse_verbatim(d, id_col, key, [vec_col])
    dup = reps.filter((F.col("_n") >= 2)
                      & F.exists(vec_col, lambda x: x != 0)) \
        .select(F.col(id_col).alias("_rep"))
    return expand_rep_pairs(rep_pairs_fn(reps), mem, dup, "va", "vb")


def cosine_allpairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    collapse_exact: bool = False,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold via distributed block-pair GEMM.

    Vectors are hashed into `n_blocks` blocks; every unordered block pair
    (i, j), i <= j, becomes one applyInPandas group holding just those two
    blocks (~2N/B rows), which runs a dense numpy GEMM and emits (va, vb)
    with va < vb. Exact all-pairs is inherently O(N^2 d) flops, but this
    spreads it over B(B+1)/2 independent tasks with O(N/B * d) memory each —
    no driver collect, no whole-matrix broadcast. At web scale pick
    n_blocks ~ sqrt(N^2 d / task_flop_budget), or use cosine_neardup_lsh
    (below) to avoid the quadratic work when approximate recall suffices.

    Reference parity: exact counterpart of Atlas $vectorSearch's similarity
    semantics (services/crud/chunks.py:64-100) applied all-pairs.

    ``collapse_exact``: dedup verbatim-identical vectors before the GEMM and
    re-expand pairs after (_collapse_expand_vectors) — k copies of a vector
    otherwise multiply the O(N^2) flops by up to k^2 while adding only
    information the expansion join reconstructs exactly. The result is still
    EXACT (identical nonzero vectors have cosine 1; emitted whenever
    threshold <= 1, which is every meaningful threshold). "auto" probes the
    duplicate rate first (dedup.resolve_collapse on the vector column)."""
    from .dedup import resolve_collapse

    collapse_exact = resolve_collapse(df, collapse_exact, vec_col)
    if collapse_exact:
        return _collapse_expand_vectors(
            df, id_col, vec_col,
            lambda reps: cosine_allpairs(reps, threshold, id_col, vec_col,
                                         n_blocks, collapse_exact=False))
    B = int(n_blocks)

    src = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(B))
        .cast("int").alias("_blk"),
    )
    # Replicate each row into every block pair containing its block: B rows
    # out per row in (pair (b, b) appears once in the comprehension).
    pair_structs = [
        F.struct(F.least(F.col("_blk"), F.lit(o)).alias("pi"),
                 F.greatest(F.col("_blk"), F.lit(o)).alias("pj"))
        for o in range(B)
    ]
    rep = src.select(
        "_id", "_vec", "_blk", F.explode(F.array(*pair_structs)).alias("p")
    ).select("_id", "_vec", "_blk", "p.pi", "p.pj")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pi, pj = int(pdf["pi"].iat[0]), int(pdf["pj"].iat[0])
        a = pdf[pdf["_blk"] == pi]
        ids_a, mat_a = _ids_mat(a)
        if pi == pj:
            return _gemm_pairs(ids_a, mat_a, ids_a, mat_a, threshold, same=True)
        b = pdf[pdf["_blk"] == pj]
        ids_b, mat_b = _ids_mat(b)
        return _gemm_pairs(ids_a, mat_a, ids_b, mat_b, threshold, same=False)

    return rep.groupBy("pi", "pj").applyInPandas(run, schema=_PAIR_SCHEMA)


def cosine_neardup_lsh(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 7,
    max_bucket: int | None = 10_000,
    collapse_exact: bool = False,
) -> DataFrame:
    """APPROXIMATE near-dup pairs: random-hyperplane LSH buckets the vectors,
    each (table, bucket) group runs the dense GEMM kernel, candidates are
    verified by exact cosine inside the kernel (precision 1.0 by
    construction), pairs deduped across tables. Misses only pairs that
    collide in no table — recall vs cosine_allpairs asserted in
    tests/test_similarity.py.

    This is the 100 TB path: work is sum over buckets of |bucket|^2 instead
    of N^2, and `max_bucket` bounds the worst skewed bucket (a bucket larger
    than the cap is deterministically truncated by id order — callers that
    cannot tolerate silent truncation pass max_bucket=None).

    ``collapse_exact``: web crawls are full of VERBATIM duplicates, and
    identical vectors hash into identical buckets — a content repeated k
    times multiplies every bucket it touches by k and its GEMM cost by k^2
    (measured 12x degradation on a 16x-tiled corpus, BENCH_sf16). With the
    flag on, vectors are first collapsed to one representative per distinct
    content (min id); LSH+GEMM runs over representatives only; pairs are
    then expanded back through the membership table (cross-content pairs via
    two joins, intra-content pairs exactly — identical nonzero vectors have
    cosine 1 by definition, so their recall becomes exact instead of
    LSH-dependent). Same output contract; bucket work shrinks from
    sum (k_i |b|)^2 to sum |b|^2. Representatives are keyed by a
    double-seeded xxhash64 over the array column (128 combined bits —
    collision odds negligible at any corpus size, and no per-row
    stringification; see _collapse_expand_vectors). "auto" probes the
    duplicate rate first (dedup.resolve_collapse on the vector column)."""
    from .dedup import resolve_collapse

    collapse_exact = resolve_collapse(df, collapse_exact, vec_col)
    if collapse_exact:
        return _collapse_expand_vectors(
            df, id_col, vec_col,
            lambda reps: cosine_neardup_lsh(
                reps, threshold, id_col, vec_col, n_planes, n_tables, seed,
                max_bucket, collapse_exact=False))
    keyed = lsh_bucket_keys(df, vec_col, id_col, n_planes, n_tables, seed)
    joined = keyed.join(
        df.select(F.col(id_col).cast("long").alias(id_col),
                  F.col(vec_col).alias("_vec")),
        id_col,
    ).select(F.col(id_col).alias("_id"), "_vec", "table_id", "bucket")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_bucket is not None and len(pdf) > max_bucket:
            pdf = pdf.sort_values("_id").head(max_bucket)
        ids, mat = _ids_mat(pdf)
        return _gemm_pairs(ids, mat, ids, mat, threshold, same=True)

    pairs = joined.groupBy("table_id", "bucket").applyInPandas(
        run, schema=_PAIR_SCHEMA)
    return pairs.distinct()


def _lsh_planes(dim: int, n_planes: int, n_tables: int,
                seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The shared random-hyperplane family: (planes[n_tables, n_planes, dim],
    powers[n_planes]). One definition so the distributed bucketer and the
    driver-side single-query prober can never drift apart (parity asserted in
    tests/test_similarity.py)."""
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_tables, n_planes, dim).astype(np.float64)
    powers = (1 << np.arange(n_planes)).astype(np.int64)
    return planes, powers


def lsh_query_keys(vec, n_planes: int, n_tables: int,
                   seed: int = 7) -> list[tuple[int, int]]:
    """(table_id, bucket) keys for ONE query vector, computed driver-side
    with no Spark job — probing a precomputed LSH index must cost a literal
    IN filter, not a scan (plans/query.EdgeAnnIndex)."""
    v = np.asarray(vec, dtype=np.float64)
    planes, powers = _lsh_planes(len(v), n_planes, n_tables, seed)
    return [(t, int(((planes[t] @ v) > 0).astype(np.int64) @ powers))
            for t in range(n_tables)]


def _projection_udf(n_planes: int, n_tables: int, seed: int):
    """Returns a mapInPandas fn emitting one (id, table_id, bucket) row per
    (vector, table). The planes are built from each batch's vector width;
    _lsh_planes is seeded, so every batch (and the driver-side prober)
    sees the same family without a driver-side read of the width."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:  # zero-row Arrow batch: (0,)-shaped matmul fails
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_vec"]])
            planes, powers = _lsh_planes(mat.shape[1], n_planes, n_tables, seed)
            bits = np.stack([mat @ planes[t].T for t in range(n_tables)],
                            axis=1) > 0  # (n, n_tables, n_planes)
            yield pd.DataFrame({
                "_id": np.repeat(pdf["_id"].to_numpy(), n_tables),
                "table_id": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                "bucket": (bits @ powers).ravel(),
            })

    return run


def lsh_bucket_keys(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """(id, table_id, bucket) — one row per (vector, table). An empty
    frame gives an empty result."""
    src = df.select(F.col(id_col).cast("long").alias("_id"),
                    F.col(vec_col).alias("_vec"))
    keyed = src.mapInPandas(_projection_udf(n_planes, n_tables, seed),
                            schema="_id long, table_id int, bucket long")
    return keyed.withColumnRenamed("_id", id_col)


def ivf_assign(
    df: DataFrame,
    centroids: "np.ndarray",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 1,
) -> DataFrame:
    """(id, cell) — assign each vector to its n_probe nearest centroids
    (IVF coarse quantization). Centroids broadcast; assignment is one numpy
    GEMM per Arrow batch."""
    sc = df.sparkSession.sparkContext
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    b_cent = sc.broadcast(cn)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = b_cent.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_vec"]])
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ cent.T
            top = np.argsort(-sims, axis=1)[:, :n_probe]
            ids = np.repeat(pdf["_id"].to_numpy(dtype=np.int64), n_probe)
            yield pd.DataFrame({"_id": ids, "cell": top.reshape(-1)})

    schema = T.StructType([T.StructField("_id", T.LongType()),
                           T.StructField("cell", T.IntegerType())])
    src = df.select(F.col(id_col).cast("long").alias("_id"),
                    F.col(vec_col).alias("_vec"))
    return src.mapInPandas(run, schema=schema).select(
        F.col("_id").alias(id_col), "cell")


def ivf_centroids(df: DataFrame, k: int, vec_col: str = "embedding",
                  seed: int = 7, id_col: str = "vec_id",
                  lloyd_iters: int = 1) -> "np.ndarray":
    """Seeded-sample initialization + ``lloyd_iters`` distributed k-means
    refinement steps (VERDICT r3 #7: pure sampled init gives unbalanced
    cells on clustered data — two seeds landing in one tight cluster leave
    another cluster to pile onto a single far centroid; one assign+mean
    pass bounds the worst cell, tested on a clustered fixture in
    tests/test_similarity.py).

    Initialization is two-phase so the sampling scan never touches the
    embedding column: phase 1 TakeOrders k winners by xxhash64(id) reading
    ONLY the id column (parquet column pruning); phase 2 fetches just those
    k embeddings via a broadcast semi-join. Each Lloyd step is one
    distributed assign (mapInPandas GEMM) + one JVM-side posexplode/avg
    aggregation; only the k mean vectors ever reach the driver."""
    winners = (
        df.select(F.col(id_col).cast("long").alias("_cid"))
        .orderBy(F.xxhash64(F.col("_cid"), F.lit(seed)))
        .limit(k)
    )
    rows = (
        df.select(F.col(id_col).cast("long").alias("_cid"), F.col(vec_col))
        .join(F.broadcast(winners), "_cid")
        .orderBy("_cid")
        .collect()
    )
    cents = np.array([r[1] for r in rows], dtype=np.float64)
    for _ in range(max(0, lloyd_iters)):
        cents = _lloyd_step(df, cents, vec_col, id_col)
    return cents


def _lloyd_step(df: DataFrame, centroids: "np.ndarray", vec_col: str,
                id_col: str) -> "np.ndarray":
    """One distributed k-means step under the cosine assignment: hard-assign
    every vector to its nearest current centroid (ivf_assign, n_probe=1),
    recompute each cell's component-wise mean JVM-side (posexplode + avg —
    vectors never collect; exactly k*dim scalars reach the driver). Empty
    cells keep their previous centroid so k never shrinks."""
    dim = centroids.shape[1]
    assign = ivf_assign(df, centroids, vec_col, id_col, n_probe=1)
    comp = (
        assign.join(df.select(F.col(id_col).cast("long").alias(id_col),
                              F.col(vec_col)), id_col)
        .select("cell", F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
        .collect()
    )
    out = centroids.copy()
    acc: dict[int, np.ndarray] = {}
    for r in comp:
        acc.setdefault(r["cell"], np.zeros(dim))[r["pos"]] = r["m"]
    for cell, vec in acc.items():
        out[cell] = vec
    return out


# ---------------------------------------------------------------------------
# Integer-exact ANN candidate twins (cross-engine verifiable)
# ---------------------------------------------------------------------------
# The production bucketers above are float geometry evaluated in numpy
# (random normal hyperplanes / sampled+Lloyd centroids) — correct, but not
# reproducible bit-for-bit in SQL: a float dot product's value depends on
# summation order. These *_int twins quantize vectors to integers
# (round(x * scale)) and derive plane/centroid components as small integers
# from md5 (md5_60 % 15 - 7 — the same md5_60 trick the MinHash/SimHash
# oracles use), so every signature bit and cell assignment is an INTEGER
# comparison that DuckDB reproduces exactly. They exist to oracle-pair the
# ANN *candidate mechanism* (bucket membership, collision ranking, coarse
# cell probing) in the driver contract; the float paths stay covered by the
# recall harness (tools/ann_recall.py, ANN_RECALL.json).

ANN_INT_SCALE = 1000  # quantization: r_i = round(x_i * scale) as int64


def _int_plane_val(*key: int) -> int:
    """Deterministic integer component in [-7, 7] from md5 over the joined
    key — regenerated identically in SQL as
    (cast('0x'||substr(md5(k),1,15) as bigint) % 15) - 7."""
    import hashlib

    s = "_".join(str(k) for k in key)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 15 - 7


def _quantize_arr(vec_col: str) -> F.Column:
    """round(double(x) * scale) per component — float32 -> double is exact
    and a single double multiply+round is IEEE-identical across engines, so
    the int64 array matches DuckDB's arithmetic bit-for-bit."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * ANN_INT_SCALE).cast("long"))


def _int_dot(r_col, plane: list[int]) -> F.Column:
    """sum_i r_i * p_i with the plane embedded as an int array literal —
    exact int64 arithmetic, order-independent, one per-row fold (no join,
    no shuffle, no Python)."""
    p = literal_array(plane, "bigint")
    return F.aggregate(F.zip_with(r_col, p, lambda a, b: a * b),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def lsh_bucket_keys_int(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """(id, table_id, bucket) under the integer-hyperplane family:
    bit(t,j) = (sum_i r_i * p[t,j,i] > 0), bucket(t) = sum_j bit * 2^j,
    with p from _int_plane_val — the verifiable twin of lsh_bucket_keys.

    Plan: ONE projection per row — quantize once, n_tables*n_planes
    integer-array folds, then the same stacked (table_id, bucket) explode
    as the production bucketer. Zero shuffle, zero Python, nothing but the
    scan at any scale (the folds are higher-order functions, so this twin
    trades codegen for cross-engine exactness; the Arrow/numpy
    lsh_bucket_keys stays the production default and this twin gates its
    mechanism in the contract)."""
    dim = len(df.select(vec_col).first()[0])
    src = df.select(F.col(id_col).cast("long").alias(id_col),
                    _quantize_arr(vec_col).alias("_r"))
    buckets = []
    for t in range(n_tables):
        b = F.lit(0).cast("long")
        for j in range(n_planes):
            plane = [_int_plane_val(t, j, i) for i in range(1, dim + 1)]
            b = b + F.when(_int_dot(F.col("_r"), plane) > 0,
                           F.lit(1 << j).cast("long")).otherwise(F.lit(0))
        buckets.append(F.struct(F.lit(t).alias("table_id"),
                                b.alias("bucket")))
    return (
        src.select(id_col, F.explode(F.array(*buckets)).alias("tb"))
        .select(id_col, "tb.table_id", "tb.bucket")
    )


def ivf_assign_int(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_probe: int = 1,
) -> DataFrame:
    """(id, cell) for each of the ``n_probe`` best cells under integer
    centroids (components from _int_plane_val keyed ('c', cell, i)) — the
    verifiable twin of ivf_assign. Rank = integer dot / sqrt(int norms):
    one double divide over exact ints, IEEE-identical in SQL; ties break on
    cell id ascending (the (-score, cell) struct sort) so the probe set is
    deterministic. Same shuffle-free one-projection shape as
    lsh_bucket_keys_int."""
    dim = len(df.select(vec_col).first()[0])
    cents = {c: [_int_plane_val("c", c, i)  # type: ignore[arg-type]
                 for i in range(1, dim + 1)]
             for c in range(n_cells)}
    norms = {c: sum(p * p for p in cents[c]) for c in range(n_cells)}
    src = df.select(F.col(id_col).cast("long").alias(id_col),
                    _quantize_arr(vec_col).alias("_r"))
    nr = F.greatest(
        F.aggregate(F.transform(F.col("_r"), lambda x: x * x),
                    F.lit(0).cast("long"), lambda acc, x: acc + x),
        F.lit(1))
    src = src.select(id_col, "_r", nr.alias("_nr"))
    scored = [
        F.struct(
            (-(_int_dot(F.col("_r"), cents[c]).cast("double")
               / F.sqrt((F.lit(norms[c]) * F.col("_nr")).cast("double"))))
            .alias("neg_score"),
            F.lit(c).alias("cell"))
        for c in range(n_cells)
    ]
    top = F.slice(F.array_sort(F.array(*scored)), 1, n_probe)
    return (
        src.select(id_col, F.explode(top).alias("sc"))
        .select(id_col, "sc.cell")
    )


def ann_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 20,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: vectors are bucketed into n_cells coarse cells;
    each query probes its n_probe nearest cells and scores only those vectors
    exactly. The 100 TB shape: cells partition the corpus, queries broadcast,
    per-cell candidate lists bound the exact-scoring work (same role as the
    reference's numCandidates knob, crud/chunks.py:96)."""
    cent = ivf_centroids(vectors, n_cells, vec_col, seed, id_col=id_col)
    v_cells = ivf_assign(vectors, cent, vec_col, id_col, n_probe=1)
    q_cells = ivf_assign(
        queries.select(F.col(qid_col).alias("vec_id"), F.col(vec_col)),
        cent, vec_col, "vec_id", n_probe=n_probe,
    ).select(F.col("vec_id").alias("qid"), "cell")
    cand = v_cells.join(F.broadcast(q_cells), "cell").select("qid", id_col)
    qv = queries.select(F.col(qid_col).alias("qid"),
                        F.col(vec_col).alias("_qvec"))
    scored = (
        cand.join(vectors.select(id_col, vec_col), id_col)
        .join(F.broadcast(qv), "qid")
        .select("qid", F.col(id_col).alias("vec_id"),
                cosine_col(F.col(vec_col), F.col("_qvec")).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing any LSH bucket with the
    query in any table; exact cosine + window top-k over candidates only.
    Recall vs brute_force_topk asserted in tests/test_similarity.py."""
    vb = lsh_bucket_keys(vectors, vec_col, id_col, n_planes, n_tables, seed)
    qb = lsh_bucket_keys(
        queries.select(F.col(qid_col).alias("vec_id"), F.col(vec_col)),
        vec_col, "vec_id", n_planes, n_tables, seed,
    ).select(F.col("vec_id").alias("qid"), "table_id", "bucket")
    cand = (
        vb.join(qb, ["table_id", "bucket"])
        .select("qid", id_col).distinct()
    )
    qv = queries.select(F.col(qid_col).alias("qid"), F.col(vec_col).alias("_qvec"))
    scored = (
        cand.join(vectors.select(id_col, vec_col), id_col)
        .join(F.broadcast(qv), "qid")
        .select("qid", F.col(id_col).alias("vec_id"),
                cosine_col(F.col(vec_col), F.col("_qvec")).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
