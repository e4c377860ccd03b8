"""Similarity search over embedding columns (engine extension for
LLM-data pipelines — SURVEY.md §2.3 q27/q68/q70; no reference analog).

Two tiers:
- ``brute_force_knn``: exact cosine top-k.  The query side is broadcast;
  similarities are higher-order expressions (zip_with + aggregate) in
  double precision, JVM-side; ranking is a per-query window.  Correct
  baseline at any corpus size when the QUERY set is small.
- ``lsh_knn``: banded random-hyperplane LSH.  Each vector gets one
  bucket id per hash table (Arrow-batched numpy matmul — see
  hyperplane_buckets for why a pandas_udf beats interpreted higher-order
  functions here); candidates share any (band, bucket); exact rerank
  inside buckets.  The all-pairs O(N²) shuffle becomes an equi-join on
  bucket id — the 100 TB path.
- ``ivf_knn``: KMeans coarse quantizer + n_probe nearest cells + exact
  rerank (train on a sample at scale; assignment is a projection).
- ``cosine_dedup_pairs_lsh``: ALL-PAIRS embedding near-dup at corpus
  scale — the LSH twin of the gated quadratic q68 (bucket self-join +
  exact Arrow rerank; Σ bucket² candidates instead of N²).

Float discipline: embeddings are float32 on disk; every dot product
casts elements to double first and derived scores round to 6 dp
(SURVEY.md §1.3 hazard 3).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from ros_sql_spark.functions.pin import cache

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "brute_force_knn",
    "cosine_arrow",
    "hyperplane_buckets",
    "hyperplane_buckets_int",
    "lsh_knn",
    "cosine_dedup_pairs_lsh",
    "ivf_index",
    "ivf_knn",
]


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ in double precision (inputs may be float32 arrays)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_arrow(a: Column | str, b: Column | str) -> Column:
    """Arrow-batched cosine: one numpy row-wise dot per batch instead of
    an interpreted zip_with+aggregate fold per row.

    Use in RERANK paths of the approximate operators (q40/q78 —
    rows-only).  Measured at dim=64/sf0.1: ~parity with the interpreted
    fold (1.06s vs 1.0s IVF search) — the Arrow transfer of two vectors
    per candidate row offsets the numpy win at small dim; the crossover
    favors numpy as dim grows (transfer is O(dim), interpreted fold is
    O(dim) with a ~50x worse constant — see hyperplane_buckets).  NOT
    used in oracle-backed cosine queries (q27/q68/q70): numpy's
    pairwise/SIMD summation order differs from the sequential fold in
    the last ulp, and cross-engine parity there pins the exact fold
    semantics.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        A = np.stack(av.to_numpy()).astype(np.float64)
        B = np.stack(bv.to_numpy()).astype(np.float64)
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        return pd.Series(num / den)

    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return _cos(ac, bc)


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, sim) with sim rounded to 6dp.

    ``queries`` must be small (it is broadcast); the corpus streams
    through one whole-stage-codegen'd projection — no corpus shuffle.
    Ranking happens on the ROUNDED similarity with an id tiebreak so
    results are deterministic and cross-engine stable.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    joined = corpus.select(id_col, vec_col).join(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    sim = F.round(cosine(vec_col, "_qvec"), 6)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        joined.select(query_id_col, id_col, sim.alias("sim"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _planes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def hyperplane_buckets(
    vec_col: Column | str,
    dim: int,
    bands: int = 8,
    planes_per_band: int = 4,
    seed: int = 42,
) -> Column:
    """array<bigint> — one LSH bucket id per hash table (index = band).

    Classic multi-table random-hyperplane LSH: a neighbor is a candidate
    if it agrees with the query on ALL ``planes_per_band`` signs in ANY
    of the ``bands`` tables — recall 1-(1-p^r)^L where p = 1-θ/π.  A
    single table (L=1) has vanishing recall for moderate similarity
    (measured 4% at cos≈0.4 with 6 planes), which is why this is banded.

    Implementation is an Arrow-batched pandas_udf doing ONE numpy matmul
    (batch × dim) @ (dim × bands·r) per batch.  This is the engine's one
    deliberate exception to "built-ins beat UDFs": Spark higher-order
    functions are *interpreted* (never whole-stage-codegen'd), and 32
    per-row lambda folds measured 5.3s for 500 rows vs ~0.1s for the
    vectorized matmul — here the Arrow+numpy path IS the JVM-beating
    path.  Deterministic: planes are seeded per band.
    """
    from pyspark.sql.functions import pandas_udf

    mat = np.array(
        [
            plane
            for b in range(bands)
            for plane in _planes(planes_per_band, dim, seed + 1000 * b)
        ],
        dtype=np.float64,
    ).T  # (dim, bands*r)
    weights = np.array(
        [1 << j for _ in range(bands) for j in range(planes_per_band)],
        dtype=np.int64,
    )

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (m @ mat) > 0  # (n, bands*r)
        packed = (signs * weights).reshape(len(m), bands, planes_per_band).sum(
            axis=2
        )  # (n, bands)
        return pd.Series(list(packed))

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _buckets(v)


_LSH_INT_SCALE = 1 << 20  # vector quantization: floor(x · 2^20)
_LSH_INT_R = 1 << 20  # plane coefficients uniform in [-R, R]


def _int_plane_constants(
    dim: int, bands: int, planes_per_band: int
) -> list[list[int]]:
    """Deterministic integer plane coefficients, derived with the SAME
    md5-prefix arithmetic a SQL oracle can replicate:
    c(p, d) = md5prefix15('h<p>_<d>') % (2R+1) − R."""
    import hashlib

    def pfx(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [
            pfx(f"h{p}_{d}") % (2 * _LSH_INT_R + 1) - _LSH_INT_R
            for d in range(dim)
        ]
        for p in range(bands * planes_per_band)
    ]


def hyperplane_buckets_int(
    vec_col: Column | str,
    dim: int,
    bands: int = 8,
    planes_per_band: int = 4,
) -> Column:
    """array<bigint> — ORACLE-EXACT integer variant of
    :func:`hyperplane_buckets` (q40's declared backend).

    Same banded random-hyperplane semantics, but every sign decision is
    INTEGER arithmetic: vectors quantize as floor(x·2^20) (floor is
    identical across engines; round's half-way rule is not), plane
    coefficients are md5-derived integers in [−2^20, 2^20], and the dot
    product stays exact in int64 (|term| ≤ 2^43, 64 terms < 2^49) — so
    a SQL oracle reproduces every bucket id bit-for-bit, where the
    float formulation's numpy blocked summation could flip a
    near-orthogonal sign vs a sequential SQL fold.  Still one numpy
    matmul per Arrow batch (int64 matmul is exact)."""
    from pyspark.sql.functions import pandas_udf

    mat = np.array(
        _int_plane_constants(dim, bands, planes_per_band), dtype=np.int64
    ).T  # (dim, bands*r)
    weights = np.array(
        [1 << j for _ in range(bands) for j in range(planes_per_band)],
        dtype=np.int64,
    )
    scale = float(_LSH_INT_SCALE)

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        q = np.floor(m * scale).astype(np.int64)
        signs = (q @ mat) > 0  # exact int64 dot per plane
        packed = (signs * weights).reshape(
            len(m), bands, planes_per_band
        ).sum(axis=2)
        return pd.Series(list(packed))

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _buckets(v)


def lsh_knn(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    dim: int = 64,
    k: int = 5,
    bands: int = 8,
    planes_per_band: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    num_planes: int | None = None,  # back-compat alias for planes_per_band
    query_filter: Column | None = None,
    persist_buckets: bool = False,
    int_planes: bool = False,
    exact_rerank: bool = False,
) -> DataFrame:
    """Approximate top-k: banded LSH candidate join + exact rerank.

    Pipeline: explode per-vector bucket ids (``bands`` narrow rows each,
    NO vector payload) → equi-join corpus and query bucket tables on
    (band, bucket) → dedup candidate pairs on (query_id, id) ONLY →
    re-join the two vectors for the exact cosine rerank → per-query
    top-k window.  The O(N²) all-pairs problem becomes a shuffle join on
    bucket ids; skewed buckets split via AQE.

    Shuffle discipline (the round-1 review nit): the candidate dedup
    shuffles bare (query_id, id) pairs — carrying both 64-float vectors
    through it multiplies shuffle bytes ~30× for nothing.  Vectors
    re-enter via one corpus equi-join plus a broadcast of the (small)
    query side.

    ``query_filter``: when the query set IS a predicate over the corpus
    (the common "probe my own corpus" case, e.g. q40), pass the
    predicate instead of a separate ``queries`` frame — the query bucket
    table derives from the corpus one, so only one bucketing pipeline
    exists in the plan (the filter pushes below the pandas_udf, so the
    UDF touches query rows once).  With ``persist_buckets=True`` the
    narrow corpus bucket table is persisted and genuinely computed once
    even when both sides consume it (worth it for all-pairs dedup runs;
    3 longs/row vs recomputing the matmul).  The flag only applies to
    the ``query_filter`` form — with a separate ``queries`` frame the
    corpus buckets are consumed once and nothing is persisted.

    Tune (bands, planes_per_band) for the recall/cost point: more bands
    → higher recall, more candidates.

    Cache lifetime (``persist_buckets=True``): the result is lazy, so
    the bucket table cannot be unpersisted here without defeating the
    persist; it registers in the caller's ``pin_scope()`` and is freed
    when that scope closes.
    """
    if num_planes is not None:
        planes_per_band = num_planes
    if (queries is None) == (query_filter is None):
        raise ValueError("pass exactly one of `queries` or `query_filter`")
    from ros_sql_spark.functions.util import ensure_scan_parallelism

    corpus = ensure_scan_parallelism(corpus)
    # int_planes / exact_rerank: the oracle-exact formulation (q40) —
    # integer sign decisions + the sequential-fold cosine whose round-6
    # values DuckDB reproduces (q27's established parity); the float
    # matmul + Arrow rerank stay the default for recall workloads that
    # never need SQL reproduction.
    if int_planes:
        bk = lambda col: F.posexplode(
            hyperplane_buckets_int(col, dim, bands, planes_per_band)
        ).alias("band", "bucket")
    else:
        bk = lambda col: F.posexplode(
            hyperplane_buckets(col, dim, bands, planes_per_band, seed)
        ).alias("band", "bucket")

    # narrow bucket tables: (id, band, bucket) — no vectors
    c = corpus.select(F.col(id_col), bk(vec_col))
    if query_filter is not None:
        cq = corpus.filter(query_filter)
        if persist_buckets:
            c = cache(c)
            qb = c.join(
                F.broadcast(cq.select(id_col)), id_col
            )
        else:
            qb = cq.select(F.col(id_col), bk(vec_col))
        q = qb.select(
            F.col(id_col).alias(query_id_col), "band", "bucket"
        )
        qvecs = cq.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
        )
    else:
        q = queries.select(F.col(id_col).alias(query_id_col), bk(vec_col))
        qvecs = queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
        )

    joined = c.join(q, ["band", "bucket"])
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    cand = joined.select(query_id_col, id_col).dropDuplicates(
        [query_id_col, id_col]
    )
    # rerank: corpus vectors via equi-join, query vectors broadcast
    rerank = cand.join(corpus.select(id_col, vec_col), id_col).join(
        F.broadcast(qvecs), query_id_col
    )
    if exact_rerank:
        sim = F.round(cosine(vec_col, "_qvec"), 6)  # q27-parity fold
    else:
        sim = F.round(cosine_arrow(vec_col, "_qvec"), 6)  # Arrow: rows-only
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    out = (
        rerank.select(query_id_col, id_col, sim.alias("sim"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    return out


def cosine_dedup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.7,
    dim: int = 64,
    bands: int = 16,
    planes_per_band: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at corpus scale: the LSH
    twin of the quadratic all-pairs query (q68, gated to a subset).

    Pipeline: one Arrow bucketing pass over the whole corpus → self
    equi-join on (band, bucket) with id_a < id_b → dedup bare id pairs
    → re-join both vectors → Arrow cosine → threshold.  Candidate
    generation is Σ(bucket size²) instead of N² — boilerplate-skewed
    buckets split by AQE, exactly the minhash_pairs discipline applied
    to the embedding modality.

    Recall follows the banded s-curve 1-(1-p^r)^L with p = 1-θ/π; at
    the default 16×4 a cos≥0.7 pair (p≈0.75) is caught with ~99%
    probability.  Pairs the filter keeps are EXACT (the rerank computes
    true cosine) — banding only affects which pairs are considered.
    """
    from ros_sql_spark.functions.util import ensure_scan_parallelism

    corpus = ensure_scan_parallelism(corpus)
    bk = F.posexplode(
        hyperplane_buckets(vec_col, dim, bands, planes_per_band, seed)
    ).alias("band", "bucket")
    buckets = cache(corpus.select(F.col(id_col), bk))
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    sim = F.round(cosine_arrow("_va", "_vb"), 6)
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    return out


# --------------------------------------------------------------------------
# IVF: inverted-file ANN with a KMeans coarse quantizer (Spark MLlib)
# --------------------------------------------------------------------------

def ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 5,
    init_mode: str = "random",
    sample_fraction: float | None = None,
):
    """Build an IVF index: KMeans cells over the corpus.

    Returns (assigned, centers): the corpus with a ``_cell`` column, and
    the centroid list [(cell, [floats])].  Training is Spark-native
    (pyspark.ml KMeans); only the tiny centroid matrix ever reaches the
    driver.

    ``sample_fraction``: train the quantizer on a seeded sample and
    assign the FULL corpus with the fitted model — the 100 TB path
    (every KMeans iteration is a full pass over its training set, and
    IVF recall is tolerant of quantizer quality because the in-cell
    rerank is exact).  Deterministic: the sample is seed-pinned.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn(
        "_f",
        array_to_vector(F.transform(vec_col, lambda x: x.cast("double"))),
    )
    train = (
        feat.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else feat
    )
    # Coarse-quantizer training: each KMeans iteration is a full Spark
    # job, and k-means|| init adds several more — but IVF recall is
    # tolerant of quantizer quality (the rerank inside probed cells is
    # exact), so 5 random-init iterations, not the 20+k-means|| default
    # (measured: same recall-test outcome, ~3x fewer training jobs).
    model = KMeans(
        k=n_cells,
        seed=seed,
        featuresCol="_f",
        predictionCol="_cell",
        maxIter=max_iter,
        initMode=init_mode,
    ).fit(train)
    assigned = model.transform(feat).select(
        id_col, vec_col, F.col("_cell").cast("int").alias("_cell")
    )
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return assigned, centers


def _probe_cells(centers: list, n_probe: int):
    """Arrow-batched probe assignment: array<int> of the ``n_probe``
    nearest cell ids per query vector.

    The centroid matrix rides in the UDF closure ((cells × dim) float64
    — ~5 MB even at 10⁴ cells × 64 dims, shipped once per executor),
    and each batch is ONE numpy matmul: argmin over
    ``||c||² − 2·q·c`` (the ||q||² term is constant per row, dropped).
    This replaces the round-2 literal-centroid plan — n_cells structs of
    dim literals each, interpreted per query row — which explodes the
    plan past ~10² cells; the matmul is flat in plan size and vectorized
    in CPU, the same measured trade as hyperplane_buckets.  Ties break
    toward the lower cell id (stable argsort over ascending ids),
    matching the struct-sort tiebreak it replaces.
    """
    from pyspark.sql.functions import pandas_udf

    C = np.array([c for _, c in centers], dtype=np.float64)  # (cells, dim)
    cell_ids = np.array([cid for cid, _ in centers], dtype=np.int64)
    order = np.argsort(cell_ids, kind="stable")
    C, cell_ids = C[order], cell_ids[order]
    c_sq = (C * C).sum(axis=1)
    take = min(n_probe, len(cell_ids))

    @pandas_udf("array<int>")
    def _probe(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        d = c_sq[None, :] - 2.0 * (m @ C.T)  # (n, cells)
        idx = np.argsort(d, axis=1, kind="stable")[:, :take]
        return pd.Series([cell_ids[row].astype(np.int32).tolist() for row in idx])

    return _probe


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    index: tuple | None = None,
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest cells per
    query, exact cosine rerank inside them.

    Search cost is ~n_probe/n_cells of brute force; the candidate fetch
    is an equi-join on the cell id, so the corpus shuffles once on a
    small int key.  Raising ``n_probe`` trades cost for recall with the
    exactness of the rerank unchanged.

    ``index``: a prebuilt ``ivf_index(...)`` result — pass it to train
    once (on a sample at 100 TB) and serve many query batches without
    re-clustering; omitted, the index is built from ``corpus``.
    """
    assigned, centers = (
        index if index is not None
        else ivf_index(
            corpus, n_cells, seed, id_col, vec_col,
            sample_fraction=sample_fraction,
        )
    )
    probe = _probe_cells(centers, n_probe)
    q = (
        queries.select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
        )
        .withColumn("_cells", probe("_qvec"))
        # explode_outer: plain explode would get an inferred size>0
        # pre-filter re-invoking the pandas_udf per row (CLAUDE.md
        # Generate invariant); _cells is never null (UDF total).
        .withColumn("_cell", F.explode_outer("_cells"))
        .select(query_id_col, "_qvec", "_cell")
    )
    joined = assigned.join(q, "_cell")
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    sim = F.round(cosine_arrow(vec_col, "_qvec"), 6)  # Arrow rerank: rows-only path
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        joined.select(query_id_col, id_col, sim.alias("sim"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
