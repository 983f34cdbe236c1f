"""Similarity search over embedding columns (``array<float>``).

Top-k paths, mirroring what a 100 TB training-data pipeline needs:

- :func:`cosine_topk` — brute-force exact top-k: broadcast the query
  set, score every (query, candidate) pair with a JVM-side
  ``zip_with``/``aggregate`` dot product, take per-query top-k. Exact
  baseline; cost O(|Q|·|C|·dim) but embarrassingly parallel and
  shuffle-free until the final per-query heap.
- :func:`lsh_bucketed_topk` — sign-random-projection LSH: candidates
  restricted to matching hash buckets (multi-table), then exact
  re-scoring of candidates only. Candidate count per query is bounded
  by bucket occupancy instead of |C|. Hyperplanes are pseudo-random
  from ``xxhash64`` so the operator is fully deterministic with no
  stored model state.
- :func:`ivf_topk` — inverted-file ANN: cells as join keys.

All-pairs near-dup forms a measured COST TRIANGLE — pick by scale
and threshold:

- :func:`exact_near_dup_pairs` — broadcast GEMM; fastest while one
  side's matrix fits in a broadcast (~GBs);
- :func:`blocked_exact_near_dup_pairs` — distributed blocked GEMM;
  exact at ANY size (no collect, no broadcast), O(n²·dim) work
  spread as block-pair tasks;
- :func:`embedding_near_dup_pairs` — SRP-LSH; sub-quadratic ONLY
  when the threshold is high enough for banding to prune (θ ≥ ~0.8;
  at θ=0.45 measured candidates ≈ 87% of all pairs).

Hot paths are built-in Column expressions or Arrow-batched numpy
GEMM kernels — no row-at-a-time Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

import os

# index BUILD phases are metered so bench.py can report build_sec /
# serve_sec separately — at scale the build is a rare batch job while
# serve latency is the tracked number (etl_gcp_spark/metering.py)
from etl_gcp_spark.metering import timed as _timed_phase
from etl_gcp_spark.smalldf import small_df

_metered_build = _timed_phase("build")


def _as_double(col: F.Column) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot_sql(a: str, b: str, dim: int) -> str:
    return "+".join(f"`{a}`[{i}]*`{b}`[{i}]" for i in range(dim))


def _dot(a: F.Column, b: F.Column, dim: int | None = None) -> F.Column:
    """Dot product of two array<double> columns.

    With ``dim`` known, the sum is unrolled into a flat expression
    tree (``a[0]*b[0] + … + a[d-1]*b[d-1]``) that whole-stage codegen
    compiles — measured ~20× faster than the higher-order-function
    form, whose lambda evaluates interpreted per element. The HOF
    form remains the dimension-agnostic fallback.
    """
    if dim is not None:
        s = a.getItem(0) * b.getItem(0)
        for i in range(1, dim):
            s = s + a.getItem(i) * b.getItem(i)
        return s
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: F.Column, dim: int | None = None) -> F.Column:
    return F.sqrt(_dot(a, a, dim))


def cosine_similarity(
    a: F.Column | str, b: F.Column | str, dim: int | None = None
) -> F.Column:
    """Cosine similarity of two array<double> columns (JVM-side).

    When ``dim`` is known AND both inputs are plain column names, the
    unrolled expression is assembled as ONE SQL string handed to the
    parser in a single py4j call. The Column-object route builds the
    identical AST but costs ~9·dim py4j round trips at PLAN BUILD
    time — measured 2.9 s of driver-side latency per fresh plan at
    dim=64 (execution cost is identical; this is pure construction
    overhead, and it recurs on every query build, not once).
    """
    if dim is not None and isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"({_dot_sql(a, b, dim)})"
            f"/(sqrt({_dot_sql(a, a, dim)})*sqrt({_dot_sql(b, b, dim)}))"
        )
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


def cosine_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int] | None = None,
    query_filter=None,
    k: int = 5,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side (small) is broadcast against the full candidate
    set; ranking ties break on neighbor id so the result set is
    deterministic. Output: (query_id, neighbor_id, sim, rank).
    Pass ``dim`` to unroll the cosine into codegen (see :func:`_dot`).
    """
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    if query_filter is None:
        query_filter = F.col(id_col).isin(query_ids or [])
    q = base.filter(query_filter).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("__q")
    )
    c = base.select(F.col(id_col).alias("neighbor_id"), F.col("__v").alias("__c"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("__q", "__c", dim).alias("__sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), 6).alias("sim"),
            F.col("rank"),
        )
    )


def _srp_buckets_df(
    embeddings: DataFrame,
    *,
    n_planes: int,
    n_tables: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, __v, tbl, bkt) — one row per (vector, LSH table).

    Hyperplane component (table t, plane p, dim d) is a
    deterministic pseudo-random ±1 from ``xxhash64(t,p,d)`` — no
    stored model, any executor recomputes it identically. The sign
    grid is materialized ONCE (one tiny Spark job over
    n_tables×n_planes rows) into a broadcast numpy matrix; per-row bucketing is then a
    single GEMM + bit-pack in an Arrow-batched kernel. The previous
    per-row HOF projection evaluated n_tables×n_planes×dim
    interpreted lambdas per vector — measured 12.6 s vs 0.4 s at
    2K×64×32 planes. Projection sums use numpy (pairwise) float
    order, so vectors lying exactly on a hyperplane could in
    principle land differently than the sequential-sum form — sign
    flips at |proj| < 1e-12 — but bucketing only needs determinism,
    which the fixed numpy reduction order preserves.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    rows = spark.range(n_tables * n_planes).selectExpr(
        "id",
        f"transform(sequence(0, {dim - 1}), d -> CASE WHEN"
        f" pmod(xxhash64(CAST(id div {n_planes} AS INT),"
        f" CAST(id % {n_planes} AS INT), CAST(d AS INT)), 2) = 0"
        f" THEN 1.0D ELSE -1.0D END) AS signs",
    ).collect()
    smat = np.asarray(
        [r["signs"] for r in sorted(rows, key=lambda r: r["id"])],
        dtype=np.float64,
    )
    bc = spark.sparkContext.broadcast(smat)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def kernel(batches):
        sm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            block = np.stack(
                pdf["__v"].map(lambda v: np.asarray(v, dtype=np.float64)).values
            )
            bits = (block @ sm.T >= 0).astype(np.int64)
            bits = bits.reshape(len(block), n_tables, n_planes)
            bkt = (bits * weights).sum(axis=2)  # (rows, n_tables)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_tables),
                    "__v": pdf["__v"].repeat(n_tables),
                    "tbl": np.tile(
                        np.arange(n_tables, dtype=np.int32), len(block)
                    ),
                    "bkt": bkt.reshape(-1),
                }
            )

    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    return base.mapInPandas(
        kernel, f"{id_col} long, __v array<double>, tbl int, bkt long"
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: SRP-LSH bucket join + exact re-scoring.

    Candidates = vectors sharing ≥1 of ``n_tables`` bucket ids with
    the query. The bucket join shuffles only (table, bucket, id);
    exact cosine runs on candidates alone. Recall rises with
    ``n_tables``, bucket size falls with ``n_planes`` — defaults are
    tuned for ~unit-norm 64-d clustered embeddings.
    """
    buckets = _srp_buckets_df(
        embeddings,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
    )
    q = buckets.filter(F.col(id_col).isin(query_ids or [])).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__q"),
        "tbl",
        "bkt",
    )
    c = buckets.select(
        F.col(id_col).alias("neighbor_id"), F.col("__v").alias("__c"), "tbl", "bkt"
    )
    cands = (
        c.join(F.broadcast(q), ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__q", "__c")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("__q"), F.col("__c")).alias("__sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), 6).alias("sim"),
            "rank",
        )
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    engine: str = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ threshold).

    Same LSH bucketing as :func:`lsh_bucketed_topk` but symmetric:
    pairs sharing a bucket, verified exactly. The all-pairs analog of
    document near-dup dedup, for modality-agnostic dedup by embedding.

    ``engine``: ``"auto"`` (default) picks by θ-regime — SRP banding
    only prunes when the threshold is high (p_plane = 1 − arccos(θ)/π;
    measured at θ=0.45 candidates ≈ 87% of ALL pairs, i.e. LSH pays
    bucketing cost for no pruning and loses ~5× to a dense GEMM), so
    below ``θ < 0.7`` auto dispatches to the distributed blocked GEMM
    (:func:`blocked_exact_near_dup_pairs` — exact, no collect, no
    broadcast limit) and above it runs banding. ``"lsh"`` / ``"gemm"``
    force a path (tests pin ``"lsh"`` to lock banding recall).
    Output contract is identical on every path: (id1, id2, sim) with
    the 6-dp-rounded-threshold convention.
    """
    if engine not in ("auto", "lsh", "gemm"):
        raise ValueError(f"unknown engine {engine!r}")
    if engine == "gemm" or (engine == "auto" and threshold < 0.7):
        return blocked_exact_near_dup_pairs(
            embeddings,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
        )
    # persist the bucketed frame: BOTH join sides reference it, and
    # without pinning the GEMM bucketing kernel executes twice
    # (visible as two MapInPandas blocks in the plan)
    buckets = _srp_buckets_df(
        embeddings,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
    ).persist()
    # candidate generation shuffles ONLY (tbl, bkt, id) — never the
    # vectors: with t tables a vector would otherwise traverse the
    # bucket join t times, and every surviving pair would drag
    # 2×dim doubles through dropDuplicates (measured ~800 MB of
    # shuffle and 14 s of interpreted per-pair cosine at 800K
    # candidates). Vectors are re-attached AFTER dedup, and the
    # exact verification runs as a row-wise numpy dot in one
    # Arrow-batched kernel.
    import numpy as np
    import pandas as pd

    a = buckets.select("tbl", "bkt", F.col(id_col).alias("id1"))
    b = buckets.select("tbl", "bkt", F.col(id_col).alias("id2"))
    # project to (id1, id2) BEFORE the dedup: a subset dropDuplicates
    # would desugar to first(tbl)/first(bkt) aggregates and fall back
    # to ObjectHashAggregate; the full-row distinct stays codegen
    pairs = (
        a.join(b, ["tbl", "bkt"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates()
    )
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    cand = pairs.join(
        base.select(F.col(id_col).alias("id1"), F.col("__v").alias("v1")), "id1"
    ).join(
        base.select(F.col(id_col).alias("id2"), F.col("__v").alias("v2")), "id2"
    )

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            va = np.stack(
                pdf["v1"].map(lambda v: np.asarray(v, dtype=np.float64)).values
            )
            vb = np.stack(
                pdf["v2"].map(lambda v: np.asarray(v, dtype=np.float64)).values
            )
            sims = np.einsum("ij,ij->i", va, vb) / (
                np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
            )
            keep = np.round(sims, 6) >= threshold
            yield pd.DataFrame(
                {
                    "id1": pdf["id1"].to_numpy()[keep],
                    "id2": pdf["id2"].to_numpy()[keep],
                    "sim": np.round(sims[keep], 6),
                }
            )

    from etl_gcp_spark.caching import tag_pinned

    # long-lived sessions: release the bucket pin with
    # etl_gcp_spark.caching.unpersist_pinned(result) after materializing
    return tag_pinned(
        cand.mapInPandas(verify, "id1 long, id2 long, sim double"), buckets
    )


def exact_near_dup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (brute force).

    Broadcast-GEMM design: the candidate matrix is collected once at
    build time (n×d float64 — 1 MB per 2K vectors at d=64), unit-
    normalized, and broadcast; the distributed side streams through
    an Arrow-batched ``mapInPandas`` kernel that computes a numpy
    GEMM per batch (block × matrixᵀ) and emits only pairs above the
    threshold with ``id1 < id2``. BLAS turns the O(n²·d) math into
    ~hundreds of Mflops of dense matmul: measured 66 s (expression
    cross-join) → 0.3 s at sf0.1 for identical output.

    Scope: exact baseline, valid while ONE side fits in a broadcast
    (~GBs of vectors). Past that, use the LSH variant
    (:func:`embedding_near_dup_pairs`) whose cost is linear in the
    corpus plus candidate pairs.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    rows = embeddings.select(id_col, vec_col).collect()
    cand_ids = np.array([r[0] for r in rows], dtype=np.int64)
    cm = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    cm /= np.linalg.norm(cm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((cand_ids, cm))

    def kernel(batches):
        ids_c, mat_c = bc.value
        for pdf in batches:
            block = np.stack(
                pdf[vec_col]
                .map(lambda v: np.asarray(v, dtype=np.float64))
                .values
            )
            block /= np.linalg.norm(block, axis=1, keepdims=True)
            # family-wide convention (LSH verify, blocked GEMM, DuckDB
            # oracle): threshold the 6-dp-ROUNDED similarity
            sims = np.round(block @ mat_c.T, 6)
            ids_b = pdf[id_col].to_numpy()
            ii, jj = np.where(sims >= threshold)
            keep = ids_b[ii] < ids_c[jj]
            yield pd.DataFrame(
                {
                    "id1": ids_b[ii][keep],
                    "id2": ids_c[jj][keep],
                    "sim": sims[ii, jj][keep],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        kernel, "id1 long, id2 long, sim double"
    )


def ivf_assign(
    embeddings: DataFrame,
    *,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantization: assign every vector to its nearest
    pivot cell. Returns (assigned, pivot_vectors).

    Pivots are the ``n_cells`` lowest-id vectors — deterministic and
    model-free (production systems train k-means centroids offline;
    the search structure is identical, only pivot quality differs).
    The tiny pivot set is collected once at index-build time and
    broadcast, so assignment is a pure per-row argmax —
    embarrassingly parallel, zero shuffle, zero join.

    Assignment is one Arrow-batched numpy GEMM (batch × pivots^T)
    per partition, not a per-row expression: n_cells interpreted HOF
    cosines per row cost ~n_cells×dim lambda evaluations each, while
    the GEMM amortizes to a single vectorized matmul (the same
    measured 10-100× pattern as embedding_near_dup; argmax's
    first-max tiebreak keeps the lowest cell, matching the previous
    lexicographic rule).
    """
    import numpy as np

    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    pivot_vecs = [
        list(r["__v"]) for r in base.orderBy(id_col).limit(n_cells).collect()
    ]
    pmat = np.asarray(pivot_vecs, dtype=np.float64)
    assigned = _assign_to_centroids(
        base, pmat, list(range(1, len(pivot_vecs) + 1)), id_col
    )
    return assigned, pivot_vecs


def _assign_to_centroids(
    base: DataFrame,
    cmat,
    cell_labels: list[int],
    id_col: str,
) -> DataFrame:
    """Argmax-cosine assignment of every (id, __v) row to one of the
    given centroids — one Arrow-batched numpy GEMM per partition
    (batch × centroidsᵀ), zero shuffle, zero join.

    ``cell_labels`` must be ascending so numpy argmax's first-max
    tiebreak lands on the LOWEST cell label, matching the DuckDB
    oracle's (sim DESC, cell ASC) ordering.
    """
    import numpy as np
    import pandas as pd

    cm = np.asarray(cmat, dtype=np.float64)
    cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
    labels = np.asarray(cell_labels, dtype=np.int64)
    if not (np.diff(labels) > 0).all():
        raise ValueError("cell_labels must be strictly ascending")
    bc = base.sparkSession.sparkContext.broadcast((cm, labels))

    def kernel(batches):
        pm, lab = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            block = np.stack(
                pdf["__v"].map(lambda v: np.asarray(v, dtype=np.float64)).values
            )
            block /= np.linalg.norm(block, axis=1, keepdims=True)
            cells = lab[(block @ pm.T).argmax(axis=1)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "__v": pdf["__v"],
                    "cell": cells.astype("int32"),
                }
            )

    return base.mapInPandas(
        kernel, f"{id_col} long, __v array<double>, cell int"
    )


def ivf_train(
    embeddings: DataFrame,
    *,
    n_cells: int = 32,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[int], list[list[float]]]:
    """Spherical k-means training for IVF centroids (Lloyd's
    algorithm): initialize from the ``n_cells`` lowest-id vectors,
    then ``n_iters`` rounds of argmax-cosine assignment + per-cell
    elementwise mean. Returns (cell_labels, centroids) — labels keep
    their initial ids, and cells that lose every member drop out.

    Determinism across engines: each centroid component is ROUNDED
    to 6 dp after the mean — float summation order differs between
    Spark's partial aggregation and any oracle replaying the
    training, and rounding collapses that eps before it can flip an
    argmax at the next assignment. (A tie at exactly equal rounded
    similarity still resolves to the lowest cell on both sides.)

    Scale shape per iteration: one zero-shuffle GEMM assignment pass
    + one posexplode/groupBy(cell, pos) mean — shuffle carries
    (cell, pos, partial sums), i.e. n_cells·dim accumulators, not
    vectors; the collected centroid table is n_cells rows (the same
    acceptable-collect class as the pivot seed).
    """
    import numpy as np

    # Lloyd reuses the projected corpus 1 + n_iters times (seed
    # collect + one assignment pass per round); persist it so each
    # round reads the materialized (id, double-vector) rows instead
    # of re-running the upstream plan — which at the retrain-swap
    # call site is a multi-tree union + dropDuplicates shuffle +
    # tombstone anti-join (guide §5: reuse × recompute-cost is
    # exactly the persist criterion; MLlib's KMeans caches its
    # training set for the same reason).
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    ).persist()
    try:
        seed = [
            list(r["__v"])
            for r in base.orderBy(id_col).limit(n_cells).collect()
        ]
        labels = list(range(1, len(seed) + 1))
        cmat = np.asarray(seed, dtype=np.float64)
        for _ in range(n_iters):
            assigned = _assign_to_centroids(base, cmat, labels, id_col)
            rows = (
                assigned.select(
                    "cell", F.posexplode("__v").alias("pos", "val")
                )
                .groupBy("cell", "pos")
                .agg(F.round(F.avg("val"), 6).alias("cval"))
                .groupBy("cell")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "cval"))
                    ).alias("pairs")
                )
                .select(
                    "cell",
                    F.transform("pairs", lambda s: s["cval"]).alias("cv"),
                )
                .orderBy("cell")
                .collect()
            )
            labels = [int(r["cell"]) for r in rows]
            cmat = np.asarray(
                [list(r["cv"]) for r in rows], dtype=np.float64
            )
    finally:
        base.unpersist()
    return labels, [list(c) for c in cmat]


def ivf_topk_trained(
    embeddings: DataFrame,
    *,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 32,
    n_probe: int = 4,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat top-k over k-means-TRAINED centroids — the production
    posture of :func:`ivf_topk` (which probes untrained lowest-id
    pivots): train with :func:`ivf_train`, assign, probe each query's
    ``n_probe`` nearest centroids, exact-rescore candidates. On
    clustered corpora trained centroids sit on the data's modes and
    lift recall at equal ``n_probe``; on the near-uniform synthetic
    corpus recall is comparable to the pivot variant (measured 43-45
    vs 44-47 of 50) — pytest asserts the recall floor, not dominance.
    """
    import numpy as np

    labels, centroids = ivf_train(
        embeddings,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    assigned = _assign_to_centroids(base, centroids, labels, id_col)
    cmat = np.asarray(centroids, dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    lab = np.asarray(labels, dtype=np.int64)
    qrows = base.filter(F.col(id_col).isin(query_ids or [])).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["__v"], dtype=np.float64)
        sims = cmat @ (qv / np.linalg.norm(qv))
        for idx in np.argsort(-sims, kind="stable")[:n_probe]:
            probe_rows.append((r[id_col], int(lab[idx])))
    spark = embeddings.sparkSession
    probed = small_df(
        spark,
        probe_rows or [], "query_id long, cell int"
    )
    qside = embeddings.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__q"),
    ).filter(F.col("query_id").isin(query_ids or []))
    cands = (
        F.broadcast(probed)
        .join(
            assigned.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("__v").alias("__c"),
                "cell",
            ),
            "cell",
        )
        .join(F.broadcast(qside), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    dim = len(centroids[0]) if centroids else None
    return (
        cands.select(
            "query_id",
            "neighbor_id",
            cosine_similarity("__q", "__c", dim).alias("__sim"),
        )
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), 6).alias("sim"),
            "rank",
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: coarse-quantize, probe the query's
    ``n_probe`` nearest cells, exact-rescore candidates only.

    The classic ANN index re-expressed relationally: the inverted
    file IS a DataFrame keyed by cell; probing IS a join on cell ids
    (broadcast: the query side is small). Scan cost drops from |C| to
    ~|C|·n_probe/n_cells per query; recall rises with ``n_probe``
    (n_probe = n_cells degenerates to exact brute force).
    """
    import numpy as np

    assigned, pivot_vecs = ivf_assign(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col
    )
    # per query: its n_probe closest cells, computed DRIVER-SIDE in
    # numpy. The query side is a bounded handful of rows (the same
    # acceptable-collect class as the pivot seed above), and the
    # previous JVM-expression route — n_cells structs × 2·dim inlined
    # literal terms, sorted per row — cost seconds of parse/optimize
    # latency at 32×64 (~4K terms) before a single task ran.
    # argsort(kind="stable") on the negated sims keeps the LOWEST
    # cell on exact ties, matching numpy argmax assignment and the
    # DuckDB oracle's (sim DESC, cell ASC) ordering.
    qrows = (
        embeddings.select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
        )
        .filter(F.col(id_col).isin(query_ids or []))
        .collect()
    )
    pmat = np.asarray(pivot_vecs, dtype=np.float64)
    pmat /= np.linalg.norm(pmat, axis=1, keepdims=True)
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["__v"], dtype=np.float64)
        sims = pmat @ (qv / np.linalg.norm(qv))
        for cell in np.argsort(-sims, kind="stable")[:n_probe]:
            probe_rows.append((r[id_col], int(cell) + 1))
    spark = embeddings.sparkSession
    probed = small_df(
        spark,
        probe_rows or [], "query_id long, cell int"
    )
    qside = embeddings.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__q"),
    ).filter(F.col("query_id").isin(query_ids or []))
    cands = (
        F.broadcast(probed)
        .join(
            assigned.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("__v").alias("__c"),
                "cell",
            ),
            "cell",
        )
        .join(F.broadcast(qside), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    rescore_dim = len(pivot_vecs[0]) if pivot_vecs else None
    return (
        cands.select(
            "query_id",
            "neighbor_id",
            cosine_similarity("__q", "__c", rescore_dim).alias("__sim"),
        )
        # no dedup needed: a neighbor lives in exactly ONE cell and the
        # probed cells are distinct, so (query_id, neighbor_id) pairs
        # are unique by construction — one shuffle saved
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), 6).alias("sim"),
            "rank",
        )
    )


def int8_quantize(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: 4× memory compression
    of an embedding store (the standard serving-side trade before
    PQ/OPQ codebooks).

    Each vector stores ``scale = max|x|`` and ``q[i] = round(x·127 /
    scale)`` ∈ [−127, 127]; reconstruction is ``q·scale/127``. All
    arithmetic is fixed-order and engine-portable (the DuckDB oracle
    replays it bit-identically), and the quantized dot product is
    EXACT integer math — approximation error lives only in the two
    scalar factors.

    Output: (id, scale, norm, qvec) — norm is the ORIGINAL vector's
    L2 norm, kept so downstream cosine scoring needs no second pass
    over the float data.
    """
    staged = embeddings.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("__v"),
    ).select(
        F.col(id_col),
        F.col("__v"),
        F.array_max(F.transform("__v", lambda x: F.abs(x))).alias("scale"),
        F.sqrt(
            F.aggregate(
                F.transform("__v", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("norm"),
    )
    return staged.select(
        F.col(id_col),
        F.col("scale"),
        F.col("norm"),
        F.transform(
            "__v",
            lambda x: F.round(x * F.lit(127.0) / F.col("scale")).cast("long"),
        ).alias("qvec"),
    )


def quantized_cosine_topk(
    embeddings: DataFrame,
    *,
    every: int = 200,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors scored on int8-quantized vectors.

    approx_cos(a,b) = (qa·qb) · scale_a·scale_b / (127² · ‖a‖‖b‖):
    the integer dot runs unrolled in whole-stage codegen over
    ``array<long>`` (¼ the memory traffic of the float path — at
    serving scale that IS the win), the scalar correction is two
    multiplies. Probe queries = every ``every``-th vector; ranking on
    the 6-dp-rounded score with id tiebreak keeps the order stable
    across engines.
    """
    qz = int8_quantize(embeddings, id_col=id_col, vec_col=vec_col)
    q = qz.filter((F.col(id_col) % every) == 0).select(
        F.col(id_col).alias("query_id"),
        F.col("scale").alias("sq"),
        F.col("norm").alias("nq"),
        F.col("qvec").alias("qa"),
    )
    c = qz.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("scale").alias("sc"),
        F.col("norm").alias("nc"),
        F.col("qvec").alias("qb"),
    )
    int_dot = F.expr(
        "+".join(f"qa[{i}]*qb[{i}]" for i in range(dim))
    ).cast("bigint")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                int_dot.cast("double")
                * F.col("sq") * F.col("sc")
                / (F.lit(16129.0) * F.col("nq") * F.col("nc")),
                6,
            ).alias("approx_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_sim", "rank")
    )


def blocked_exact_near_dup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.45,
    n_blocks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine pairs via DISTRIBUTED blocked GEMM — no
    driver collect, no broadcast-fit requirement.

    Completes the near-dup family's cost triangle:

    - :func:`exact_near_dup_pairs` — broadcast-GEMM: fastest while one
      side's matrix fits in a broadcast (~GBs);
    - :func:`embedding_near_dup_pairs` — SRP-LSH: wins when the
      threshold is high enough that banding prunes (θ ≥ ~0.8; at
      θ=0.45 measured candidates ≈ 87% of all pairs — no pruning);
    - this — the unbounded exact path: O(n²·dim) work, distributed as
      (upper-triangle) block pairs, each task one dense numpy GEMM.

    Mechanics: vectors hash into ``n_blocks`` row-blocks; blocks are
    packed with ``collect_list`` (one row per block), self-joined on
    ``x.blk <= y.blk``, and each block pair streams through an
    Arrow-batched kernel. Shuffle volume is n·(B+1)/2·dim doubles
    (each block meets B−1 partners + itself); pick B so a block is
    ~tens of MB — B ≈ n·dim·8 / 32 MB.
    """
    import numpy as np
    import pandas as pd

    # blocks are packed as ONE collect_list of (id, vec) structs:
    # two parallel collect_list aggregates are not guaranteed to stay
    # index-aligned (Spark documents no intra-group order), a struct
    # list is aligned by construction
    id_type = embeddings.schema[id_col].dataType.simpleString()
    base = embeddings.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    )
    packed = base.groupBy(
        F.pmod(F.xxhash64("__id"), F.lit(n_blocks)).alias("blk")
    ).agg(
        F.collect_list(F.struct("__id", "__v")).alias("items"),
    )
    pairs = (
        packed.select(
            F.col("blk").alias("xblk"), F.col("items").alias("xitems")
        )
        .join(
            packed.select(
                F.col("blk").alias("yblk"), F.col("items").alias("yitems")
            ),
            F.col("xblk") <= F.col("yblk"),
        )
        # spread the B(B+1)/2 block-pair rows across the cluster — the
        # join above may land them on few partitions
        .repartition(F.col("xblk"), F.col("yblk"))
    )

    def kernel(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                # np.asarray without a forced dtype: int ids stay int64,
                # string ids become '<U' arrays (minimum/maximum and <
                # all behave element-wise for both)
                ids_x = np.asarray([it["__id"] for it in row.xitems])
                ids_y = np.asarray([it["__id"] for it in row.yitems])
                mx = np.stack(
                    [np.asarray(it["__v"], dtype=np.float64) for it in row.xitems]
                )
                my = np.stack(
                    [np.asarray(it["__v"], dtype=np.float64) for it in row.yitems]
                )
                mx /= np.linalg.norm(mx, axis=1, keepdims=True)
                my /= np.linalg.norm(my, axis=1, keepdims=True)
                # filter on the 6-dp-ROUNDED sim, the same convention as
                # embedding_near_dup_pairs' verify stage and the DuckDB
                # oracle — unrounded filtering diverges on 1e-6 boundaries
                sims = np.round(mx @ my.T, 6)
                ii, jj = np.where(sims >= threshold)
                if row.xblk == row.yblk:
                    # diagonal block: keep the upper triangle only
                    keep = ids_x[ii] < ids_y[jj]
                    id1 = ids_x[ii][keep]
                    id2 = ids_y[jj][keep]
                    s = sims[ii, jj][keep]
                else:
                    # cross block: every pair occurs exactly once here
                    # (blocks are disjoint, join is x.blk < y.blk);
                    # emit in canonical (low, high) orientation.
                    # np.where, not minimum/maximum — those ufuncs have
                    # no loop for string ('<U') id arrays
                    ax, ay = ids_x[ii], ids_y[jj]
                    swap = ax > ay
                    id1 = np.where(swap, ay, ax)
                    id2 = np.where(swap, ax, ay)
                    s = sims[ii, jj]
                yield pd.DataFrame({"id1": id1, "id2": id2, "sim": s})

    return pairs.mapInPandas(
        kernel, f"id1 {id_type}, id2 {id_type}, sim double"
    )


def pq_codebook(
    embeddings: DataFrame,
    *,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebook: ``codebook[s][j]`` is the j-th
    codeword of subspace ``s`` — the s-th slice of the j-th lowest-id
    vector after unit-normalization, components ROUNDED to 6 dp.

    Deterministic and model-free, the same seeding posture as
    :func:`ivf_assign`'s pivots (production systems train per-subspace
    k-means offline; the search structure — codes, ADC lookup — is
    identical, only codeword quality differs). Rounding pins the
    codebook bit-identically across engines so the DuckDB oracle can
    replay encoding and scoring (same contract as ivf_train).
    """
    import numpy as np

    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    rows = base.orderBy(id_col).limit(n_codes).collect()
    mat = np.asarray([list(r["__v"]) for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    mat = np.round(mat, 6)
    dim = mat.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces}")
    d = dim // n_subspaces
    return [
        [list(mat[j, s * d : (s + 1) * d]) for j in range(len(mat))]
        for s in range(n_subspaces)
    ]


def pq_encode(
    embeddings: DataFrame,
    codebook: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Encode every vector as ``n_subspaces`` code ids (1-based):
    per subspace, the L2-nearest codeword of the unit-normalized
    subvector (ties → lowest code). One Arrow-batched kernel, zero
    shuffle: each row costs S small GEMMs against the broadcast
    codebook — the 32×-compression write path of a PQ index
    (8 codes ≈ 8 B vs 64 float64 ≈ 512 B).

    ``normalize=False`` encodes the input AS-IS — the residual-PQ
    path (:func:`ivf_pq_residual_topk`), whose inputs are already
    centered differences of unit vectors and must not be
    re-normalized.
    """
    import numpy as np
    import pandas as pd

    cb = [np.asarray(c, dtype=np.float64) for c in codebook]
    n_sub = len(cb)
    d = cb[0].shape[1]
    bc = embeddings.sparkSession.sparkContext.broadcast(cb)

    def kernel(batches):
        books = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            block = np.stack(
                pdf["__v"].map(lambda v: np.asarray(v, dtype=np.float64)).values
            )
            if normalize:
                block /= np.linalg.norm(block, axis=1, keepdims=True)
            codes = np.empty((len(block), n_sub), dtype=np.int64)
            for s, book in enumerate(books):
                xs = block[:, s * d : (s + 1) * d]
                # ||x - c||^2 = |x|^2 - 2<x,c> + |c|^2; argmin over c
                dist = (
                    -2.0 * (xs @ book.T)
                    + (book * book).sum(axis=1)[None, :]
                )
                codes[:, s] = dist.argmin(axis=1) + 1
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "codes": list(codes),
                }
            )

    return embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    ).mapInPandas(kernel, f"{id_col} long, codes array<int>")


def pq_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: queries stay exact, the
    corpus is its PQ codes, and the approximate cosine is the sum of
    per-subspace lookup-table entries  Σ_s <q_s, codeword(x, s)>.

    Scale shape: the corpus side carries ONLY (id, S small ints);
    the per-query lookup table (|Q|·S·n_codes doubles) broadcasts;
    scoring is posexplode codes → broadcast-join the table on
    (subspace, code) → sum — one shuffle of |Q|·n·S narrow rows, all
    codegen. Ranking uses the 6-dp-rounded score with id tiebreak
    (cross-engine stable); at serving scale ADC ranks a shortlist
    that exact rescoring then reorders — here the ADC rank IS the
    contract so the oracle can replay it.
    """
    import numpy as np

    codebook = pq_codebook(
        embeddings,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
    )
    codes = pq_encode(
        embeddings, codebook, id_col=id_col, vec_col=vec_col
    )
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    qrows = base.filter(F.col(id_col).isin(query_ids or [])).collect()
    cb = [np.asarray(c, dtype=np.float64) for c in codebook]
    d = cb[0].shape[1]
    lut_rows = []
    for r in qrows:
        qv = np.asarray(r["__v"], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        for s, book in enumerate(cb):
            vals = book @ qv[s * d : (s + 1) * d]
            for j, val in enumerate(vals):
                lut_rows.append((r[id_col], s + 1, j + 1, float(val)))
    spark = embeddings.sparkSession
    lut = small_df(
        spark,
        lut_rows or [], "query_id long, s int, code int, val double"
    )
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("s0", "code"),
    ).select(
        "neighbor_id", (F.col("s0") + 1).alias("s"), "code"
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    return (
        exploded.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("val"), 6).alias("approx_sim"))
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_sim", "rank")
    )


def embedding_outliers(
    embeddings: DataFrame,
    *,
    z_cut: float = -2.0,
    dim: int | None = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding outlier scores: cosine of every vector to
    its label centroid, z-scored within the label.  Vectors far below
    their class's typical self-similarity (``z < z_cut``) are
    mislabeled or junk rows — the standard embedding-space data-audit
    pass before a training run.

    Scale shape: centroids come from one ``posexplode`` aggregation
    (shuffle carries (label, pos, partial-sum) — map-side combined,
    so the exchange is |labels|·dim rows per map task, independent of
    corpus size) and are rounded to 6 dp, making them replayable; the
    centroid table is broadcast back (|labels|·dim doubles — tiny).
    The per-label mean/variance of the rounded cosine is a second
    combined aggregation, also broadcast back; the z formula uses the
    explicit sqrt(E[x²]−E[x]²) population form so the oracle can
    chain the identical arithmetic.  Cosine itself is the unrolled
    codegen expression when ``dim`` is known.
    """
    cent = (
        embeddings.select(
            F.col(label_col), F.posexplode(vec_col).alias("pos", "v")
        )
        .groupBy(label_col, "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("__cent")
        )
    )
    # string-name route into cosine_similarity: the unrolled dim-wide
    # expression is parsed in ONE py4j call (see cosine_similarity's
    # plan-build-latency note)
    scored = (
        embeddings.join(F.broadcast(cent), label_col)
        .select(
            F.col(id_col),
            F.col(label_col),
            _as_double(F.col(vec_col)).alias("__v"),
            F.col("__cent"),
        )
        .select(
            F.col(id_col),
            F.col(label_col),
            F.round(
                cosine_similarity("__v", "__cent", dim), 6
            ).alias("cos_centroid"),
        )
    )
    stats = scored.groupBy(label_col).agg(
        F.avg("cos_centroid").alias("__m"),
        # variance clamped at 0: identical-cosine labels can float
        # E[x^2] - E[x]^2 microscopically negative -> NaN std
        F.sqrt(
            F.greatest(
                F.avg(F.col("cos_centroid") * F.col("cos_centroid"))
                - F.avg("cos_centroid") * F.avg("cos_centroid"),
                F.lit(0.0),
            )
        ).alias("__s"),
    )
    z = F.when(F.col("__s") == 0, F.lit(0.0)).otherwise(
        F.round((F.col("cos_centroid") - F.col("__m")) / F.col("__s"), 4)
    )
    return scored.join(F.broadcast(stats), label_col).select(
        id_col,
        label_col,
        "cos_centroid",
        z.alias("z"),
        (z < z_cut).alias("is_outlier"),
    )


def knn_graph(
    embeddings: DataFrame,
    *,
    k: int = 5,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine k-NN graph — every vector's top-``k`` neighbors —
    via the same distributed blocked GEMM as
    :func:`blocked_exact_near_dup_pairs` (no driver collect, no
    broadcast-fit requirement).

    The SemDeDup / semantic-clustering input at corpus scale: rather
    than materializing the O(n²) similarity matrix, each block-pair
    task keeps only its LOCAL top-``k`` per row (a ``partition`` +
    slice on the in-task numpy matrix), so the exchange after the
    kernel carries at most n·B·k candidate rows; one window pass then
    reduces per-row candidates to the global top-``k``. Work is still
    O(n²·dim) — exact k-NN is — but memory and shuffle stay linear.

    Ties break on (higher sim, lower neighbor id) with sims ROUNDED
    to 6 dp before ranking, the family-wide convention that keeps the
    output replayable by the SQL oracle.

    Reference has no similarity search (nearest analog is full-table
    scans, `data_extractor.py:58-66`); extension per the brief.
    """
    import numpy as np
    import pandas as pd

    id_type = embeddings.schema[id_col].dataType.simpleString()
    base = embeddings.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    )
    packed = base.groupBy(
        F.pmod(F.xxhash64("__id"), F.lit(n_blocks)).alias("blk")
    ).agg(F.collect_list(F.struct("__id", "__v")).alias("items"))
    pairs = (
        packed.select(
            F.col("blk").alias("xblk"), F.col("items").alias("xitems")
        )
        .join(
            packed.select(
                F.col("blk").alias("yblk"), F.col("items").alias("yitems")
            ),
            F.col("xblk") <= F.col("yblk"),
        )
        .repartition(F.col("xblk"), F.col("yblk"))
    )

    def _rowwise_topk(qids, nids, sims):
        """Per-row local top-k of one dense block: argpartition then
        slice — O(n·m) instead of a full sort's O(n·m log m)."""
        m = sims.shape[1]
        kk = min(k, m)
        part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
        rows = np.repeat(np.arange(sims.shape[0]), kk)
        cols = part.ravel()
        s = sims[rows, cols]
        # a 1-vector diagonal block's only candidate is the -inf
        # self-entry — drop masked entries so they can never surface
        # as neighbors downstream
        keep = np.isfinite(s)
        return pd.DataFrame(
            {
                "qid": qids[rows][keep],
                "nid": nids[cols][keep],
                "sim": s[keep],
            }
        )

    def kernel(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_x = np.asarray([it["__id"] for it in row.xitems])
                ids_y = np.asarray([it["__id"] for it in row.yitems])
                mx = np.stack(
                    [np.asarray(it["__v"], dtype=np.float64) for it in row.xitems]
                )
                my = np.stack(
                    [np.asarray(it["__v"], dtype=np.float64) for it in row.yitems]
                )
                mx /= np.linalg.norm(mx, axis=1, keepdims=True)
                my /= np.linalg.norm(my, axis=1, keepdims=True)
                sims = np.round(mx @ my.T, 6)
                if row.xblk == row.yblk:
                    np.fill_diagonal(sims, -np.inf)  # no self-neighbor
                    yield _rowwise_topk(ids_x, ids_y, sims)
                else:
                    yield _rowwise_topk(ids_x, ids_y, sims)
                    yield _rowwise_topk(ids_y, ids_x, sims.T)

    cand = pairs.mapInPandas(
        kernel, f"qid {id_type}, nid {id_type}, sim double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("nid").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("nid").alias("nbr_id"),
            F.col("rank"),
            F.col("sim"),
        )
    )


def standardize_embeddings(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-DIMENSION z-normalization of an embedding column — the
    feature-scaling step before distance-based curation (k-means,
    outlier screens) when dimensions carry different scales.

    Distributed two-pass: (1) ``posexplode`` → per-position mean and
    population-std aggregates (one shuffle keyed on the ≤dim-row
    position — a map-side-combining agg whose reduce side is tiny at
    any corpus size); (2) the dim-row stats table packs into ONE
    sorted struct array broadcast to every task, and the vectors are
    rescaled in place with a ``transform`` lambda — no explode →
    reassemble round trip for the data pass, so the wide path touches
    each vector exactly once.

    Stats are ROUNDED to 6 dp before use and std is computed as
    sqrt(E[v²]−E[v]²) on BOTH sides (same convention as the
    embedding-outlier screen), making the output bit-replayable by
    the SQL oracle. Zero-variance dimensions standardize to 0.0.
    """
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    expl = base.select(F.posexplode("__v").alias("pos", "v"))
    stats = expl.groupBy("pos").agg(
        F.round(F.avg("v"), 6).alias("m"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.avg(F.col("v") * F.col("v"))
                    - F.avg("v") * F.avg("v"),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("s"),
    )
    packed = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "m", "s"))).alias("__st")
    )

    def _z(x: F.Column, i: F.Column) -> F.Column:
        st = F.element_at(F.col("__st"), (i + 1).cast("int"))
        return F.when(st["s"] == 0, F.lit(0.0)).otherwise(
            F.round((x - st["m"]) / st["s"], 6)
        )

    return (
        base.crossJoin(F.broadcast(packed))
        .select(F.col(id_col), F.transform("__v", _z).alias("z_embedding"))
    )


def embedding_pca1(
    embeddings: DataFrame,
    *,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """First principal component of the embedding cloud by DISTRIBUTED
    power iteration, plus every vector's projection onto it — the
    embedding-space audit axis (dominant direction of variance flags
    batch effects / collapsed encoders) and the 1-D curriculum /
    sharding key.

    All heavy phases are data-parallel DataFrame aggregations:

    - per-dim means: ``posexplode`` → dim-row agg (6 dp);
    - covariance: an Arrow per-partition XᵀX partial GEMM
      (:func:`_pca_xtx_partials`) — the n·d² (i, j, vᵢ·vⱼ) stream
      never exists; each task ships d² partial-sum rows and the
      exchange carries d²·partitions rows regardless of n (r11;
      guide §4). C = round(E[vᵢvⱼ] − mᵢmⱼ, 6);
    - ``n_iter`` fixed power steps on the d²-row C: matvec =
      broadcast-join C with the d-row w, groupBy(row) sum,
      renormalize, and round ONLY the normalized iterate to 6 dp.
      Fixed iteration count + per-step rounding makes the training
      REPLAYABLE in SQL (k-means-IVF posture). The single rounding
      point is deliberate: C and w are 6-dp decimals, so raw matvec
      sums land EXACTLY on decimal tie boundaries where last-ulp
      summation-order wobble flips HALF_UP — dividing by the
      irrational √Σu² first moves the value off the decimal grid,
      making the round tie-free on both engines. w₀ = 1/√d · 𝟙
      (deterministic sign).

    Output: (id, pc1) with pc1 = round((x − m)·w, 6).

    Convergence caveat (honest contract): power iteration converges
    at rate (λ₂/λ₁)^k, so after ``n_iter`` steps the output is the
    ITERATE's projection, which equals true PC1 only when a dominant
    direction exists. On a near-isotropic cloud (the synthetic
    corpus: λ₂/λ₁ ≈ 0.99) no direction dominates and the finding IS
    the isotropy — audit dimension health with
    :func:`embedding_dim_audit`, which is spectrum-independent.
    """
    base, means, cov = _pca_base_cov(embeddings, id_col, vec_col)
    w = _pca_power(cov, _pca_w0(means), n_iter)
    model = _pca_means_array(means).crossJoin(_pca_w_array(w, "__w"))
    out = base.crossJoin(F.broadcast(model)).select(
        F.col("__id").alias(id_col),
        _pca_projection("__w").alias("pc1"),
    )
    from etl_gcp_spark.caching import tag_pinned

    return tag_pinned(out, cov)


def _pca_xtx_partials(batches):
    """mapInArrow kernel: per-partition XᵀX partial sums.

    Accumulates one d×d GEMM per Arrow batch (float64) and emits a
    single d²-row batch (i, j, s=Σ vᵢvⱼ, cnt=partition rows) at task
    end — the §4 shape: the n·d² (i, j, vᵢ·vⱼ) stream never exists,
    neither as codegen rows nor across the exchange; the shuffle
    carries d²·partitions rows whatever n is. `sum(s)/sum(cnt)` per
    (i, j) downstream equals the old `avg(vi*vj)` exactly up to
    float summation order, which the 6-dp rounding point was chosen
    to absorb (the DuckDB oracle already re-sums in ITS own order and
    hash-matches; re-verified for both pca entries after this change).
    """
    import numpy as np
    import pyarrow as pa

    s = None
    cnt = 0
    for b in batches:
        arr = b.column(0)
        if arr.null_count:
            arr = arr.drop_null()
        if len(arr) == 0:
            continue
        flat = arr.flatten().to_numpy(zero_copy_only=False)
        d = len(arr[0])
        x = flat.reshape(len(arr), d)
        s = x.T @ x if s is None else s + x.T @ x
        cnt += x.shape[0]
    if s is not None:
        d = s.shape[0]
        ii, jj = np.meshgrid(
            np.arange(d, dtype=np.int32),
            np.arange(d, dtype=np.int32),
            indexing="ij",
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ii.ravel()),
                pa.array(jj.ravel()),
                pa.array(s.ravel(), type=pa.float64()),
                pa.array(np.full(d * d, cnt, dtype=np.int64)),
            ],
            names=["i", "j", "s", "cnt"],
        )


def _pca_base_cov(embeddings, id_col, vec_col):
    """(base, 6-dp per-dim means, 6-dp covariance) — pca phase 1.

    Second moments come from :func:`_pca_xtx_partials` (Arrow
    per-partition GEMM) instead of the r10 chained double
    ``posexplode``: the old plan generated n·d² rows through codegen
    before the map-side combine could collapse them (the r10 "Not yet
    optimized" entry); the kernel hands whole batches to BLAS and
    ships d² rows per partition. Means keep the cheap n·d posexplode
    (linear, map-side combined).
    """
    base = embeddings.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    )
    expl = base.select(F.posexplode("__v").alias("i", "vi"))
    means = (
        expl.groupBy(F.col("i").alias("pos"))
        .agg(F.round(F.avg("vi"), 6).alias("m"))
    )
    second = (
        base.select("__v")
        .mapInArrow(_pca_xtx_partials, "i int, j int, s double, cnt long")
        .groupBy("i", "j")
        .agg((F.sum("s") / F.sum("cnt")).alias("s"))
    )
    mi = means.select(F.col("pos").alias("i"), F.col("m").alias("mi"))
    mj = means.select(F.col("pos").alias("j"), F.col("m").alias("mj"))
    cov = (
        second.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i", "j",
            F.round(F.col("s") - F.col("mi") * F.col("mj"), 6).alias("c"),
        )
        # d² rows; pinned so each power step reuses it instead of
        # re-running the generation (release: unpersist_pinned).
        # coalesce(1) BEFORE the persist: a cached plan materializes at
        # the static shuffle-partition count (AQE does not re-plan it),
        # so without it every power-step matvec job runs
        # shuffle-partition-count tasks over a d²-row table — ~20 32-task
        # jobs of fixed overhead per pca entry (measured r11). One
        # partition is right at any corpus size: the frame is d² rows,
        # bounded by MODEL dimension, not data.
        .coalesce(1)
        .persist()
    )
    return base, means, cov


def _pca_w0(means):
    """Deterministic start iterate: 1/√d · 𝟙 (6 dp)."""
    dim_df = means.agg(F.count(F.lit(1)).alias("d"))
    return (
        means.join(F.broadcast(dim_df))
        .select(
            F.col("pos").alias("j"),
            F.round(F.lit(1.0) / F.sqrt(F.col("d")), 6).alias("w"),
        )
    )


def _pca_power(cov, w, n_iter: int):
    """Fixed power steps; ONE tie-free 6-dp rounding per step.

    Each step references the matvec ``u`` twice (directly and inside
    the norm aggregate), doubling the logical plan per iteration —
    fine at 3 steps, driver-OOM by 8 (same trap as the logreg
    trainer's weight re-join). The lazy ``localCheckpoint`` on the
    d-row iterate truncates lineage each step without adding a job.
    """
    for _ in range(n_iter):
        u = (
            cov.join(F.broadcast(w), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("w")).alias("u"))
        )
        nrm = u.agg(
            F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nrm")
        )
        w = (
            u.join(F.broadcast(nrm))
            .select(
                F.col("i").alias("j"),
                F.round(F.col("u") / F.col("nrm"), 6).alias("w"),
            )
            .localCheckpoint(eager=False)
        )
    return w


def _pca_means_array(means):
    return means.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda x: x["m"],
        ).alias("__m")
    )


def _pca_w_array(w, name: str):
    return w.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "w"))),
            lambda x: x["w"],
        ).alias(name)
    )


def _pca_projection(w_array_col: str):
    """round((x − m)·w, 6) as a sequential zip/aggregate dot."""
    return F.round(
        F.aggregate(
            F.zip_with(
                F.zip_with("__v", "__m", lambda v, m: v - m),
                w_array_col,
                lambda cvd, wv: cvd * wv,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def embedding_pca2(
    embeddings: DataFrame,
    *,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-TWO principal components by power iteration + Hotelling
    DEFLATION: after pc1's iterate w₁ converges, the covariance is
    deflated to C′ = C − λ₁·w₁w₁ᵀ (λ₁ = w₁ᵀCw₁, the Rayleigh
    quotient) and the same power loop runs on C′, whose dominant
    direction is pc2. Output (id, pc1, pc2) — the 2-D embedding map
    for visual audits, stratified sharding, and coverage checks,
    where one axis (:func:`embedding_pca1`) flattens distinct modes
    onto each other.

    Every deflation quantity stays on the d²-row frame: λ₁ is one
    matvec + one d-row dot (rounded 6 dp), C′ is an elementwise
    broadcast-join update (rounded 6 dp) — so the full two-component
    training replays in the SQL oracle exactly like pc1's. Same
    convergence caveat as pc1 on near-isotropic clouds, squared: the
    λ₂/λ₃ gap governs pc2.
    """
    base, means, cov = _pca_base_cov(embeddings, id_col, vec_col)
    w0 = _pca_w0(means)
    w1 = _pca_power(cov, w0, n_iter)
    # Rayleigh quotient on the FINAL iterate: u = C·w1, λ = u·w1
    u = (
        cov.join(F.broadcast(w1), "j")
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("w")).alias("u"))
    )
    lam = (
        u.join(
            F.broadcast(w1.select(F.col("j").alias("i"), "w")), "i"
        ).agg(F.round(F.sum(F.col("u") * F.col("w")), 6).alias("lam"))
    )
    wi = w1.select(F.col("j").alias("i"), F.col("w").alias("wi"))
    wj = w1.select("j", F.col("w").alias("wj"))
    cov2 = (
        cov.join(F.broadcast(wi), "i")
        .join(F.broadcast(wj), "j")
        .crossJoin(F.broadcast(lam))
        .select(
            "i", "j",
            F.round(
                F.col("c")
                - F.col("lam") * F.col("wi") * F.col("wj"),
                6,
            ).alias("c"),
        )
        # single-partition cache, same reason as _pca_base_cov: d² rows,
        # and every pc2 power step re-reads it
        .coalesce(1)
        .persist()
    )
    w2 = _pca_power(cov2, w0, n_iter)
    model = (
        _pca_means_array(means)
        .crossJoin(_pca_w_array(w1, "__w1"))
        .crossJoin(_pca_w_array(w2, "__w2"))
    )
    out = base.crossJoin(F.broadcast(model)).select(
        F.col("__id").alias(id_col),
        _pca_projection("__w1").alias("pc1"),
        _pca_projection("__w2").alias("pc2"),
    )
    from etl_gcp_spark.caching import tag_pinned

    return tag_pinned(out, cov, cov2)


def embedding_dim_audit(
    embeddings: DataFrame,
    *,
    dead_eps: float = 1e-9,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-DIMENSION health check of an embedding column: mean,
    variance, share of total variance, variance rank, and a dead-dim
    flag — the screen that catches collapsed encoder dimensions and
    scale imbalance before they poison every cosine downstream.

    One ``posexplode`` → dim-row aggregate (map-side combining; the
    exchange is ≤ dim rows per partition at any corpus size). The
    final rank window runs single-partition over the dim-row frame —
    bounded by MODEL dimension, not data size, so it holds at 100 TB.
    Variances round to 6 dp (population form, E[v²]−E[v]²).
    """
    expl = embeddings.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "v")
    )
    stats = expl.groupBy("pos").agg(
        F.round(F.avg("v"), 6).alias("mean"),
        F.round(
            F.greatest(
                F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"),
                F.lit(0.0),
            ),
            6,
        ).alias("var"),
    )
    tot = stats.agg(F.sum("var").alias("__tot"))
    # bounded: ≤ |embedding dim| rows — `stats` is one row per
    # vector position, never per vector
    w = Window.orderBy(F.col("var").desc(), F.col("pos").asc())
    return (
        stats.join(F.broadcast(tot))
        .select(
            "pos",
            "mean",
            "var",
            F.round(F.col("var") / F.col("__tot"), 6).alias("share"),
            (F.col("var") <= dead_eps).alias("is_dead"),
        )
        .withColumn("rank", F.row_number().over(w))
    )


def robust_scale_embeddings(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension ROBUST scaling: (x − median) / IQR — the
    outlier-proof sibling of :func:`standardize_embeddings` (a single
    corrupt batch of vectors drags mean/σ arbitrarily; the median and
    interquartile range have positive breakdown points — the same
    rationale as ``mad_outliers`` vs ``zscore_outliers``, applied to
    the preprocessing side).

    Same two-pass shape as standardize_embeddings: one posexplode →
    per-position aggregation (a single ARRAY-percentile buffer per
    dimension, not three scalar ones — see winsorize's measured 2×),
    stats packed into one sorted struct array broadcast everywhere,
    vectors rescaled in place by a ``transform`` lambda. Percentiles
    round to 6 dp, IQR is the exact difference of the rounded
    quartiles, outputs round to 6 dp — replayable via quantile_cont
    (the same interpolation as Spark's exact percentile).
    Zero-IQR dimensions scale to 0.0.
    """
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    expl = base.select(F.posexplode("__v").alias("pos", "v"))
    stats = expl.groupBy("pos").agg(
        F.percentile(
            "v", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("__q")
    ).select(
        "pos",
        F.round(F.element_at("__q", 2), 6).alias("med"),
        (
            F.round(F.element_at("__q", 3), 6)
            - F.round(F.element_at("__q", 1), 6)
        ).alias("iqr"),
    )
    packed = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "med", "iqr"))
        ).alias("__st")
    )

    def _r(x: F.Column, i: F.Column) -> F.Column:
        st = F.element_at(F.col("__st"), (i + 1).cast("int"))
        return F.when(st["iqr"] == 0, F.lit(0.0)).otherwise(
            F.round((x - st["med"]) / st["iqr"], 6)
        )

    return base.crossJoin(F.broadcast(packed)).select(
        F.col(id_col), F.transform("__v", _r).alias("r_embedding")
    )


def embedding_kmeans(
    embeddings: DataFrame,
    *,
    n_cells: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means CLUSTERING as a first-class operator —
    the same Lloyd's training that backs the IVF index
    (:func:`ivf_train`), surfaced as (id, cell, cluster_size)
    assignments: the partitioner for SemDeDup-style semantic dedup,
    diversity-aware sampling, and per-cluster curation quotas.

    Training is ``n_iters`` rounds of zero-shuffle GEMM assignment +
    a (cell, pos)-keyed mean whose shuffle carries n_cells·dim
    accumulators (never vectors); centroid components round to 6 dp
    per round so the whole training replays in the SQL oracle.
    Final assignment is one more GEMM pass; sizes come from a
    cell-partitioned window over the n-row assignment table.
    """
    from pyspark.sql import Window

    labels, cmat = ivf_train(
        embeddings,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    assigned = _assign_to_centroids(base, cmat, labels, id_col)
    w = Window.partitionBy("cell")
    return assigned.select(
        F.col(id_col),
        F.col("cell"),
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
    )


def ivf_drift_report(
    embeddings: DataFrame,
    *,
    n_cells: int = 8,
    n_iters: int = 2,
    holdout_mod: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Frozen-centroid DRIFT gate for the persisted IVF index — the
    guardrail that closes the index lifecycle (build → append →
    compact → serve → recall audit → **when to retrain**). The
    append path deliberately never retrains (O(|new| ) ingest); the
    cost is that centroids slowly stop fitting the incoming
    distribution. This report measures exactly that: train on the
    BASE cohort only (ids with ``id % holdout_mod != holdout_mod-1``
    — a deterministic, engine-portable split), assign EVERY vector to
    the frozen centroids, and compare per-cohort assignment quality:

    - ``mean_sim``: mean best-centroid cosine, 6-dp sims accumulated
      as exact DECIMAL(18,8) sums (order-free) before one IEEE
      division — the decimal-moments discipline;
    - ``p05_sim``: the weak-tail 5th percentile (drift shows up in
      the tail long before the mean moves), defined NEAREST-RANK —
      the ⌈0.05·n⌉-th smallest value, picked on integer-scaled
      (×1e6) sims with pure integer rank arithmetic. Interpolated
      percentiles compute ``a + (b-a)·f`` in IEEE doubles, where a
      half-ulp difference between engines can flip the 6-dp
      rounding; a rank pick selects an existing value, so there is
      nothing to interpolate and nothing to diverge. It is also the
      scalable formulation: Spark's ``percentile()`` buffers every
      value per group, while the rank pick here is a groupBy on
      (cohort, sim6) — at most one row per distinct 6-dp sim —
      followed by a running-sum window over that compacted set.

    A ``new`` cohort whose p05 falls materially below ``base``'s is
    the retrain trigger. Distributed shape: training is the proven
    replayable k-means (n_cells·dim accumulator shuffles); scoring
    is one pass of ``zip_with``/``aggregate`` dots against n_cells
    broadcast centroid literals — same left-to-right summation as
    the oracle's ``list_cosine_similarity``, rounded AFTER the max;
    the report is 2 rows. At production dims swap the scoring
    expression for the GEMM kernel (:func:`_assign_to_centroids`) —
    semantics identical.
    """
    base = embeddings.filter(
        (F.col(id_col) % holdout_mod) != holdout_mod - 1
    )
    _labels, cmat = ivf_train(
        base,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    scored = drift_scores_literal(
        embeddings, cmat,
        holdout_mod=holdout_mod, id_col=id_col, vec_col=vec_col,
    ).select("cohort", F.round(F.col("sim_raw"), 6).alias("sim"))
    return _drift_cohort_stats(scored)


def drift_scores_literal(
    embeddings: DataFrame,
    cmat,
    *,
    holdout_mod: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cohort, sim_raw) best-centroid cosines via the literal
    ``zip_with``/``aggregate`` expression kernel — UNROUNDED, so
    tests can measure each sim's distance to a 6-dp rounding
    boundary (the kernel-equivalence margin the gemm twin relies
    on). Shared by :func:`ivf_drift_report`, which rounds half-up
    Spark-side."""

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _cos(v, cent):
        c = F.array(*[F.lit(float(x)) for x in cent])
        return _dot(v, c) / (
            F.sqrt(_dot(v, v)) * F.sqrt(_dot(c, c))
        )

    allv = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    sims = [_cos(F.col("__v"), list(cent)) for cent in cmat]
    best = sims[0] if len(sims) == 1 else F.greatest(*sims)
    return allv.select(
        F.col(id_col),
        F.when(
            (F.col(id_col) % holdout_mod) == holdout_mod - 1, F.lit("new")
        )
        .otherwise(F.lit("base"))
        .alias("cohort"),
        best.alias("sim_raw"),
    )


def _drift_cohort_stats(scored: DataFrame) -> DataFrame:
    """Per-cohort (n_vecs, mean_sim, p05_sim) over (cohort, sim) rows
    of 6-dp-rounded best-centroid sims — shared by the literal-
    expression and GEMM drift scorers so both provably aggregate the
    same way. mean_sim: exact DECIMAL sums (order-free) before one
    IEEE division. p05_sim: nearest-rank — ⌈0.05·n⌉ == (n + 19) div
    20, exact integer arithmetic (0.05·n in IEEE can land a half-ulp
    either side of the integer and flip ceil()); sims scaled to exact
    int64 so the picked value replays bit-for-bit on any engine.

    ``scored`` feeds two output subtrees (mean stats + the p05 rank
    pick), so it is persisted — without the pin both branches re-run
    the full scoring pass over the corpus, which at 100 TB doubles
    the dominant cost. The pin is a 2-column (cohort, sim) frame —
    ~16 bytes/row — tagged for release via the caching contract."""
    from etl_gcp_spark.caching import tag_pinned

    scored = scored.persist()
    stats = scored.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.col("sim").cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sim"),
    )
    sim6 = scored.select(
        "cohort",
        F.round(F.col("sim") * F.lit(1000000.0)).cast("long").alias("sim6"),
    )
    grouped = sim6.groupBy("cohort", "sim6").agg(F.count(F.lit(1)).alias("c"))
    cum = grouped.select(
        "cohort",
        "sim6",
        F.sum("c").over(Window.partitionBy("cohort").orderBy("sim6")).alias("cum"),
        F.sum("c").over(Window.partitionBy("cohort")).alias("n"),
    )
    p05 = (
        cum.filter(F.col("cum") >= F.expr("(n + 19) div 20"))
        .groupBy("cohort")
        .agg(F.round(F.min("sim6") / F.lit(1000000.0), 6).alias("p05_sim"))
    )
    return tag_pinned(
        stats.join(p05, "cohort").orderBy("cohort"), scored
    )


def ivf_drift_report_gemm(
    embeddings: DataFrame,
    *,
    n_cells: int = 8,
    n_iters: int = 2,
    holdout_mod: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_drift_report` with the PRODUCTION scoring kernel:
    best-centroid cosine per vector via one Arrow-batched numpy GEMM
    per partition (batch × centroidsᵀ on L2-normalized rows) instead
    of n_cells literal ``zip_with``/``aggregate`` expressions. The
    literal form is fine at n_cells=8 but generates an expression
    tree linear in n_cells — at production cell counts (4k-64k) the
    GEMM is the only sane shape, and this entry PROVES the swap is
    semantics-preserving: identical training, identical cohort
    split, identical 6-dp rounding, same aggregation helper
    (:func:`_drift_cohort_stats`), and the SAME value-hash oracle as
    the literal entry (the two differ only in float summation order
    inside the dot product — ~1e-16 relative, invisible at 6 dp on
    unit-norm cosines).

    Distributed shape: scoring is mapInPandas over broadcast
    centroids — zero shuffle, zero join; the report aggregation is
    the shared rank-pick (a groupBy compaction, never a per-group
    value buffer)."""
    base = embeddings.filter(
        (F.col(id_col) % holdout_mod) != holdout_mod - 1
    )
    _labels, cmat = ivf_train(
        base,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    scored = drift_scores_gemm(
        embeddings, cmat,
        holdout_mod=holdout_mod, id_col=id_col, vec_col=vec_col,
    ).select("cohort", F.round(F.col("sim_raw"), 6).alias("sim"))
    return _drift_cohort_stats(scored)


def drift_scores_gemm(
    embeddings: DataFrame,
    cmat,
    *,
    holdout_mod: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cohort, sim_raw) best-centroid cosines via the production
    GEMM kernel (one Arrow-batched numpy ``block @ centroidsᵀ`` per
    partition over broadcast L2-normed centroids) — UNROUNDED; the
    caller rounds in Spark (F.round is half-up like the oracle's
    round(); numpy.round is half-even — keep every rounding decision
    on one code path). Shared by :func:`ivf_drift_report_gemm` and
    the kernel-margin pin test."""
    import numpy as np
    import pandas as pd

    cm = np.asarray(cmat, dtype=np.float64)
    cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
    bc = embeddings.sparkSession.sparkContext.broadcast(cm)
    new_tag = holdout_mod - 1

    def kernel(batches):
        pm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            block = np.stack(
                pdf["__v"].map(lambda v: np.asarray(v, dtype=np.float64)).values
            )
            block /= np.linalg.norm(block, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "__id": pdf[id_col].to_numpy(),
                    "sim_raw": (block @ pm.T).max(axis=1),
                }
            )

    allv = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    return allv.mapInPandas(
        kernel, "__id long, sim_raw double"
    ).select(
        F.col("__id").alias(id_col),
        F.when(F.col("__id") % holdout_mod == new_tag, F.lit("new"))
        .otherwise(F.lit("base"))
        .alias("cohort"),
        F.col("sim_raw"),
    )


def semdedup_prune(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    n_cells: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public methodology): cluster the
    embedding space with k-means, then prune near-duplicates ONLY
    within each cluster — semantic dedup whose pairwise work is
    bounded by cluster occupancy instead of n², which is the entire
    scale argument of the paper. Greedy keep-lowest-id: a vector is
    dropped when any lower-id member of ITS OWN cell matches at
    ≥ ``threshold`` cosine — INCLUDING lower-id members that were
    themselves dropped. So pruning is transitive through chains
    (a~b, b~c with a≁c keeps only a), which over-prunes relative to
    the paper's keep-one-per-duplicate-group rule; that is the
    registered, oracle-replayed semantics here (a survivors-only
    drop join would need an iterative pass — choose
    :func:`embedding_dedup_clusters` for group-faithful keeps).

    Differs from :func:`embedding_dedup_clusters` (exact global
    blocked-GEMM pairs → connected components) in contract and cost:
    this one trades cross-cell recall for per-cell quadratic work —
    at web scale the GEMM sweep is a full n²/B compute pass while
    SemDeDup is Σ|cell|², and the missed cross-cell pairs are the
    documented approximation.

    Within-cell sims evaluate as sequential ``zip_with``/``aggregate``
    dots over the two arrays — same left-to-right summation order as
    the oracle's ``list_cosine_similarity`` loop, rounded to 6 dp.

    Output: (id, cell, kept) for EVERY input vector — survivors and
    the audit trail in one table.
    """
    labels, cmat = ivf_train(
        embeddings,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    assigned = _assign_to_centroids(base, cmat, labels, id_col).persist()

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    norms = assigned.select(
        F.col(id_col),
        "cell",
        F.sqrt(_dot(F.col("__v"), F.col("__v"))).alias("__n"),
        "__v",
    )
    a = norms.select(
        "cell",
        F.col(id_col).alias("id1"),
        F.col("__v").alias("__v1"),
        F.col("__n").alias("__n1"),
    )
    b = norms.select(
        "cell",
        F.col(id_col).alias("id2"),
        F.col("__v").alias("__v2"),
        F.col("__n").alias("__n2"),
    )
    sim = F.round(
        _dot(F.col("__v1"), F.col("__v2"))
        / (F.col("__n1") * F.col("__n2")),
        6,
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", sim.alias("__sim"))
        .filter(F.col("__sim") >= threshold)
        .select(F.col("id2").alias(id_col))
        .dropDuplicates()
        .withColumn("__drop", F.lit(True))
    )
    out = (
        assigned.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )
    from etl_gcp_spark.caching import tag_pinned

    return tag_pinned(out, assigned)


def label_centroid_drift(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid alignment with the global centroid — the
    batch-effect / encoder-drift audit over a labeled embedding
    table: a label whose centroid points away from the global one
    (low cosine) was embedded differently (different encoder
    version, preprocessing, or a genuinely distinct subpopulation)
    and will distort any distance-based curation done on the pooled
    space.

    Shape: one posexplode pass feeding BOTH centroid aggregations
    ((label, pos) and (pos) — map-side combined, ≤ labels·dim rows
    shuffled); centroid components round to 6 dp; the cosine's dot
    and norms accumulate as DECIMAL(28,12) (each double product
    rounds once at the cast) so the per-label reduction over
    dimensions is exact and order-free. Output: (label, n_vecs,
    cos_to_global 6 dp).
    """
    base = embeddings.select(
        F.col(label_col).alias("label"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    expl = base.select(
        "label", F.posexplode("__v").alias("pos", "v")
    )
    per_label = expl.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("ml")
    )
    global_c = expl.groupBy("pos").agg(
        F.round(F.avg("v"), 6).alias("mg")
    )
    sizes = base.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    dec = "decimal(28,12)"
    joined = per_label.join(F.broadcast(global_c), "pos")
    sums = joined.groupBy("label").agg(
        F.sum((F.col("ml") * F.col("mg")).cast(dec)).alias("__dot"),
        F.sum((F.col("ml") * F.col("ml")).cast(dec)).alias("__nl"),
        F.sum((F.col("mg") * F.col("mg")).cast(dec)).alias("__ng"),
    )
    return (
        sums.join(sizes, "label")
        .select(
            "label",
            "n_vecs",
            F.round(
                F.col("__dot").cast("double")
                / (
                    F.sqrt(F.col("__nl").cast("double"))
                    * F.sqrt(F.col("__ng").cast("double"))
                ),
                6,
            ).alias("cos_to_global"),
        )
        .orderBy("label")
    )


def hard_negative_mining(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 1,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard negatives for contrastive/metric training: for each query
    vector, the ``k`` MOST SIMILAR vectors carrying a DIFFERENT label
    — the pairs that teach an encoder the most (public methodology:
    hard-negative mining in triplet/contrastive learning; random
    negatives are mostly trivial at scale, the near-boundary ones
    carry the gradient signal).

    Same plan shape as :func:`cosine_topk` — broadcast query side,
    codegen cosine when ``dim`` is given — plus the label-mismatch
    filter BEFORE ranking, so positives never occupy top-k slots.
    Output: (query_id, query_label, hard_negative_id, negative_label,
    sim 6 dp, rank).
    """
    base = embeddings.select(
        F.col(id_col),
        F.col(label_col).alias("__l"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("__l").alias("query_label"),
        F.col("__v").alias("__q"),
    )
    c = base.select(
        F.col(id_col).alias("hard_negative_id"),
        F.col("__l").alias("negative_label"),
        F.col("__v").alias("__c"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("negative_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "hard_negative_id",
            "negative_label",
            cosine_similarity("__q", "__c", dim).alias("__sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("hard_negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "hard_negative_id",
            "negative_label",
            F.round(F.col("__sim"), 6).alias("sim"),
            "rank",
        )
    )


def ann_recall_report(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 32,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the selective IVF index against the exact top-k —
    the ANN ladder's quality gauge as a first-class operator. An
    approximate index without a measured recall is an unquantified
    risk; this runs both sides (probing ``n_probe`` of ``n_cells``
    cells vs the exhaustive scan) and reports per-query overlap, so a
    pipeline can gate an index rollout on "recall@k ≥ X on a probe
    set" the same way it gates row counts.

    Cost: the exact side is one |queries| × n GEMM-ish scan (the probe
    set is small by construction — this is an audit, not serving);
    the approximate side is the production index path itself.
    Output: (query_id, n_exact, n_hits, recall 4 dp).
    """
    exact = cosine_topk(
        embeddings,
        query_filter=F.col(id_col).isin(query_ids),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    approx = ivf_topk(
        embeddings,
        query_ids=query_ids,
        k=k,
        n_cells=n_cells,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / F.col("n_exact").cast("double"),
                4,
            ).alias("recall"),
        )
    )


def filtered_recall_report(
    spark,
    embeddings: DataFrame,
    index_dir: str,
    *,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 32,
    n_probe: int = 4,
    label_value: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Recall@k of FILTERED vector search against the filtered exact
    top-k — the third leg of the recall-audit family
    (:func:`ann_recall_report` audits the index approximation,
    :func:`truncation_recall_report` the representation; this one
    audits the FILTER × INDEX interaction). A selective predicate
    shrinks each probed cell's candidate pool, so recall under a
    filter is systematically LOWER than the unfiltered number at the
    same ``n_probe`` — the standard operational answer is raising
    ``n_probe`` for selective filters, and this report is the
    measurement that decision needs (the reason engines like Qdrant/
    Vespa document filtered-search recall separately).

    Builds nothing: serves from the ``index_dir`` artifact
    (:func:`build_ivf_index` with the label in ``meta_cols``). The
    exact side scans the filtered candidates brute-force with queries
    looked up UNFILTERED — same semantics as the served path. Output:
    (query_id, n_exact, n_hits, recall 4 dp).
    """
    approx = ivf_index_topk(
        spark,
        index_dir,
        query_ids=query_ids,
        k=k,
        n_probe=n_probe,
        neighbor_pred=(F.col(label_col) == label_value),
    ).select("query_id", "neighbor_id")
    base = embeddings.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("__v"),
        F.col(label_col),
    )
    q = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("__q")
    )
    c = base.filter(F.col(label_col) == label_value).select(
        F.col(id_col).alias("neighbor_id"), F.col("__v").alias("__c")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("__q", "__c", None).alias("__sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / F.col("n_exact").cast("double"),
                4,
            ).alias("recall"),
        )
    )


def truncation_recall_report(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 5,
    trunc_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of TRUNCATED-dimension cosine search against the
    full-dimension exact top-k — the measurement behind the
    Matryoshka-style serving decision (Kusupati et al. 2022): serve
    the first ``trunc_dim`` coordinates (×dim/trunc_dim less memory
    bandwidth, smaller index, cheaper GEMM) if recall on a probe set
    clears the bar. Pairs with :func:`ann_recall_report`: that one
    audits the INDEX approximation, this one audits the REPRESENTATION
    approximation — at 100 TB the two multiply, so each needs its own
    measured number.

    Both sides run the exact scan (the probe set is small; this is an
    audit, not serving); the truncated side slices each vector to its
    leading ``trunc_dim`` coordinates — cosine renormalizes inside
    :func:`cosine_topk`, so no re-embedding is needed. Output:
    (query_id, trunc_dim, n_exact, n_hits, recall 4 dp).
    """
    full = cosine_topk(
        embeddings,
        query_filter=F.col(id_col).isin(query_ids),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    sliced = embeddings.select(
        F.col(id_col),
        F.slice(F.col(vec_col), 1, trunc_dim).alias(vec_col),
    )
    truncated = cosine_topk(
        sliced,
        query_filter=F.col(id_col).isin(query_ids),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    hits = (
        truncated.join(full, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        full.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(trunc_dim).cast("int").alias("trunc_dim"),
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / F.col("n_exact").cast("double"),
                4,
            ).alias("recall"),
        )
    )


@_metered_build
def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    *,
    n_cells: int = 32,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple = (),
) -> None:
    """Persist an IVF index as a SERVABLE ARTIFACT: k-means centroids
    (tiny parquet) plus the corpus vectors partitioned BY CELL on
    disk. The layout is the index: a query that probes ``n_probe`` of
    ``n_cells`` cells reads only those partitions' files (Spark
    partition pruning — asserted in tests/test_plans.py), so serving
    I/O is n_probe/n_cells of the corpus without any custom reader.
    Build once per corpus snapshot, query many times — the
    train/serve split :func:`ivf_topk_trained` fuses into one call.

    ``meta_cols`` bakes metadata attributes (language, license,
    source, label …) into the vector payload rows, which is what
    makes FILTERED vector search an index-local operation: a serve
    with a metadata predicate pushes it into the same parquet scan
    that partition pruning already restricted to the probed cells
    (``PushedFilters`` + partition pruning in one plan), instead of
    joining a separate metadata table per query. Cost is one
    build-time equi-join on the id (the assignment kernel's Arrow
    schema is fixed, so metadata rides back in on the id after the
    GEMM pass) — build-phase only, metered, amortized over every
    filtered query the index ever serves.

    Training is identical to the registered k-means IVF (lowest-id
    seeding, ``n_iters`` Lloyd rounds, 6-dp centroid rounding), so
    query results replay under the same oracle.
    """
    import shutil

    # a rebuild is a fresh snapshot: erasures recorded against the
    # previous artifact do not carry over
    shutil.rmtree(os.path.join(path, "tombstones"), ignore_errors=True)
    labels, centroids = ivf_train(
        embeddings,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    assigned = _assign_to_centroids(base, centroids, labels, id_col)
    spark = embeddings.sparkSession
    payload = assigned.select(
        F.col(id_col).alias("vec_id"),
        F.col("__v").alias("vector"),
        "cell",
    )
    if meta_cols:
        payload = payload.join(
            embeddings.select(
                F.col(id_col).alias("vec_id"), *[F.col(c) for c in meta_cols]
            ),
            "vec_id",
        )
    (
        # cluster by the partition column before the partitioned
        # write: one file per cell (instead of tasks × cells) and the
        # write parallelizes across cells (r10; guide §6 — at scale,
        # intra-cell file splitting is maxRecordsPerFile's job).
        # Tasks capped at the core count: every cell still hashes
        # into exactly one task, so the file count is unchanged and
        # task-commit overhead stays bounded.
        payload.repartition(
            min(n_cells, spark.sparkContext.defaultParallelism), "cell"
        )
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(os.path.join(path, "vectors"))
    )
    small_df(
        spark,
        [(int(l), [float(x) for x in c]) for l, c in zip(labels, centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )


@_metered_build
def ivf_index_append(
    spark,
    path: str,
    new_embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple = (),
) -> None:
    """Append new vectors to a persisted :func:`build_ivf_index`
    artifact WITHOUT retraining — the index-maintenance operation a
    continuous ingest needs: centroids stay frozen (they are the
    index contract readers already hold), each arriving vector is
    assigned to its argmax-cosine cell with the SAME zero-shuffle
    GEMM kernel used at build time, and the rows land as NEW parquet
    files inside the existing ``cell=N`` partition directories
    (``mode("append")`` never rewrites existing files). Serving picks
    the appended vectors up on the next scan with no reader change —
    partition pruning still holds because the partition column is
    unchanged.

    Scale shape: append cost is O(|new|·n_cells·dim) map-side work +
    one partitioned write of only the new rows; the existing corpus
    is never read or rewritten. Retrain (a fresh
    :func:`build_ivf_index`) remains the answer when drift makes the
    frozen centroids unbalanced — the two operations are the standard
    serve-time/maintenance split of a production IVF index.

    ``meta_cols`` must match the build's (``build_ivf_index(
    meta_cols=...)``): metadata rides in on the id exactly as at
    build time, so appended rows stay filterable by the same
    predicates. The base tree's schema is the contract — a mismatch
    in either direction fails fast here, because the alternative is
    a mixed-schema vectors tree whose filtered serves silently skip
    appended vectors (null metadata) and whose compaction
    ``select(*cols)`` raises much later.
    """
    base_schema = spark.read.parquet(os.path.join(path, "vectors")).schema
    base_meta = set(base_schema.names) - {"vec_id", "vector", "cell"}
    if base_meta != set(meta_cols):
        raise ValueError(
            "ivf_index_append meta_cols mismatch: index at "
            f"{path!r} carries metadata columns {sorted(base_meta)}, "
            f"append supplies {sorted(meta_cols)}"
        )
    cents = sorted(
        spark.read.parquet(os.path.join(path, "centroids")).collect(),
        key=lambda r: r["cell"],
    )
    labels = [int(r["cell"]) for r in cents]
    cmat = [list(r["centroid"]) for r in cents]
    base = new_embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    assigned = _assign_to_centroids(base, cmat, labels, id_col)
    payload = assigned.select(
        F.col(id_col).alias("vec_id"),
        F.col("__v").alias("vector"),
        "cell",
    )
    if meta_cols:
        payload = payload.join(
            new_embeddings.select(
                F.col(id_col).alias("vec_id"), *[F.col(c) for c in meta_cols]
            ),
            "vec_id",
        )
    (
        payload
        .write.partitionBy("cell")
        .mode("append")
        .parquet(os.path.join(path, "vectors"))
    )


def _ivf_tombstones(spark, path: str):
    """The erased-vector set (vec_id rows) accumulated by
    :func:`ivf_index_erase`, or None when nothing is erased."""
    tomb = os.path.join(path, "tombstones")
    if not os.path.isdir(tomb) or not os.listdir(tomb):
        return None
    return spark.read.parquet(tomb).select("vec_id")


def ivf_index_erase(spark, path: str, vec_ids) -> None:
    """Logically erase vectors from the persisted IVF index — the
    vector-side right-to-be-forgotten (text twin:
    functions/text.py::text_index_erase; table twin: user_erasure).
    O(|request|) tombstone APPEND; the cell-partitioned corpus is
    never rewritten on the request path. Serves anti-join the
    tombstone set (broadcast — bounded by erasure volume between
    compactions), so erased vectors immediately stop appearing as
    neighbors AND stop being servable as queries.
    :func:`ivf_index_compact` makes the erasure physical. Centroids
    keep the erased vectors' training influence until the next
    rebuild — the standard retrain-on-drift tradeoff, same as
    appends against frozen centroids.

    ``vec_ids``: a list of ids or a (vec_id) DataFrame (bulk erasure
    stays distributed, no driver collect).
    """
    if isinstance(vec_ids, DataFrame):
        df = vec_ids.select(F.col("vec_id").cast("long"))
    else:
        df = small_df(
            spark,
            [(int(i),) for i in vec_ids], "vec_id long"
        ).coalesce(1)
    df.write.mode("append").parquet(os.path.join(path, "tombstones"))


@_metered_build
def ivf_index_compact(spark, path: str) -> None:
    """Fold the streaming append trees
    (``path/appends/batch=<id>/cell=<n>/``, written by
    ``streaming/vectors.py``) back into the base
    ``path/vectors/cell=<n>/`` tree — ordinary parquet maintenance
    that bounds small-file count after a long streaming run. The
    rewrite is write-new-then-rename (never overwrite-in-place of a
    tree being read); an object-store deployment would commit the
    same swap through a manifest/table format instead of a rename.
    Serving before and after compaction returns IDENTICAL results —
    compaction moves bytes, not semantics (asserted in tests and by
    the shared oracle of the registry entry).
    """
    import shutil

    from etl_gcp_spark.streaming.staging import commit_swap, heal_swap

    vectors = os.path.join(path, "vectors")
    appends = os.path.join(path, "appends")
    heal_swap(vectors)
    tomb = _ivf_tombstones(spark, path)
    if not os.path.isdir(appends) and tomb is None:
        return
    allv = spark.read.parquet(vectors)
    cols = [c for c in allv.columns]
    if os.path.isdir(appends):
        # idempotent fold, DETERMINISTIC: a crash between commit_swap
        # and the appends cleanup below leaves a base that ALREADY
        # contains the folded rows — re-unioning the surviving
        # appends dir must not write duplicate vec_ids into the
        # artifact (vec_id is the identity key: tombstones, serves
        # and the maintenance audit all address rows by it). The
        # committed base row must WIN the fold: after a retrain swap
        # the base row carries the re-assigned cell while a stale
        # append row carries the old one, and a dropDuplicates here
        # could nondeterministically persist the stale cell — a
        # vector parked in a partition the new centroids never probe.
        app = (
            spark.read.option("basePath", appends)
            .parquet(appends)
            .select(*cols)
            .dropDuplicates(["vec_id"])
            .join(allv.select("vec_id"), "vec_id", "left_anti")
        )
        allv = allv.unionByName(app)
    # compaction is where erasure becomes PHYSICAL: tombstoned
    # vectors (ivf_index_erase) drop out of the rewritten cell
    # partitions and the tombstone dir is cleared
    if tomb is not None:
        allv = allv.join(F.broadcast(tomb), "vec_id", "left_anti")
    # hash-cluster on the partition column so the rewrite lands one
    # file per cell — compaction exists to bound small-file count, and
    # without this the rewrite re-fans into (scan tasks × cells) files
    # (r10; the text twin text_index_compact already did this). Every
    # cell hashes into exactly one task whatever the partition count,
    # so defaultParallelism sizes the shuffle without an extra job.
    allv.repartition(
        spark.sparkContext.defaultParallelism, "cell"
    ).write.partitionBy("cell").mode("overwrite").parquet(
        vectors + "_compacting"
    )
    commit_swap(vectors)
    shutil.rmtree(appends, ignore_errors=True)
    shutil.rmtree(os.path.join(path, "tombstones"), ignore_errors=True)


@_metered_build
def ivf_retrain_swap(
    spark,
    path: str,
    *,
    n_cells: int = 32,
    n_iters: int = 2,
) -> None:
    """ACT on the drift trigger — the last open edge of the IVF
    lifecycle (build → append → compact → serve → recall/drift audit
    → **retrain**). :func:`ivf_drift_report` only *detects* that the
    frozen centroids stopped fitting the ingested distribution; this
    operation fixes it: retrain centroids on the CURRENT corpus (base
    tree ∪ streaming/batch appends, minus tombstoned vectors — read
    from the artifact itself, so whatever metadata columns the index
    carries survive by construction), re-assign every surviving
    vector, and publish both trees write-new-then-rename (the
    ``entity_label_compact`` discipline, via
    :func:`~etl_gcp_spark.streaming.staging.commit_swap`).

    Erasure contract: a rebuild is a fresh snapshot — tombstones
    accumulated against the OLD artifact become PHYSICAL here (the
    erased vectors are excluded from the rewrite and also lose their
    training influence, which plain compaction keeps) and the
    tombstone dir is cleared, same contract the text twin documents
    on its rebuild path (functions/text.py::text_index_erase).

    Publish order: vectors first, then centroids. The two renames
    cannot be jointly atomic on a local FS; a reader in the window
    sees NEW cell membership probed by OLD centroids — probes still
    return valid (if lower-recall) neighbors because rescoring is
    exact. A crash in the window self-repairs: both trees'
    ``heal_swap`` roll forward on the next maintenance pass. An
    object-store deployment commits both trees through one
    manifest/table-format snapshot instead.

    Scale shape: training is the replayable k-means (n_cells·dim
    accumulator shuffles per iter, :func:`ivf_train`); the rewrite is
    one partitioned pass over the surviving corpus — the same cost
    class as :func:`ivf_index_compact`, paid only when the drift
    gate fires, never per-ingest.
    """
    import shutil

    from etl_gcp_spark.streaming.staging import commit_swap, heal_swap

    vectors = os.path.join(path, "vectors")
    centroids = os.path.join(path, "centroids")
    appends = os.path.join(path, "appends")
    heal_swap(vectors)
    heal_swap(centroids)
    cur = spark.read.parquet(vectors)
    cols = list(cur.columns)
    if os.path.isdir(appends):
        cur = cur.unionByName(
            spark.read.option("basePath", appends)
            .parquet(appends)
            .select(*cols)
        )
        # idempotent fold (same contract as ivf_index_compact): a
        # crash after commit_swap(vectors) but before the appends
        # cleanup leaves the folded rows in the new base — the
        # re-union on replay must not double-count them in training
        # or duplicate them in the rewrite. Dedup is on vec_id, not
        # the full row: the committed base carries RE-ASSIGNED cell
        # values while the surviving appends dir keeps the old ones,
        # so only the identity key is stable across the replay.
        cur = cur.dropDuplicates(["vec_id"])
    tomb = _ivf_tombstones(spark, path)
    if tomb is not None:
        cur = cur.join(F.broadcast(tomb), "vec_id", "left_anti")
    meta = [c for c in cols if c not in ("vec_id", "vector", "cell")]
    # the folded survivor corpus (multi-tree scan + dropDuplicates
    # shuffle + tombstone anti-join) is read by every training round,
    # the final re-assignment AND the metadata re-attach — persist it
    # once instead of recomputing the fold per pass (guide §5)
    cur = cur.persist()
    try:
        labels, cmat = ivf_train(
            cur, n_cells=n_cells, n_iters=n_iters,
            id_col="vec_id", vec_col="vector",
        )
        base = cur.select("vec_id", F.col("vector").alias("__v"))
        payload = _assign_to_centroids(base, cmat, labels, "vec_id").select(
            "vec_id", F.col("__v").alias("vector"), "cell"
        )
        if meta:
            # the assignment kernel's Arrow schema is fixed — metadata
            # rides back in on the id, as at build time
            payload = payload.join(cur.select("vec_id", *meta), "vec_id")
        # one file per cell, written in parallel (r10; see
        # ivf_index_compact — same small-file discipline)
        payload.repartition(
            min(n_cells, spark.sparkContext.defaultParallelism), "cell"
        ).write.partitionBy("cell").mode("overwrite").parquet(
            vectors + "_compacting"
        )
    finally:
        cur.unpersist()
    small_df(
        spark,
        [(int(l), [float(x) for x in c]) for l, c in zip(labels, cmat)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        centroids + "_compacting"
    )
    commit_swap(vectors)
    commit_swap(centroids)
    shutil.rmtree(appends, ignore_errors=True)
    shutil.rmtree(os.path.join(path, "tombstones"), ignore_errors=True)


def retrain_swap_report(
    spark,
    survivors: DataFrame,
    path: str,
    *,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 32,
    n_probe: int = 4,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Audit the post-:func:`ivf_retrain_swap` artifact: (1) the
    swapped index SERVES identically to a from-scratch trained fused
    path over the surviving corpus (``n_only_serve``/``n_only_fused``
    are exceptAll counts and structural zeros — training, assignment
    and rescoring are the same deterministic kernels, so a nonzero is
    a swap bug, not noise); (2) measured recall@k of the retrained
    index against the exhaustive scan (:func:`ann_recall_report`'s
    legs — the number that says whether the retrain actually restored
    quality); (3) the tombstone dir is gone (``n_tombstones_left`` —
    erasure became physical at the rebuild).

    The fused and exhaustive legs are VERIFICATION (metered as
    ``verify``); the served path is the production read.
    """
    from etl_gcp_spark import metering
    from etl_gcp_spark.caching import tag_pinned

    served = (
        ivf_index_topk(
            spark, path, query_ids=query_ids, k=k, n_probe=n_probe
        )
        .select("query_id", "neighbor_id")
        .persist()
    )
    # constructions INSIDE the phase: ivf_topk_trained trains eagerly
    # (ivf_train collects per Lloyd round at plan-build time), so a
    # count-only phase would bill the training to serve
    with metering.phase("verify"):
        fused = (
            ivf_topk_trained(
                survivors,
                query_ids=query_ids, k=k, n_cells=n_cells,
                n_probe=n_probe, n_iters=n_iters,
                id_col=id_col, vec_col=vec_col,
            )
            .select("query_id", "neighbor_id")
            .persist()
        )
        exact = (
            cosine_topk(
                survivors,
                query_filter=F.col(id_col).isin(query_ids),
                k=k, id_col=id_col, vec_col=vec_col,
            )
            .select("query_id", "neighbor_id")
            .persist()
        )
        fused.count()
        exact.count()
    tomb = _ivf_tombstones(spark, path)
    n_tomb = 0 if tomb is None else tomb.count()

    def _per_q(frame, name):
        return frame.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )

    hits = _per_q(served.join(exact, ["query_id", "neighbor_id"]), "n_hits")
    only_s = _per_q(served.exceptAll(fused), "n_only_serve")
    only_f = _per_q(fused.exceptAll(served), "n_only_fused")
    out = (
        _per_q(exact, "n_exact")
        .join(hits, "query_id", "left")
        .join(only_s, "query_id", "left")
        .join(only_f, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / F.col("n_exact").cast("double"),
                4,
            ).alias("recall"),
            F.coalesce("n_only_serve", F.lit(0))
            .cast("long")
            .alias("n_only_serve"),
            F.coalesce("n_only_fused", F.lit(0))
            .cast("long")
            .alias("n_only_fused"),
            F.lit(n_tomb).cast("long").alias("n_tombstones_left"),
        )
    )
    return tag_pinned(out, served, fused, exact)


def ivf_index_topk(
    spark,
    path: str,
    *,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 4,
    neighbor_pred=None,
) -> DataFrame:
    """Serve top-k from a persisted :func:`build_ivf_index` artifact.

    Centroids load driver-side (n_cells rows); per query the
    ``n_probe`` nearest cells are chosen and the candidate read is
    ``vectors.filter(cell IN probes)`` — a PARTITION-PRUNED scan of
    exactly the probed cells' files. Exact cosine rescoring and
    ranking mirror :func:`ivf_topk_trained`, so the same oracle
    replay applies to the served path.

    ``neighbor_pred`` (a Column over metadata columns baked in via
    ``build_ivf_index(meta_cols=...)``) turns this into FILTERED
    vector search: candidates must satisfy the predicate, queries are
    looked up unfiltered. The predicate composes with the cell
    pruning inside ONE scan — Spark pushes it to the parquet reader
    (``PushedFilters``), so a 10%-selective filter reads ~10% of the
    probed cells' row groups via dictionary/stats skipping rather
    than post-filtering retrieved rows. Semantics are standard IVF
    pre-filter-within-probes: a very selective predicate can return
    fewer than ``k`` rows per query (deterministic; the oracle
    replays the same rule).
    """
    cents = sorted(
        spark.read.parquet(os.path.join(path, "centroids")).collect(),
        key=lambda r: r["cell"],
    )
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    tomb = _ivf_tombstones(spark, path)
    if tomb is not None:
        # erased vectors leave the servable set immediately — as
        # neighbors AND as query lookups; the broadcast anti-join
        # composes under the cell filter, so partition pruning holds
        vectors = vectors.join(F.broadcast(tomb), "vec_id", "left_anti")
    return ivf_serve(
        spark, cents, vectors, query_ids=query_ids, k=k, n_probe=n_probe,
        neighbor_pred=neighbor_pred,
    )


def ivf_serve(
    spark,
    cents,
    vectors: DataFrame,
    *,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 4,
    neighbor_pred=None,
) -> DataFrame:
    """Probe + exact-rescore against any (vec_id, vector, cell) frame
    and the given centroid rows — the serve half of the persisted IVF
    index, shared by :func:`ivf_index_topk` (single artifact tree)
    and the streaming ingest (base tree ∪ append trees).
    ``neighbor_pred`` restricts CANDIDATES (not query lookups) — see
    :func:`ivf_index_topk`."""
    import numpy as np

    cmat = np.asarray([r["centroid"] for r in cents], dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    lab = np.asarray([r["cell"] for r in cents], dtype=np.int64)
    qrows = vectors.filter(F.col("vec_id").isin(query_ids)).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["vector"], dtype=np.float64)
        sims = cmat @ (qv / np.linalg.norm(qv))
        for idx in np.argsort(-sims, kind="stable")[:n_probe]:
            probe_rows.append((r["vec_id"], int(lab[idx])))
    probed = small_df(
        spark,
        probe_rows or [], "query_id long, cell int"
    )
    probe_cells = sorted({c for _, c in probe_rows})
    # the isin predicate on the PARTITION column is what prunes the
    # scan to the probed cells' files
    cand_vectors = vectors.filter(F.col("cell").isin(probe_cells))
    if neighbor_pred is not None:
        # metadata predicate lands in the SAME pruned scan
        # (PushedFilters), not a post-retrieval filter
        cand_vectors = cand_vectors.filter(neighbor_pred)
    qside = small_df(
        spark,
        [(r["vec_id"], list(r["vector"])) for r in qrows],
        "query_id long, __q array<double>",
    )
    dim = int(cmat.shape[1]) if len(cents) else None
    cands = (
        F.broadcast(probed)
        .join(
            cand_vectors.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("vector").alias("__c"),
                "cell",
            ),
            "cell",
        )
        .join(F.broadcast(qside), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.select(
            "query_id",
            "neighbor_id",
            cosine_similarity("__q", "__c", dim).alias("__sim"),
        )
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__sim"), 6).alias("sim"),
            "rank",
        )
    )


def embedding_sanitize(
    embeddings: DataFrame,
    *,
    expected_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pre-index vector hygiene — the screen every production index
    build runs before :func:`build_ivf_index` / the ANN ladder:
    failed encoders emit NaN/Inf components, truncated writes emit
    wrong-length vectors, padding rows emit all-zero vectors (cosine
    undefined), and any of them silently poisons centroids and
    rankings downstream.

    Per vector: dimensionality, non-finite component count, and a
    zero-norm flag computed as "no nonzero component" — an exact
    integer predicate, deliberately NOT a float norm threshold, so
    the verdict replays bit-identically in any engine regardless of
    summation order. Verdict precedence: null → wrong_dim →
    nonfinite → zero_norm → ok. NaN/Inf comparisons agree across
    engines here because both Spark and the oracle use total-order
    semantics for NaN equality and Inf compares finitely.

    Zero-shuffle: one projection pass, every expression a codegen
    higher-order function over the array column — at 100 TB this is
    scan-speed. Output: (id, n_dims, n_nonfinite, is_zero_norm,
    verdict); feed ``filter(verdict = 'ok')`` to the index build and
    route the rest to quarantine.
    """
    v = F.col(vec_col)
    null_v = v.isNull()
    xd = lambda x: x.cast("double")  # noqa: E731
    n_dims = F.when(null_v, F.lit(-1)).otherwise(F.size(v)).cast("int")
    n_nonfinite = (
        F.when(null_v, F.lit(0))
        .otherwise(
            F.aggregate(
                F.transform(
                    v,
                    lambda x: F.when(
                        F.isnan(xd(x))
                        | (F.abs(xd(x)) == F.lit(float("inf"))),
                        F.lit(1),
                    ).otherwise(F.lit(0)),
                ),
                F.lit(0),
                lambda acc, b: acc + b,
            )
        )
        .cast("int")
    )
    n_nonzero = (
        F.when(null_v, F.lit(0))
        .otherwise(
            F.aggregate(
                F.transform(
                    v,
                    lambda x: F.when(xd(x) != F.lit(0.0), F.lit(1)).otherwise(
                        F.lit(0)
                    ),
                ),
                F.lit(0),
                lambda acc, b: acc + b,
            )
        )
        .cast("int")
    )
    is_zero = (~null_v) & (n_nonzero == 0) & (F.size(v) > 0)
    verdict = (
        F.when(null_v, F.lit("drop_null"))
        .when(n_dims != expected_dim, F.lit("drop_wrong_dim"))
        .when(n_nonfinite > 0, F.lit("drop_nonfinite"))
        .when(is_zero, F.lit("drop_zero_norm"))
        .otherwise(F.lit("ok"))
    )
    return embeddings.select(
        F.col(id_col),
        n_dims.alias("n_dims"),
        n_nonfinite.alias("n_nonfinite"),
        is_zero.alias("is_zero_norm"),
        verdict.alias("verdict"),
    )


def _packed_cross_topk_kernel(k: int):
    """Arrow task kernel shared by :func:`blocked_cross_topk` and
    :func:`ivf_cross_topk`: each input row carries one packed
    query block (``xitems``) and one packed candidate set
    (``yitems``); the task runs a dense normalized GEMM and emits
    each query's LOCAL top-k under the global order (6-dp
    integer-scaled sim desc, neighbor id asc). Zero-norm vectors
    fail fast — normalizing one yields NaN sims and
    ``np.rint(NaN)`` is undefined (garbage rankings, not an
    error); the documented contract is that callers sanitize with
    :func:`embedding_sanitize` first."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_x = np.asarray([it["__id"] for it in row.xitems])
                ids_y = np.asarray([it["__id"] for it in row.yitems])
                mx = np.stack(
                    [np.asarray(it["__v"], dtype=np.float64) for it in row.xitems]
                )
                my = np.stack(
                    [np.asarray(it["__v"], dtype=np.float64) for it in row.yitems]
                )
                nx = np.linalg.norm(mx, axis=1, keepdims=True)
                ny = np.linalg.norm(my, axis=1, keepdims=True)
                if not (nx.all() and ny.all()):
                    bad = np.concatenate(
                        [ids_x[(nx == 0).ravel()], ids_y[(ny == 0).ravel()]]
                    )
                    raise ValueError(
                        "cross top-k: zero-norm embedding(s) "
                        f"{sorted(set(bad.tolist()))[:5]} — cosine is "
                        "undefined; drop them upstream with "
                        "embedding_sanitize"
                    )
                mx /= nx
                my /= ny
                sim6 = np.rint(
                    np.round(mx @ my.T, 6) * 1_000_000.0
                ).astype(np.int64)
                kk = min(k, sim6.shape[1])
                out_q, out_n, out_s = [], [], []
                for i in range(sim6.shape[0]):
                    # local top-k under the GLOBAL order (sim6 desc,
                    # id asc) — lexsort is ascending, so negate sims
                    order = np.lexsort((ids_y, -sim6[i]))[:kk]
                    out_q.append(np.full(kk, ids_x[i]))
                    out_n.append(ids_y[order])
                    out_s.append(sim6[i][order])
                if out_q:
                    yield pd.DataFrame(
                        {
                            "query_id": np.concatenate(out_q),
                            "neighbor_id": np.concatenate(out_n),
                            "sim6": np.concatenate(out_s),
                        }
                    )

    return kernel


def blocked_cross_topk(
    src: DataFrame,
    tgt: DataFrame,
    *,
    k: int = 4,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact DIRECTED top-k cosine from every ``src`` vector into the
    ``tgt`` set via distributed blocked GEMM — the two-corpus form of
    :func:`blocked_exact_near_dup_pairs` (no broadcast-fit
    requirement on either side, no driver collect): both sides hash
    into ``n_blocks`` row-blocks, every (src-block, tgt-block) pair is
    one Arrow task running a dense numpy GEMM, each task emits its
    LOCAL per-row top-k (so shuffle out is n_src·n_blocks·k rows, not
    n_src·n_tgt), and a partitioned window keeps the global top-k.

    Determinism: sims are 6-dp-rounded then integer-scaled (the repo's
    ×1e6 idiom); ranking breaks ties on the neighbor id in BOTH the
    local and global selections, so the result replays on any engine.
    Output: (query_id, neighbor_id, sim6 long).
    """

    def _packed(df, blk_alias, items_alias):
        base = df.select(
            F.col(id_col).alias("__id"),
            _as_double(F.col(vec_col)).alias("__v"),
        )
        return base.groupBy(
            F.pmod(F.xxhash64("__id"), F.lit(n_blocks)).alias(blk_alias)
        ).agg(F.collect_list(F.struct("__id", "__v")).alias(items_alias))

    # bounded crossJoin: a B×B task matrix over PACKED one-row-per-
    # block frames (n_blocks is configuration, not data size) — the
    # blocked-GEMM distribution pattern, the directed-pair form of
    # blocked_exact_near_dup_pairs' blk<=blk self-join
    pairs = (
        _packed(src, "xblk", "xitems")
        .crossJoin(_packed(tgt, "yblk", "yitems"))
        .repartition(F.col("xblk"), F.col("yblk"))
    )

    id_type = src.schema[id_col].dataType.simpleString()
    local = pairs.mapInPandas(
        _packed_cross_topk_kernel(k),
        f"query_id {id_type}, neighbor_id {id_type}, sim6 long",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim6").desc(), F.col("neighbor_id")
    )
    return (
        local.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


def margin_bitext_pairs(
    embeddings: DataFrame,
    *,
    k: int = 4,
    margin_threshold: float = 1.0,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_pred=None,
    tgt_pred=None,
) -> DataFrame:
    """Margin-based bitext mining (ratio margin, Artetxe & Schwenk,
    "Margin-based Parallel Corpus Mining with Multilingual Sentence
    Embeddings", ACL 2019): align each source-side vector to its best
    target-side candidate scored by

        margin(x, y) = cos(x, y) / ((rk(x) + rk(y)) / 2)

    where rk(·) is the mean cosine of the vector's k nearest
    neighbors in the OTHER side — the CSLS-style hubness correction
    that raw cosine lacks (hub vectors score high against everything;
    dividing by their neighborhood mean cancels it). This is the
    standard mining step for parallel-corpus construction (LASER /
    CCMatrix) and the missing member of the repo's alignment family
    (hybrid_rrf_topk fuses rankings, mmr_select diversifies — this
    MINES cross-corpus pairs).

    Exact and replayable: both directed top-k sets come from
    :func:`blocked_cross_topk` (6-dp integer-scaled sims); the margin
    is ONE IEEE division of exact int64 products,
    ``2·sim6·cx·cy / (rx6·cy + ry6·cx)`` (rx6/ry6 = exact sums of the
    scaled top-k sims, cx/cy their counts), so the quotient — and its
    6-dp rounding, used for both the threshold and the output — is
    bit-identical on any engine. Best-per-source ties break on the
    target id. Candidates with a non-positive denominator (both
    sides' top-k cosine sums ≤ 0 — no meaningful neighborhood mean)
    are dropped before ranking rather than silently nulled or
    sign-flipped (:func:`_margin_rank`). Defaults split the corpus by
    id parity (the engine-portable stand-in for a language column;
    pass ``src_pred``/``tgt_pred`` for real sides).

    Scale shape: two blocked cross top-k passes (n·B·dim shuffle in,
    n·B·k out), two k-row-bounded aggregates, one broadcast-sized
    join pair. Compute is the exact O(n_src·n_tgt·dim) cross-GEMM —
    the AUDIT posture; production mining swaps the candidate legs
    for :func:`margin_bitext_pairs_ann` (IVF artifact with the side
    column in meta_cols, :func:`ivf_cross_topk` both directions,
    identical margin arithmetic), with
    :func:`bitext_ann_recall_report` measuring the recall cost of
    that swap against this exact path.
    """
    from etl_gcp_spark.caching import tag_pinned

    if src_pred is None:
        src_pred = F.col(id_col) % 2 == 0
    if tgt_pred is None:
        tgt_pred = F.col(id_col) % 2 == 1
    src = embeddings.filter(src_pred)
    tgt = embeddings.filter(tgt_pred)
    kw = dict(k=k, n_blocks=n_blocks, id_col=id_col, vec_col=vec_col)
    fwd = blocked_cross_topk(src, tgt, **kw).persist()
    rev = blocked_cross_topk(tgt, src, **kw)
    out = _margin_rank(fwd, rev, margin_threshold)
    return tag_pinned(out, fwd)


def _margin_rank(
    fwd: DataFrame, rev: DataFrame, margin_threshold: float
) -> DataFrame:
    """The ratio-margin arithmetic shared by the exact
    (:func:`margin_bitext_pairs`) and ANN-candidate
    (:func:`margin_bitext_pairs_ann`) miners: given the two directed
    (query_id, neighbor_id, sim6) top-k sets, score each forward
    candidate by ``2·sim6·cx·cy / (rx6·cy + ry6·cx)`` (one IEEE
    division of exact int64 products — replays bit-for-bit), keep the
    best target per source (ties on target id), threshold on the 6-dp
    margin. Candidates whose denominator is not positive are dropped
    BEFORE ranking: a vector whose top-k cosine sum is ≤ 0 has no
    meaningful neighborhood mean — dividing by it would null (0) or
    sign-flip (negative) the margin and silently mis-rank, so the
    guard makes the degenerate case an explicit drop instead."""
    rx = fwd.groupBy("query_id").agg(
        F.sum("sim6").alias("rx6"), F.count(F.lit(1)).alias("cx")
    )
    ry = (
        rev.groupBy("query_id")
        .agg(F.sum("sim6").alias("ry6"), F.count(F.lit(1)).alias("cy"))
        .withColumnRenamed("query_id", "neighbor_id")
    )
    m = (
        fwd.join(rx, "query_id")
        .join(ry, "neighbor_id")
        .filter(
            F.col("rx6") * F.col("cy") + F.col("ry6") * F.col("cx") > 0
        )
        .withColumn(
            "__margin",
            (F.lit(2) * F.col("sim6") * F.col("cx") * F.col("cy"))
            / (F.col("rx6") * F.col("cy") + F.col("ry6") * F.col("cx")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__margin").desc(), F.col("neighbor_id")
    )
    return (
        m.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .filter(F.round("__margin", 6) >= margin_threshold)
        .select(
            F.col("query_id").alias("src_id"),
            F.col("neighbor_id").alias("tgt_id"),
            F.round(F.col("sim6") / F.lit(1_000_000.0), 6).alias("sim"),
            F.round("__margin", 6).alias("margin"),
        )
    )


def ivf_cross_topk(
    spark,
    path: str,
    *,
    query_pred,
    cand_pred,
    k: int = 4,
    n_probe: int = 4,
    n_blocks: int = 8,
) -> DataFrame:
    """Directed top-k cosine from EVERY query-side vector into the
    candidate side, accelerated by a persisted :func:`build_ivf_index`
    artifact — the mining-scale form of :func:`ivf_index_topk`. That
    serve path collects a small ``query_ids`` probe set driver-side;
    here the query side is the whole corpus half, so probing is
    DISTRIBUTED: an Arrow kernel with the (tiny, n_cells×dim) centroid
    matrix in its closure assigns each query its ``n_probe`` nearest
    cells (ties to the lowest cell, same rule as :func:`ivf_serve` and
    the k-means replay oracle), and each query is scored ONLY against
    the candidates of its probed cells.

    Both sides read from the artifact itself: ``query_pred`` /
    ``cand_pred`` are predicates over the metadata columns baked in
    via ``build_ivf_index(meta_cols=...)``, so they push into the
    parquet scans (``PushedFilters``) and the candidate read is
    additionally pruned to the union of probed cells (partition
    filter on ``cell`` — asserted in tests/test_plans.py). Compute is
    O(n_query · n_probe/n_cells · n_cand · dim) versus the exact
    cross-GEMM's O(n_query · n_cand · dim); shuffle out stays
    n_query · n_probe · k rows.

    Task shape: queries pack per (cell, hash-block) and candidates
    per cell, joined on cell — per-task memory is one cell's
    candidates plus one query block, so ``n_cells`` (like the exact
    path's ``n_blocks``) scales with the corpus to keep tasks
    memory-bounded. Tombstoned vectors leave both sides immediately
    (same anti-join as every serve). Returns (query_id, neighbor_id,
    sim6) under the repo's 6-dp integer-scaled determinism contract;
    the caller releases the pinned probe frame via the tag_pinned
    ledger.
    """
    import numpy as np
    import pandas as pd

    from etl_gcp_spark.caching import tag_pinned

    cents = sorted(
        spark.read.parquet(os.path.join(path, "centroids")).collect(),
        key=lambda r: r["cell"],
    )
    cmat = np.asarray([r["centroid"] for r in cents], dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    labels = np.asarray([r["cell"] for r in cents], dtype=np.int64)
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    tomb = _ivf_tombstones(spark, path)
    if tomb is not None:
        vectors = vectors.join(F.broadcast(tomb), "vec_id", "left_anti")
    queries = vectors.filter(query_pred).select("vec_id", "vector")
    npb = min(n_probe, len(cents))

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            mq = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["vector"]]
            )
            nq = np.linalg.norm(mq, axis=1, keepdims=True)
            if not nq.all():
                raise ValueError(
                    "ivf_cross_topk: zero-norm query embedding(s) "
                    f"{sorted(ids[(nq == 0).ravel()].tolist())[:5]} — "
                    "drop them upstream with embedding_sanitize"
                )
            sims = (mq / nq) @ cmat.T
            # top n_probe cells per query; stable argsort over the
            # ascending-label axis breaks exact ties to the lowest
            # cell, matching ivf_serve and the SQL replay
            order = np.argsort(-sims, axis=1, kind="stable")[:, :npb]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, npb),
                    "cell": labels[order].ravel(),
                }
            )

    id_type = vectors.schema["vec_id"].dataType.simpleString()
    probes = queries.mapInPandas(
        probe, f"vec_id {id_type}, cell int"
    ).persist()
    # bounded collect: ≤ n_cells distinct values — the driver-side
    # list is what turns the candidate read into a pruned partition
    # scan (cells nobody probed are never opened)
    probed_cells = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    qpack = (
        probes.join(queries, "vec_id")
        .select(
            F.col("vec_id").alias("__id"),
            F.col("vector").alias("__v"),
            "cell",
        )
        .groupBy(
            "cell",
            F.pmod(F.xxhash64("__id"), F.lit(n_blocks)).alias("xblk"),
        )
        .agg(F.collect_list(F.struct("__id", "__v")).alias("xitems"))
    )
    ypack = (
        vectors.filter(F.col("cell").isin(probed_cells))
        .filter(cand_pred)
        .select(
            F.col("vec_id").alias("__id"),
            F.col("vector").alias("__v"),
            "cell",
        )
        .groupBy("cell")
        .agg(F.collect_list(F.struct("__id", "__v")).alias("yitems"))
    )
    local = (
        qpack.join(ypack, "cell")
        .repartition(F.col("cell"), F.col("xblk"))
        .mapInPandas(
            _packed_cross_topk_kernel(k),
            f"query_id {id_type}, neighbor_id {id_type}, sim6 long",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim6").desc(), F.col("neighbor_id")
    )
    out = (
        local.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )
    return tag_pinned(out, probes)


def margin_bitext_pairs_ann(
    embeddings: DataFrame,
    path: str,
    *,
    k: int = 4,
    margin_threshold: float = 1.0,
    n_cells: int = 32,
    n_iters: int = 2,
    n_probe: int = 4,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    src_pred=None,
    tgt_pred=None,
) -> DataFrame:
    """:func:`margin_bitext_pairs` with ANN candidate generation —
    the production posture the exact miner's docstring names: ONE
    IVF artifact is built over the combined corpus with the side
    column baked in as metadata (``build_ivf_index(meta_cols=
    ("side",))``), both directed top-k sets come from
    :func:`ivf_cross_topk` (side predicates pushed into the pruned
    cell scans), and the identical int64 ratio-margin arithmetic
    (:func:`_margin_rank`) runs downstream. Compute drops from the
    exact pass's O(n_src·n_tgt·dim) to
    O(n·n_probe/n_cells·n·dim) — the quadratic term shrinks by
    n_probe/n_cells — at the cost of candidate recall, which
    :func:`bitext_ann_recall_report` measures against the exact
    miner (the audit leg every approximate family carries:
    ann_recall_report, lsh_recall_report).

    Training on the COMBINED corpus (not per side) keeps one
    partition function for both directions, so the same probed-cell
    layout serves src→tgt and tgt→src; it is also what the standard
    k-means replay oracle attaches to.
    """
    from etl_gcp_spark.caching import tag_pinned

    if src_pred is None:
        src_pred = F.col(id_col) % 2 == 0
    if tgt_pred is None:
        tgt_pred = F.col(id_col) % 2 == 1
    tagged = embeddings.filter(src_pred | tgt_pred).withColumn(
        "side", F.when(src_pred, F.lit("src")).otherwise(F.lit("tgt"))
    )
    build_ivf_index(
        tagged,
        path,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
        meta_cols=("side",),
    )
    spark = embeddings.sparkSession
    kw = dict(k=k, n_probe=n_probe, n_blocks=n_blocks)
    fwd = ivf_cross_topk(
        spark, path,
        query_pred=F.col("side") == "src",
        cand_pred=F.col("side") == "tgt",
        **kw,
    )
    fwd_pins = tuple(getattr(fwd, "_etl_pinned_frames", ()))
    fwd = fwd.persist()
    rev = ivf_cross_topk(
        spark, path,
        query_pred=F.col("side") == "tgt",
        cand_pred=F.col("side") == "src",
        **kw,
    )
    out = _margin_rank(fwd, rev, margin_threshold)
    return tag_pinned(
        out, fwd, *fwd_pins, *getattr(rev, "_etl_pinned_frames", ())
    )


def _guarded_recall(hits: Column, total: Column) -> Column:
    """``round(hits / total, 4)`` with the 0/0 degenerate case pinned
    to 1.0: an empty ground-truth set means there is nothing to miss,
    so vacuous recall is perfect — NOT the NULL that a bare division
    yields, which would silently null the report's headline metric on
    every row (and read as "metric broken" rather than "nothing to
    recall")."""
    return F.when(
        total > 0, F.round(hits / total, 4)
    ).otherwise(F.lit(1.0))


def bitext_ann_recall_report(
    embeddings: DataFrame,
    path: str,
    *,
    k: int = 4,
    margin_threshold: float = 1.0,
    n_cells: int = 32,
    n_iters: int = 2,
    n_probe: int = 4,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mine with :func:`margin_bitext_pairs_ann` AND audit it in the
    same pass: every ANN-mined pair carries a ``hit`` flag (1 iff the
    exact miner found the same (src, tgt) pair at equal k/threshold)
    plus the corpus-level ``pair_recall`` = |ANN ∩ exact| / |exact| —
    the measured number that says whether n_probe/n_cells is sized
    right for this corpus, exactly as :func:`ann_recall_report` does
    for plain top-k serving. Global counts ride in on a broadcast
    1×1-row crossJoin (the repo's bounded-stats idiom — never a
    single-partition global window)."""
    from etl_gcp_spark.caching import tag_pinned

    ann = margin_bitext_pairs_ann(
        embeddings,
        path,
        k=k,
        margin_threshold=margin_threshold,
        n_cells=n_cells,
        n_iters=n_iters,
        n_probe=n_probe,
        n_blocks=n_blocks,
        id_col=id_col,
        vec_col=vec_col,
    )
    ann_pins = tuple(getattr(ann, "_etl_pinned_frames", ()))
    ann = ann.persist()
    exact = margin_bitext_pairs(
        embeddings,
        k=k,
        margin_threshold=margin_threshold,
        n_blocks=n_blocks,
        id_col=id_col,
        vec_col=vec_col,
    )
    exact_pins = tuple(getattr(exact, "_etl_pinned_frames", ()))
    exact = exact.select("src_id", "tgt_id").persist()
    stats = exact.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs")
    ).crossJoin(
        ann.join(exact, ["src_id", "tgt_id"], "left_semi").agg(
            F.count(F.lit(1)).cast("long").alias("n_hits")
        )
    )
    out = (
        ann.join(
            exact.withColumn("hit", F.lit(1)), ["src_id", "tgt_id"], "left"
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "src_id",
            "tgt_id",
            "sim",
            "margin",
            F.coalesce("hit", F.lit(0)).cast("int").alias("hit"),
            "n_exact_pairs",
            "n_hits",
            _guarded_recall(F.col("n_hits"), F.col("n_exact_pairs")).alias(
                "pair_recall"
            ),
        )
    )
    return tag_pinned(out, ann, exact, *ann_pins, *exact_pins)


def sign_quantize(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Binary sign quantization: 1 bit per dimension (``v[i] > 0``),
    packed into ``ceil(dim/32)`` int64 words — the highest-compression
    serving representation in the quantization family (float64 → 1
    bit is a 64× byte reduction; the 64-dim corpus packs into TWO
    words). Bits stay in the low 32 of each word so the packing
    replays exactly in engines whose ``<<`` is 64-bit-signed
    (no sign-bit shifts anywhere).

    Pure JVM expression (aggregate over a power-of-two literal
    array — no shift builtins, no UDF); TOTAL by construction
    (try_element_at; absent dims contribute 0), so ragged or short
    vectors degrade instead of throwing.

    Output: (id, w0, w1, ... long) — one column per word, scalar-only
    for the driver contract.
    """
    n_words = (dim + 31) // 32
    v = _as_double(F.col(vec_col))
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])

    def _word(w: int):
        # factory, not a default-arg lambda: pyspark higher-order
        # lambdas must have exactly the arity Spark expects
        off = w * 32

        def merge(acc, i):
            return acc + F.when(
                F.try_element_at(v, (i + off + 1).cast("int")) > 0,
                F.element_at(pow2, i + 1),
            ).otherwise(F.lit(0).cast("long"))

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(31)),
            F.lit(0).cast("long"),
            merge,
        )

    return embeddings.select(
        F.col(id_col),
        *[_word(w).alias(f"w{w}") for w in range(n_words)],
    )


def hamming_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by Hamming distance over :func:`sign_quantize` words —
    binary-quantized vector serving: score = Σ popcount(xor(word_i))
    (``F.bit_count``, whole-stage codegen), rank asc with the id
    tiebreak. The scan reads 8·ceil(dim/32) bytes per vector instead
    of 8·dim — at 100 TB of float64 embeddings the binary shadow
    corpus is 1/32 the bytes, which is the serving win; recall cost
    vs exact cosine is measured by :func:`hamming_recall_report`
    (the truncation_recall_report twin — representation audits, not
    index audits). Candidate generation here is the full (compressed)
    scan; the bucketed path at scale is SRP-LSH over the same sign
    bits (functions/similarity.py::embedding_near_dup's family).

    Output: (query_id, neighbor_id, hamming, rank).
    """
    from etl_gcp_spark.caching import tag_pinned

    words = sign_quantize(
        embeddings, id_col=id_col, vec_col=vec_col, dim=dim
    ).persist()
    n_words = (dim + 31) // 32
    q = words.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"w{w}").alias(f"qw{w}") for w in range(n_words)],
    )
    c = words.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"w{w}") for w in range(n_words)],
    )
    ham = None
    for w in range(n_words):
        term = F.bit_count(
            F.col(f"qw{w}").bitwiseXOR(F.col(f"w{w}"))
        )
        ham = term if ham is None else ham + term
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            ham.cast("int").alias("hamming"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.col("rank").cast("int").alias("rank"),
        )
    )
    return tag_pinned(out, words)


def hamming_recall_report(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of binary-sign Hamming serving against the exact
    cosine top-k — the representation-approximation audit for
    :func:`hamming_topk`, pairing with
    :func:`truncation_recall_report` (fewer dims) and the PQ/int8
    audits (coarser cells): at 100 TB every compression axis needs
    its own measured recall number before it serves. Output:
    (query_id, n_exact, n_hits, recall 4 dp).
    """
    from etl_gcp_spark.caching import tag_pinned

    exact = cosine_topk(
        embeddings,
        query_filter=F.col(id_col).isin(query_ids),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    approx = hamming_topk(
        embeddings,
        query_ids=query_ids,
        k=k,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
    )
    approx_pins = tuple(getattr(approx, "_etl_pinned_frames", ()))
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    out = (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / F.col("n_exact").cast("double"),
                4,
            ).alias("recall"),
        )
    )
    return tag_pinned(out, *approx_pins)


def hamming_lsh_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    n_bands: int = 8,
    band_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH bucketed serving over the sign bits — the at-scale
    candidate path that :func:`hamming_topk`'s full compressed scan
    names: the packed sign words are cut into ``n_bands`` fixed-width
    bit bands (``band_bits`` each; a band never straddles a word, so
    ``band_bits`` must divide 32 and ``n_bands·band_bits ≤ dim``).
    Sign bits ARE signed-random-projection hashes (Charikar 2002,
    ``sim(u,v) = 1 - θ/π`` per bit), so two vectors collide in a band
    with probability ``(1 - θ/π)^band_bits`` and become a candidate
    iff ANY band collides — the same banding trade MinHash-LSH makes,
    tuned here by band width instead of row count.

    Scale posture: the corpus side is a ``(band, bval)`` posting
    (n_bands rows per vector, generated by one ``posexplode`` —
    no shuffle until the candidate join, whose key is the bucket);
    query probes are broadcast, so candidate volume is bounded by the
    probed buckets' sizes, never the corpus — the candidate-scan
    class every bucketed family in this repo shares (LSH bands, IVF
    cells, DF-capped postings). Rescoring is the existing
    XOR+popcount hamming, restricted to the candidates. Recall vs
    the full compressed scan is measured by
    :func:`hamming_lsh_recall_report` (candidate-generation audit;
    :func:`hamming_recall_report` audits the representation axis).

    Output: (query_id, neighbor_id, hamming, rank) — rank asc by
    hamming with the id tiebreak, ≤ k rows per query (fewer when the
    probed buckets hold fewer candidates).
    """
    from etl_gcp_spark.caching import tag_pinned

    if 32 % band_bits != 0:
        raise ValueError("band_bits must divide 32 (no word straddle)")
    if n_bands * band_bits > dim:
        raise ValueError("n_bands*band_bits exceeds dim")
    n_words = (dim + 31) // 32
    words = sign_quantize(
        embeddings, id_col=id_col, vec_col=vec_col, dim=dim
    ).persist()

    mask = (1 << band_bits) - 1

    def _bval(b: int):
        word = (b * band_bits) // 32
        off = (b * band_bits) % 32
        return F.shiftright(F.col(f"w{word}"), off).bitwiseAND(
            F.lit(mask).cast("long")
        )

    def _bands(df, out_id: str):
        return df.select(
            F.col(id_col).alias(out_id),
            F.posexplode(
                F.array(*[_bval(b) for b in range(n_bands)])
            ).alias("band", "bval"),
        )

    probes = _bands(
        words.filter(F.col(id_col).isin(query_ids)), "query_id"
    )
    posting = _bands(words, "neighbor_id")
    cands = (
        posting.join(F.broadcast(probes), ["band", "bval"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )

    q = words.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        *[F.col(f"w{w}").alias(f"qw{w}") for w in range(n_words)],
    )
    c = words.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(f"w{w}") for w in range(n_words)],
    )
    ham = None
    for w in range(n_words):
        term = F.bit_count(F.col(f"qw{w}").bitwiseXOR(F.col(f"w{w}")))
        ham = term if ham is None else ham + term
    win = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    out = (
        cands.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", ham.cast("int").alias("hamming"))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.col("rank").cast("int").alias("rank"),
        )
    )
    return tag_pinned(out, words)


def hamming_lsh_recall_report(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    n_bands: int = 8,
    band_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the SRP-LSH bucketed serve against the FULL
    compressed scan — the candidate-generation audit for
    :func:`hamming_lsh_topk`, completing the quantized-serving story
    the way :func:`bitext_ann_recall_report` completed mining: the
    representation axis (sign bits vs float cosine) is audited by
    :func:`hamming_recall_report`; this one isolates what the
    BANDING alone gives up, so the two numbers factor the total
    serving error by axis. Output: (query_id, n_exact, n_hits,
    recall 4 dp) — n_exact counts the full-scan top-k.
    """
    from etl_gcp_spark.caching import tag_pinned

    exact = hamming_topk(
        embeddings, query_ids=query_ids, k=k, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
    exact_pins = tuple(getattr(exact, "_etl_pinned_frames", ()))
    approx = hamming_lsh_topk(
        embeddings, query_ids=query_ids, k=k, dim=dim,
        n_bands=n_bands, band_bits=band_bits,
        id_col=id_col, vec_col=vec_col,
    )
    approx_pins = tuple(getattr(approx, "_etl_pinned_frames", ()))
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    out = (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            _guarded_recall(
                F.coalesce("n_hits", F.lit(0)),
                F.col("n_exact").cast("double"),
            ).alias("recall"),
        )
    )
    return tag_pinned(out, *exact_pins, *approx_pins)


def ivf_pq_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 32,
    n_iters: int = 2,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ fused serving — the FAISS-IVFPQ production combo this
    repo's two quantization axes meet in: the k-means coarse
    quantizer (:func:`ivf_train`) prunes the corpus to each query's
    ``n_probe`` cells, and ADC (:func:`pq_topk`'s lookup-table sum)
    scores ONLY those candidates against the PQ codes. At 100 TB
    this is the memory-AND-compute point: the serving store is
    n·n_subspaces one-byte codes (32× smaller than float64) and a
    query touches ~n_probe/n_cells of it, so neither the float
    corpus nor a full code scan is ever read — compared with
    :func:`pq_topk` (full code scan) and :func:`ivf_topk_trained`
    (float rescore of probed cells).

    Scale shape: centroid train/probe is the proven bounded-collect
    k-means (n_cells rows); the probe table (|Q|·n_probe) and the
    ADC LUT (|Q|·S·n_codes doubles) broadcast; candidates flow
    through one (cell)-keyed join, then S narrow code rows per
    candidate join the LUT on (query_id, s, code) — all codegen, no
    float vectors in the serve path. Ranking uses the 6-dp-rounded
    ADC score with the id tiebreak (cross-engine stable; the oracle
    replays train, encode, probe and the LUT sum textually).
    Recall vs exact cosine is measured by
    :func:`ivf_pq_recall_report` — the composite audit of BOTH
    approximation axes at once (cell pruning × code coarseness).

    Output: (query_id, neighbor_id, approx_sim, rank).
    """
    import numpy as np

    labels, centroids = ivf_train(
        embeddings,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    assigned = _assign_to_centroids(base, centroids, labels, id_col)
    codebook = pq_codebook(
        embeddings,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
    )
    codes = pq_encode(
        embeddings, codebook, id_col=id_col, vec_col=vec_col
    )
    # per-query probed cells + ADC lookup table: both |Q|-bounded
    # driver work over the already-collected centroid/codebook rows
    cmat = np.asarray(centroids, dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    lab = np.asarray(labels, dtype=np.int64)
    cb = [np.asarray(c, dtype=np.float64) for c in codebook]
    d = cb[0].shape[1]
    qrows = base.filter(F.col(id_col).isin(query_ids or [])).collect()
    probe_rows, lut_rows = [], []
    for r in qrows:
        qv = np.asarray(r["__v"], dtype=np.float64)
        qn = qv / np.linalg.norm(qv)
        sims = cmat @ qn
        for idx in np.argsort(-sims, kind="stable")[:n_probe]:
            probe_rows.append((r[id_col], int(lab[idx])))
        for s, book in enumerate(cb):
            vals = book @ qn[s * d : (s + 1) * d]
            for j, val in enumerate(vals):
                lut_rows.append((r[id_col], s + 1, j + 1, float(val)))
    spark = embeddings.sparkSession
    probed = small_df(
        spark,
        probe_rows or [], "query_id long, cell int"
    )
    lut = small_df(
        spark,
        lut_rows or [], "query_id long, s int, code int, val double"
    )
    cands = (
        F.broadcast(probed)
        .join(
            assigned.select(
                F.col(id_col).alias("neighbor_id"), "cell"
            ),
            "cell",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("s0", "code"),
    ).select("neighbor_id", (F.col("s0") + 1).alias("s"), "code")
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.join(exploded, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("val"), 6).alias("approx_sim"))
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_sim", "rank")
    )


def ivf_pq_recall_report(
    embeddings: DataFrame,
    *,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 32,
    n_iters: int = 2,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the fused IVF+PQ serve against exact cosine — the
    COMPOSITE audit: cell pruning (audited alone by
    ann_recall_report) and code coarseness (pq family) compound, and
    the production question is what the combination loses, not each
    axis in isolation. Output: (query_id, n_exact, n_hits,
    recall 4 dp)."""
    exact = cosine_topk(
        embeddings,
        query_filter=F.col(id_col).isin(query_ids or []),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    approx = ivf_pq_topk(
        embeddings,
        query_ids=query_ids,
        k=k,
        n_cells=n_cells,
        n_iters=n_iters,
        n_probe=n_probe,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
    )
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            _guarded_recall(
                F.coalesce("n_hits", F.lit(0)),
                F.col("n_exact").cast("double"),
            ).alias("recall"),
        )
    )


def ivf_pq_residual_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 32,
    n_iters: int = 2,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_pq_topk` with RESIDUAL encoding — the refinement
    FAISS ships as the IVFPQ default (Jégou, Douze & Schmid 2011,
    §IV-A): PQ codes quantize ``r = x̂ − ĉ(cell)`` (the unit vector
    minus its unit cell centroid, components rounded 6 dp) instead
    of the vector itself. Residuals occupy a much smaller ball than
    the raw corpus, so the same code budget typically quantizes
    finer and lifts ADC recall at EQUAL compression (it does at
    sf0.01: 0.30 → 0.38 mean recall@5; on degenerate corpora — cells
    of ~3 vectors seeding the residual codebook — it can lose, which
    is why the paired recall reports MEASURE the delta per corpus
    instead of assuming it). The score decomposes as
    ``<q̂, ĉ> + Σ_s <q̂_s, codeword_s>``: a per-(query, probed-cell)
    constant that rides the broadcast probe table, plus the same
    LUT sum — the serve path is byte-for-byte the fused serve's
    (codes + two broadcast joins), only the tables change.

    Output: (query_id, neighbor_id, approx_sim, rank).
    """
    import numpy as np

    labels, centroids = ivf_train(
        embeddings,
        n_cells=n_cells,
        n_iters=n_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )
    assigned = _assign_to_centroids(base, centroids, labels, id_col)
    # unit centroids, rounded — the pinned quantity both engines share
    cmat = np.asarray(centroids, dtype=np.float64)
    cunit = np.round(
        cmat / np.linalg.norm(cmat, axis=1, keepdims=True), 6
    )
    lab = list(map(int, labels))
    spark = embeddings.sparkSession
    dim = cmat.shape[1]
    cent_df = small_df(
        spark,
        [(c, [float(x) for x in cu]) for c, cu in zip(lab, cunit)],
        "cell int, __ch array<double>",
    )
    # residual = round(x̂ - ĉ, 6), computed JVM-side (sequential
    # aggregate norm — the same summation order the oracle's
    # list_inner_product uses)
    # zip_with, NOT element_at over a transform: projection collapse
    # would re-inline the normalize-transform into every indexed
    # element (the with_shingles O(dim^2)-per-element class — measured
    # as a codegen blowup at corpus x10); zip_with evaluates each
    # operand array once per element
    inner = F.aggregate(
        F.col("__v"), F.lit(0.0), lambda a, x: a + x * x
    )
    res = (
        assigned.join(F.broadcast(cent_df), "cell")
        .select(
            F.col(id_col),
            "cell",
            F.zip_with(
                F.col("__v"),
                F.col("__ch"),
                lambda x, c: F.round(x / F.sqrt(inner) - c, 6),
            ).alias("__r"),
        )
    )
    # residual codebook: slices of the n_codes lowest-id residuals
    # (already rounded) — the same deterministic seeding posture as
    # pq_codebook, in residual space
    seed = res.orderBy(id_col).limit(n_codes).collect()
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces}")
    d = dim // n_subspaces
    codebook = [
        [list(r["__r"])[s * d : (s + 1) * d] for r in seed]
        for s in range(n_subspaces)
    ]
    codes = pq_encode(
        res, codebook, id_col=id_col, vec_col="__r", normalize=False
    )
    cb = [np.asarray(c, dtype=np.float64) for c in codebook]
    cell_of = {c: cu for c, cu in zip(lab, cunit)}
    qrows = base.filter(F.col(id_col).isin(query_ids or [])).collect()
    probe_rows, lut_rows = [], []
    cu_mat = np.asarray([cell_of[c] for c in lab], dtype=np.float64)
    for r in qrows:
        qv = np.asarray(r["__v"], dtype=np.float64)
        qn = qv / np.linalg.norm(qv)
        sims = (cmat / np.linalg.norm(cmat, axis=1, keepdims=True)) @ qn
        for idx in np.argsort(-sims, kind="stable")[:n_probe]:
            probe_rows.append(
                (r[id_col], lab[idx], float(cu_mat[idx] @ qn))
            )
        for s, book in enumerate(cb):
            vals = book @ qn[s * d : (s + 1) * d]
            for j, val in enumerate(vals):
                lut_rows.append((r[id_col], s + 1, j + 1, float(val)))
    probed = small_df(
        spark,
        probe_rows or [], "query_id long, cell int, qc double"
    )
    lut = small_df(
        spark,
        lut_rows or [], "query_id long, s int, code int, val double"
    )
    cands = (
        F.broadcast(probed)
        .join(
            assigned.select(F.col(id_col).alias("neighbor_id"), "cell"),
            "cell",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "qc")
    )
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("s0", "code"),
    ).select("neighbor_id", (F.col("s0") + 1).alias("s"), "code")
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.join(exploded, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.round(F.first("qc") + F.sum("val"), 6).alias("approx_sim")
        )
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_sim", "rank")
    )


def ivf_pq_residual_recall_report(
    embeddings: DataFrame,
    *,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = 32,
    n_iters: int = 2,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of residual-encoded IVF+PQ vs exact cosine — the
    paired number to :func:`ivf_pq_recall_report`: at equal
    compression and equal probing, the residual variant's recall
    minus the raw variant's IS the measured value of residual
    encoding (the Jégou et al. claim, checked on this corpus
    instead of assumed). Output: (query_id, n_exact, n_hits,
    recall 4 dp)."""
    exact = cosine_topk(
        embeddings,
        query_filter=F.col(id_col).isin(query_ids or []),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    approx = ivf_pq_residual_topk(
        embeddings,
        query_ids=query_ids,
        k=k,
        n_cells=n_cells,
        n_iters=n_iters,
        n_probe=n_probe,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
    )
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            _guarded_recall(
                F.coalesce("n_hits", F.lit(0)),
                F.col("n_exact").cast("double"),
            ).alias("recall"),
        )
    )
