"""Structured Streaming ingest into the persisted IVF index.

The batch half of the index story is ``build_ivf_index`` (train +
snapshot) and ``ivf_index_append`` (grow against frozen centroids,
`functions/similarity.py`); this module is the continuous form: each
microbatch of arriving embeddings is assigned to its argmax-cosine
cell with the same zero-shuffle GEMM kernel and lands as new parquet
files under an append tree — so a 100-TB vector corpus can keep
serving while new vectors stream in, with retrain relegated to an
offline rebuild when drift warrants it.

Crash recovery follows the engine-batch_id discipline of
``streaming/events.py`` (round-4 pattern): every batch writes its own
``batch=<id>`` directory in overwrite mode, so a batch replayed after
a crash between sink write and checkpoint commit rewrites itself
idempotently; no Python state survives a restart, so none is relied
on. Batches are mutually independent (pure appends, no cross-batch
merge), which makes this the simplest exactly-once shape of the four
durable-sink streaming ops.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# index BUILD phases are metered so bench.py can report build_sec /
# serve_sec separately — at scale the build is a rare batch job while
# serve latency is the tracked number (etl_gcp_spark/metering.py)
from etl_gcp_spark.metering import timed as _timed_phase
from etl_gcp_spark.streaming.staging import drain, parquet_files, staged_ready

_metered_build = _timed_phase("build")

EMBEDDINGS_SCHEMA = "vec_id long, embedding array<float>"


@_metered_build
def run_streaming_ivf_ingest(
    spark: SparkSession,
    embeddings_path: str,
    *,
    train_max_id: int = 400,
    n_batches: int = 4,
    n_cells: int = 32,
    n_iters: int = 2,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_probe: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
    compact: bool = False,
) -> DataFrame:
    """Stream vectors ``vec_id >= train_max_id`` into an IVF index
    built on ``vec_id < train_max_id``, then serve top-k over the
    full corpus (base tree ∪ append trees). With ``compact=True`` the
    append trees are folded into the base tree after the stream
    completes (``ivf_index_compact``) and serving reads the compacted
    artifact alone — same results, fewer files.

    The final index state is IDENTICAL to the batch
    ``build_ivf_index`` + ``ivf_index_append`` path — training scope,
    frozen 6-dp centroids, argmax-cosine assignment, and the served
    ranking all match bit-for-bit — so the batch operator's
    algorithm-replay oracle attaches to the STREAMED result verbatim
    ("stream and batch agree exactly", the contract the streaming
    family holds throughout).

    Layout: ``root/index/vectors`` is the trained base (partitioned
    by cell); each microbatch writes
    ``root/index/appends/batch=<batch_id>/cell=<cell>/`` in overwrite
    mode (replay-idempotent). Serving reads base and appends with the
    same ``cell IN probes`` partition-pruned scans — the ``batch``
    partition level adds files, not read amplification, and an
    offline compaction folding appends into the base tree is ordinary
    parquet maintenance. Pass ``root`` to resume a crashed run from
    its checkpoint; ``fail_after_batches`` injects a post-write
    pre-commit crash (recovery tests).
    """
    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        ivf_serve,
    )

    query_ids = list(range(10)) if query_ids is None else query_ids
    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_ivfstream_{uuid.uuid4().hex}"
    )
    index = os.path.join(root, "index")
    appends = os.path.join(index, "appends")
    emb = spark.read.parquet(embeddings_path).select("vec_id", "embedding")

    # base index: idempotent (overwrite) — a resumed run retrains to
    # the identical 6-dp centroids, so recovery needs no special case
    build_ivf_index(
        emb.filter(F.col("vec_id") < train_max_id),
        index,
        n_cells=n_cells,
        n_iters=n_iters,
    )

    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        emb.filter(F.col("vec_id") >= train_max_id).repartition(
            n_batches
        ).write.mode("overwrite").parquet(staged)

    cents = sorted(
        spark.read.parquet(os.path.join(index, "centroids")).collect(),
        key=lambda r: r["cell"],
    )
    labels = [int(r["cell"]) for r in cents]
    cmat = [list(r["centroid"]) for r in cents]

    def ingest(batch_df, batch_id):
        from etl_gcp_spark.functions.similarity import (
            _as_double,
            _assign_to_centroids,
        )

        base = batch_df.select(
            "vec_id", _as_double(F.col("embedding")).alias("__v")
        )
        assigned = _assign_to_centroids(base, cmat, labels, "vec_id")
        (
            assigned.select(
                "vec_id", F.col("__v").alias("vector"), "cell"
            )
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(os.path.join(appends, f"batch={batch_id}"))
        )

    drain(
        spark,
        parquet_files(EMBEDDINGS_SCHEMA, staged),
        ingest,
        root=root,
        fail_after_batches=fail_after_batches,
    )

    if compact:
        from etl_gcp_spark.functions.similarity import ivf_index_compact

        ivf_index_compact(spark, index)
        vectors = spark.read.parquet(os.path.join(index, "vectors"))
        return ivf_serve(
            spark, cents, vectors, query_ids=query_ids, k=k, n_probe=n_probe
        )

    base_vecs = spark.read.parquet(os.path.join(index, "vectors"))
    appended = (
        spark.read.option("basePath", appends)
        .parquet(appends)
        .select("vec_id", "vector", "cell")
    )
    return ivf_serve(
        spark,
        cents,
        base_vecs.select("vec_id", "vector", "cell").unionByName(appended),
        query_ids=query_ids,
        k=k,
        n_probe=n_probe,
    )


@_metered_build
def run_streaming_drift_report(
    spark: SparkSession,
    embeddings_path: str,
    *,
    n_cells: int = 8,
    n_iters: int = 2,
    holdout_mod: int = 5,
    n_batches: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Streaming IVF drift monitor: vectors stream in microbatches,
    each batch scores its members' best-centroid cosine against the
    FROZEN base-cohort centroids, and the per-batch state written is
    the exact integer compaction (cohort, sim6, count) — sim6 =
    round(sim·1e6) as int64 — under a batch_id-keyed overwrite dir
    (replay-idempotent). The final report aggregates the state to
    the SAME per-cohort (n_vecs, mean_sim, p05_sim) the batch
    :func:`~etl_gcp_spark.functions.similarity.ivf_drift_report`
    produces: the decimal mean is reconstructed exactly from
    Σ(sim6·count)/10⁶ (integer arithmetic all the way to one decimal
    division), and the nearest-rank p05 picks from the merged sim6
    counts — so the batch entry's value-hash oracle attaches to the
    STREAMED result verbatim.

    This is the monitoring shape a production append-only index
    needs: drift statistics maintained incrementally per ingest
    batch, with state that is mergeable (integer counts), bounded
    (≤ distinct 6-dp sims ≤ 2,000,001 rows per cohort regardless of
    corpus size), and exactly equal to the offline recomputation.
    """
    from etl_gcp_spark.functions.similarity import (
        _as_double,
        ivf_train,
    )

    root = root or os.path.join(
        tempfile.gettempdir(),
        f"etl_gcp_spark_driftstream_{uuid.uuid4().hex}",
    )
    state = os.path.join(root, "state")
    emb = spark.read.parquet(embeddings_path).select("vec_id", "embedding")

    # frozen centroids from the base cohort — idempotent retrain on
    # resume (deterministic 6-dp centroids)
    _labels, cmat = ivf_train(
        emb.filter((F.col("vec_id") % holdout_mod) != holdout_mod - 1),
        n_cells=n_cells,
        n_iters=n_iters,
    )

    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        emb.repartition(n_batches).write.mode("overwrite").parquet(staged)

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _cos(v, cent):
        c = F.array(*[F.lit(float(x)) for x in cent])
        return _dot(v, c) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(c, c)))

    def ingest(batch_df, batch_id):
        allv = batch_df.select(
            "vec_id", _as_double(F.col("embedding")).alias("__v")
        )
        sims = [_cos(F.col("__v"), list(cent)) for cent in cmat]
        best = sims[0] if len(sims) == 1 else F.greatest(*sims)
        (
            allv.select(
                F.when(
                    (F.col("vec_id") % holdout_mod) == holdout_mod - 1,
                    F.lit("new"),
                )
                .otherwise(F.lit("base"))
                .alias("cohort"),
                F.round(F.round(best, 6) * F.lit(1000000.0))
                .cast("long")
                .alias("sim6"),
            )
            .groupBy("cohort", "sim6")
            .agg(F.count(F.lit(1)).alias("c"))
            .write.mode("overwrite")
            .parquet(os.path.join(state, f"batch={batch_id}"))
        )

    drain(
        spark,
        parquet_files(EMBEDDINGS_SCHEMA, staged),
        ingest,
        root=root,
        fail_after_batches=fail_after_batches,
    )

    g = (
        spark.read.option("basePath", state)
        .parquet(state)
        .groupBy("cohort", "sim6")
        .agg(F.sum("c").alias("c"))
    )
    # mean: Σ(sim6·c)/10⁶ is the EXACT decimal sum of the 6-dp sims —
    # integer products summed exactly, one decimal division, then the
    # same double division + 6-dp rounding as the batch report
    stats = g.groupBy("cohort").agg(
        F.sum("c").alias("n_vecs"),
        F.round(
            (
                F.sum(F.col("sim6") * F.col("c"))
                .cast("decimal(28,8)")
                / F.lit(1000000).cast("decimal(10,0)")
            ).cast("double")
            / F.sum("c"),
            6,
        ).alias("mean_sim"),
    )
    from pyspark.sql import Window

    cum = g.select(
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
    return stats.join(p05, "cohort").orderBy("cohort")


@_metered_build
def run_streaming_ivf_erasure(
    spark: SparkSession,
    embeddings_path: str,
    *,
    erase_mod: int = 7,
    n_batches: int = 4,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_probe: int = 4,
    n_cells: int = 32,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Deletion requests arrive as a STREAM into the persisted IVF
    index — the vector twin of
    ``streaming/text.py::run_streaming_text_erasure``, closing the
    erasure family's streaming story on BOTH index sides: each
    microbatch of vec_ids lands as a tombstone slice under
    ``index/tombstones/batch=<batch_id>`` (OVERWRITE — a replayed
    batch rewrites only its own slice; the batch-path
    ``ivf_index_erase``'s blind append would duplicate rows on
    replay). Serving after the stream drains goes through the
    ordinary tombstone-aware ``ivf_index_topk`` and equals the
    erased-index serve bit-for-bit, so the batch erasure entry's
    replay oracle attaches verbatim.

    The index build is guarded by the CENTROIDS committer marker —
    the LAST artifact ``build_ivf_index`` writes (a vectors-tree
    guard would reuse a crash-torn artifact; ADVICE r7) — and NOT
    blindly rebuilt on resume: a rebuild clears the tombstone dir
    (fresh-snapshot semantics), so re-running it after a mid-stream
    crash would drop committed deletion slices the checkpoint will
    never replay. Same "idempotent rebuild would be a correctness
    bug" shape as the text twin.
    """
    from etl_gcp_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_topk,
    )

    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_ivferstream_{uuid.uuid4().hex}"
    )
    index = os.path.join(root, "index")
    emb = spark.read.parquet(embeddings_path)

    if not staged_ready(os.path.join(index, "centroids")):
        build_ivf_index(emb, index, n_cells=n_cells, n_iters=2)

    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        emb.filter(F.col("vec_id") % erase_mod == 0).select(
            "vec_id"
        ).repartition(n_batches).write.mode("overwrite").parquet(staged)

    def ingest(batch_df, batch_id):
        batch_df.select("vec_id").write.mode("overwrite").parquet(
            os.path.join(index, "tombstones", f"batch={batch_id}")
        )

    drain(
        spark,
        parquet_files("vec_id long", staged),
        ingest,
        root=root,
        fail_after_batches=fail_after_batches,
    )

    return ivf_index_topk(
        spark, index, query_ids=query_ids or list(range(10)),
        k=k, n_probe=n_probe,
    )
