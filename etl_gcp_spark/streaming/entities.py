"""Structured-Streaming ingest into maintained entity-cluster labels.

The graph-side streaming twin of ``streaming/text.py`` and
``streaming/vectors.py``: records stream into the persisted entity
label store maintained by the incremental construction
:func:`~etl_gcp_spark.operators.linkage.entity_clusters_increment_audit`
proves correct, and the final served labels are IDENTICAL to a full
batch :func:`~etl_gcp_spark.operators.linkage.entity_clusters` over
the union of all records — "stream and batch agree exactly", so the
batch entry's value-hash oracle attaches to the streamed result
verbatim.

Per microbatch, O(|batch| + touched components) WRITES:

1. the batch's d=1 mask-key blocking rows land under
   ``maskkeys/appends/batch=<id>`` (OVERWRITE — replay-idempotent;
   the existing index files are never rewritten);
2. new edges come from probing the persisted index with the batch's
   keys only (batch↔base and batch↔earlier-batch; earlier pairs are
   already closed);
3. the label merge runs on the CONTRACTED graph — endpoints collapse
   to their current labels, so the iterative closure touches
   |batch| + affected components supernodes, never the full vertex
   set;
4. a label PATCH (changed rows + the batch's own rows) lands under
   ``labels/batch=<id>`` (OVERWRITE).

Crash-replay correctness: state reads inside a microbatch filter
``batch < batch_id`` — a replayed batch recomputes its patch from
exactly the pre-batch state, so a half-committed previous attempt
(its own ``batch=<id>`` dirs) is overwritten with identical content
instead of being folded into the input (which would shrink the
replayed patch and lose relabels).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_gcp_spark.metering import timed as _timed_phase
from etl_gcp_spark.streaming.staging import drain, parquet_files, staged_ready

_metered_build = _timed_phase("build")

RECORDS_SCHEMA = "c_custkey long, c_name string"


def _latest_labels(spark: SparkSession, root: str, max_batch=None) -> DataFrame:
    """Current (id, lbl) state: base labels overridden by the most
    recent patch per id. ``max_batch`` (exclusive) restricts to
    patches committed BEFORE a given microbatch — the replay-safe
    read. The per-id window is bounded by the number of microbatches
    that ever touched the id."""
    base = spark.read.parquet(os.path.join(root, "labels_base")).select(
        "id", "lbl", F.lit(-1).cast("long").alias("batch")
    )
    patch_dir = os.path.join(root, "labels")
    frames = base
    if os.path.isdir(patch_dir) and any(
        e.startswith("batch=") for e in os.listdir(patch_dir)
    ):
        patches = (
            spark.read.option("basePath", patch_dir)
            .parquet(patch_dir)
            .select("id", "lbl", F.col("batch").cast("long"))
        )
        if max_batch is not None:
            patches = patches.filter(F.col("batch") < max_batch)
        frames = frames.unionByName(patches)
    w = Window.partitionBy("id").orderBy(F.col("batch").desc())
    return (
        frames.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "lbl")
    )


def serve_entity_labels(spark: SparkSession, root: str) -> DataFrame:
    """Serve (c_custkey, entity_id, entity_size) from the label store
    — latest label per id over base ∪ patches, sizes recounted over
    the full store. After :func:`entity_labels_compact` the patch
    stack is empty and this is a plain scan of the compacted base.

    Erasure-aware: when :func:`run_streaming_entity_erasure` has
    accumulated tombstone slices under ``root/tombstones``, erased
    ids drop out via a broadcast anti-join (bounded by erasure volume
    between compactions — the same serve discipline as the IVF and
    text index tombstones), and sizes recount over the survivors."""
    final = _latest_labels(spark, root)
    tomb_dir = os.path.join(root, "tombstones")
    if os.path.isdir(tomb_dir) and any(
        e.startswith("batch=") for e in os.listdir(tomb_dir)
    ):
        tombs = (
            spark.read.option("basePath", tomb_dir)
            .parquet(tomb_dir)
            .select("id")
        )
        final = final.join(F.broadcast(tombs), "id", "left_anti")
    return final.select(
        F.col("id").alias("c_custkey"),
        F.col("lbl").alias("entity_id"),
        F.count("*")
        .over(Window.partitionBy("lbl"))
        .cast("bigint")
        .alias("entity_size"),
    )


def entity_labels_compact(spark: SparkSession, root: str) -> None:
    """Fold the streaming patch stack back into the base artifacts —
    the label-store twin of ``ivf_index_compact`` / ``text_index_compact``,
    closing the graph family's build→increment→stream→COMPACT
    lifecycle. Two folds, each write-new-then-rename (never
    overwrite-in-place of a tree being read; an object-store
    deployment commits the same swap through a manifest):

    1. ``labels_base`` ← latest label per id over base ∪ all
       ``labels/batch=<id>`` patches, then the patch dir is dropped.
       This re-bounds the serve path's per-id window (base + one row
       per touching batch) back to exactly one row per id — after a
       long streaming run, compaction is what keeps serve cost
       independent of ingest history.
    2. ``maskkeys/base`` ← base ∪ ``maskkeys/appends`` (batch
       partition column dropped), so future ingests probe ONE tree.

    Erasure becomes PHYSICAL here, mirroring ivf_index_compact /
    text_index_compact: tombstone slices accumulated by
    :func:`run_streaming_entity_erasure` drop the erased ids out of
    the rewritten ``labels_base``, the blocking index
    (``maskkeys/base``) and the persisted match store (``pairs``),
    then the tombstone dir is cleared (fresh-snapshot semantics) —
    so the serve path's broadcast anti-join set is re-bounded to the
    erasure volume since the LAST compaction instead of growing
    forever, and no trace of the erased ids remains in any artifact.

    Serving before and after compaction returns IDENTICAL results
    (asserted in tests and by the shared batch oracle) — compaction
    moves bytes, not semantics.
    """
    import shutil

    from etl_gcp_spark.streaming.staging import commit_swap, heal_swap

    base_dir = os.path.join(root, "labels_base")
    patch_dir = os.path.join(root, "labels")
    mk_base = os.path.join(root, "maskkeys", "base")
    mk_app = os.path.join(root, "maskkeys", "appends")
    tomb_dir = os.path.join(root, "tombstones")
    pairs_dir = os.path.join(root, "pairs")
    # self-repair first: a run killed between commit_swap's renames
    # (the one window where a base tree is absent) rolls forward to
    # the committer-marked rewrite, so the store is never left
    # unservable awaiting manual repair (ADVICE r7)
    heal_swap(base_dir)
    heal_swap(mk_base)
    heal_swap(pairs_dir)

    def _slices(d: str) -> bool:
        return os.path.isdir(d) and any(
            e.startswith("batch=") for e in os.listdir(d)
        )

    tombs = (
        spark.read.option("basePath", tomb_dir)
        .parquet(tomb_dir)
        .select("id")
        if _slices(tomb_dir)
        else None
    )
    if _slices(patch_dir) or tombs is not None:
        latest = _latest_labels(spark, root)
        if tombs is not None:
            latest = latest.join(F.broadcast(tombs), "id", "left_anti")
        latest.write.mode("overwrite").parquet(base_dir + "_compacting")
        commit_swap(base_dir)
        shutil.rmtree(patch_dir, ignore_errors=True)
    if os.path.isdir(mk_base) and (_slices(mk_app) or tombs is not None):
        merged = spark.read.parquet(mk_base)
        if _slices(mk_app):
            merged = merged.unionByName(
                spark.read.option("basePath", mk_app)
                .parquet(mk_app)
                .drop("batch")
            )
        if tombs is not None:
            # the blocking index is keyed by the caller's id column
            # (mask_key_index keeps its name); every OTHER column is
            # fixed by the mask_key_index contract, so derive the key
            # as the one non-contract column rather than trusting
            # column position — a reordered or prepended store column
            # would silently anti-join on the wrong key and let
            # erased ids survive in the blocking index
            _mk_contract = {"__t", "__k"}
            mk_keys = [c for c in merged.columns if c not in _mk_contract]
            if len(mk_keys) != 1:
                # r10 changed the persisted blocking-index format from
                # (id, __t, pos, mkey) to (id, __t, __k) — a store
                # written by a pre-r10 run is not resumable; say so
                # instead of the generic contract message
                if {"pos", "mkey"} <= set(merged.columns):
                    raise ValueError(
                        "maskkeys store uses the legacy (pos, mkey)"
                        " layout; rebuild required — delete the store"
                        f" root and re-ingest: {merged.columns}"
                    )
                raise ValueError(
                    "maskkeys store schema violates the mask_key_index"
                    f" contract (id, __t, __k): {merged.columns}"
                )
            mk_id = mk_keys[0]
            merged = merged.join(
                F.broadcast(tombs).withColumnRenamed("id", mk_id),
                mk_id,
                "left_anti",
            )
        merged.write.mode("overwrite").parquet(mk_base + "_compacting")
        commit_swap(mk_base)
        shutil.rmtree(mk_app, ignore_errors=True)
    if tombs is not None:
        if os.path.isdir(pairs_dir):
            kept = (
                spark.read.parquet(pairs_dir)
                .join(
                    F.broadcast(tombs).withColumnRenamed("id", "id1"),
                    "id1",
                    "left_anti",
                )
                .join(
                    F.broadcast(tombs).withColumnRenamed("id", "id2"),
                    "id2",
                    "left_anti",
                )
            )
            kept.write.mode("overwrite").parquet(pairs_dir + "_compacting")
            commit_swap(pairs_dir)
        # cleared LAST: every rewrite above is an anti-join, so a
        # crash anywhere before this line replays as a no-op against
        # the already-filtered stores (idempotent fold)
        shutil.rmtree(tomb_dir, ignore_errors=True)


@_metered_build
def run_streaming_entity_ingest(
    spark: SparkSession,
    customer_path: str,
    *,
    delta_mod: int = 10,
    n_batches: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
    compact: bool = False,
) -> DataFrame:
    """Stream records ``c_custkey % delta_mod == 0`` into entity
    labels built on the rest, then serve (c_custkey, entity_id,
    entity_size) for the FULL record set — bit-equal to batch
    :func:`entity_clusters` over all records.

    Layout: ``root/labels_base`` + ``root/maskkeys/base`` are the
    trained base (idempotent overwrite — a resumed run rebuilds the
    identical artifacts); each microbatch writes
    ``root/maskkeys/appends/batch=<id>`` and ``root/labels/batch=<id>``
    in overwrite mode. Pass ``root`` to resume a crashed run from its
    checkpoint; ``fail_after_batches`` injects a post-write
    pre-commit crash (recovery tests).
    """
    from etl_gcp_spark.caching import unpersist_pinned
    from etl_gcp_spark.operators.linkage import (
        contracted_merge,
        entity_clusters,
        mask_key_index,
        probe_new_edges,
    )

    root = root or os.path.join(
        tempfile.gettempdir(),
        f"etl_gcp_spark_entstream_{uuid.uuid4().hex}",
    )
    records = spark.read.parquet(customer_path).select(
        "c_custkey", "c_name"
    )
    base = records.filter(F.col("c_custkey") % delta_mod != 0)
    delta = records.filter(F.col("c_custkey") % delta_mod == 0)

    base_ec = entity_clusters(base, "c_custkey", "c_name")
    base_ec.select(
        F.col("c_custkey").alias("id"), F.col("entity_id").alias("lbl")
    ).write.mode("overwrite").parquet(os.path.join(root, "labels_base"))
    unpersist_pinned(base_ec)
    mask_key_index(base, "c_custkey", "c_name").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "maskkeys", "base"))

    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        # overwrite: a crash mid-staging leaves a partial dir with no
        # completion marker; the resume replaces it wholesale
        delta.repartition(n_batches).write.mode("overwrite").parquet(staged)

    appends = os.path.join(root, "maskkeys", "appends")

    def ingest(batch_df, batch_id):
        keys = mask_key_index(batch_df, "c_custkey", "c_name")
        keys.write.mode("overwrite").parquet(
            os.path.join(appends, f"batch={batch_id}")
        )
        # probe the persisted index (base + appends up to and
        # including this batch's just-written keys — a crashed
        # attempt's identical leftovers are safely re-read)
        idx = spark.read.parquet(os.path.join(root, "maskkeys", "base"))
        if any(
            e.startswith("batch=")
            for e in os.listdir(appends)
        ):
            app = (
                spark.read.option("basePath", appends)
                .parquet(appends)
                .filter(F.col("batch") <= batch_id)
                .drop("batch")
            )
            idx = idx.unionByName(app)
        edges = probe_new_edges(keys, idx, "c_custkey")
        # pre-batch state ONLY (batch < batch_id): a replay must not
        # fold its own half-committed patch into the input
        cur = _latest_labels(spark, root, max_batch=batch_id)
        batch_ids = batch_df.select(F.col("c_custkey").alias("id"))
        cur_all = cur.unionByName(
            batch_ids.join(cur, "id", "left_anti").select(
                "id", F.col("id").alias("lbl")
            )
        ).localCheckpoint(eager=True)
        lblmap = cur_all.select(
            F.col("id").alias("__n"), F.col("lbl").alias("__l")
        )
        # cur_all covers every endpoint here, so the shared helper's
        # absent-endpoint coalesce never fires — identical semantics
        merged = contracted_merge(edges, lblmap)
        relabeled = (
            cur_all.join(merged, cur_all["lbl"] == merged["node"], "left")
            .select(
                "id",
                F.coalesce("component", "lbl").alias("new_lbl"),
                "lbl",
            )
        )
        # changed rows + the batch's own rows (new ids must enter the
        # store even when unmerged); dedup covers the overlap
        patch = (
            relabeled.filter(F.col("new_lbl") != F.col("lbl"))
            .select("id", F.col("new_lbl").alias("lbl"))
            .unionByName(
                relabeled.join(batch_ids, "id").select(
                    "id", F.col("new_lbl").alias("lbl")
                )
            )
            .dropDuplicates(["id"])
        )
        patch.write.mode("overwrite").parquet(
            os.path.join(root, "labels", f"batch={batch_id}")
        )

    drain(
        spark,
        parquet_files(RECORDS_SCHEMA, staged),
        ingest,
        root=root,
        fail_after_batches=fail_after_batches,
    )

    if compact:
        entity_labels_compact(spark, root)
    # serve: latest label per id over base ∪ all patches (or the
    # compacted base alone) — identical to the batch output
    return serve_entity_labels(spark, root)


@_metered_build
def run_streaming_entity_erasure(
    spark: SparkSession,
    customer_path: str,
    *,
    erase_mod: int = 7,
    n_batches: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Deletion requests arrive as a STREAM into the entity label
    store — the graph-side member of the streaming-erasure family
    (text: ``streaming/text.py::run_streaming_text_erasure``;
    vectors: ``streaming/vectors.py::run_streaming_ivf_erasure``),
    applying the deletion-maintenance rule the batch audit proves
    (:func:`~etl_gcp_spark.operators.linkage.
    entity_clusters_erasure_audit`) once per microbatch:

    1. affected components = the batch's erased ids' CURRENT labels
       (one semi-join against the pre-batch state);
    2. the affected components' surviving members re-close among
       themselves over the persisted MATCH STORE filtered to
       survivors (deletion cannot create edges, so the stored pair
       set is complete — no re-blocking, ever);
    3. the batch writes TWO slices in overwrite mode:
       ``tombstones/batch=<id>`` (the erased ids) and
       ``labels/batch=<id>`` (the re-closed survivors' new labels).

    Per-batch work is O(|batch| + touched components), and because
    each batch transforms "labels == entity_clusters(survivors so
    far)" into the same invariant minus its own ids, the final state
    equals one batch clustering of all survivors — the batch
    closure oracle attaches with the survivor filter.

    Crash-replay: state reads filter ``batch < batch_id`` (both the
    label patches and prior tombstone slices), so a replayed batch
    recomputes its slices from exactly the pre-batch state and the
    overwrites absorb the replay. The base build (match store +
    labels) is idempotent-overwrite; tombstones live OUTSIDE the
    rebuilt trees, so unlike the index twins a re-run of the base
    build cannot clear committed deletions.
    """
    from etl_gcp_spark.caching import unpersist_pinned
    from etl_gcp_spark.operators.linkage import (
        entity_clusters_from_pairs,
        fuzzy_pairs,
    )

    root = root or os.path.join(
        tempfile.gettempdir(),
        f"etl_gcp_spark_enterstream_{uuid.uuid4().hex}",
    )
    records = spark.read.parquet(customer_path).select(
        "c_custkey", "c_name"
    )

    # base artifacts: the match store (blocked ONCE over all records)
    # and the full-corpus labels — both idempotent overwrites
    pairs_path = os.path.join(root, "pairs")
    pairs = fuzzy_pairs(records, "c_custkey", "c_name")
    pairs.select("id1", "id2").write.mode("overwrite").parquet(pairs_path)
    unpersist_pinned(pairs)
    base_ec = entity_clusters_from_pairs(
        records, spark.read.parquet(pairs_path), "c_custkey"
    )
    base_ec.select(
        F.col("c_custkey").alias("id"), F.col("entity_id").alias("lbl")
    ).write.mode("overwrite").parquet(os.path.join(root, "labels_base"))

    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        records.filter(F.col("c_custkey") % erase_mod == 0).select(
            F.col("c_custkey").alias("id")
        ).repartition(n_batches).write.mode("overwrite").parquet(staged)

    tomb_dir = os.path.join(root, "tombstones")

    def ingest(batch_df, batch_id):
        erased = batch_df.select("id").localCheckpoint(eager=True)
        # pre-batch state: label patches AND tombstone slices from
        # strictly earlier batches only — replay-safe
        cur = _latest_labels(spark, root, max_batch=batch_id)
        if os.path.isdir(tomb_dir) and any(
            e.startswith("batch=") for e in os.listdir(tomb_dir)
        ):
            prior = (
                spark.read.option("basePath", tomb_dir)
                .parquet(tomb_dir)
                .filter(F.col("batch") < batch_id)
                .select("id")
            )
            cur = cur.join(F.broadcast(prior), "id", "left_anti")
            gone = prior.unionByName(erased)
        else:
            gone = erased
        affected = (
            cur.join(erased, "id").select("lbl").dropDuplicates()
        )
        touched_ids = (
            cur.join(F.broadcast(affected), "lbl")
            .join(erased, "id", "left_anti")
            .select("id")
        )
        # survivors' edges from the persisted match store: both
        # endpoints alive, left endpoint in an affected component
        # (components are edge-closed, so one endpoint suffices)
        store = spark.read.parquet(pairs_path)
        surv_pairs = store.join(
            F.broadcast(gone).withColumnRenamed("id", "id1"),
            "id1", "left_anti",
        ).join(
            F.broadcast(gone).withColumnRenamed("id", "id2"),
            "id2", "left_anti",
        )
        touched_pairs = surv_pairs.join(
            touched_ids.withColumnRenamed("id", "id1"), "id1"
        )
        touched_records = records.join(
            touched_ids.withColumnRenamed("id", "c_custkey"), "c_custkey"
        )
        re_ec = entity_clusters_from_pairs(
            touched_records, touched_pairs, "c_custkey"
        )
        re_ec.select(
            F.col("c_custkey").alias("id"), F.col("entity_id").alias("lbl")
        ).write.mode("overwrite").parquet(
            os.path.join(root, "labels", f"batch={batch_id}")
        )
        erased.write.mode("overwrite").parquet(
            os.path.join(tomb_dir, f"batch={batch_id}")
        )

    drain(
        spark,
        parquet_files("id long", staged),
        ingest,
        root=root,
        fail_after_batches=fail_after_batches,
    )

    return serve_entity_labels(spark, root)
