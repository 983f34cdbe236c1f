"""Structured Streaming ingestion of the events table.

The reference is pure batch on a daily cron (SURVEY.md §2.9); the
engine adds the streaming surface a continuous pipeline needs:
watermarked tumbling-window aggregation, streaming dedup within the
watermark, and session windows — all built-ins (``F.window``,
``dropDuplicatesWithinWatermark``, ``F.session_window``), no custom
state management.

Each helper runs a bounded "replay" of a parquet events directory
through :func:`~etl_gcp_spark.streaming.staging.drain` — into a memory
sink (:func:`_run_to_memory`) or a ``foreachBatch`` fold — and returns
the result as a batch DataFrame, which is also how the driver's
correctness harness exercises the streaming path. Stateful queries
pin 8 state partitions on a child session of their own (measured
32 → 8: 15.0 s → 3.3 s, see :func:`_run_to_memory`), so the caller's
session conf is never touched. In production the same plan reads a
live source (Kafka/files) with a real sink; only the source and sink
edges change, the transformation plan is identical — that is the
point of Structured Streaming.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_gcp_spark.streaming.staging import (
    child_session,
    drain,
    mark_staged,
    parquet_files,
    stage_ordered_ranges,
    staged_ready,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)
# variant for data whose ts is parquet TIMESTAMP(NANOS): Spark's reader
# rejects that physical type, so it is declared long (nanosAsLong) and
# truncated to microsecond timestamps in _stream_events.
EVENTS_SCHEMA_NS = (
    "event_id long, ts long, user_id long, "
    "event_type string, value double, props string"
)


def _ts_is_nanos(events_path: str) -> bool:
    from etl_gcp_spark.sources.readers import _nanos_timestamp_cols

    return "ts" in _nanos_timestamp_cols(events_path)


def _stream_events(session: SparkSession, events_path: str) -> DataFrame:
    """File-source stream over a single parquet file or directory.

    The file source requires a directory; a lone ``events.parquet``
    file is staged into a temp dir (cheap metadata copy at test scale;
    production points at an arriving-files directory). ``ts`` stored
    as TIMESTAMP(NANOS) — which Spark's parquet reader rejects — is
    detected from the footer and read long-then-truncated to
    microsecond timestamps, same as the batch reader. ``session`` is
    the stream's own session chosen by :func:`drain` (a child of the
    caller's), so the ``nanosAsLong`` reader setting lands there.
    """
    if os.path.isfile(events_path):
        staged = os.path.join(
            tempfile.gettempdir(), f"etl_gcp_spark_stream_{uuid.uuid4().hex}"
        )
        os.makedirs(staged)
        shutil.copy(events_path, os.path.join(staged, "part-0.parquet"))
        events_path = staged
    if not _ts_is_nanos(events_path):
        return (
            session.readStream.schema(EVENTS_SCHEMA)
            .format("parquet")
            .load(events_path)
        )
    session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        session.readStream.schema(EVENTS_SCHEMA_NS)
        .format("parquet")
        .load(events_path)
    )
    return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def _run_to_memory(spark: SparkSession, source, *, output_mode: str) -> DataFrame:
    """Drain the ephemeral stream ``source(session)`` to a memory sink
    and return the table — :func:`drain` with 8 state partitions.

    A streaming query creates one state store PER shuffle partition,
    and per-store open/commit overhead dominates small-to-medium
    stateful streams (measured on the interval join at sf0.1: 32
    partitions → 15.0 s, 8 → 3.3 s, same 371 rows). The count is
    fixed at first start and checkpointed, so it must be chosen per
    query, not inherited from the batch-tuned session; :func:`drain`
    pins it on a child session, so the caller's conf stays as it
    was. On a real cluster size it to executor-core count instead.
    The returned frame belongs to that child session.
    """
    return drain(spark, source, output_mode, state_partitions=8)


def run_streaming_hourly_counts(
    spark: SparkSession, events_path: str, *, watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling 1-hour counts per event_type.

    The watermark bounds state: windows older than max(event time) −
    watermark are finalized and evicted — the mechanism that keeps
    state finite on an unbounded stream.
    """

    def agg(session):
        return (
            _stream_events(session, events_path)
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"), "event_type", "n_events"
            )
        )

    # complete mode: a bounded replay must also emit the windows still
    # open at end-of-stream (append would hold them in state forever).
    return _run_to_memory(spark, agg, output_mode="complete")


def run_streaming_dedup(
    spark: SparkSession, events_path: str, *, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup on event_id within the watermark.

    ``dropDuplicatesWithinWatermark`` keeps only the key + timestamp
    in state and evicts entries older than the watermark — the
    streaming analog of the reference's full-row dedup (D1) with
    bounded memory.
    """

    def deduped(session):
        return (
            _stream_events(session, events_path)
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"])
        )

    return _run_to_memory(spark, deduped, output_mode="append")


def run_streaming_sessions(
    spark: SparkSession,
    events_path: str,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user with a dynamic gap (built-in state).

    ``F.session_window`` merges events whose gaps are < ``gap`` into
    one window; the watermark finalizes sessions once no extension is
    possible. Batch analog (oracle-checkable lag/cumsum formulation):
    :func:`etl_gcp_spark.operators.events.sessionize`.
    """

    def sessions(session):
        return (
            _stream_events(session, events_path)
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )

    return _run_to_memory(spark, sessions, output_mode="complete")


USER_STATS_OUTPUT = (
    "user_id long, n_events long, total_value double, "
    "first_ts timestamp, last_ts timestamp"
)
USER_STATS_STATE = "n_events long, total_value double, first_us long, last_us long"


def run_streaming_user_stats(
    spark: SparkSession, events_path: str
) -> DataFrame:
    """Custom stateful operator: per-user lifetime stats via
    ``applyInPandasWithState``.

    The built-in windows can't express "running per-key accumulators
    emitted on every update" — this is the escape hatch the engine
    offers for arbitrary state machines (CUSUM monitors, fraud
    counters, per-entity models). State per user is four scalars;
    each micro-batch updates it from the Arrow batch of that user's
    new rows and emits the refreshed snapshot (update mode).

    The bounded replay collapses to the final per-user snapshot
    (max n_events per user) so the result is deterministic however
    the source splits micro-batches.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def update(key, pdf_iter, state):
        import datetime as dt

        if state.exists:
            n, total, first_us, last_us = state.get
        else:
            n, total, first_us, last_us = 0, 0.0, None, None
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            ts_us = pdf["ts"].astype("int64") // 1000  # ns -> µs
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, total, first_us, last_us))
        epoch = dt.datetime(1970, 1, 1)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
                "first_ts": [epoch + dt.timedelta(microseconds=first_us)],
                "last_ts": [epoch + dt.timedelta(microseconds=last_us)],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    def updated(session):
        # state updates key on raw long micro-seconds; timestamps are
        # reconstructed inside the kernel so no tz ambiguity enters state
        raw = _stream_events(session, events_path).select(
            "user_id",
            # unix_micros, NOT cast("long") (that truncates to seconds);
            # kernel expects ns int64
            (F.unix_micros(F.col("ts")) * 1000).alias("ts"),
            "value",
        )
        return raw.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=USER_STATS_OUTPUT,
            stateStructType=USER_STATS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    snapshots = _run_to_memory(spark, updated, output_mode="update")
    # last snapshot per user = the one with the highest event count
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        snapshots.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def run_streaming_click_purchase_join(
    spark: SparkSession,
    events_path: str,
    *,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the preceding ``lookback`` window.

    Both sides carry watermarks and the join has a bounded time
    range, so Spark can evict click state older than
    purchase-watermark − lookback — the condition that keeps a
    stream-stream join's state finite. Append mode: a match is final
    the moment both rows exist (inner join, closed time bound).

    ``how="left_outer"`` adds the state-EVICTION semantics: an
    unmatched purchase emits its NULL-click row only when the global
    watermark (min of both sides' max event time, minus the
    watermark delay) passes its timestamp — proof no qualifying
    click can still arrive. Purchases younger than the final
    watermark stay in state and never emit in a bounded replay; the
    batch oracle reproduces that cutoff exactly
    (``purchase_ts < min(max click_ts, max purchase_ts) − delay``),
    so "stream and batch agree exactly" extends to the subtle
    incompleteness of outer streaming joins rather than papering
    over it.
    """

    def joined(session):
        clicks = (
            _stream_events(session, events_path)
            .filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", watermark)
        )
        purchases = (
            _stream_events(session, events_path)
            .filter(F.col("event_type") == "purchase")
            .select(
                "user_id",
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", watermark)
        )
        return purchases.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")
            ),
            how,
        ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")

    return _run_to_memory(spark, joined, output_mode="append")


def run_streaming_upsert(
    spark: SparkSession,
    events_path: str,
    *,
    n_batches: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Continuous CDC: fold each microbatch into a keyed snapshot
    (newest event per user) with ``foreachBatch`` + ``cdc_upsert``.

    The events replay is staged as ``n_batches`` files consumed one per
    trigger (``maxFilesPerTrigger=1``), so the merge really runs N
    times against an evolving store — not a single-batch degenerate
    run. Batches are NOT time-ordered (the split is hash-partitioned),
    so the merge orders by event time, not batch arrival:
    ``cdc_upsert(..., order_by=[ts desc, event_id desc])`` — the
    upsert that stays correct under out-of-order delivery/backfill.

    The snapshot lives as versioned parquet (write-new-then-swap
    pointer, never overwrite-in-place of a file being read — the
    pattern an object-store sink needs anyway). State per key is one
    row; snapshot size is bounded by |keys|, not stream length. At
    scale the same merge targets a partitioned/bucketed table so only
    touched partitions rewrite.

    CRASH RECOVERY is real, not happy-path: snapshot versions are
    keyed by the engine's batch_id (``v{batch_id}``, written with
    overwrite), and each merge reads its predecessor by scanning the
    version dirs ON DISK for the largest id < batch_id — no Python
    state survives a restart, so none is relied on. A batch replayed
    after a crash between sink write and checkpoint commit rewrites
    its own version idempotently from the same predecessor — the
    standard foreachBatch exactly-once recipe. Pass ``root`` to
    resume a crashed run from its checkpoint; ``fail_after_batches``
    injects a post-write pre-commit crash (for recovery tests).
    """
    from pyspark.sql import Window

    from etl_gcp_spark.operators.cdc import cdc_upsert

    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_upsert_{uuid.uuid4().hex}"
    )
    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        # normalize ts to microsecond TIMESTAMP at stage time so the
        # stream schema is uniform regardless of the physical unit
        if _ts_is_nanos(events_path):
            reader = child_session(
                spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}
            )
            src = (
                reader.read.schema(EVENTS_SCHEMA_NS)
                .format("parquet")
                .load(events_path)
                .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            )
        else:
            src = spark.read.schema(EVENTS_SCHEMA).format("parquet").load(
                events_path
            )
        src.repartition(n_batches).write.mode("overwrite").parquet(staged)

    recency = lambda: [F.col("ts").desc(), F.col("event_id").desc()]  # noqa: E731

    def versions() -> dict[int, str]:
        try:
            return {
                int(d[1:]): os.path.join(root, d)
                for d in os.listdir(root)
                if d.startswith("v") and d[1:].isdigit()
            }
        except FileNotFoundError:
            return {}

    def merge(batch_df, batch_id):
        w = Window.partitionBy("user_id").orderBy(*recency())
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        prior = {v: p for v, p in versions().items() if v < batch_id}
        if not prior:
            merged = latest
        else:
            prev = batch_df.sparkSession.read.parquet(prior[max(prior)])
            merged = cdc_upsert(prev, latest, ["user_id"], order_by=recency())
        merged.write.mode("overwrite").parquet(
            os.path.join(root, f"v{batch_id}")
        )

    drain(
        spark,
        parquet_files(EVENTS_SCHEMA, staged),
        merge,
        root=root,
        fail_after_batches=fail_after_batches,
    )
    final = versions()
    # retention: predecessor versions exist only for crash recovery
    # (a replayed batch rereads version < batch_id). Once the stream
    # COMPLETES they are dead weight — at one snapshot per trigger a
    # continuous ingest would otherwise accumulate the full history.
    # Never pruned mid-run, so a crash before this point keeps every
    # version a resumed run could need.
    import shutil

    for v, p in final.items():
        if v != max(final):
            shutil.rmtree(p, ignore_errors=True)
    return spark.read.parquet(final[max(final)]).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


def run_streaming_enrich(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    *,
    key_expr: str,
) -> DataFrame:
    """Stream-static enrichment: join each event microbatch against a
    static dimension, aggregate per dimension attribute.

    The static side is planned as a broadcast hash join under the
    stream — no shuffle of the stream, no state (stream-static inner
    joins are stateless by definition: each batch joins against the
    same snapshot). This is the standard "enrich events with a dim
    table" pattern; at scale the dim refresh is a re-broadcast per
    trigger, not a stateful stream-stream join.
    """
    from pyspark.sql.functions import broadcast

    def agg(session):
        stream = _stream_events(session, events_path).withColumn(
            "join_key", F.expr(key_expr)
        )
        joined = stream.join(
            broadcast(dim), stream["join_key"] == dim[dim.columns[0]]
        )
        return joined.groupBy(dim[dim.columns[1]]).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,8)")), 4)
            .cast("double")
            .alias("value_total"),
        )

    return _run_to_memory(spark, agg, output_mode="complete")


def run_streaming_minhash_dedup(
    spark: SparkSession,
    docs_path: str,
    *,
    n_batches: int = 4,
    threshold: float = 0.8,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Continuous corpus dedup: each microbatch of documents is
    MinHash-LSH-checked against the index of EVERYTHING SEEN SO FAR
    plus itself, keep-first-arrival — the streaming form of
    :func:`~etl_gcp_spark.operators.text_dedup.incremental_near_dup_pairs`.

    Batches are staged as id-RANGE files consumed one per trigger
    (written sequentially so (modTime, path) ordering replays them in
    id order); arrival order therefore equals id order and the
    survivor set is EXACTLY the greedy batch rule "drop any doc with
    a lower-id near-dup" — so the batch ``near_dup_dedup`` oracle
    attaches to a genuinely incremental execution.

    Per batch: one LSH band join batch × index (never index × index),
    one batch-internal pair pass, exact-Jaccard verification of
    candidates only. TWO index tables accumulate append-only: the
    banded (band, bkey, doc_id) signature index and the (doc_id,
    text) doc store — so the corpus is never re-MinHashed and only
    CANDIDATE corpus docs are ever re-shingled
    (:func:`~etl_gcp_spark.operators.text_dedup.incremental_near_dup_pairs_indexed`).
    Per-trigger work is O(batch + candidates) regardless of how much
    corpus has accumulated — the property that keeps day-N of a
    continuous ingest as cheap as day-1. All seen docs enter the
    index (dropped docs still block later copies of themselves —
    same semantics as the batch greedy rule).

    CRASH RECOVERY is real, not happy-path: survivors and both index
    tables are written under per-batch subdirectories keyed by the
    engine's batch_id (overwrite mode), and "has the index seen
    anything yet" / "which index slices precede this batch" are
    answered by LISTING THOSE DIRS, filtered to ids < batch_id — no
    Python state survives a restart, so none is relied on. A batch
    replayed after a crash between sink writes and checkpoint commit
    rewrites exactly its own subdirs from exactly its predecessors —
    idempotent. Pass ``root`` to resume a crashed run from its
    checkpoint; ``fail_after_batches`` injects a post-write
    pre-commit crash (for recovery tests).
    """
    from etl_gcp_spark.operators.text_dedup import (
        _banded,
        verify_candidates,
        with_shingles,
    )

    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_sdedup_{uuid.uuid4().hex}"
    )
    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        docs = spark.read.parquet(docs_path).select("doc_id", "text")
        # one-pass id-range staging; (modTime, path) replay order
        # enforced by the helper (r10 — was approxQuantile + 4
        # sequential filtered scans/writes)
        stage_ordered_ranges(docs, "doc_id", staged, n_batches)

    out_dir = os.path.join(root, "kept")
    docs_dir = os.path.join(root, "index_docs")
    banded_dir = os.path.join(root, "index_banded")

    def _slices(parent: str, before: int) -> list[str]:
        """Index slices from batches strictly before ``before``."""
        try:
            return [
                os.path.join(parent, d)
                for d in os.listdir(parent)
                if d.startswith("b") and d[1:].isdigit()
                and int(d[1:]) < before
            ]
        except FileNotFoundError:
            return []

    def merge(batch_df, batch_id):
        # the batch is banded and shingled ONCE and pinned; internal
        # pairs, cross-index candidates, and the index append all
        # reuse the same two frames (the first cut banded 3x and
        # shingled 3x per trigger — pure re-analysis/re-compute waste)
        sess = batch_df.sparkSession
        batch = batch_df.persist()
        bb = _banded(
            batch, num_perm=16, bands=4, n=3,
            text_col="text", id_col="doc_id",
        ).persist()
        sh_b = with_shingles(batch, "text", "doc_id", 3).persist()
        internal_cand = (
            bb.select("band", "bkey", F.col("doc_id").alias("id1"))
            .join(
                bb.select("band", "bkey", F.col("doc_id").alias("id2")),
                ["band", "bkey"],
            )
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
            .dropDuplicates()
        )
        internal = verify_candidates(
            internal_cand, sh_b, sh_b,
            threshold=threshold, left_col="id1", right_col="id2",
        ).select(F.col("id2").alias("doc_id"))
        prior_banded = _slices(banded_dir, batch_id)
        if not prior_banded:
            dropped = internal
        else:
            cand = (
                bb.select("band", "bkey", F.col("doc_id").alias("batch_id"))
                .join(
                    sess.read.parquet(*prior_banded).select(
                        "band", "bkey", F.col("doc_id").alias("corpus_id")
                    ),
                    ["band", "bkey"],
                )
                .select("batch_id", "corpus_id")
                .dropDuplicates()
            )
            cand_corpus = sess.read.parquet(
                *_slices(docs_dir, batch_id)
            ).join(
                cand.select(F.col("corpus_id").alias("doc_id"))
                .dropDuplicates(),
                "doc_id",
            )
            cross = verify_candidates(
                cand, sh_b, with_shingles(cand_corpus, "text", "doc_id", 3),
                threshold=threshold,
                left_col="batch_id", right_col="corpus_id",
            ).select(F.col("batch_id").alias("doc_id"))
            dropped = internal.union(cross)
        # per-batch subdir writes (overwrite): replay-idempotent. The
        # survivor write is the ACTION that fully consumes the lazy
        # index reads above — only then is the batch's index slice
        # written. Index maintenance stays O(batch) per trigger
        # (rewriting index ∪ batch was O(corpus) I/O per batch —
        # quadratic across a day of triggers).
        sub = f"b{batch_id}"
        batch.join(
            dropped.dropDuplicates(), "doc_id", "left_anti"
        ).write.mode("overwrite").parquet(os.path.join(out_dir, sub))
        batch.write.mode("overwrite").parquet(os.path.join(docs_dir, sub))
        bb.write.mode("overwrite").parquet(os.path.join(banded_dir, sub))
        sh_b.unpersist()
        bb.unpersist()
        batch.unpersist()

    # same state-partition discipline as _run_to_memory: each
    # microbatch's LSH band join shuffles a ~corpus/n_batches slice,
    # and 32-partition task overhead dominates it (see the measured
    # cliff documented on _run_to_memory)
    drain(
        spark,
        parquet_files("doc_id long, text string", staged),
        merge,
        root=root,
        state_partitions=8,
        fail_after_batches=fail_after_batches,
    )
    return spark.read.parquet(os.path.join(out_dir, "b*"))


def run_streaming_cms(
    spark: SparkSession,
    events: DataFrame,
    query_keys: list[int],
    *,
    key_col: str = "user_id",
    n_batches: int = 4,
    width: int = 256,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Count-min sketch maintained OVER A STREAM: each microbatch
    builds its own 4×``width`` counter table and appends it; the live
    sketch is the counter-wise SUM of everything appended — CMS's
    merge-by-addition property doing the work (the same property that
    merges per-executor partial sketches in a batch job, so stream
    and batch agree EXACTLY, not approximately). Point-query output
    is therefore bit-identical to the batch
    :func:`~etl_gcp_spark.functions.sketches.cms_point_queries`, and
    the batch SQL oracle attaches to a genuinely streaming execution
    — no recall/timing caveat.

    Per trigger: one map-side-combined aggregation to ≤ depth·width
    rows and an O(KB) append — state never grows with the stream, the
    whole point of sketching a stream. Truth side comes from the
    static table (exact, for the est ≥ true audit columns).

    NULL keys are excluded BY CONVENTION on both sides: the range
    partitioner's ``key > lo`` / ``key <= hi`` staging filters would
    silently drop NULLs from the stream only, so we filter them
    explicitly up front (and the truth side's ``isin`` probe never
    matches NULL) — stream and batch see the same key universe.
    """
    from etl_gcp_spark.functions.sketches import (
        cms_build,
        cms_point_queries,
    )

    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_scms_{uuid.uuid4().hex}"
    )
    staged = os.path.join(root, "in")
    keys = events.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("long").alias(key_col)
    )
    if not staged_ready(staged):
        # one-pass key-range staging (r10; see stage_ordered_ranges)
        stage_ordered_ranges(keys, key_col, staged, n_batches)

    sketch_dir = os.path.join(root, "sketch")

    def fold(batch_df, batch_id):
        # per-batch subdir keyed by batch_id, overwrite mode: a batch
        # replayed after a crash between write and checkpoint commit
        # rewrites ITS OWN partial instead of double-counting it —
        # CMS merge-by-addition is only exactly-once if each batch's
        # counters land exactly once
        cms_build(batch_df, key_col, width=width).write.mode(
            "overwrite"
        ).parquet(os.path.join(sketch_dir, f"b{batch_id}"))

    drain(
        spark,
        parquet_files(f"{key_col} long", staged),
        fold,
        root=root,
        state_partitions=8,
        fail_after_batches=fail_after_batches,
    )

    merged = (
        spark.read.parquet(os.path.join(sketch_dir, "b*"))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return cms_point_queries(
        events, key_col, query_keys, width=width, sketch=merged
    )


def run_streaming_topk(
    spark: SparkSession,
    events: DataFrame,
    *,
    k: int = 5,
    key_col: str = "event_type",
    n_batches: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Continuous top-k heavy hitters over a stream: each microbatch
    reduces to its own (key, count) partial, appended to a counter
    store; the live answer is the top-k of the summed partials.
    Counting is ADDITIVE, so the streamed answer equals the batch
    answer exactly — like :func:`run_streaming_cms` this gives a
    streaming entry a full value-hash oracle (and unlike the sketch,
    the state here grows with |distinct keys|; when that's unbounded,
    THE sketch is the fallback — the two entries are the two sides of
    that trade).

    Per trigger: one map-side-combined count (≤ |keys| rows) and an
    O(KB) append; the final top-k is orderBy+limit over the merged
    counter table.

    NULL event_ids and NULL keys are excluded BY CONVENTION on both
    sides: the range partitioner's ``event_id > lo`` / ``<= hi``
    staging filters would silently drop NULL-id rows from the stream
    only, so both NULL classes are filtered explicitly up front and
    the batch oracle applies the same WHERE — stream and batch count
    the same rows.
    """
    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_stopk_{uuid.uuid4().hex}"
    )
    staged = os.path.join(root, "in")
    keys = events.filter(
        F.col("event_id").isNotNull() & F.col(key_col).isNotNull()
    ).select(F.col("event_id"), F.col(key_col))
    if not staged_ready(staged):
        # one-pass key-range staging (r10; see stage_ordered_ranges)
        stage_ordered_ranges(keys, "event_id", staged, n_batches)

    counts_dir = os.path.join(root, "counts")

    def fold(batch_df, batch_id):
        # batch_id-keyed overwrite: replay-idempotent (see
        # run_streaming_cms — additive merges double-count otherwise)
        batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("cnt")
        ).write.mode("overwrite").parquet(
            os.path.join(counts_dir, f"b{batch_id}")
        )

    drain(
        spark,
        parquet_files(f"event_id long, {key_col} string", staged),
        fold,
        root=root,
        state_partitions=8,
        fail_after_batches=fail_after_batches,
    )

    return (
        spark.read.parquet(os.path.join(counts_dir, "b*"))
        .groupBy(key_col)
        .agg(F.sum("cnt").alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col(key_col))
        .limit(k)
    )


def run_streaming_quantiles(
    spark: SparkSession,
    orders: DataFrame,
    *,
    value_col: str = "o_totalprice",
    key_col: str = "o_orderkey",
    lo: float = 0.0,
    hi: float = 640000.0,
    n_bins: int = 128,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    n_batches: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Quantile sketch maintained OVER A STREAM — the fourth sketch
    the streaming family needed (CMS counts, top-k heavy hitters,
    HLL cardinality, now quantiles). Each microbatch folds its rows
    into its own fixed-grid histogram partial (≤ ``n_bins`` rows);
    the live sketch is the per-bin SUM of everything appended, and
    the quantile walk runs over that merged histogram.

    The grid is FIXED UP FRONT (``lo``/``hi`` from domain knowledge):
    a data-derived grid needs a completed min/max scan, which a
    stream never has — this is the honest streaming-quantile design,
    and the same choice every production latency/price histogram
    makes. Bin counting is per-row and order-free, so the streamed
    state is bit-identical to a batch fixed-grid build over the same
    rows, and the DuckDB oracle replays the whole estimate
    (exact integer counts + the fixed IEEE interpolation tree of
    :func:`~etl_gcp_spark.functions.sketches.quantiles_from_bins`).

    Durability discipline: per-batch partials land in batch_id-keyed
    subdirs in OVERWRITE mode — a batch replayed after a crash
    between sink write and checkpoint commit rewrites its own partial
    instead of double-counting it (``fail_after_batches`` injects
    exactly that crash for the kill-resume test; pass the same
    ``root`` to resume). NULL values are excluded on both sides.
    """
    from etl_gcp_spark.functions.sketches import (
        histogram_bins,
        quantiles_from_bins,
    )

    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_squant_{uuid.uuid4().hex}"
    )
    staged = os.path.join(root, "in")
    rows = orders.filter(
        F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).cast("long").alias(key_col),
        F.col(value_col).cast("double").alias(value_col),
    )
    if not staged_ready(staged):
        # one-pass key-range staging; replay order enforced by the
        # helper (r10 — was approxQuantile + 4 sequential writes)
        stage_ordered_ranges(rows, key_col, staged, n_batches)

    bins_dir = os.path.join(root, "bins")

    def fold(batch_df, batch_id):
        # batch_id-keyed overwrite: replay-idempotent (see
        # run_streaming_cms — additive merges double-count otherwise)
        histogram_bins(
            batch_df, value_col, lo=lo, hi=hi, n_bins=n_bins
        ).write.mode("overwrite").parquet(
            os.path.join(bins_dir, f"b{batch_id}")
        )

    drain(
        spark,
        parquet_files(f"{key_col} long, {value_col} double", staged),
        fold,
        root=root,
        state_partitions=8,
        fail_after_batches=fail_after_batches,
    )

    return quantiles_from_bins(
        spark.read.parquet(os.path.join(bins_dir, "b*")),
        lo=lo,
        hi=hi,
        n_bins=n_bins,
        qs=qs,
    )


def run_streaming_hll(
    spark: SparkSession,
    df: DataFrame,
    *,
    key_col: str = "o_custkey",
    group_col: str = "o_orderpriority",
    n_batches: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
    registers_sink: str | None = None,
) -> DataFrame:
    """Per-group distinct-count sketch maintained OVER A STREAM — the
    fourth streaming sketch beside CMS / top-k / quantiles: each
    microbatch reduces to its own (grp, idx, max rho) register
    partial and appends it; the live sketch is the register-wise MAX
    of everything appended. HLL's merge-by-max property makes the
    streamed registers IDENTICAL to a batch build over the same rows
    (max is associative, commutative AND idempotent — a replayed
    batch cannot even double-count, unlike the additive CMS/top-k
    merges), so the batch twin's value-hash oracle
    (``hll_replayable``) attaches to a genuinely streaming execution
    verbatim.

    Per trigger: one map-side-combined aggregation to ≤ groups·m
    register rows and an O(KB) append — state never grows with the
    stream. Partials are still batch_id-keyed in overwrite mode (the
    crash-recovery discipline of the other three sketches) even
    though max-merge would forgive duplicates: uniform recovery
    semantics beat relying on per-sketch algebra.

    NULL keys are excluded up front on both sides (the range
    partitioner's ``key > lo`` / ``<= hi`` staging filters would
    silently drop NULLs from the stream only — the convention all
    four streaming sketches share).
    """
    from etl_gcp_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
    )

    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_shll_{uuid.uuid4().hex}"
    )
    staged = os.path.join(root, "in")
    rows = df.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("long").alias(key_col), group_col
    )
    if not staged_ready(staged):
        # one-pass key-range staging (r10; see stage_ordered_ranges)
        stage_ordered_ranges(rows, key_col, staged, n_batches)

    regs_dir = os.path.join(root, "regs")

    def fold(batch_df, batch_id):
        hll_registers(batch_df, key_col, group_col).groupBy(
            "grp", "idx"
        ).agg(F.max("rho").alias("rho")).write.mode("overwrite").parquet(
            os.path.join(regs_dir, f"b{batch_id}")
        )

    drain(
        spark,
        parquet_files(f"{key_col} long, {group_col} string", staged),
        fold,
        root=root,
        state_partitions=8,
        fail_after_batches=fail_after_batches,
    )

    merged = (
        spark.read.parquet(os.path.join(regs_dir, "b*"))
        .groupBy("grp", "idx")
        .agg(F.max("rho").alias("rho"))
    )
    if registers_sink:
        # the merged register table IS the sketch state; an oracle
        # replays estimate + correction from it bit-for-bit
        merged.write.mode("overwrite").parquet(registers_sink)
        merged = spark.read.parquet(registers_sink)
    return hll_estimate(merged).select(
        F.col("grp").alias(group_col),
        "est_distinct",
        "n_registers_used",
    )


def run_streaming_markov(
    spark: SparkSession,
    events: DataFrame,
    *,
    n_batches: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """First-order Markov transition counts maintained over a
    TIME-ORDERED stream — the genuinely stateful streaming op in the
    sketch family: unlike CMS/top-k/HLL/quantiles (whose per-batch
    partials are self-contained), a transition can SPAN a batch
    boundary, so each trigger must remember every user's last event.

    Mechanics per trigger, all batch_id-keyed in overwrite mode (the
    crash-recovery discipline: a replayed batch rewrites its own
    partials and state slice, never double-counts):

    - within-batch transitions via the same (ts, event_id) lag window
      as the batch operator;
    - boundary transitions by joining the predecessor state (latest
      event per user across all state slices with id < batch_id —
      discovered by listing, exactly like the near-dup index) to each
      user's FIRST in-batch event;
    - new state slice = latest in-batch event per user.

    Because the stage partitioner cuts on EVENT TIME (every event in
    batch k is later than every event in batches < k), the recovered
    global sequence is identical to the batch sort, so the final
    counts — and therefore :func:`~etl_gcp_spark.operators.events.
    markov_transitions`' value-hash oracle — attach to the streaming
    execution verbatim.

    State is |users| rows per slice (compactable like the IVF append
    trees); per-trigger work is one lag window over the batch plus
    two tiny latest-per-user reductions.
    """
    from pyspark.sql import Window

    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_smkv_{uuid.uuid4().hex}"
    )
    staged = os.path.join(root, "in")
    rows = events.filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        "event_type",
    )
    if not staged_ready(staged):
        # one-pass time-range staging (r10; see stage_ordered_ranges)
        stage_ordered_ranges(rows, "us", staged, n_batches)

    counts_dir = os.path.join(root, "counts")
    state_dir = os.path.join(root, "state")

    def _latest_per_user(df):
        w = Window.partitionBy("user_id").orderBy(
            F.col("us").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "us", "event_id", "event_type")
        )

    def fold(batch_df, batch_id):
        from pyspark.sql import Window as W

        prev_slices = (
            sorted(
                d
                for d in os.listdir(state_dir)
                if d.startswith("b") and int(d[1:]) < batch_id
            )
            if os.path.isdir(state_dir)
            else []
        )
        w = W.partitionBy("user_id").orderBy("us", "event_id")
        within = (
            batch_df.withColumn(
                "prev_type", F.lag("event_type").over(w)
            )
            .filter(F.col("prev_type").isNotNull())
            .select("prev_type", "event_type")
        )
        firsts = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", F.col("event_type").alias("cur_type"))
        )
        if prev_slices:
            prev_state = _latest_per_user(
                spark.read.parquet(
                    *[os.path.join(state_dir, d) for d in prev_slices]
                )
            ).select(
                "user_id", F.col("event_type").alias("prev_type")
            )
            boundary = prev_state.join(firsts, "user_id").select(
                "prev_type", F.col("cur_type").alias("event_type")
            )
            within = within.unionByName(boundary)
        within.groupBy("prev_type", "event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(
            os.path.join(counts_dir, f"b{batch_id}")
        )
        _latest_per_user(batch_df).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"b{batch_id}")
        )

    drain(
        spark,
        parquet_files(
            "user_id long, us long, event_id long, event_type string", staged
        ),
        fold,
        root=root,
        state_partitions=8,
        fail_after_batches=fail_after_batches,
    )

    merged = (
        spark.read.parquet(os.path.join(counts_dir, "b*"))
        .groupBy("prev_type", "event_type")
        .agg(F.sum("n").alias("n_transitions"))
    )
    per_prev = Window.partitionBy("prev_type")
    return merged.select(
        "prev_type",
        "event_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(per_prev).cast("double"),
            6,
        ).alias("p"),
    )
