"""Crash-atomic staging guard and the one query drain shared by
every streaming harness.

Each run_streaming_* stages its input waves as parquet under
``root/in`` and skips the write when resuming from a checkpoint. A
bare ``os.path.exists(dir)`` guard is NOT crash-atomic: the directory
exists from the moment the write starts, so a run killed mid-staging
would resume against a partial (or empty) input set and silently
serve results over missing records (review r7). Spark's committer
writes the ``_SUCCESS`` marker only after every task commits — that
marker, not the directory, is the completion signal; incomplete
leftovers are simply overwritten.

Every bounded replay then runs through :func:`drain`, the only place
that starts and awaits a query.
"""

from __future__ import annotations

import os
import statistics
import uuid

from etl_gcp_spark import metering


def child_session(spark, conf: dict[str, str]):
    """``spark.newSession()`` with every runtime setting of ``spark``
    copied, then ``conf`` applied; ``spark`` itself is never written.
    The copy is needed: a bare child starts from the static conf
    (measured on pyspark 4.1.2: a parent at 4 shuffle partitions and
    timezone ``UTC`` gave a child at 32 and ``Etc/UTC``)."""
    child = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            child.conf.set(key, value)
    for key, value in conf.items():
        child.conf.set(key, value)
    return child


def parquet_files(schema: str, path: str):
    """:func:`drain` source: the parquet files under ``path``, one
    file per microbatch."""
    return lambda session: (
        session.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(path)
    )


def drain(
    spark,
    source,
    sink,
    *,
    root: str | None = None,
    state_partitions: int | None = None,
    fail_after_batches: int | None = None,
):
    """Run ``source(session)`` as one ``availableNow`` query to the end.

    ``source`` is a callable because a stream is bound to the session
    that built it. That session is ``spark`` unless
    ``state_partitions`` is given; then it is a :func:`child_session`
    with ``spark.sql.shuffle.partitions`` pinned, so concurrent
    callers never see each other's override. (Listeners on ``spark``
    see no progress from a child's queries, so only a pinned drain
    pays for one.)

    ``sink`` is a ``foreachBatch`` function ``(batch_df, batch_id)``,
    or an output mode: then the query fills a memory sink and drain
    returns its rows, with the catalog entry already dropped so the
    buffer lives only as long as the returned frame.

    ``root`` checkpoints at ``root/ckpt``, so a rerun resumes.
    ``fail_after_batches`` raises after that many sink calls of this
    run — after the sink's writes, before the checkpoint commit — so
    the recovery tests see the batch replayed into the sink's
    batch_id-keyed overwrites. Each finished query adds its batches,
    input rows, median batch ms and last state rows to
    :mod:`metering` under ``stream.*``.
    """
    session = spark
    if state_partitions is not None:
        session = child_session(
            spark, {"spark.sql.shuffle.partitions": str(state_partitions)}
        )
    writer = source(session).writeStream.trigger(availableNow=True)
    if root is not None:
        writer = writer.option("checkpointLocation", os.path.join(root, "ckpt"))
    if isinstance(sink, str):
        name = f"mem_{uuid.uuid4().hex}"
        writer = writer.format("memory").queryName(name).outputMode(sink)
    else:
        done_in_run = [0]

        def each_batch(batch_df, batch_id):
            sink(batch_df, batch_id)
            done_in_run[0] += 1
            if fail_after_batches and done_in_run[0] >= fail_after_batches:
                raise RuntimeError("injected crash (recovery test)")

        writer = writer.foreachBatch(each_batch)
    q = writer.start()
    q.awaitTermination()
    progress = q.recentProgress
    if progress:
        metering.add("stream.batches", len(progress))
        metering.add("stream.input_rows", sum(p.numInputRows for p in progress))
        metering.add(
            "stream.batch_ms_p50",
            statistics.median(p.batchDuration for p in progress),
        )
        metering.add(
            "stream.state_rows",
            sum(o.numRowsTotal for o in progress[-1].stateOperators),
        )
    if not isinstance(sink, str):
        return None
    out = session.table(name)
    session.catalog.dropTempView(name)
    return out


def staged_ready(path: str) -> bool:
    """True iff a previous staging run COMPLETED, so a resume may
    reuse it: either Spark's committer marker (single-write staging)
    or this module's sibling marker (multi-wave staging, written by
    :func:`mark_staged` after the last wave). The sibling marker
    lives OUTSIDE the directory so ``load(staged/*)`` globs never
    see it."""
    return os.path.exists(path + "._ok") or os.path.exists(
        os.path.join(path, "_SUCCESS")
    )


def mark_staged(path: str) -> None:
    """Record that multi-wave staging finished — call strictly AFTER
    the last wave's write returns. Wave writes themselves must use
    overwrite mode so a partial earlier attempt is replaced, not
    appended to."""
    with open(path + "._ok", "w"):
        pass


def stage_ordered_ranges(df, key_col: str, staged: str, n_batches: int) -> None:
    """Stage ``df`` as ``n_batches`` ascending key-range parquet files
    in ONE pass — the input-wave staging every ordered streaming
    harness needs (id-ordered dedup, time-ordered markov), replacing
    the approxQuantile + n sequential filtered-scan-and-write waves
    (n+1 full input passes) with a single ``repartitionByRange``
    shuffle write (r10; guide §1.2: one pass where one pass suffices).

    Ordering contract: the file stream source replays files in
    (modTime, path) order, and parallel write tasks finish in
    arbitrary order — so after the write, each part file's mtime is
    REWRITTEN to a strictly increasing sequence in path order (range
    partition i lands in part-0000i, so path order IS ascending key
    order). Rows with equal keys always land in one partition
    (RangePartitioner), and any contiguous split replays to the same
    result — the consumers' greedy/stage-cut rules are cut-invariant.
    Completion is marked crash-atomically via :func:`mark_staged`
    strictly after the mtime rewrite."""
    import shutil
    import time

    from pyspark.sql import functions as F

    # write → utime → RENAME: the committer's _SUCCESS would otherwise
    # mark the staging "ready" in the crash window before the mtime
    # rewrite, and a resume could replay files out of range order. The
    # rename publishes the directory only after the order is enforced.
    tmp = staged + "_staging"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)
    df.repartitionByRange(n_batches, F.col(key_col)).write.mode(
        "overwrite"
    ).parquet(tmp)
    parts = sorted(
        e for e in os.listdir(tmp)
        if e.startswith("part-") and not e.endswith(".crc")
    )
    if len(parts) < n_batches:
        # empty range partitions emit no part file, so a skewed or
        # low-cardinality key column silently collapses the microbatch
        # count — crash-resume tests counting batches (fail_after_
        # batches × maxFilesPerTrigger=1) would stop exercising the
        # resume path. Surface it rather than hiding it.
        import warnings

        warnings.warn(
            f"stage_ordered_ranges: staged {len(parts)} part files for"
            f" n_batches={n_batches} (empty range partitions on"
            f" {key_col!r}); downstream batch counts shrink accordingly",
            stacklevel=2,
        )
    base = int(time.time()) - len(parts)
    for i, p in enumerate(parts):
        os.utime(os.path.join(tmp, p), (base + i, base + i))
    os.rename(tmp, staged)
    mark_staged(staged)


def heal_swap(base: str) -> None:
    """Repair a :func:`commit_swap` interrupted between its two
    renames — the one crash window where ``base`` does not exist.
    Roll FORWARD when the fully-written replacement is present
    (``base + "_compacting"`` carries Spark's committer marker: it
    was completely written before the swap began), else roll BACK to
    the preserved ``base + "_old"``. Idempotent and a no-op when
    ``base`` exists; compactors call it on entry so a store crashed
    mid-swap self-repairs on the next maintenance pass instead of
    needing the manual rename the r7 review flagged.
    """
    import shutil

    if os.path.isdir(base):
        # a completed swap may still have leftovers to sweep
        shutil.rmtree(base + "_old", ignore_errors=True)
        return
    tmp, old = base + "_compacting", base + "_old"
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, base)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.isdir(old):
        os.rename(old, base)
        shutil.rmtree(tmp, ignore_errors=True)


def commit_swap(base: str) -> None:
    """Publish ``base + "_compacting"`` (a complete, committer-marked
    rewrite) as ``base`` via the two-rename local-FS swap shared by
    every compactor (IVF vectors, text postings/doclen, entity
    labels/maskkeys). The window between the renames is the only
    state without a live ``base``; it is recoverable in BOTH
    directions and :func:`heal_swap` rolls it forward. An
    object-store deployment replaces this with a manifest/table-
    format commit (Iceberg/Delta-style) — renames there are neither
    atomic nor cheap.
    """
    import shutil

    tmp, old = base + "_compacting", base + "_old"
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old, ignore_errors=True)
