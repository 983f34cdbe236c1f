"""Structured-Streaming ingest into the persisted inverted text index.

The text-side twin of ``streaming/vectors.py``: documents stream into
a :func:`~etl_gcp_spark.functions.text.text_index_build` artifact and
BM25 serving over base ∪ appends is bit-equal to a full batch build —
"stream and batch agree exactly", the contract the streaming family
holds throughout.

Replay-idempotency: the batch :func:`text_index_append` writes
postings in APPEND mode, which a foreachBatch replay would duplicate.
Streamed appends therefore land under ``batch=<batch_id>`` directories
in OVERWRITE mode — a replayed microbatch rewrites its own directory
and nothing else (the same discipline as the IVF append trees).
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

DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


@_metered_build
def run_streaming_text_ingest(
    spark: SparkSession,
    documents_path: str,
    query_terms: list[str],
    *,
    train_max_id: int = 250,
    n_batches: int = 4,
    k: int = 10,
    n_buckets: int = 64,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Stream documents ``doc_id >= train_max_id`` into an inverted
    index built on ``doc_id < train_max_id``, then serve BM25 top-k
    over the full corpus (base postings ∪ append trees).

    The final served ranking is IDENTICAL to a full batch
    :func:`text_index_build` over the union corpus: postings and
    doclen rows partition exactly by which microbatch carried each
    document, global stats are recomputed from the doclen union, and
    scoring goes through the shared
    :func:`~etl_gcp_spark.functions.text.bm25_score_frames` tree — so
    the batch index entry's value-hash oracle attaches to the
    STREAMED result verbatim.

    Layout: ``root/index/{postings,doclen,stats}`` is the trained
    base; each microbatch writes
    ``root/index/appends/postings/batch=<id>/bucket=<b>/`` and
    ``root/index/appends/doclen/batch=<id>/`` in overwrite mode
    (replay-idempotent). Serving filters ``bucket`` on BOTH trees —
    partition pruning holds for appends too (``batch`` adds files,
    not read amplification). Pass ``root`` to resume a crashed run
    from its checkpoint; ``fail_after_batches`` injects a post-write
    pre-commit crash (recovery tests).
    """
    from etl_gcp_spark.functions.text import (
        bm25_score_frames,
        poly_hash_py,
        text_index_build,
        tokens,
    )
    from etl_gcp_spark.operators.encoding import _poly_hash

    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_textstream_{uuid.uuid4().hex}"
    )
    index = os.path.join(root, "index")
    appends = os.path.join(index, "appends")
    docs = spark.read.parquet(documents_path)

    # base index: idempotent (overwrite) — a resumed run rebuilds the
    # identical artifact, so recovery needs no special case
    text_index_build(
        docs.filter(F.col("doc_id") < train_max_id),
        index,
        n_buckets=n_buckets,
    )

    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        docs.filter(F.col("doc_id") >= train_max_id).repartition(
            n_batches
        ).write.mode("overwrite").parquet(staged)

    def ingest(batch_df, batch_id):
        toks = batch_df.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        # one tokenize pass per microbatch (r10): doclen derives from
        # the aggregated postings (dl = Σ tf per doc), same as
        # text_index_build
        posting = (
            toks.groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(
                "bucket",
                (_poly_hash(F.col("term")) % n_buckets).cast("int"),
            )
            .persist()
        )
        try:
            posting.groupBy("doc_id").agg(
                F.sum("tf").alias("dl")
            ).write.mode("overwrite").parquet(
                os.path.join(appends, "doclen", f"batch={batch_id}")
            )
            # cluster by bucket before the partitioned write: the
            # persisted frame materializes at the static shuffle-
            # partition count (cached plans bypass AQE coalescing), so
            # an unclustered write fans out to (cache partitions ×
            # touched buckets) files PER MICROBATCH and the final
            # serve pays a footer read per file (measured r11: the
            # ingest entry 2.4× slower on a quiet host, 7.8× on the
            # r10 driver's throttled disk). One exchange of the tiny
            # post-agg delta bounds it at one file per bucket (§6).
            n_part = min(
                n_buckets,
                posting.sparkSession.sparkContext.defaultParallelism,
            )
            (
                posting.repartition(n_part, "bucket")
                .write.partitionBy("bucket")
                .mode("overwrite")
                .parquet(
                    os.path.join(appends, "postings", f"batch={batch_id}")
                )
            )
        finally:
            posting.unpersist()

    drain(
        spark,
        parquet_files(DOCUMENTS_SCHEMA, staged),
        ingest,
        root=root,
        fail_after_batches=fail_after_batches,
    )

    # serve over base ∪ appends with bucket pruning on both trees
    buckets = sorted({poly_hash_py(t) % n_buckets for t in query_terms})
    base_post = spark.read.parquet(os.path.join(index, "postings"))
    app_post_dir = os.path.join(appends, "postings")
    app_post = (
        spark.read.option("basePath", app_post_dir)
        .parquet(app_post_dir)
        .drop("batch")
    )
    postings = (
        base_post.unionByName(app_post)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(query_terms))
        .select(
            "doc_id", F.col("term").alias("__t"), F.col("tf").alias("__tf")
        )
    )
    app_dl_dir = os.path.join(appends, "doclen")
    dl_all = (
        spark.read.parquet(os.path.join(index, "doclen"))
        .unionByName(
            spark.read.option("basePath", app_dl_dir)
            .parquet(app_dl_dir)
            .drop("batch")
        )
    )
    stats = dl_all.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("dl").alias("__total_dl"),
    )
    dl = dl_all.select("doc_id", F.col("dl").alias("__dl"))
    return bm25_score_frames(postings, dl, stats, k=k)


@_metered_build
def run_streaming_text_erasure(
    spark: SparkSession,
    documents_path: str,
    query_terms: list[str],
    *,
    erase_mod: int = 7,
    n_batches: int = 4,
    k: int = 10,
    n_buckets: int = 64,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Deletion requests arrive as a STREAM: each microbatch of
    doc_ids lands as a tombstone slice under
    ``index/tombstones/batch=<batch_id>`` (OVERWRITE — a replayed
    batch rewrites its own slice; the batch-path
    ``text_index_erase``'s blind append would duplicate rows on
    replay, which anti-join semantics would forgive but exactly-once
    discipline should not rely on). Serving after the stream drains
    goes through the ordinary tombstone-aware ``bm25_index_topk`` and
    is bit-equal to a fused scorer over the surviving corpus — the
    batch erasure entry's oracle attaches verbatim.

    The index build is guarded by its committer marker, NOT blindly
    rebuilt on resume: a rebuild clears the tombstone dir (fresh
    snapshot semantics), so re-running it after a mid-stream crash
    would drop the already-committed deletion slices that the
    checkpoint will never replay. This is the one streaming runner
    where "idempotent rebuild" would be a correctness bug.
    """
    from etl_gcp_spark.functions.text import (
        bm25_index_topk,
        text_index_build,
    )

    root = root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_texterstream_{uuid.uuid4().hex}"
    )
    index = os.path.join(root, "index")
    docs = spark.read.parquet(documents_path)

    if not staged_ready(os.path.join(index, "postings")):
        text_index_build(docs, index, n_buckets=n_buckets)

    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        docs.filter(F.col("doc_id") % erase_mod == 0).select(
            "doc_id"
        ).repartition(n_batches).write.mode("overwrite").parquet(staged)

    def ingest(batch_df, batch_id):
        batch_df.select("doc_id").write.mode("overwrite").parquet(
            os.path.join(index, "tombstones", f"batch={batch_id}")
        )

    drain(
        spark,
        parquet_files("doc_id long", staged),
        ingest,
        root=root,
        fail_after_batches=fail_after_batches,
    )

    return bm25_index_topk(spark, index, query_terms, k=k, n_buckets=n_buckets)


@_metered_build
def run_streaming_decontamination(
    spark: SparkSession,
    documents_path: str,
    *,
    benchmark_source: str = "src0",
    n: int = 3,
    max_removed_frac: float = 0.3,
    n_batches: int = 4,
    root: str | None = None,
    fail_after_batches: int | None = None,
) -> DataFrame:
    """Benchmark shards arrive as a STREAM — the streaming twin of
    :func:`~etl_gcp_spark.operators.corpus.decontaminate_docs`, and
    the shape real decontamination has in production: eval sets are
    RELEASED over time, and each release must re-excise only the
    documents it newly contaminates, not reprocess the corpus.

    Base artifacts (idempotent overwrites — the corpus is static):
    ``root/corpus`` (doc_id, text, n_tokens) and ``root/corpusgrams``
    (doc_id, pos, gram — the n-gram posting, built ONCE). Each
    microbatch of benchmark documents then:

    1. writes its distinct grams as ``root/benchgrams/batch=<id>``
       (OVERWRITE — a replayed batch rewrites its own slice);
    2. probes the posting with THIS batch's grams (broadcast — eval
       shards are small) for the affected doc set;
    3. recomputes the AFFECTED docs' absolute verdict against the
       union of gram slices ``batch <= batch_id`` (including its
       own, just written — the maskkeys-ingest discipline) and
       writes it as ``root/verdicts/batch=<id>``.

    Per-batch work is O(|batch grams| + affected docs' tokens) —
    never a corpus pass. Serving takes each doc's LATEST verdict
    (contamination is monotone: a doc's verdict only changes when a
    new shard hits it, and then it IS in that batch's affected set),
    defaulting untouched docs to 'keep'. The final state therefore
    equals one batch :func:`decontaminate_docs` against the full
    benchmark — that entry's oracle attaches verbatim. Crash-replay:
    both slice writes are batch-keyed overwrites of deterministic
    content; ``fail_after_batches`` injects the post-write
    pre-commit crash for the kill-resume test.
    """
    from etl_gcp_spark.operators.corpus import (
        apply_removal,
        doc_gram_posting,
        removal_index,
        tokenize_docs,
    )
    from etl_gcp_spark.operators.text_dedup import with_shingles

    root = root or os.path.join(
        tempfile.gettempdir(),
        f"etl_gcp_spark_decontstream_{uuid.uuid4().hex}",
    )
    docs = spark.read.parquet(documents_path).select(
        "doc_id", "text", "source"
    )
    corp = docs.filter(F.col("source") != benchmark_source)
    bench = docs.filter(F.col("source") == benchmark_source)

    corpus_path = os.path.join(root, "corpus")
    posting_path = os.path.join(root, "corpusgrams")
    n_buckets = 64
    toked = tokenize_docs(corp)
    toked.select("doc_id", "text", "__nt").write.mode(
        "overwrite"
    ).parquet(corpus_path)
    # the posting is bucket-partitioned on the gram hash (the text
    # index's partition-function discipline): a shard's probe reads
    # only its grams' buckets (PartitionFilters), not the corpus
    (
        doc_gram_posting(toked, n)
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("__gram"), F.lit(n_buckets)).cast("int"),
        )
        # cluster by the partition column before the partitioned write:
        # one file per bucket (instead of tasks × buckets) and the
        # write itself parallelizes across buckets (r10; guide §6);
        # tasks capped at core count — file count is unchanged
        .repartition(
            min(n_buckets, spark.sparkContext.defaultParallelism),
            "bucket",
        )
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(posting_path)
    )

    staged = os.path.join(root, "in")
    if not staged_ready(staged):
        bench.repartition(n_batches).write.mode("overwrite").parquet(
            staged
        )

    bg_dir = os.path.join(root, "benchgrams")

    def ingest(batch_df, batch_id):
        batch_grams = (
            with_shingles(batch_df, "text", "doc_id", n)
            .select(F.explode("shingles").alias("__gram"))
            .dropDuplicates()
        )
        batch_grams.write.mode("overwrite").parquet(
            os.path.join(bg_dir, f"batch={batch_id}")
        )
        # all shards so far, INCLUDING this one's just-written slice
        all_grams = (
            spark.read.option("basePath", bg_dir)
            .parquet(bg_dir)
            .filter(F.col("batch") <= batch_id)
            .select("__gram")
            .dropDuplicates()
        )
        # probe ONLY the shard's grams' buckets — bounded collect
        # (<= n_buckets ints), and the partition filter is what keeps
        # the probe from reading the whole posting at corpus scale
        probe_buckets = sorted(
            r["b"]
            for r in batch_grams.select(
                F.pmod(F.xxhash64("__gram"), F.lit(n_buckets))
                .cast("int")
                .alias("b")
            )
            .dropDuplicates()
            .collect()
        )
        posting = spark.read.parquet(posting_path).filter(
            F.col("bucket").isin(probe_buckets)
        )
        affected = (
            posting.join(F.broadcast(batch_grams), "__gram")
            .select("doc_id")
            .dropDuplicates()
        )
        from etl_gcp_spark.functions.text import tokens as _tokens

        corpus = spark.read.parquet(corpus_path)
        aff_toked = corpus.join(affected, "doc_id").select(
            "doc_id",
            "text",
            _tokens(F.col("text")).alias("__toks"),
            F.col("__nt"),
        )
        # the rewrite needs ALL of an affected doc's windows, which
        # the bucket layout can't prune — recompute them in flight
        # from the (few) affected docs instead of a second posting
        # scan: O(affected tokens), not O(corpus)
        removed = removal_index(
            doc_gram_posting(aff_toked, n),
            all_grams,
            n,
        )
        apply_removal(
            aff_toked.join(removed, "doc_id", "left"), max_removed_frac
        ).write.mode("overwrite").parquet(
            os.path.join(root, "verdicts", f"batch={batch_id}")
        )

    drain(
        spark,
        parquet_files(DOCUMENTS_SCHEMA, staged),
        ingest,
        root=root,
        fail_after_batches=fail_after_batches,
    )

    corpus = spark.read.parquet(corpus_path)
    v_dir = os.path.join(root, "verdicts")
    base = corpus.select(
        "doc_id",
        F.col("__nt").cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_removed"),
        F.lit("keep").alias("action"),
        F.col("text").alias("clean_text"),
        F.lit(-1).cast("long").alias("batch"),
    )
    if os.path.isdir(v_dir) and any(
        e.startswith("batch=") for e in os.listdir(v_dir)
    ):
        patches = (
            spark.read.option("basePath", v_dir)
            .parquet(v_dir)
            .select(
                "doc_id",
                "n_tokens",
                "n_removed",
                "action",
                "clean_text",
                F.col("batch").cast("long"),
            )
        )
        base = base.unionByName(patches)
    w = Window.partitionBy("doc_id").orderBy(F.col("batch").desc())
    return (
        base.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("doc_id", "n_tokens", "n_removed", "action", "clean_text")
    )
