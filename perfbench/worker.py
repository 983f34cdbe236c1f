"""The Spark-side half of the benchmark: one fresh process per call.

Usage (started by ``run.py``, never by hand)::

    python3 perfbench/worker.py <spec.json> <result.json>

The spec names the workload, its generated input files and the time
budget. The worker builds the session with the program's
``get_spark``, runs a trivial job, then one cold pass, warm passes
until the budget is spent, and a fixed number of closed-loop queries
(one client). Every pass and query is recorded with its output, so the
benchmark process can check it against the generator's ground truth.

With ``trace`` set, the session also writes a Spark event log, warm
passes alternate between a layered pass (each layer's call forced on
an already materialized input, inside its own span) and a plain pass
(the calls as a user makes them), and the per-layer metrics are
computed from the spans, the event log and the streaming listener.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

from tracing import Tracer, attribute_jobs, parse_event_log, stream_listener_class


def du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's markers and
    checksum files are not data files but their bytes count."""
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                continue
            if not n.startswith((".", "_")):
                files += 1
    return total, files


class Ctx:
    """Per-process state the workload functions share."""

    def __init__(self, spark, spec, tracer=None):
        self.spark = spark
        self.spec = spec
        self.p = spec["params"]
        self.tracer = tracer
        self.listener = None
        # streaming roots: one fresh root per pass
        self.pass_no = -1
        self.current_root = None

    def span(self, name, layer, **counts):
        if self.tracer is None:
            import contextlib

            return contextlib.nullcontext({"counts": counts})
        return self.tracer.span(name, layer, **counts)


def force(df):
    """Materialize ``df`` once and keep it: the next layer's span then
    holds only that layer's own work."""
    df = df.persist()
    n = df.count()
    return df, n


# -- cdc_batch -----------------------------------------------------------


def _cdc_rules():
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.validate import Rule, order_rule, range_rule

    return [
        order_rule("yearstart", "yearend"),
        range_rule("datavalue", 0, 100),
        Rule("topic_unknown", F.col("topic") == "unknown"),
    ]


def _cdc_outputs(bad, report_rows, exit_code, gold, rules):
    from pyspark.sql import functions as F

    counts = bad.agg(
        F.count(F.lit(1)).alias("__rows"),
        *[F.sum(F.when(r.condition, 1).otherwise(0)).alias(r.name) for r in rules],
    ).first()
    return {
        "violation_rows": int(counts["__rows"]),
        "rule_counts": {r.name: int(counts[r.name] or 0) for r in rules},
        "report": {r["check"]: [r["value"], bool(r["passed"])] for r in report_rows},
        "exit_code": int(exit_code),
        "gold_rows": gold.count(),
    }


def cdc_pass(ctx: Ctx, traced: bool) -> dict:
    from etl_gcp_spark.operators.quality import Threshold
    from etl_gcp_spark.pipeline import run_pipeline
    from etl_gcp_spark.sources.readers import read_csv_inferred

    p, spark = ctx.p, ctx.spark
    rules = _cdc_rules()
    kw = dict(
        rules=rules,
        thresholds=[Threshold(m, v) for m, v in p["thresholds"]],
        distinct_cols=p["distinct_cols"],
        null_cols=p["null_cols"],
    )
    if not traced:
        with ctx.span("read_csv_inferred", "sources"):
            src = read_csv_inferred(spark, p["csv_dir"])
        with ctx.span("run_pipeline", "pipeline"):
            res = run_pipeline(src, materialize=p["out_dir"], **kw)
            return _cdc_outputs(
                res.violations, res.report.collect(), res.exit_code, res.gold, rules
            )
    return _cdc_layered(ctx, rules, kw)


def _cdc_layered(ctx: Ctx, rules, kw) -> dict:
    """The pipeline's steps one layer at a time, in run_pipeline's
    order, each forced on the previous layer's materialized output."""
    from etl_gcp_spark.operators.clean import audit_stamp, clean, normalize_columns
    from etl_gcp_spark.operators.dedup import dedup
    from etl_gcp_spark.operators.quality import gate_exit_code, quality_gate, quality_metrics
    from etl_gcp_spark.operators.validate import violations
    from etl_gcp_spark.sinks.writers import write_table
    from etl_gcp_spark.sources.readers import read_csv_inferred

    p, spark = ctx.p, ctx.spark
    out_dir = p["out_dir"]
    cached = []
    try:
        with ctx.span("read_csv_inferred", "sources"):
            src, _ = force(read_csv_inferred(spark, p["csv_dir"]))
        cached.append(src)
        with ctx.span("normalize_columns+clean", "operators.clean"):
            bronze, _ = force(normalize_columns(src))
            cleaned, n_in = force(clean(bronze))
        cached += [bronze, cleaned]
        with ctx.span("dedup", "operators.dedup") as sp:
            deduped, n_out = force(dedup(cleaned))
            sp["counts"].update(rows_in=n_in, rows_out=n_out)
        cached.append(deduped)
        with ctx.span("audit_stamp", "operators.clean"):
            silver, _ = force(audit_stamp(deduped))
        cached.append(silver)
        with ctx.span("write_table", "sinks") as sp:
            write_table(bronze, f"{out_dir}/bronze")
            write_table(silver, f"{out_dir}/silver")
            sp["counts"]["write_calls"] = 2
        silver_r, _ = force(spark.read.parquet(f"{out_dir}/silver"))
        cached.append(silver_r)
        with ctx.span("violations", "operators.validate"):
            bad, _ = force(violations(silver_r, rules))
        cached.append(bad)
        with ctx.span("quality_gate", "operators.quality"):
            metrics = quality_metrics(
                silver_r, distinct_cols=kw["distinct_cols"], null_cols=kw["null_cols"]
            )
            report = quality_gate(metrics, kw["thresholds"])
            code = gate_exit_code(report)
            report_rows = report.collect()
        with ctx.span("write_table", "sinks") as sp:
            write_table(silver_r, f"{out_dir}/gold")
            sp["counts"]["write_calls"] = 1
        gold = spark.read.parquet(f"{out_dir}/gold")
        return _cdc_outputs(bad, report_rows, code, gold, rules)
    finally:
        for df in cached:
            df.unpersist()


def cdc_query(ctx: Ctx, q: dict) -> dict:
    """Top-10 rows of one (topic, location) slice of the gold table."""
    from pyspark.sql import functions as F

    rows = (
        ctx.spark.read.parquet(f"{ctx.p['out_dir']}/gold")
        .filter((F.col("topic") == q["topic"]) & (F.col("locationabbr") == q["loc"]))
        .orderBy(F.col("datavalue").desc(), F.col("geolocation"))
        .select("geolocation", "datavalue")
        .limit(10)
        .collect()
    )
    return {"rows": [[r[0], r[1]] for r in rows]}


def cdc_artifacts(ctx: Ctx) -> list[str]:
    return [ctx.p["out_dir"]]


def cdc_layer_counts(ctx: Ctx) -> dict:
    return {"files": {"sinks": du(ctx.p["out_dir"])[1]}}


# -- curation_stream: batch half -----------------------------------------


def curation_pass(ctx: Ctx, traced: bool) -> dict:
    from etl_gcp_spark.functions.similarity import build_ivf_index
    from etl_gcp_spark.functions.text import text_index_build
    from etl_gcp_spark.operators.text_dedup import near_dup_dedup
    from etl_gcp_spark.sinks.writers import write_table

    p, spark = ctx.p, ctx.spark
    docs = spark.read.parquet(p["docs"])
    cached = []
    try:
        with ctx.span("near_dup_dedup", "operators.text_dedup"):
            kept = near_dup_dedup(docs)
            if traced:
                kept, _ = force(kept)
                cached.append(kept)
        with ctx.span("write_table", "sinks") as sp:
            write_table(kept, p["kept_dir"])
            sp["counts"]["write_calls"] = 1
        kept_r = spark.read.parquet(p["kept_dir"])
        if traced:
            kept_r, _ = force(kept_r)
            cached.append(kept_r)
        with ctx.span("text_index_build", "functions.text"):
            text_index_build(kept_r, p["tix_dir"], n_buckets=p["n_buckets"])
        emb = spark.read.parquet(p["emb"])
        if traced:
            emb, _ = force(emb)
            cached.append(emb)
        with ctx.span("build_ivf_index", "functions.similarity"):
            build_ivf_index(emb, p["ivf_dir"], n_cells=p["n_cells"])
        ids = sorted(r[0] for r in spark.read.parquet(p["kept_dir"]).select("doc_id").collect())
        return {"kept_ids": ids}
    finally:
        for df in cached:
            df.unpersist()


def curation_query(ctx: Ctx, q: dict) -> dict:
    from etl_gcp_spark.functions.similarity import ivf_index_topk
    from etl_gcp_spark.functions.text import bm25_index_topk

    p, spark = ctx.p, ctx.spark
    if q["kind"] == "bm25":
        with ctx.span("bm25_index_topk", "functions.text"):
            rows = bm25_index_topk(
                spark, p["tix_dir"], q["terms"], k=q["k"], n_buckets=p["n_buckets"]
            ).collect()
        return {"rows": [[int(r["doc_id"]), float(r["bm25"])] for r in rows]}
    with ctx.span("ivf_index_topk", "functions.similarity"):
        rows = ivf_index_topk(
            spark, p["ivf_dir"], query_ids=[q["id"]], k=q["k"], n_probe=p["n_probe"]
        ).collect()
    return {"rows": [[int(r["neighbor_id"]), float(r["sim"])] for r in rows]}


def curation_artifacts(ctx: Ctx) -> list[str]:
    return [ctx.p["kept_dir"], ctx.p["tix_dir"], ctx.p["ivf_dir"]]


def curation_layer_counts(ctx: Ctx) -> dict:
    """Artifact file counts and sizes, and the LSH candidate count.

    ``near_dup_dedup`` does not expose its candidate set, so the
    candidates are counted here from the same banding helper and the
    same band-key self-join its pair generator uses."""
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators import text_dedup

    p, spark = ctx.p, ctx.spark
    docs = spark.read.parquet(p["docs"])
    banded = text_dedup._banded(
        docs, num_perm=16, bands=4, n=3, text_col="text", id_col="doc_id"
    )
    a = banded.select("band", "bkey", F.col("doc_id").alias("id1"))
    b = banded.select("band", "bkey", F.col("doc_id").alias("id2"))
    candidates = (
        a.join(b, ["band", "bkey"]).filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2").dropDuplicates().count()
    )
    verified = text_dedup.minhash_lsh_pairs(docs).count()
    tix, ivf = du(p["tix_dir"]), du(p["ivf_dir"])
    return {
        "files": {"sinks": du(p["kept_dir"])[1], "text_index": tix[1], "ivf": ivf[1]},
        "index_bytes": {"text_index": tix[0], "ivf": ivf[0]},
        "lsh": {"candidates": candidates, "verified": verified},
    }


# -- curation_stream: streaming half -------------------------------------


def _stream_root(ctx: Ctx, i: int) -> str:
    return os.path.join(ctx.p["stream_dir"], f"pass{i}")


def stream_pass(ctx: Ctx, traced: bool) -> dict:
    from etl_gcp_spark.streaming.events import run_streaming_upsert
    from etl_gcp_spark.streaming.text import run_streaming_text_ingest
    from etl_gcp_spark.streaming.vectors import run_streaming_ivf_ingest

    p, spark = ctx.p, ctx.spark
    # every pass streams into fresh roots: a reused root would resume
    # from its checkpoint and ingest nothing; the previous pass's
    # roots are deleted first, outside any span
    ctx.pass_no += 1
    shutil.rmtree(_stream_root(ctx, ctx.pass_no - 1), ignore_errors=True)
    root = ctx.current_root = _stream_root(ctx, ctx.pass_no)
    out = {}
    with ctx.span("run_streaming_text_ingest", "streaming.text"):
        rows = run_streaming_text_ingest(
            spark, p["kept_dir"], p["text_terms"], train_max_id=p["text_train_max_id"],
            n_batches=p["n_batches"], k=p["k_text"], root=f"{root}/text",
        ).collect()
    out["text"] = [[int(r["doc_id"]), float(r["bm25"])] for r in rows]
    with ctx.span("run_streaming_ivf_ingest", "streaming.vectors"):
        rows = run_streaming_ivf_ingest(
            spark, p["emb"], train_max_id=p["vec_train_max_id"],
            n_batches=p["n_batches"], query_ids=p["ivf_query_ids"], k=p["k_ivf"],
            n_probe=p["n_probe"], root=f"{root}/vectors",
        ).collect()
    out["ivf"] = sorted(
        [int(r["query_id"]), int(r["rank"]), int(r["neighbor_id"]), float(r["sim"])]
        for r in rows
    )
    with ctx.span("run_streaming_upsert", "streaming.events") as sp:
        rows = run_streaming_upsert(
            spark, p["events"], n_batches=p["n_batches"], root=f"{root}/events"
        ).select("user_id", "last_event_id").collect()
        sp["counts"]["state_rows"] = len(rows)
    out["latest"] = {int(r[0]): int(r[1]) for r in rows}
    return out


def stream_artifacts(ctx: Ctx) -> list[str]:
    return [ctx.current_root]


def curation_stream_pass(ctx: Ctx, traced: bool) -> dict:
    """Curate and index in batch, then stream the curated corpus, the
    vectors and the change events into fresh streaming roots."""
    return {**curation_pass(ctx, traced), **stream_pass(ctx, traced)}


def curation_stream_artifacts(ctx: Ctx) -> list[str]:
    return curation_artifacts(ctx) + stream_artifacts(ctx)


def curation_stream_layer_counts(ctx: Ctx) -> dict:
    counts = curation_layer_counts(ctx)
    counts["files"]["stream"] = du(ctx.current_root)[1]
    return counts


WORKLOADS = {
    "cdc_batch": (cdc_pass, cdc_query, cdc_artifacts, cdc_layer_counts),
    "curation_stream": (
        curation_stream_pass, curation_query, curation_stream_artifacts,
        curation_stream_layer_counts,
    ),
}


# -- session debt --------------------------------------------------------


def scratch_bytes(tmp_dir: str) -> int:
    """Bytes the program left in its temporary directory, not counting
    the native libraries the JVM unpacks there."""
    return sum(
        du(os.path.join(tmp_dir, name))[0] if os.path.isdir(os.path.join(tmp_dir, name))
        else os.path.getsize(os.path.join(tmp_dir, name))
        for name in os.listdir(tmp_dir)
        if not name.endswith((".so", ".lck"))
    )


def debt(ctx: Ctx) -> dict:
    spark = ctx.spark
    return {
        "scratch_bytes": scratch_bytes(ctx.spec["tmp_dir"]),
        "cached_rdds": int(spark.sparkContext._jsc.getPersistentRDDs().size()),
        "active_streams": len(spark.streams.active),
        "temp_views": sum(1 for t in spark.catalog.listTables() if t.isTemporary),
    }


# -- main loop -----------------------------------------------------------


def run_op(ops: list, kind: str, fn, *args) -> None:
    """Run one pass or query; an exception is a failed operation, not
    the end of the run."""
    t0 = time.perf_counter()
    rec = {"kind": kind, "ok": True, "out": None}
    try:
        rec["out"] = fn(*args)
    except Exception:  # noqa: BLE001 - recorded and counted as failed
        rec["ok"] = False
        rec["error"] = traceback.format_exc()
        print(rec["error"], file=sys.stderr)
    rec["s"] = time.perf_counter() - t0
    ops.append(rec)


def main(spec_path: str, result_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    trace = spec["trace"]
    conf = {
        "spark.local.dir": spec["local_dir"],
        "spark.sql.warehouse.dir": os.path.join(spec["run_dir"], "warehouse"),
        # a fixed-size heap: adaptive heap growth made peak RSS and GC
        # pauses vary by run
        "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["event_dir"],
            "spark.eventLog.compress": "false",
        })
    from etl_gcp_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(f"perfbench-{spec['workload']}", extra_conf=conf)
    session_start_s = time.time() - t0
    spark.range(1).count()
    result = {"setup_s": time.time() - spec["t_launch"], "session_start_s": session_start_s}

    tracer = Tracer(spark.sparkContext) if trace else None
    ctx = Ctx(spark, spec, tracer)
    stream_groups = {}
    if trace:
        ctx.listener = stream_listener_class()()
        spark.streams.addListener(ctx.listener)
    run_pass, run_query, artifacts, layer_counts = WORKLOADS[spec["workload"]]
    ops: list[dict] = []
    passes: list[dict] = []

    def one_pass(traced: bool):
        n = len(passes)
        rec_ops = len(ops)
        with ctx.span(f"pass{n}", "benchmark", traced=traced) as sp:
            run_op(ops, "pass", run_pass, ctx, traced)
        rec = ops[rec_ops]
        rec["traced"] = traced
        rec["span"] = sp.get("id")
        if trace:
            rec["debt"] = debt(ctx)
        passes.append(rec)

    one_pass(False)
    result["first_pass_s"] = passes[0]["s"]
    deadline = time.perf_counter() + spec["seconds"]
    while len(passes) < 1 + spec["min_warm"] or time.perf_counter() < deadline:
        one_pass(trace and len(passes) % 2 == 1)
        if len(passes) >= 1 + spec["max_warm"]:
            break
    result["stored_bytes"] = du_all(artifacts(ctx))
    if trace:
        result.update(layer_counts(ctx))
    for q in spec["queries"]:
        run_op(ops, "query", run_query, ctx, q)
    if trace:
        ctx.listener.wait_terminated(list(ctx.listener.started))
        stream_groups = _stream_groups(ctx)
        result["progress"] = ctx.listener.progress
    result["ops"] = ops
    if trace:
        spark.stop()  # flushes and closes the event log
        attribute_jobs(tracer.spans, parse_event_log(spec["event_dir"]), stream_groups)
        result["spans"] = tracer.spans
    _finish(result_path, result)


def du_all(paths: list[str]) -> int:
    return sum(du(pth)[0] for pth in paths)


def _stream_groups(ctx: Ctx) -> dict:
    """Map each streaming query's run id to the span it ran in: its
    jobs carry the run id, not the benchmark's job group."""
    groups = {}
    spans = ctx.tracer.spans
    for run_id, t in ctx.listener.started.items():
        inside = [s for s in spans if s["end"] and s["start"] <= t <= s["end"]]
        if inside:
            groups[run_id] = max(inside, key=lambda s: s["start"])["id"]
    return groups


def _finish(path: str, result: dict) -> None:
    """Write the result and end the process at once. The benchmark
    process then kills the JVM, whose graceful shutdown no metric
    includes."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, path)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
