"""Per-layer metrics from one traced run.

Every workload reports every metric; a layer a workload does not call
reads 0 there (the prediction for that pairing is "no change"). Times
are medians over the warm passes (or queries) of the kind named in
README.md; counts come from the Spark event log, the filesystem or
the streaming listener.
"""

from __future__ import annotations

import statistics

# name → unit; the order is the order of the printed lines
METRICS = {
    "session.start_s": "s",
    "sources.s": "s",
    "sources.scan_bytes_per_input_byte": "ratio",
    "pipeline.s": "s",
    "pipeline.driver_gap_s": "s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "clean.s": "s",
    "dedup.s": "s",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.rows_out_per_row_in": "ratio",
    "validate.s": "s",
    "validate.jobs": "count",
    "quality.s": "s",
    "sinks.s": "s",
    "sinks.write_calls": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written_per_input_byte": "ratio",
    "near_dup.s": "s",
    "near_dup.candidate_pairs": "count",
    "near_dup.true_pairs_per_candidate": "ratio",
    "near_dup.spill_bytes": "bytes",
    "text_index.build_s": "s",
    "text_index.files_written": "count",
    "text_index.query_ms": "ms",
    "text_index.query_jobs": "count",
    "text_index.bytes_read_per_index_byte": "ratio",
    "ivf.build_s": "s",
    "ivf.files_written": "count",
    "ivf.query_ms": "ms",
    "ivf.query_jobs": "count",
    "ivf.bytes_read_per_index_byte": "ratio",
    "ivf.recall_at_k": "ratio",
    "stream.text.s": "s",
    "stream.vectors.s": "s",
    "stream.events.s": "s",
    "stream.microbatches": "count",
    "stream.batch_ms_p50": "ms",
    "stream.commit_ms": "ms",
    "stream.files_written": "count",
    "stream.state_rows": "count",
    "debt.scratch_bytes": "bytes",
    "debt.cached_rdds": "count",
    "debt.active_streams": "count",
    "debt.temp_views": "count",
    "trace.pass_s": "s",
    "trace.plain_pass_s": "s",
    "trace.overhead_s": "s",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(res: dict, truth: dict, recalls: list) -> dict:
    spans = res.get("spans", [])
    by_id = {s["id"]: s for s in spans}
    children: dict[str, list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def below(root):
        out, todo = [], list(children.get(root["id"], []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo += children.get(s["id"], [])
        return out

    ops = res["ops"]
    passes = [o for o in ops if o["kind"] == "pass"]
    warm = passes[1:]
    layered = [o for o in warm if o["traced"]]
    plain = [o for o in warm if not o["traced"]]

    def per_pass(pass_ops, layer, name=None, stat="wall_s", count=None):
        """Median over passes of the summed stat of matching spans."""
        vals = []
        for o in pass_ops:
            sel = [
                s for s in below(by_id[o["span"]])
                if s["layer"] == layer and (name is None or s["name"] == name)
            ]
            if count is not None:
                vals.append(sum(s["counts"].get(count, 0) for s in sel))
            else:
                vals.append(sum(s["stats"][stat] for s in sel))
        return _med(vals)

    def query_spans(name):
        return [s for s in spans if s["parent"] is None and s["name"] == name]

    inp = float(truth["input_bytes"])
    m = {k: 0.0 for k in METRICS}
    m["session.start_s"] = res["session_start_s"]

    # cdc_batch layers (layered passes; the pipeline as users call it
    # in the plain passes)
    m["sources.s"] = per_pass(layered, "sources")
    m["sources.scan_bytes_per_input_byte"] = per_pass(layered, "sources", stat="input_bytes") / inp
    m["pipeline.s"] = per_pass(plain, "pipeline")
    m["pipeline.driver_gap_s"] = per_pass(plain, "pipeline", stat="driver_gap_s")
    m["pipeline.jobs"] = per_pass(plain, "pipeline", stat="jobs")
    m["pipeline.tasks"] = per_pass(plain, "pipeline", stat="tasks")
    m["clean.s"] = per_pass(layered, "operators.clean")
    m["dedup.s"] = per_pass(layered, "operators.dedup")
    m["dedup.shuffle_write_bytes"] = per_pass(layered, "operators.dedup", stat="shuffle_write_bytes")
    rows_in = per_pass(layered, "operators.dedup", count="rows_in")
    if rows_in:
        m["dedup.rows_out_per_row_in"] = per_pass(layered, "operators.dedup", count="rows_out") / rows_in
    m["validate.s"] = per_pass(layered, "operators.validate")
    m["validate.jobs"] = per_pass(layered, "operators.validate", stat="jobs")
    m["quality.s"] = per_pass(layered, "operators.quality")
    m["sinks.s"] = per_pass(layered, "sinks")
    m["sinks.write_calls"] = per_pass(layered, "sinks", count="write_calls")
    m["sinks.bytes_written_per_input_byte"] = per_pass(layered, "sinks", stat="output_bytes") / inp

    # curation_stream, batch half
    m["near_dup.s"] = per_pass(layered, "operators.text_dedup")
    m["near_dup.spill_bytes"] = per_pass(layered, "operators.text_dedup", stat="spill_bytes")
    m["text_index.build_s"] = per_pass(layered, "functions.text", "text_index_build")
    m["ivf.build_s"] = per_pass(layered, "functions.similarity", "build_ivf_index")
    files = res.get("files", {})
    m["sinks.files_written"] = files.get("sinks", 0)
    m["text_index.files_written"] = files.get("text_index", 0)
    m["ivf.files_written"] = files.get("ivf", 0)
    lsh = res.get("lsh", {})
    m["near_dup.candidate_pairs"] = lsh.get("candidates", 0)
    if lsh.get("candidates"):
        m["near_dup.true_pairs_per_candidate"] = lsh["verified"] / lsh["candidates"]
    for key, name in (("text_index", "bm25_index_topk"), ("ivf", "ivf_index_topk")):
        qs = query_spans(name)
        m[f"{key}.query_ms"] = _med(s["stats"]["wall_s"] * 1000.0 for s in qs)
        m[f"{key}.query_jobs"] = _med(s["stats"]["jobs"] for s in qs)
        index_bytes = res.get("index_bytes", {}).get(key, 0)
        if index_bytes:
            m[f"{key}.bytes_read_per_index_byte"] = _med(
                s["stats"]["input_bytes"] / index_bytes for s in qs
            )
    if recalls:
        m["ivf.recall_at_k"] = sum(recalls) / len(recalls)

    # curation_stream, streaming half
    for short in ("text", "vectors", "events"):
        m[f"stream.{short}.s"] = per_pass(warm, f"streaming.{short}")
    m["stream.state_rows"] = per_pass(warm[-1:], "streaming.events", count="state_rows")
    m["stream.files_written"] = files.get("stream", 0)
    batches = [
        p for plist in res.get("progress", {}).values() for p in plist
        if p.get("numInputRows", 0) > 0
    ]
    if batches:
        m["stream.microbatches"] = len(batches) / len(passes)
        m["stream.batch_ms_p50"] = _med(p["batchDuration"] for p in batches)
        m["stream.commit_ms"] = _med(
            p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
            for p in batches
        )

    # session debt after the last pass
    for k, v in (passes[-1].get("debt") or {}).items():
        m[f"debt.{k}"] = v

    m["trace.pass_s"] = _med(o["s"] for o in layered)
    m["trace.plain_pass_s"] = _med(o["s"] for o in plain)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.plain_pass_s"]
    return {k: (float(v), METRICS[k]) for k, v in m.items()}
