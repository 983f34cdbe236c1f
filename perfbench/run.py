"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload cdc_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_runs/`` (removed at exit), starts fresh worker
processes that drive the program through its public functions on
``local[<cpus>]``, checks every output against the generator's ground
truth, and prints one line per metric followed by a JSON object as the
last line of standard output. ``--trace 1`` gives the per-layer
metrics instead of the end-to-end ones and also writes every span to
``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

import numpy as np

import check
import gen
import layers
from tracing import RssSampler

HERE = os.path.dirname(os.path.abspath(__file__))
WORKER = os.path.join(HERE, "worker.py")
# per-query floor on IVF recall@k against exact cosine; on the
# generated clusters every query measured 1.0
RECALL_FLOOR = 0.8
RUN_LIMIT_S = 170.0
# driver heap for every worker: the host is shared, and the engine's
# 8g default lets the heap grow to several GB before the first GC
DRIVER_MEM = "2g"

# Input sizes and per-run counts: 22 runs of every workload must fit in
# an hour, and a run pays a JVM start and a cold pass before anything
# warm is measured. README.md records the measured times behind them.
WORKLOADS = {
    "cdc_batch": {"rows": 50_000, "chunk_rows": 25_000, "queries": 20, "min_warm": 2},
    "curation_stream": {"docs": 2_000, "vectors": 2_000, "events": 10_000, "users": 1_000,
                        "batches": 2, "queries": 8, "min_warm": 1},
}
MAX_WARM = 8
# traced runs time each query's layer instead of the closed loop
TRACE_QUERIES = {"cdc_batch": 0, "curation_stream": 6}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# -- inputs ------------------------------------------------------------------


def make_cdc(rng, d: str, trace: bool) -> tuple[dict, dict, list]:
    size = WORKLOADS["cdc_batch"]
    csv_dir = os.path.join(d, "in", "cdc")
    truth = gen.cdc(rng, size["rows"], csv_dir, size["chunk_rows"])
    truth["input_bytes"] = sum(
        os.path.getsize(os.path.join(csv_dir, f)) for f in os.listdir(csv_dir)
    )
    params = {
        "csv_dir": csv_dir,
        "out_dir": os.path.join(d, "out", "cdc"),
        "thresholds": [["row_count", 100], ["distinct_yearstart", 5],
                       ["distinct_locationabbr", 10]],
        "distinct_cols": ["yearstart", "locationabbr", "topic"],
        "null_cols": ["yearstart", "yearend", "topic"],
    }
    topics = sorted(set(truth["gold_columns"]["topic"]) - {"unknown"})
    locs = sorted(set(truth["gold_columns"]["locationabbr"]))
    n_q = 0 if trace else size["queries"]
    queries = [
        {"topic": topics[int(rng.integers(len(topics)))],
         "loc": locs[int(rng.integers(len(locs)))]}
        for _ in range(n_q)
    ]
    return truth, params, queries


def _bm25_queries(rng, corpus: dict, n: int, k: int) -> list[dict]:
    """Hot terms (top-50 Zipf ranks), rare terms (in 1–3 documents)
    and mixes of both, in equal shares."""
    df: dict[str, int] = {}
    for toks in corpus["tokens"]:
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    rare = sorted(t for t, c in df.items() if c <= 3)
    hot = corpus["hot_terms"]

    def pick(pool, m):
        return [pool[int(j)] for j in rng.choice(len(pool), m, replace=False)]

    out = []
    for i in range(n):
        if i % 3 == 0:
            terms = pick(hot, 2)
        elif i % 3 == 1:
            terms = pick(rare, 2)
        else:
            terms = pick(hot, 1) + pick(rare, 1)
        out.append({"kind": "bm25", "terms": terms, "k": k})
    return out


def make_curation_stream(rng, d: str, trace: bool) -> tuple[dict, dict, list]:
    size = WORKLOADS["curation_stream"]
    corpus = gen.corpus(rng, size["docs"])
    vecs = gen.embeddings(rng, size["vectors"])
    paths = {k: os.path.join(d, "in", f"{k}.parquet") for k in ("docs", "emb", "events")}
    os.makedirs(os.path.join(d, "in"), exist_ok=True)
    ev = gen.events(rng, size["events"], size["users"], paths["events"])
    keep = [i for i, did in enumerate(corpus["doc_ids"]) if int(did) not in corpus["removed_ids"]]
    truth = {
        "input_bytes": gen.write_docs(corpus, paths["docs"])
        + gen.write_embeddings(vecs, paths["emb"]) + ev["bytes"],
        "removed": len(corpus["removed_ids"]),
        "kept_ids": sorted(int(corpus["doc_ids"][i]) for i in keep),
        # the batch index and the streamed index both hold the kept docs
        "bm25": check.Bm25(
            [corpus["doc_ids"][i] for i in keep], [corpus["tokens"][i] for i in keep]
        ),
        "cosine": check.Cosine(vecs),
        "latest": ev["latest"],
    }
    n_q = TRACE_QUERIES["curation_stream"] if trace else size["queries"]
    bm25 = _bm25_queries(rng, corpus, (n_q + 1) // 2, 10)
    ivf = [{"kind": "ivf", "id": int(i), "k": 10}
           for i in rng.choice(size["vectors"], n_q // 2, replace=False)]
    queries = [q for pair in zip(bm25, ivf) for q in pair] + bm25[len(ivf):]
    params = {
        **paths,
        "kept_dir": os.path.join(d, "out", "kept"),
        "tix_dir": os.path.join(d, "out", "text_index"),
        "ivf_dir": os.path.join(d, "out", "ivf_index"),
        "stream_dir": os.path.join(d, "out", "stream"),
        "n_buckets": 64, "n_cells": 32, "n_probe": 4,
        "n_batches": size["batches"],
        # the first query asks the batch index what the stream serves
        "text_terms": bm25[0]["terms"],
        "text_train_max_id": size["docs"] // 4,
        "vec_train_max_id": size["vectors"] // 4,
        "ivf_query_ids": sorted(int(i) for i in rng.choice(size["vectors"], 10, replace=False)),
        "k_text": 10, "k_ivf": 10,
    }
    return truth, params, queries


MAKERS = {"cdc_batch": make_cdc, "curation_stream": make_curation_stream}


# -- checks --------------------------------------------------------------------


def check_op(workload: str, op: dict, q: dict | None, truth: dict, params: dict,
             recalls: list, batch_text: list | None = None) -> str | None:
    """The error in one pass's or query's output, or None.

    ``batch_text`` is the batch index's answer to the streamed text
    query's terms, when the run asked it; the streamed answer must
    equal it."""
    if not op["ok"]:
        return op["error"].strip().splitlines()[-1]
    out = op["out"]
    if workload == "cdc_batch":
        return check.cdc_pass(out, truth) if q is None else check.cdc_query(q, out, truth)
    if q is not None:
        if q["kind"] == "bm25":
            return check.bm25_rows(out["rows"], truth["bm25"], q["terms"], q["k"])
        recall, err = check.ivf_rows(q["id"], out["rows"], truth["cosine"], q["k"], RECALL_FLOOR)
        recalls.append(recall)
        return err
    if out["kept_ids"] != truth["kept_ids"]:
        got = len(truth["kept_ids"]) + truth["removed"] - len(out["kept_ids"])
        return f"near_dup_dedup removed {got} docs, want {truth['removed']}"
    err = check.bm25_rows(out["text"], truth["bm25"], params["text_terms"], params["k_text"])
    if err:
        return "streamed " + err
    if batch_text is not None and out["text"] != batch_text:
        return "streamed BM25 top-k differs from the batch index's"
    by_q: dict[int, list] = {}
    for qid, _, nid, sim in out["ivf"]:
        by_q.setdefault(qid, []).append([nid, sim])
    for qid in params["ivf_query_ids"]:
        recall, err = check.ivf_rows(qid, by_q.get(qid, []), truth["cosine"],
                                     params["k_ivf"], RECALL_FLOOR)
        recalls.append(recall)
        if err:
            return "streamed " + err
    want = {u: e for u, (e, _) in truth["latest"].items()}
    if {int(k): v for k, v in out["latest"].items()} != want:
        return "upsert snapshot differs from the newest event per user"
    return None


# -- processes -----------------------------------------------------------------


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            pids.append(int(name))
    return pids


def _reap_group(pgid: int, grace: float = 10.0) -> None:
    """Wait for every process of the worker's group to end; kill what
    is left after ``grace`` seconds."""
    deadline = time.time() + grace
    while _group_pids(pgid) and time.time() < deadline:
        time.sleep(0.1)
    if _group_pids(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        while _group_pids(pgid):
            time.sleep(0.05)


class Runner:
    def __init__(self, run_dir: str, root: str):
        self.run_dir, self.root = run_dir, root
        self.live: list[subprocess.Popen] = []
        self.n = 0

    def worker(self, spec: dict, timeout: float) -> tuple[dict, float]:
        """Run one worker to completion; returns (result, peak RSS bytes)."""
        self.n += 1
        spec_path = os.path.join(self.run_dir, f"spec{self.n}.json")
        result_path = os.path.join(self.run_dir, f"result{self.n}.json")
        log_path = os.path.join(self.run_dir, f"worker{self.n}.log")
        env = dict(
            os.environ,
            PYTHONPATH=self.root + os.pathsep + os.environ.get("PYTHONPATH", ""),
            TMPDIR=spec["tmp_dir"],
            # keep every JVM's scratch (perf counters, unpacked native
            # libraries) inside the run directory
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={spec['tmp_dir']}",
            SPARK_GRAFT_CPUS=str(cpus()),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            PYTHONUNBUFFERED="1",
        )
        with open(log_path, "w") as log:
            spec["t_launch"] = time.time()
            with open(spec_path, "w") as fh:
                json.dump(spec, fh)
            proc = subprocess.Popen(
                [sys.executable, WORKER, spec_path, result_path],
                cwd=spec["work_dir"], env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            self.live.append(proc)
            try:
                with RssSampler(proc.pid) as rss:
                    code = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                code = "timeout"
            finally:
                # the worker has written its result; its JVM needs no
                # graceful shutdown
                _reap_group(proc.pid, grace=0)
                self.live.remove(proc)
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as fh:
                tail = fh.read()[-4000:]
            raise RuntimeError(f"worker exited with {code}:\n{tail}")
        with open(result_path) as fh:
            return json.load(fh), rss.peak

    def stop_all(self) -> None:
        for proc in list(self.live):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            _reap_group(proc.pid, grace=0)


# -- metrics -------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least 10
    samples beyond it: the (n-10)-th smallest of n samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    return 100.0 * (n - 10) / n, xs[n - 11]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MAKERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_gcp_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the engine "
              "(etl_gcp_spark/ not found)", file=sys.stderr)
        return 2
    t_start = time.time()
    run_dir = os.path.join(root, ".perfbench_runs", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    runner = Runner(run_dir, root)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        return run(args, root, run_dir, runner, t_start)
    finally:
        runner.stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def run(args, root: str, run_dir: str, runner: Runner, t_start: float) -> int:
    trace = bool(args.trace)
    rng = np.random.default_rng(args.seed)
    truth, params, queries = MAKERS[args.workload](rng, run_dir, trace)
    print(f"# generated inputs in {time.time() - t_start:.1f} s", file=sys.stderr)
    dirs = {k: os.path.join(run_dir, "worker", k) for k in ("tmp", "local", "events", "work")}
    for p in dirs.values():
        os.makedirs(p, exist_ok=True)
    min_warm = WORKLOADS[args.workload]["min_warm"]
    spec = {
        "workload": args.workload, "trace": trace,
        "run_dir": run_dir, "tmp_dir": dirs["tmp"], "local_dir": dirs["local"],
        "event_dir": dirs["events"], "work_dir": dirs["work"],
        "params": params, "queries": queries, "seconds": args.seconds,
        # a traced run needs a layered and a plain warm pass at least
        "min_warm": max(2, min_warm) if trace else min_warm,
        "max_warm": MAX_WARM,
    }
    res, peak = runner.worker(spec, RUN_LIMIT_S - (time.time() - t_start))
    print(f"# worker done at {time.time() - t_start:.1f} s", file=sys.stderr)

    ops = res["ops"]
    passes = [o for o in ops if o["kind"] == "pass"]
    qops = [o for o in ops if o["kind"] == "query"]
    batch_text = None
    if (args.workload == "curation_stream" and qops and qops[0]["ok"]
            and queries[0].get("terms") == params["text_terms"]):
        batch_text = qops[0]["out"]["rows"]
    recalls: list[float] = []
    errors = [check_op(args.workload, op, None, truth, params, recalls, batch_text)
              for op in passes]
    errors += [check_op(args.workload, op, q, truth, params, recalls)
               for op, q in zip(qops, queries)]
    if args.workload == "cdc_batch" and passes and errors[len(passes) - 1] is None:
        errors[len(passes) - 1] = check.cdc_gold(os.path.join(params["out_dir"], "gold"), truth)
    failed = sum(e is not None for e in errors)
    for e in errors:
        if e is not None:
            print(f"check failed: {e}", file=sys.stderr)
    attempted = len(passes) + len(qops)

    if trace:
        metrics = layers.per_layer(res, truth, recalls)
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({
                "workload": args.workload, "seed": args.seed,
                "spans": res.get("spans", []),
                "stream_progress": res.get("progress", {}),
                "metrics": metrics,
            }, fh, indent=1)
        print(f"# spans written to {os.path.relpath(trace_path, root)}")
    else:
        warm = [o["s"] for o in passes[1:]]
        lat = [o["s"] * 1000.0 for o in qops]
        p_tail, v_tail = tail(lat)
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "first_pass_s": (res["first_pass_s"], "s"),
            "pass_s": (statistics.median(warm), "s"),
            "query_p50_ms": (statistics.median(lat), "ms"),
            "stored_bytes_per_input_byte": (res["stored_bytes"] / truth["input_bytes"], "ratio"),
            "peak_rss_mb": (peak / 2**20, "MB"),
        }
        print(f"# query_tail_ms {v_tail:.6g} ms: p{p_tail:.4g} of {len(lat)} "
              "closed-loop queries (one client)")
        print(f"# failed_frac {failed / attempted:.6f} ratio ({failed} of {attempted} operations)")
        print(f"# {len(warm)} warm passes, {len(lat)} queries")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
