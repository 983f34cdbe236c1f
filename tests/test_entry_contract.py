"""Driver-contract tests for __spark_entry__.py: registry consistency,
entry() smoke, column-name agreement between Spark and oracle SQL."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod


def test_registry_keys_consistent():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert q, "queries() is empty"
    # every oracle key must have a query; extras in queries() are the
    # documented rows-only ops
    assert set(o) <= set(q)
    rows_only = set(q) - set(o)
    # rows-only ops must be the genuinely non-SQL-expressible ones
    for name in rows_only:
        assert any(
            tag in name
            for tag in (
                "minhash",
                "simhash",
                "lsh",
                "stream",
                "frame",
                "near_dup",
                "winnow",
                "hll",  # sketch estimates are engine-specific
            )
        ), f"{name} has no oracle but looks SQL-expressible"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns  # stable schema


def test_registry_releases_pins(spark, sf_dir):
    """Operators that persist() intermediates tag them on the result;
    the registry wrapper releases the previous call's pins on the
    next call, so a long-lived session never accumulates cached
    frames (round-3 verdict hygiene item). Delta-based: earlier tests
    in a shared session may hold their own persisted RDDs
    (localCheckpoint blocks survive clearCache), so assert only that
    REGISTRY calls add nothing."""

    def persistent_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        # py4j auto-converts some boxed Integers to Python ints;
        # stringify to cover both
        return {int(str(k)) for k in jmap.keySet().toArray()}

    spark.catalog.clearCache()
    before = persistent_ids()
    q = entrymod.queries()
    # curation_funnel pins its survivor sets; materialize fully
    q["curation_funnel"](spark, sf_dir).collect()
    # next registry call (any entry) must release the previous pins
    q["quality_metrics"](spark, sf_dir).collect()
    entrymod.release_pins()
    leaked = persistent_ids() - before
    assert not leaked, (
        f"pinned frames survived the registry ledger: RDD ids {leaked}"
    )


def test_registry_outputs_scalar_only(spark, sf_dir):
    """Driver-canonicalization guard over the WHOLE registry, streaming
    entries included: the round driver canonicalizes every result with
    a pandas sort_values over all columns, so an ArrayType / MapType /
    StructType output column throws `TypeError: unhashable type` there
    and the entry fails regardless of the values being right (round-4
    standardize/robust_scale_embeddings). Build every entry's frame at
    sf0.001 and assert scalar-only top-level schemas so the class can
    never reappear.

    Runs the 311 builds through a thread pool: entry construction is
    dominated by serialized driver latency (streaming runners, index
    writes), so one-at-a-time took ~13.5 min of the suite's 41 — the
    single largest driver-pytest cost (VERDICT r10 item 3). The pool
    doubles as a concurrency check on the shared session: temp views
    are only registered with identical definitions (register_views
    over the same sf_dir) or entry-private names, the pin ledger is
    lock-guarded in __spark_entry__, and per-query overrides live on
    child sessions — so the fixture's conf must come out of the pool
    exactly as it went in."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import ArrayType, MapType, StructType

    from etl_gcp_spark.sources.readers import load_table

    # load_table pins two idempotent reader settings (UTC, nanosAsLong)
    # on first use; take the snapshot after them
    load_table(spark, sf_dir, "events")
    conf_before = spark.conf.getAll

    def check(item):
        name, fn = item
        df = fn(spark, sf_dir)
        return [
            f"{name}.{f.name}: {f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]

    with ThreadPoolExecutor(max_workers=16) as pool:
        bad = [
            b
            for bs in pool.map(check, entrymod.queries().items())
            for b in bs
        ]
    assert not bad, (
        "driver-unsortable output columns (pandas sort_values would "
        f"raise on these): {bad}"
    )
    assert spark.conf.getAll == conf_before


def test_oracle_side_write_concurrent_writers(spark, monkeypatch):
    """Entries sharing a side-table name (simhash_tokens, hll_*) may
    write it at once: every writer must succeed and the fixed path
    must end up holding exactly one complete table."""
    import os
    import shutil
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.delenv("SPARK_GRAFT_SKIP_ORACLE_SIDE_WRITE", raising=False)
    name = f"test_concurrent_{uuid.uuid4().hex}"
    path = entrymod._oracle_side_path(name)
    df = spark.range(1000).repartition(4)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            list(
                pool.map(
                    lambda _: entrymod._oracle_side_write(df, name), range(8)
                )
            )
        assert spark.read.parquet(path).count() == 1000
        leftovers = [
            e
            for e in os.listdir(os.path.dirname(path))
            if e.startswith(os.path.basename(path) + "_")
        ]
        assert not leftovers, leftovers
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_check_oracle_rejects_array_outputs():
    """The local gate must reproduce the driver's array-intolerance —
    round 4 proved a stringifying replica masks real driver failures.
    Feed the replica's detector the exact shape that failed."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    from check_oracle import driver_unsortable

    assert driver_unsortable([(1, [0.1, 0.2])]) == "list"
    assert driver_unsortable([(1, {"a": 1})]) == "dict"
    assert driver_unsortable([(1, 0.5), (2, None)]) is None
    # struct-typed cells: pyspark Row subclasses tuple and slips past
    # an isinstance(list/dict/set) check, but pandas sort_values
    # raises on it just the same (ADVICE r5) — the runtime guard must
    # match the schema-level StructType ban
    from pyspark.sql import Row

    assert driver_unsortable([(1, Row(a=1, b=2))]) == "Row"
    assert driver_unsortable([(1, (0.1, 0.2))]) == "tuple"


def test_oracle_sql_parses_in_duckdb(spark, sf_dir):
    """Every oracle must at least be valid DuckDB SQL against the
    registered views (cheap guard against silent driver failures)."""
    # hash side-table oracles (simhash/winnow) read a temp parquet the
    # query side writes — materialize those side tables first
    q = entrymod.queries()
    q["simhash_fingerprints"](spark, sf_dir)
    q["winnow_fingerprints"](spark, sf_dir)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = f"{sf_dir}/{t}.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        except Exception as e:  # pragma: no cover
            pytest.fail(f"oracle_sql[{name}] does not parse: {e}")


def test_oracle_side_write_gating(spark, tmp_path, monkeypatch):
    """The side-table write contract both harnesses depend on:
    by DEFAULT the write happens (the round driver replays oracle_sql
    itself and must find the side tables — gating writes behind an
    opt-in env var would fail every side-table entry in its window);
    under SPARK_GRAFT_SKIP_ORACLE_SIDE_WRITE=1 (set only by bench.py)
    it is a no-op, so the benchmark measures operators, not oracle
    plumbing."""
    import os

    df = spark.range(3).toDF("x")
    target = entrymod._oracle_side_path("gating_probe")

    monkeypatch.setenv("SPARK_GRAFT_SKIP_ORACLE_SIDE_WRITE", "1")
    import shutil

    shutil.rmtree(target, ignore_errors=True)
    entrymod._oracle_side_write(df, "gating_probe")
    assert not os.path.exists(target), "bench flag must skip the write"

    monkeypatch.delenv("SPARK_GRAFT_SKIP_ORACLE_SIDE_WRITE")
    entrymod._oracle_side_write(df, "gating_probe")
    assert os.path.exists(target), "default path must write (driver replay)"
    assert spark.read.parquet(target).count() == 3
    shutil.rmtree(target, ignore_errors=True)


def test_plan_diff_waiver_suppresses_only_named_metric():
    """A waiver must suppress exactly its (query, metric) pair —
    other regressions on the same query still gate — and a stale
    waiver (metric no longer differs) is reported for pruning.
    Runs in-process with a PATCHED WAIVERS dict so the test is
    independent of whichever real waivers ship in a given round
    (the r6 subprocess form broke the moment its hardcoded waiver
    was legitimately pruned)."""
    import importlib.util
    import io
    import os
    import sys
    import tempfile
    from contextlib import redirect_stdout
    from unittest import mock

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    header = (
        "| q | e | bhj | smj | bnlj | p | h | py |\n|---|---|---|---|---|---|---|---|\n"
    )

    def plans(rows):
        f = tempfile.NamedTemporaryFile(
            "w", suffix=".md", delete=False
        )
        f.write(header)
        for name, e, py in rows:
            f.write(
                f"| {name} | {e} | 0 | 0 | 0 | 0 |  | {'✓' if py else ' '} |\n"
            )
        f.close()
        return f.name

    spec = importlib.util.spec_from_file_location(
        "plan_diff_mod", os.path.join(repo, "scripts", "plan_diff.py")
    )
    pd_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pd_mod)

    def run(old, new, waivers):
        pd_mod.WAIVERS = waivers
        buf = io.StringIO()
        with mock.patch.object(sys, "argv", ["plan_diff.py", old, new]):
            with redirect_stdout(buf):
                rc = pd_mod.main()
        return rc, buf.getvalue()

    w = {("waived_q", "exchanges"): "intentional compaction"}
    old = plans([("waived_q", 2, False), ("other_q", 1, False)])
    # waived metric (exchanges) grew AND a non-waived query regressed
    new = plans([("waived_q", 5, False), ("other_q", 3, False)])
    rc, out = run(old, new, dict(w))
    assert "WAIVED EXCHANGES waived_q" in out
    assert "EXCHANGES other_q: 1 -> 3" in out
    assert rc == 1  # the unwaived regression still gates

    # same-query unwaived metric still gates: gaining a python stage
    new2 = plans([("waived_q", 5, True), ("other_q", 1, False)])
    rc2, out2 = run(old, new2, dict(w))
    assert "PYTHON-STAGE waived_q" in out2
    assert rc2 == 1

    # stale waiver: nothing differs -> prune note, exit 0
    rc3, out3 = run(old, old, dict(w))
    assert "stale waiver (waived_q, exchanges)" in out3
    assert rc3 == 0

    # two waivers on the SAME query, only one fires: the other's
    # staleness must still be reported (ADVICE r6 — the old
    # string-round-trip keyed fired-ness by query only and silently
    # suppressed it)
    rc4, out4 = run(old, new2, {
        ("waived_q", "exchanges"): "fires below",
        ("waived_q", "heap"): "never fires — must go stale",
    })
    assert "WAIVED EXCHANGES waived_q" in out4
    assert "stale waiver (waived_q, heap)" in out4
    assert rc4 == 1  # the python-stage regression still gates


def test_check_oracle_watchdog_flags_timeout_and_recovers():
    """The watchdog must (a) fail a runaway oracle with a timeout tag
    and (b) leave the shared connection clean for the next entry —
    the round-5 race left a pending interrupt that poisoned the
    following oracle."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(
        """
        import os, sys, threading, time
        sys.path.insert(0, os.path.join(%r, "scripts"))
        import duckdb
        con = duckdb.connect()
        state = {"running": True, "timed_out": False}
        lock = threading.Lock()
        def watchdog():
            with lock:
                if not state["running"]:
                    return
                state["timed_out"] = True
                con.interrupt()
        t = threading.Timer(0.2, watchdog)
        t.start()
        try:
            con.execute(
                "WITH RECURSIVE r(i) AS (SELECT 1 UNION ALL "
                "SELECT i+1 FROM r WHERE i < 300000000) "
                "SELECT max(i) FROM r").fetchall()
            print("NO-TIMEOUT")
        except Exception:
            with lock:
                print("TIMEOUT" if state["timed_out"] else "OTHER")
        finally:
            with lock:
                state["running"] = False
            t.cancel()
        # the next query on the same connection must succeed
        print("NEXT", con.execute("SELECT 41 + 1").fetchall()[0][0])
        """
        % repo
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120,
    )
    assert "TIMEOUT" in r.stdout, r.stdout + r.stderr
    assert "NEXT 42" in r.stdout, r.stdout + r.stderr


def test_global_windows_document_their_cardinality_bound():
    """Every unpartitioned Window.orderBy in the package is a global
    sort funneled through ONE task — acceptable only over frames
    bounded by construction (post-agg series, limit(k) heads, fixed
    bin/dim counts), never over data-scaled input. Each site must
    carry a `bounded:` comment within the 8 preceding lines stating
    WHY its frame is bounded (VERDICT r6 item 5); a new global
    window without one fails here until its invariant is written
    down (or it gets a partitionBy)."""
    import glob
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    offenders = []
    for path in glob.glob(
        os.path.join(repo, "etl_gcp_spark", "**", "*.py"), recursive=True
    ):
        lines = open(path).read().splitlines()
        for i, line in enumerate(lines):
            if not re.search(r"Window\s*\.\s*orderBy", line):
                continue
            if "partitionBy" in line:
                continue
            ctx = "\n".join(lines[max(0, i - 8): i + 1])
            if "bounded:" not in ctx:
                offenders.append(
                    f"{os.path.relpath(path, repo)}:{i + 1}: {line.strip()}"
                )
    assert not offenders, (
        "unpartitioned Window.orderBy without a `bounded:` "
        "cardinality-bound comment in the 8 lines above:\n"
        + "\n".join(offenders)
    )
