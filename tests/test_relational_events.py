"""Relational closure + temporal operator contracts on crafted frames
with hand-computed answers (joins/windows/rollup/sessionize/as-of)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from etl_gcp_spark.operators.events import (
    asof_last_event,
    extract_props_key,
    hourly_event_stats,
    sessionize,
)
from etl_gcp_spark.operators.relational import (
    customer_order_ranks,
    customers_without_orders,
    order_rollup,
    top_customers,
)


def _orders(spark):
    return spark.createDataFrame(
        [
            Row(o_orderkey=1, o_custkey=10, o_totalprice=100.0,
                o_orderstatus="O", o_orderpriority="1-URGENT"),
            Row(o_orderkey=2, o_custkey=10, o_totalprice=300.0,
                o_orderstatus="O", o_orderpriority="2-HIGH"),
            Row(o_orderkey=3, o_custkey=10, o_totalprice=200.0,
                o_orderstatus="F", o_orderpriority="1-URGENT"),
            Row(o_orderkey=4, o_custkey=20, o_totalprice=50.0,
                o_orderstatus="O", o_orderpriority="5-LOW"),
        ]
    )


def _customer(spark):
    return spark.createDataFrame(
        [
            Row(c_custkey=10, c_name="alice", c_mktsegment="BUILDING"),
            Row(c_custkey=20, c_name="bob", c_mktsegment="AUTOMOBILE"),
            Row(c_custkey=30, c_name="carol", c_mktsegment="BUILDING"),
        ]
    )


def test_top_customers(spark):
    out = top_customers(_customer(spark), _orders(spark), k=1).collect()
    assert len(out) == 1
    assert (out[0].c_custkey, out[0].total_spend, out[0].n_orders) == (10, 600.0, 3)


def test_customer_order_ranks_top_n_and_tiebreak(spark):
    out = customer_order_ranks(_orders(spark), top_n=2).collect()
    by_cust = {}
    for r in out:
        by_cust.setdefault(r.o_custkey, []).append((r.order_rank, r.o_orderkey))
    assert sorted(by_cust[10]) == [(1, 2), (2, 3)]  # 300 then 200
    assert sorted(by_cust[20]) == [(1, 4)]


def test_order_rollup_has_subtotals_and_grand_total(spark):
    rows = order_rollup(_orders(spark)).collect()
    grand = [r for r in rows if r.o_orderstatus is None and r.o_orderpriority is None]
    assert len(grand) == 1 and grand[0].n_orders == 4
    status_subtotals = {
        r.o_orderstatus: r.n_orders
        for r in rows
        if r.o_orderstatus is not None and r.o_orderpriority is None
    }
    assert status_subtotals == {"O": 3, "F": 1}


def test_customers_without_orders(spark):
    out = {r.c_custkey for r in customers_without_orders(_customer(spark), _orders(spark)).collect()}
    assert out == {30}


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def _events(spark):
    return spark.createDataFrame(
        [
            Row(event_id=1, user_id=1, event_type="click", ts=_ts(9, 0),
                value=1.0, props='{"k": 7}'),
            Row(event_id=2, user_id=1, event_type="click", ts=_ts(9, 10),
                value=3.0, props='{"k": 8}'),
            # 50-minute gap > 30 => new session
            Row(event_id=3, user_id=1, event_type="purchase", ts=_ts(10, 0),
                value=5.0, props="{}"),
            Row(event_id=4, user_id=2, event_type="purchase", ts=_ts(9, 30),
                value=2.0, props="{}"),
        ]
    )


def test_extract_props_key(spark):
    got = {r.event_id: r.k for r in extract_props_key(_events(spark)).collect()}
    assert got == {1: 7, 2: 8, 3: None, 4: None}


def test_hourly_event_stats(spark):
    rows = hourly_event_stats(_events(spark)).collect()
    got = {(r.window_start.hour, r.event_type): (r.n_events, r.avg_value) for r in rows}
    assert got[(9, "click")] == (2, 2.0)
    assert got[(9, "purchase")] == (1, 2.0)
    assert got[(10, "purchase")] == (1, 5.0)


def test_sessionize_gap_semantics(spark):
    rows = sessionize(_events(spark), gap_minutes=30).collect()
    u1 = sorted(
        [(r.session_id, r.n_events) for r in rows if r.user_id == 1]
    )
    assert u1 == [(1, 2), (2, 1)]  # 9:00+9:10 together; 10:00 alone


def test_asof_last_event(spark):
    rows = asof_last_event(_events(spark)).collect()
    got = {r.event_id: r.last_click_ts for r in rows}
    # purchase at 10:00 sees user 1's last click 9:10; user 2 has none
    assert got[3] == _ts(9, 10)
    assert got[4] is None


def test_session_window_matches_islands_sessionize(spark, sf_dir):
    from etl_gcp_spark.operators.events import session_window_stats, sessionize
    from etl_gcp_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    a = session_window_stats(ev)
    b = sessionize(ev)
    # same number of sessions, same (user, start, n_events) triples
    got = sorted(
        (r["user_id"], r["session_start"], r["n_events"]) for r in a.collect()
    )
    want = sorted(
        (r["user_id"], r["session_start"], r["n_events"]) for r in b.collect()
    )
    assert got == want


def test_user_value_trend_recovers_known_slope(spark):
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.events import user_value_trend

    # value = 2*days + 5 exactly -> slope 2, intercept 5, corr 1
    base = "2024-01-01 00:00:00"
    df = spark.range(0, 200).select(
        F.lit("linear").alias("event_type"),
        (F.lit(base).cast("timestamp")
         + F.make_interval(days=F.col("id").cast("int"))).alias("ts"),
        (F.col("id") * 2.0 + 5.0).alias("value"),
    )
    row = user_value_trend(df).first()
    assert row["slope_per_day"] == 2.0
    assert row["intercept"] == 5.0
    assert row["corr_xy"] == 1.0


def test_corrupt_records_quarantined_not_fatal(spark, tmp_path):
    from etl_gcp_spark.sources.readers import read_jsonl_permissive

    p = str(tmp_path / "mixed.jsonl")
    with open(p, "w") as fh:
        fh.write('{"k": 1, "v": 1.5}\n')
        fh.write("garbage line\n")
        fh.write('{"k": 2, "v": 2.5}\n')
    # caching is required before queries that project ONLY the corrupt
    # column (Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN guard)
    df = read_jsonl_permissive(spark, p, "k long, v double").cache()
    assert df.count() == 3
    good = df.filter(df["_corrupt_record"].isNull())
    assert sorted(r["k"] for r in good.collect()) == [1, 2]
    bad = df.filter(df["_corrupt_record"].isNotNull())
    assert bad.count() == 1 and "garbage" in bad.first()["_corrupt_record"]


def test_event_type_lift_hand_computed(spark):
    from etl_gcp_spark.operators.events import event_type_lift

    # users: 1:{a,b} 2:{a,b} 3:{a} 4:{c}
    # lift(a,b) = (2*4)/(3*2) = 1.3333 ; (a,c)/(b,c) never co-occur
    ev = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "c"),
         (1, "a")],  # duplicate event collapses
        "user_id long, event_type string",
    )
    out = {(r.type_a, r.type_b): r for r in event_type_lift(ev).collect()}
    assert out[("a", "b")].n_both == 2
    assert out[("a", "b")].lift == round(8 / 6, 4)
    assert ("a", "c") not in out


def test_weekly_active_users_no_overcount(spark):
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.events import weekly_active_users

    # user 1 active on 2 days inside one window -> counted ONCE;
    # user 2 active on day 1 only
    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:00"),
            (2, 1, "2024-01-03 10:00:00"),
            (3, 2, "2024-01-01 12:00:00"),
        ],
        "event_id long, user_id long, s string",
    ).select("event_id", "user_id", F.to_timestamp("s").alias("ts"))
    out = {str(r.report_day)[:10]: r.n_active
           for r in weekly_active_users(ev).collect()}
    assert out["2024-01-01"] == 2
    assert out["2024-01-03"] == 2          # both still in trailing 7d
    assert out["2024-01-07"] == 2          # day1 activity still counts
    assert out["2024-01-08"] == 1          # day1 aged out; day3 remains
    assert "2024-01-10" not in out         # everything aged out


def test_cusum_finds_planted_level_shift(spark):
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.events import cusum_change_point

    # 24h at 2 events/h then 24h at 10/h: CUSUM argmax lands at the
    # last pre-shift hour
    ev = spark.createDataFrame(
        [(i, h) for h in range(48) for i in range((2 if h < 24 else 10))],
        "i long, h long",
    ).select(
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_dt_interval(F.lit(0), F.col("h"))).alias("ts")
    )
    row = cusum_change_point(ev).collect()[0]
    assert str(row.change_hour) == "2024-01-01 23:00:00"
    assert row.n_hours == 48


def test_wow_growth_ignores_null_timestamps(spark):
    from pyspark.sql import functions as F

    from etl_gcp_spark.operators.events import wow_growth

    # two real weeks (2 then 3 events) plus a NULL-ts row; the NULL
    # must not form its own group or shift the lag ordering (Spark
    # windows order NULLS FIRST, SQL oracles NULLS LAST)
    ev = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", 1.0),
            ("2024-01-02 10:00:00", 1.0),
            ("2024-01-08 10:00:00", 2.0),
            ("2024-01-09 10:00:00", 2.0),
            ("2024-01-10 10:00:00", 2.0),
            (None, 99.0),
        ],
        "s string, value double",
    ).select(F.to_timestamp("s").alias("ts"), "value")
    rows = wow_growth(ev).collect()
    assert len(rows) == 2
    wk1, wk2 = rows
    assert str(wk1.week_start)[:10] == "2024-01-01"
    assert (wk1.n_events, wk1.total_value) == (2, 2.0)
    assert wk1.n_growth is None and wk1.value_growth is None
    assert (wk2.n_events, wk2.total_value) == (3, 6.0)
    assert wk2.n_growth == 0.5 and wk2.value_growth == 2.0


def test_watermark_sizing_buckets_late_arrivals(spark):
    """Planted out-of-order arrivals land in the right lateness
    buckets; clock-advancing events are on_time; NULLs excluded."""
    from datetime import datetime, timezone

    from etl_gcp_spark.operators.events import watermark_sizing_report

    t0 = datetime(2024, 1, 1, 12, 0, 0, tzinfo=timezone.utc)

    def ts(sec):
        return datetime.fromtimestamp(
            t0.timestamp() + sec, tz=timezone.utc
        )

    rows = [
        (1, ts(0)),       # on time (first event)
        (2, ts(100)),     # advances clock -> on time
        (3, ts(70)),      # 30s late -> late_lt_1m
        (4, ts(100)),     # 0s late (== running max) -> on_time
        (5, ts(-200)),    # 300s late -> late_lt_1h (300 not < 300)
        (6, ts(4000)),    # advances -> on time
        (7, ts(0)),       # 4000s late -> late_ge_1h
        (8, None),        # excluded
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = {r.bucket: (r.n_events, r.max_lateness_sec)
           for r in watermark_sizing_report(df).collect()}
    assert out["on_time"] == (4, 0)
    assert out["late_lt_1m"] == (1, 30)
    assert out["late_lt_1h"] == (1, 300)
    assert out["late_ge_1h"] == (1, 4000)
    assert "late_lt_5m" not in out
    assert sum(n for n, _ in out.values()) == 7


def test_streaming_outer_interval_join_eviction_cutoff(spark, sf_dir):
    """Outer NULL rows emit exactly for unmatched purchases strictly
    older than the global watermark (min of both sides' max ts minus
    the 2h delay) — purchases younger than it stay in state and never
    emit in a bounded replay."""
    import os

    from pyspark.sql import functions as F

    from etl_gcp_spark.sources.readers import load_table
    from etl_gcp_spark.streaming.events import (
        run_streaming_click_purchase_join,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = run_streaming_click_purchase_join(
        spark, os.path.join(sf_dir, "events.parquet"), how="left_outer"
    ).cache()
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    wm = min(
        ev.filter(F.col("event_type") == "click").agg(F.max("ts")).first()[0],
        ev.filter(F.col("event_type") == "purchase").agg(F.max("ts")).first()[0],
    )
    from datetime import timedelta

    cutoff = wm - timedelta(hours=2)
    matched_keys = p.join(
        c,
        (p.user_id == c.cu)
        & (c.cts <= p.pts)
        & (c.cts >= p.pts - F.expr("INTERVAL 1 hour")),
        "left_semi",
    )
    unmatched = {
        r.purchase_id: r.pts
        for r in p.join(
            matched_keys.select("purchase_id"), "purchase_id", "left_anti"
        ).collect()
    }
    nulls = {r.purchase_id for r in out.filter(F.col("click_id").isNull()).collect()}
    want = {pid for pid, pts in unmatched.items() if pts < cutoff}
    assert nulls == want
    assert want  # non-vacuous
    # matched rows equal the batch inner interval join
    n_inner = p.join(
        c,
        (p.user_id == c.cu)
        & (c.cts <= p.pts)
        & (c.cts >= p.pts - F.expr("INTERVAL 1 hour")),
    ).count()
    assert out.filter(F.col("click_id").isNotNull()).count() == n_inner


def _staged_ints(path, n_files=3, per_file=4):
    """``n_files`` parquet files of ``per_file`` ids each, mtimes in
    path order — one microbatch per file under ``parquet_files``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i in range(n_files):
        f = os.path.join(path, f"part-{i}.parquet")
        ids = range(i * per_file, (i + 1) * per_file)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
    return path


def test_drain_child_session_inherits_runtime_conf_and_override(
    spark, tmp_path
):
    """A pinned drain runs on a child session that carries the
    caller's RUNTIME settings (a bare newSession() would fall back to
    the static conf) plus the state-partition override."""
    from etl_gcp_spark.streaming.staging import (
        child_session,
        drain,
        parquet_files,
    )

    parent = spark.newSession()
    parent.conf.set("spark.sql.session.timeZone", "America/New_York")
    parent.conf.set("spark.sql.shuffle.partitions", "5")

    child = child_session(
        parent, {"spark.sql.legacy.parquet.nanosAsLong": "true"}
    )
    assert child.conf.get("spark.sql.session.timeZone") == "America/New_York"
    assert child.conf.get("spark.sql.shuffle.partitions") == "5"
    assert child.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"

    files = parquet_files("id long", _staged_ints(str(tmp_path / "in")))
    seen = {}

    def source(session):
        seen["tz"] = session.conf.get("spark.sql.session.timeZone")
        seen["parts"] = session.conf.get("spark.sql.shuffle.partitions")
        seen["is_parent"] = session is parent
        return files(session)

    out = drain(parent, source, "append", state_partitions=3)
    assert sorted(r.id for r in out.collect()) == list(range(12))
    assert seen == {"tz": "America/New_York", "parts": "3", "is_parent": False}
    assert parent.conf.get("spark.sql.shuffle.partitions") == "5"


def test_drain_pinned_leaves_parent_conf_unchanged_while_running(
    spark, tmp_path
):
    """While a pinned drain is mid-batch on another thread, the
    caller's session conf is exactly what it was before it started."""
    import os
    import threading

    from etl_gcp_spark.streaming.staging import drain, parquet_files

    staged = _staged_ints(str(tmp_path / "in"), n_files=2)
    before = spark.conf.getAll
    entered, release = threading.Event(), threading.Event()
    seen = {}

    def fold(batch_df, batch_id):
        seen["parts"] = batch_df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"
        )
        entered.set()
        release.wait(60)
        batch_df.write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "out", f"b{batch_id}")
        )

    errors = []

    def run():
        try:
            drain(
                spark,
                parquet_files("id long", staged),
                fold,
                root=str(tmp_path),
                state_partitions=7,
            )
        except Exception as e:  # surfaced below
            errors.append(e)

    t = threading.Thread(target=run)
    t.start()
    try:
        assert entered.wait(120), "drain never reached its first batch"
        during = spark.conf.getAll
    finally:
        release.set()
        t.join(120)
    assert not errors, errors
    assert seen["parts"] == "7"
    assert during == before
    assert spark.conf.getAll == before


def test_drain_crash_then_resume_equals_clean_run(spark, tmp_path):
    """fail_after_batches=1 raises only after the first batch's sink
    write; a resume from the same root finishes with exactly the rows
    of a clean run, and the progress of each finished query lands in
    metering under stream.*."""
    import os

    import pytest

    from etl_gcp_spark import metering
    from etl_gcp_spark.streaming.staging import drain, parquet_files

    staged = _staged_ints(str(tmp_path / "in"))

    def sink_into(root):
        def sink(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(
                os.path.join(root, "out", f"b{batch_id}")
            )

        return sink

    def rows(root):
        return sorted(
            r.id for r in spark.read.parquet(os.path.join(root, "out", "b*")).collect()
        )

    clean = str(tmp_path / "clean")
    metering.reset()
    drain(spark, parquet_files("id long", staged), sink_into(clean), root=clean)
    meters = metering.snapshot()
    assert meters["stream.batches"] == 3
    assert meters["stream.input_rows"] == 12

    crashed = str(tmp_path / "crashed")
    with pytest.raises(Exception, match="injected crash"):
        drain(
            spark,
            parquet_files("id long", staged),
            sink_into(crashed),
            root=crashed,
            fail_after_batches=1,
        )
    # the crash came AFTER the first batch's write, before its commit
    assert os.listdir(os.path.join(crashed, "out")) == ["b0"]
    drain(spark, parquet_files("id long", staged), sink_into(crashed), root=crashed)
    assert rows(crashed) == rows(clean) == list(range(12))
