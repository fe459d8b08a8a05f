"""Warehouse maintenance: small-file compaction must preserve contents
exactly while collapsing each date partition to one file."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nginx_analytics_spark.sources import load_table
from nginx_analytics_spark.sources.warehouse import Warehouse

SF = "/root/testdata/sf0.001"


def _enriched(spark):
    ev = load_table(spark, SF, "events")
    return ev.select(
        F.col("ts").alias("timestamp"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("remote_addr"),
        F.col("value").alias("request_time_seconds"),
        "event_id",
    )


def _parquet_files_per_date(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n and "log_date=" in dirpath:
            out[os.path.basename(dirpath)] = n
    return out


def test_compact_collapses_files_and_preserves_rows(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    src = _enriched(spark)
    # three appends -> >= 3 files in every touched date partition
    for _ in range(3):
        wh.append_raw_logs(src)

    before_files = _parquet_files_per_date(wh.path("raw_logs"))
    assert before_files and all(n >= 3 for n in before_files.values())
    before = (
        wh.table("raw_logs")
        .groupBy("log_date")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.hash("remote_addr", "event_id").cast("bigint")).alias("sig"),
        )
        .collect()
    )

    total = wh.compact_raw_logs()

    after_files = _parquet_files_per_date(wh.path("raw_logs"))
    assert set(after_files) == set(before_files)
    assert all(n == 1 for n in after_files.values()), after_files
    assert total == len(after_files)
    after = (
        wh.table("raw_logs")
        .groupBy("log_date")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.hash("remote_addr", "event_id").cast("bigint")).alias("sig"),
        )
        .collect()
    )
    key = lambda rows: {str(r.log_date): (r.n, r.sig) for r in rows}  # noqa: E731
    assert key(after) == key(before)
    # window reads still work post-swap (catalog/path integrity)
    assert wh.raw_logs_window("2024-01-31 00:00:00", 7).count() > 0


def test_compact_rerunnable_after_crash_artifacts(spark, tmp_path):
    """A stale __compact_old dir (crash after the swap) must not wedge the
    next run; a missing live dir with old present (crash between renames)
    must roll forward."""
    import os
    import shutil

    wh = Warehouse(spark, str(tmp_path))
    wh.append_raw_logs(_enriched(spark))
    n_before = wh.table("raw_logs").count()
    src = wh.path("raw_logs")

    # crash after swap: old left behind
    shutil.copytree(src, src + "__compact_old")
    assert wh.compact_raw_logs() > 0
    assert not os.path.exists(src + "__compact_old")
    assert wh.table("raw_logs").count() == n_before

    # crash between renames: live dir gone, old holds the table
    os.rename(src, src + "__compact_old")
    assert wh.compact_raw_logs() > 0
    assert wh.table("raw_logs").count() == n_before


@pytest.mark.parametrize("writer", ["append", "exactly_once", "compact"])
def test_raw_logs_files_are_sort_key_sorted(spark, tmp_path, writer):
    """The layout every raw_logs writer promises, read back from the
    parquet files themselves: each ``log_date`` file holds its rows in
    ``remote_addr`` order, and its row groups' footer min/max ranges
    follow one another — the row-group pruning point/IP predicates rely
    on. (Spark's planned writes sort on ``log_date`` in front of
    ``partitionBy`` and drop a one-key ``sortWithinPartitions``; the
    sort must lead with ``log_date``.)"""
    import glob

    import pyarrow.parquet as pq

    wh = Warehouse(spark, str(tmp_path))
    src = spark.range(40_000).select(
        F.timestamp_seconds(
            F.lit(1_706_000_000) + F.pmod(F.xxhash64("id"), F.lit(4 * 86_400))
        ).alias("timestamp"),
        F.sha2(F.col("id").cast("string"), 256).substr(1, 12).alias("remote_addr"),
        F.col("id").alias("event_id"),
    ).repartition(4)
    if writer == "exactly_once":
        wh.append_raw_logs_exactly_once(src, batch_id=0)
        root = wh.path("raw_logs_eo")
    else:
        wh.append_raw_logs(src)
        root = wh.path("raw_logs")
        if writer == "compact":
            wh.append_raw_logs(src)
            assert wh.compact_raw_logs() == len(_parquet_files_per_date(root))
    files = glob.glob(f"{root}/**/log_date=*/*.parquet", recursive=True)
    assert len({os.path.dirname(f) for f in files}) >= 4
    for f in files:
        addrs = pq.read_table(f, columns=["remote_addr"]).column(0).to_pylist()
        assert addrs == sorted(addrs), f
        md = pq.read_metadata(f)
        col = md.schema.names.index("remote_addr")
        ranges = [
            (md.row_group(g).column(col).statistics.min,
             md.row_group(g).column(col).statistics.max)
            for g in range(md.num_row_groups)
        ]
        assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:])), f


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the same key must sort-merge join with
    ZERO Exchange — the at-rest co-location contract of
    warehouse.write_bucketed."""
    import io
    from contextlib import redirect_stdout

    from nginx_analytics_spark.sources.warehouse import write_bucketed

    ev = load_table(spark, SF, "events")
    facts = ev.select("event_id", "user_id", "value")
    dims = ev.groupBy("user_id").agg(F.avg("value").alias("u_avg"))
    # disable broadcast so the plan must pick the co-located SMJ — the
    # shape a 100 TB fact-fact join takes, where neither side broadcasts
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", None
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        write_bucketed(facts, "bt_facts", "user_id", n_buckets=4)
        write_bucketed(dims, "bt_dims", "user_id", n_buckets=4)
        joined = spark.table("bt_facts").join(spark.table("bt_dims"), "user_id")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # and the join actually works
        n = joined.count()
        assert n == facts.count()
    finally:
        for k, v in saved.items():
            if v:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS bt_facts")
        spark.sql("DROP TABLE IF EXISTS bt_dims")


def test_bucketed_raw_logs_anomaly_chain_zero_exchange(spark, tmp_path):
    """The full anomaly chain (7-day hourly history reagg + batch per-key
    stats + history join) over a raw_logs table bucketed by remote_addr
    must plan with ZERO Exchange: every stage clusters on the bucket key,
    so the at-rest layout replaces all three shuffles. This is the 100 TB
    deployment of the detection cycle — the fact table is never
    re-shuffled per batch."""
    import io
    from contextlib import redirect_stdout

    from nginx_analytics_spark.operators import aggregates, anomaly

    wh = Warehouse(spark, str(tmp_path))
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", None
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        wh.write_raw_logs_bucketed(_enriched(spark), table="bt_raw_logs", n_buckets=4)
        raw = spark.table("bt_raw_logs")
        history = aggregates.hourly_reagg(
            raw, "remote_addr", "timestamp", "2024-01-30 00:00:00"
        )
        batch = raw.filter(F.col("timestamp") > F.lit("2024-01-30 00:00:00"))
        stats = aggregates.key_stats(batch, "remote_addr", "request_time_seconds")
        scored = anomaly.score_keys(
            stats, history, "remote_addr", broadcast_history=False
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            scored.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert scored.count() > 0
    finally:
        for k, v in saved.items():
            if v:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS bt_raw_logs")


def test_bucketed_aggregation_has_no_exchange(spark):
    """A groupBy on the bucket key reads pre-distributed buckets — no
    shuffle before the aggregation either."""
    import io
    from contextlib import redirect_stdout

    from nginx_analytics_spark.sources.warehouse import write_bucketed

    ev = load_table(spark, SF, "events")
    try:
        write_bucketed(
            ev.select("event_id", "user_id", "value"), "bt_agg", "user_id", 4
        )
        agg = spark.table("bt_agg").groupBy("user_id").agg(F.sum("value"))
        buf = io.StringIO()
        with redirect_stdout(buf):
            agg.explain("formatted")
        assert "Exchange" not in buf.getvalue()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_agg")


def test_exactly_once_sink_retry_idempotent(spark, tmp_path):
    """X73: the batch-id-directory sink is retry-idempotent. Replaying
    the SAME batch id (Spark's foreachBatch retry contract) must leave
    the table unchanged where the plain append sink would duplicate;
    a new batch id appends; log_date partitioning survives underneath."""
    from nginx_analytics_spark import jobs

    wh = Warehouse(spark, str(tmp_path / "wh"))
    src = jobs.enriched_events(spark, SF)
    b0 = src.filter(F.col("event_id") % 2 == 0)
    b1 = src.filter(F.col("event_id") % 2 == 1)

    wh.append_raw_logs_exactly_once(b0, batch_id=0)
    n0 = wh.raw_logs_exactly_once().count()
    assert n0 == b0.count()

    wh.append_raw_logs_exactly_once(b0, batch_id=0)  # the retry
    assert wh.raw_logs_exactly_once().count() == n0  # NOT doubled

    wh.append_raw_logs_exactly_once(b1, batch_id=1)
    assert wh.raw_logs_exactly_once().count() == src.count()
    assert "log_date" in wh.raw_logs_exactly_once().columns
    assert "ingest_batch" not in wh.raw_logs_exactly_once().columns

    # contrast: the plain append sink duplicates on replay
    wh.append_raw_logs(b0)
    wh.append_raw_logs(b0)
    assert wh.table("raw_logs").count() == 2 * n0


def test_exactly_once_ingest_reprocess_no_duplicates(spark, tmp_path):
    """X73 end-to-end: a fresh-checkpoint rerun over the same source
    deduplicates ONLY because the re-delivery regroups into the same
    batch ids (availableNow with no file cap -> everything is batch 0
    both times, which then overwrites itself). That is this scenario's
    property, NOT a general checkpoint-loss guarantee: idempotency is
    per batch id, so a rerun that regroups differently (e.g. a file cap
    added) WOULD leave stale higher-numbered batch dirs behind. The
    durable contract — same-batch-id retry replaces its own output — is
    the previous test's subject."""
    from nginx_analytics_spark.operators.logview import events_as_nginx_jsonl
    from nginx_analytics_spark.streaming.ingest import jsonl_stream, start_ingest

    work = str(tmp_path)
    jsonl_dir = f"{work}/jsonl"
    events_as_nginx_jsonl(load_table(spark, SF, "events")).coalesce(
        2
    ).write.mode("overwrite").text(jsonl_dir)
    wh = Warehouse(spark, f"{work}/wh")

    q = start_ingest(
        jsonl_stream(spark, jsonl_dir), wh, f"{work}/ckpt1",
        trigger={"availableNow": True}, exactly_once=True,
    )
    q.awaitTermination()
    n = wh.raw_logs_exactly_once().count()
    assert n > 0

    q = start_ingest(
        jsonl_stream(spark, jsonl_dir), wh, f"{work}/ckpt2",
        trigger={"availableNow": True}, exactly_once=True,
    )
    q.awaitTermination()
    assert wh.raw_logs_exactly_once().count() == n
