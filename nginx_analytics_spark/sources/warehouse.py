"""Warehouse — the engine's Parquet-backed store.

Replaces the reference's Postgres warehouse (reference postgres/init.sql):

  raw_logs                   -> Parquet partitioned by log_date (daily)
  anomalies                  -> Parquet append
  response_time_predictions  -> Parquet append
  traffic_forecasts          -> Parquet append (dead schema in the reference,
                                init.sql:71-77 — implemented as a real sink)

Index translation (SURVEY.md §1.3): the reference's btree indexes on
timestamp/endpoint/remote_addr become (a) daily partition pruning on
log_date for every trailing-window predicate, and (b) Parquet min/max
row-group stats — we sort within partitions by remote_addr so point/IP
predicates prune row groups. Every raw_logs writer sorts on
(log_date, remote_addr): Spark's planned writes sort on the partition
column in front of ``partitionBy`` and drop a preceding sort that does
not start with it, so a one-key sort leaves the files unsorted
(tests/test_warehouse.py reads the order back from the files).
``DEFAULT CURRENT_TIMESTAMP`` columns (init.sql:57, :67, :76) are
stamped at write.

Scale notes: daily partitions at 100 TB/year ≈ 280 GB/day — healthy
partition size for pruning without small-file explosion; within a day the
writer targets file sizes via the session's maxRecordsPerFile/AQE coalesce
rather than a fixed repartition count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RAW_LOGS = "raw_logs"
RAW_LOGS_EO = "raw_logs_eo"  # exactly-once variant (batch-id directories)
ANOMALIES = "anomalies"
RESPONSE_TIME_PREDICTIONS = "response_time_predictions"
TRAFFIC_FORECASTS = "traffic_forecasts"

RESULT_TABLES = (ANOMALIES, RESPONSE_TIME_PREDICTIONS, TRAFFIC_FORECASTS)


class Warehouse:
    """A directory of Parquet tables + session-catalog views."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # -- writers ----------------------------------------------------------

    def append_raw_logs(self, enriched: DataFrame, sort_by: str = "remote_addr") -> None:
        """Append enriched events, partitioned by log_date.

        ``sortWithinPartitions`` clusters each file by the hottest point-
        lookup key so Parquet min/max stats act as the btree replacement
        (led by ``log_date``; see the module note).
        """
        (
            enriched.withColumn("log_date", F.to_date("timestamp"))
            .sortWithinPartitions("log_date", sort_by)
            .write.mode("append")
            .partitionBy("log_date")
            .parquet(self.path(RAW_LOGS))
        )

    def append_raw_logs_exactly_once(
        self,
        enriched: DataFrame,
        batch_id: int,
        sort_by: str = "remote_addr",
    ) -> None:
        """X73: the idempotent foreachBatch sink — effectively-exactly-once
        Parquet. ``append_raw_logs`` is at-least-once: a micro-batch that
        fails AFTER its files land and then retries appends a second
        copy. Here each batch lands under its own ``ingest_batch=<id>``
        directory with OVERWRITE semantics, so a retry (same epoch id —
        Spark's foreachBatch contract) REPLACES the batch's own output
        instead of duplicating it. Combined with checkpointed offsets
        this is the standard exactly-once recipe for non-transactional
        sinks: deterministic batch id + idempotent write. The guarantee
        is PER BATCH ID — it covers retries within a checkpointed run;
        after a checkpoint LOSS it deduplicates only if the re-delivery
        regroups into the same batch ids (true for an uncapped
        availableNow drain, not in general). The extra
        directory level is the cost — a table format's metadata commit
        (Iceberg/Delta) buys the same guarantee without it; reading goes
        through :meth:`raw_logs_exactly_once`, which hides the level."""
        dest = os.path.join(self.path(RAW_LOGS_EO), f"ingest_batch={batch_id}")
        (
            enriched.withColumn("log_date", F.to_date("timestamp"))
            .sortWithinPartitions("log_date", sort_by)
            .write.mode("overwrite")
            .partitionBy("log_date")
            .parquet(dest)
        )

    def raw_logs_exactly_once(self) -> DataFrame:
        """Logical view of the exactly-once raw_logs: partition discovery
        exposes the ingest_batch bookkeeping level; drop it so consumers
        see the same schema ``append_raw_logs`` produces (log_date
        partition pruning still applies — it remains a partition column
        one level down)."""
        return self.spark.read.parquet(self.path(RAW_LOGS_EO)).drop(
            "ingest_batch"
        )

    def append(self, table: str, df: DataFrame, stamp: str | None = None) -> None:
        """Append a result frame; ``stamp`` adds the DEFAULT
        CURRENT_TIMESTAMP column of the reference DDL."""
        if stamp:
            df = df.withColumn(stamp, F.current_timestamp())
        df.write.mode("append").parquet(self.path(table))

    def append_anomalies(self, df: DataFrame) -> None:
        self.append(ANOMALIES, df, stamp="detection_time")

    def append_predictions(self, df: DataFrame) -> None:
        self.append(RESPONSE_TIME_PREDICTIONS, df, stamp="prediction_timestamp")

    def append_forecasts(self, df: DataFrame) -> None:
        self.append(TRAFFIC_FORECASTS, df, stamp="prediction_timestamp")

    def compact_raw_logs(self, sort_by: str = "remote_addr") -> int:
        """Small-file compaction for the raw_logs table (the maintenance
        job every append-heavy partitioned store needs): rewrite each
        log_date partition as one file, re-sorted by the point-lookup key
        so Parquet min/max stats stay effective, then atomically swap the
        directory. Returns the number of data files after compaction.

        ``repartition(log_date)`` hashes each date's rows into a single
        shuffle partition, so each partition directory gets exactly one
        file; at 100 TB raise the file count per date by repartitioning on
        (log_date, bucket) instead — the swap protocol is unchanged. The
        rewrite stages to a sibling temp dir (never reads and overwrites
        the same path — Spark forbids it, and a mid-job crash must not
        destroy the live table).

        Crash protocol (re-runnable from any interruption point): stale
        tmp/old dirs are cleared on entry, and a crash that happened
        between the two renames (live dir momentarily absent) is rolled
        forward by restoring ``old`` as the live table. The rename pair
        itself is not one atomic operation — a plain filesystem cannot
        swap directories atomically; at scale that last gap is what a
        table format's metadata commit (Iceberg/Delta) closes."""
        import shutil

        src = self.path(RAW_LOGS)
        tmp, old = src + "__compact_tmp", src + "__compact_old"
        if not os.path.isdir(src) and os.path.isdir(old):
            os.rename(old, src)  # roll forward a crash between the renames
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        (
            self.spark.read.parquet(src)
            .repartition(F.col("log_date"))
            .sortWithinPartitions("log_date", sort_by)
            .write.mode("overwrite")
            .partitionBy("log_date")
            .parquet(tmp)
        )
        os.rename(src, old)
        os.rename(tmp, src)
        shutil.rmtree(old, ignore_errors=True)
        n = 0
        for _, _, files in os.walk(src):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def write_raw_logs_bucketed(
        self,
        enriched: DataFrame,
        table: str = "raw_logs_bucketed",
        key: str = "remote_addr",
        n_buckets: int = 8,
    ) -> None:
        """The bucketed-at-rest deployment of the fact table itself:
        raw_logs written as a catalog table hash-bucketed by the anomaly
        key (``remote_addr``) and date-partitioned for pruning.

        Every stage of the anomaly chain then runs WITHOUT a shuffle —
        the hourly history aggregation, the batch per-key stats, and the
        history join all cluster on ``remote_addr``, which the bucket
        layout already satisfies (asserted zero-Exchange in
        tests/test_warehouse.py). At 100 TB this deletes the per-batch
        fact-table shuffle the reference pays on every detection cycle
        (its Postgres history query re-sorts by remote_addr each run).
        """
        write_bucketed(
            enriched.withColumn("log_date", F.to_date("timestamp")),
            table,
            key,
            n_buckets=n_buckets,
            partition_by="log_date",
        )

    # -- readers / catalog ------------------------------------------------

    def table(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for _, _, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def register_views(self) -> None:
        """The Superset-dataset equivalent: every table as a SELECT * view
        (reference superset/setup_dashboards.py:54-59)."""
        for t in (RAW_LOGS, *RESULT_TABLES):
            if self.exists(t):
                self.table(t).createOrReplaceTempView(t)

    def raw_logs_window(self, as_of: str, days: int) -> DataFrame:
        """Trailing-window scan of raw_logs with partition pruning: the
        log_date predicate prunes daily partitions before any file is
        opened — the 100 TB replacement for the reference's
        ``timestamp > NOW() - INTERVAL '7 days'`` btree scan."""
        hi = F.lit(as_of).cast("timestamp")
        lo = hi - F.expr(f"INTERVAL {days} DAYS")
        return self.table(RAW_LOGS).filter(
            (F.col("log_date") >= F.to_date(lo))
            & (F.col("timestamp") > lo)
            & (F.col("timestamp") <= hi)
        )


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 8,
    mode: str = "overwrite",
    partition_by: str | None = None,
) -> None:
    """Write ``df`` as a BUCKETED parquet table in the session catalog:
    rows are hash-distributed into ``n_buckets`` files per partition by
    ``key`` and sorted by it within each bucket.

    This is the at-rest layout that removes the shuffle from every
    downstream equi-join/aggregation on ``key``: two tables bucketed the
    same way join with ZERO Exchange (asserted in
    tests/test_warehouse.py) — at 100 TB that is the difference between
    re-shuffling the fact table per query and reading co-located
    buckets. Bucket metadata lives in the session catalog
    (``saveAsTable``); plain path-based parquet cannot carry it, which
    is why this writer is catalog-based while the Warehouse tables are
    path-based (their consumers aggregate, they don't repeatedly
    self-join).
    """
    w = df.write.mode(mode).format("parquet")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.bucketBy(n_buckets, key).sortBy(key).saveAsTable(name)
