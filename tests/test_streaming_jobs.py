"""End-to-end streaming serving-layer tests (VERDICT r1 items 1/8):
the anomaly job's first-batch empty-history branch, the empty-micro-batch
guard, and the StreamingQueryListener actually observing progress.

The oracle-diff suite covers the seeded-history two-batch path
(anomaly_job_roundtrip); these tests cover the branches an SQL oracle
can't reach.
"""

from __future__ import annotations

import pandas as pd
import pytest

from nginx_analytics_spark.operators.index_fs import (
    banded_index_compact,
    banded_index_read,
    banded_index_recover,
    cell_index_verify,
    read_sidecar,
    writer_lock_path,
)
from nginx_analytics_spark.sources.warehouse import Warehouse
from nginx_analytics_spark.streaming.dedup_ingest import EMBEDDING, TEXT
from nginx_analytics_spark.streaming.metrics import BatchMetricsListener
from nginx_analytics_spark.streaming.windows import start_anomaly_job

SCHEMA = (
    "timestamp timestamp, remote_addr string, request_time_seconds double, "
    "request_uri string, event_id long"
)


def _write_batch(path, keys_counts, t0="2024-01-30 12:00:00"):
    rows = []
    eid = 0
    for key, n in keys_counts:
        for i in range(n):
            rows.append(
                {
                    "timestamp": pd.Timestamp(t0) + pd.Timedelta(seconds=eid),
                    "remote_addr": key,
                    "request_time_seconds": 0.1 * (i + 1),
                    "request_uri": f"/api/x/{key}",
                    "event_id": eid,
                }
            )
            eid += 1
    df = pd.DataFrame(
        rows,
        columns=[
            "timestamp",
            "remote_addr",
            "request_time_seconds",
            "request_uri",
            "event_id",
        ],
    )
    df["timestamp"] = df["timestamp"].astype("datetime64[us]")
    df.to_parquet(path)


def test_anomaly_job_first_batch_empty_history_and_empty_batch_guard(spark, tmp_path):
    """No raw_logs seeded -> only the new-key rule can fire (score NULL,
    reason 'New high-volume source'); a zero-row first micro-batch must be
    skipped by the isEmpty guard; the listener must see both batches."""
    src_dir = tmp_path / "batches"
    src_dir.mkdir()
    # batch 0: zero rows (exercises the A4 isEmpty guard)
    _write_batch(src_dir / "batch0.parquet", [])
    # batch 1: one hot new key (15 > 10) and one cold key (3 <= 10)
    _write_batch(src_dir / "batch1.parquet", [("hot", 15), ("cold", 3)])

    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        wh = Warehouse(spark, str(tmp_path / "wh"))
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src_dir))
        )
        q = start_anomaly_job(
            stream,
            wh,
            str(tmp_path / "ckpt"),
            as_of_of_batch=lambda _df: "2024-01-31 00:00:00",
            new_key_count=10,
            trigger={"availableNow": True},
        )
        qid = q.id
        q.awaitTermination()

        out = wh.table("anomalies").collect()
        assert len(out) == 15
        assert {r.remote_addr for r in out} == {"hot"}
        assert all(r.anomaly_reason == "New high-volume source" for r in out)
        assert all(r.anomaly_score is None for r in out)  # no history -> no z
        assert all(r.is_anomaly for r in out)
        assert all(r.detection_time is not None for r in out)

        # S11: the listener observed both micro-batches, including the empty one
        batches = listener.wait_for_batches(qid, 2)
        rows_per_batch = sorted(r["num_input_rows"] for r in batches)
        assert rows_per_batch == [0, 18]
        assert all("triggerExecution" in r["duration_ms"] for r in batches)
    finally:
        spark.streams.removeListener(listener)


def test_streaming_dedup_across_micro_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark must drop a key's re-arrival in a
    LATER micro-batch (state carries across batches within the delay)."""
    import pandas as pd

    from nginx_analytics_spark.streaming.windows import dedup_within_watermark

    d = tmp_path / "src"
    d.mkdir()

    def write(path, ids, secs):
        df = pd.DataFrame(
            {
                "event_id": ids,
                "timestamp": [
                    pd.Timestamp("2024-01-30 12:00:00") + pd.Timedelta(seconds=s)
                    for s in secs
                ],
            }
        )
        df["timestamp"] = df["timestamp"].astype("datetime64[us]")
        df.to_parquet(path)

    write(d / "a.parquet", [1, 2, 3], [0, 1, 2])
    write(d / "b.parquet", [2, 3, 4], [3, 4, 5])  # 2,3 are dups within delay

    stream = (
        spark.readStream.schema("event_id long, timestamp timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = dedup_within_watermark(stream, ["event_id"], delay="10 minutes")
    sink = "dedup_test_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(r.event_id for r in spark.table(sink).collect())
    assert ids == [1, 2, 3, 4]


def test_anomaly_roundtrip_runs_two_micro_batches(spark, tmp_path):
    """The registered roundtrip must actually stream TWO non-empty
    micro-batches (parity split + maxFilesPerTrigger=1), not one."""
    from nginx_analytics_spark.jobs import run_anomaly_roundtrip

    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        out = run_anomaly_roundtrip(
            spark,
            "/root/testdata/sf0.001",
            str(tmp_path),
            as_of="2024-01-31 00:00:00",
            batch_start="2024-01-30 00:00:00",
            z_threshold=1.5,
            new_key_count=10,
        )
        assert out.count() > 0

        def two_nonempty() -> dict[str, list[int]]:
            by_query: dict[str, list[int]] = {}
            for r in listener.records:
                by_query.setdefault(r["query_id"], []).append(r["num_input_rows"])
            return by_query

        # listener-bus delivery is asynchronous: poll, don't read once
        import time

        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            by_query = two_nonempty()
            if any(sum(1 for n in rows if n > 0) >= 2 for rows in by_query.values()):
                break
            time.sleep(0.2)
        nonempty = [
            rows for rows in by_query.values() if sum(1 for n in rows if n > 0) >= 2
        ]
        assert nonempty, f"expected a query with 2 non-empty batches: {by_query}"
    finally:
        spark.streams.removeListener(listener)


def test_listener_reports_watermark_drops(spark, tmp_path):
    """X74: late-data observability — a row arriving beyond the
    watermark delay is silently dropped from the windowed aggregation;
    the listener must surface it via numRowsDroppedByWatermark so the
    discard is visible operationally (the only place Spark accounts
    for it). Three deterministic micro-batches, because the LATE-ROW
    FILTER applies the PREVIOUS batch's watermark: batch 0 (12:00)
    establishes event time, batch 1 (12:01) makes 11:50 the filter
    watermark for batch 2, and batch 2's 10:00 row is then dropped and
    counted."""
    import glob
    import os
    import shutil

    from datetime import datetime

    from pyspark.sql import Row

    from nginx_analytics_spark.streaming.metrics import BatchMetricsListener
    from nginx_analytics_spark.streaming.windows import windowed_counts

    work = str(tmp_path)
    batch_dir = f"{work}/batches"
    os.makedirs(batch_dir, exist_ok=True)

    def stage(name, rows):
        part = f"{work}/stage_{name}"
        spark.createDataFrame(rows, "timestamp timestamp, k string").coalesce(
            1
        ).write.mode("overwrite").parquet(part)
        shutil.copy(
            glob.glob(f"{part}/part-*.parquet")[0], f"{batch_dir}/{name}.parquet"
        )

    stage("b0", [Row(timestamp=datetime(2024, 1, 1, 12, 0, 0), k="a")])
    stage("b1", [Row(timestamp=datetime(2024, 1, 1, 12, 1, 0), k="b")])
    stage("b2", [Row(timestamp=datetime(2024, 1, 1, 10, 0, 0), k="late")])

    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.schema("timestamp timestamp, k string")
            .option("maxFilesPerTrigger", "1")
            .parquet(batch_dir)
        )
        out = windowed_counts(stream, delay="10 minutes", window="5 minutes")
        q = (
            out.writeStream.format("memory")
            .queryName("wm_drop_test")
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = listener.wait_for_batches(q.id, 3)
        assert sum(r["dropped_by_watermark"] for r in got) >= 1, got
        # the on-time rows were not dropped
        assert all(
            r["dropped_by_watermark"] == 0 for r in got if r["batch_id"] < 2
        ), got
        # and the late row's window never reaches the emitted output
        rows = spark.sql("SELECT * FROM wm_drop_test").collect()
        assert all(r.window_start.hour != 10 for r in rows)
    finally:
        spark.streams.removeListener(listener)


def test_dedup_ingest_loop_across_micro_batches(spark, tmp_path):
    """X80: the streaming dedup-ingest loop — exact dup WITHIN a batch,
    near-dup WITHIN a batch, near-dup AGAINST the corpus via the at-rest
    index, and the X79 append so a LATER batch dedups against an earlier
    batch's admissions. Three deterministic micro-batches
    (maxFilesPerTrigger=1) prove each path."""
    import pandas as pd

    from nginx_analytics_spark.streaming.dedup_ingest import start_dedup_ingest

    base_a = "the quick brown fox jumps over the lazy dog near the river"
    base_g = "completely different subject matter covering spark physical plans and shuffles today"
    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(src / name)

    # b1: two novel docs
    write("a.parquet", [(1, base_a), (2, "unrelated text about parquet row groups and min max statistics here")])
    # b2: near-dup of corpus doc 1; novel doc 4; exact dup of 4 (case/ws
    # variant); near-dup of 4 within the same batch
    write("b.parquet", [
        (3, base_a + " extra"),
        (4, base_g),
        (5, base_g.upper() + "  "),
        (6, base_g + " appended"),
    ])
    # b3: near-dup of doc 4 — caught ONLY via the index appended in b2
    write("c.parquet", [(7, base_g + " trailer")])

    corpus_dir = str(tmp_path / "corpus")
    index_path = str(tmp_path / "idx")
    seen = []
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = start_dedup_ingest(
        stream, corpus_dir, index_path, str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        on_batch=lambda bid, n_in, n_novel, lock_wait: seen.append((n_in, n_novel)),
    )
    q.awaitTermination()

    assert seen == [(2, 2), (4, 1), (1, 0)]
    got = sorted(r.doc_id for r in spark.read.parquet(corpus_dir).collect())
    assert got == [1, 2, 4]
    # the index covers exactly the admitted docs
    idx_ids = {r.doc_id for r in spark.read.parquet(index_path).collect()}
    assert idx_ids == {1, 2, 4}
    assert read_sidecar(index_path, "lsh")["shingle_n"] == 3


def test_empty_batch_still_fires_scheduled_compaction(spark, tmp_path):
    """r7 review: compaction is index-state-driven, not batch-content-
    driven — an empty micro-batch landing on the compact_every cycle
    must still compact (an idle feed would otherwise starve maintenance
    indefinitely)."""
    import os

    from nginx_analytics_spark.operators import dedup
    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    idx = str(tmp_path / "idx")
    slices = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    dedup.write_lsh_index(slices[0], idx)
    for s in slices[1:]:
        dedup.append_lsh_index(s, idx)

    empty = docs.limit(0)
    n_in, n_novel = process_batch(
        spark, empty, 0, str(tmp_path / "corpus"), idx,
        compact_every=1, max_files_per_band=1,
    )
    assert (n_in, n_novel) == (0, 0)
    for band in os.listdir(idx):
        if band.startswith("band_idx="):
            files = [
                f
                for f in os.listdir(os.path.join(idx, band))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, band


def test_loop_heals_crashed_compaction_before_probing(spark, tmp_path):
    """r7: a loop restarted after a compactor crash (band detached to
    .old between the swap renames) heals the index on its next batch —
    BEFORE the probe — so the near-dup gate never runs with a missing
    band's recall."""
    import os

    from pyspark.sql import functions as F  # noqa: F811

    from nginx_analytics_spark.operators import dedup
    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    idx = str(tmp_path / "idx")
    corpus_dir = str(tmp_path / "corpus")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    corpus.write.mode("overwrite").parquet(corpus_dir)
    dedup.write_lsh_index(corpus, idx)
    before = sorted(
        (r.doc_id, r.band_idx, r.band_hash)
        for r in spark.read.parquet(idx).collect()
    )

    # plant the mid-swap crash state on one band
    bands = sorted(d for d in os.listdir(idx) if d.startswith("band_idx="))
    os.rename(
        os.path.join(idx, bands[0]),
        os.path.join(idx, f".old-{bands[0]}-424242"),
    )

    batch = docs.filter(F.col("doc_id") % 10 == 0).limit(5)
    n_in, n_novel = process_batch(spark, batch, 0, corpus_dir, idx)
    assert n_in == 5
    # the planted band is back, plus the batch's appended keys
    restored = sorted(
        (r.doc_id, r.band_idx, r.band_hash)
        for r in spark.read.parquet(idx).collect()
        if r.doc_id in {t[0] for t in before}
    )
    assert restored == before
    assert not any(d.startswith(".old-") for d in os.listdir(idx))


def test_process_batch_refuses_foreign_mutex_holder(spark, tmp_path):
    """r8 review follow-up: when the index exists, process_batch holds
    the single-compactor mutex for the WHOLE batch — if someone else
    (an out-of-band compactor) owns it, the batch fails LOUDLY instead
    of probing an index whose bands may detach mid-swap and appending
    band keys the compactor would sweep into a reaped .old. Corpus and
    index are untouched by the refused batch; release the mutex and the
    same call succeeds."""
    import fcntl
    import os

    import pytest

    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "other entirely unrelated words about shuffle partitions")],
        "doc_id long, text string",
    )
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    assert process_batch(spark, docs, 0, corpus, idx) == (2, 2)

    more = spark.createDataFrame(
        [(3, "third document with its own fresh vocabulary and tokens")],
        "doc_id long, text string",
    )
    fd = os.open(writer_lock_path(idx), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(RuntimeError, match="ingest loop"):
            process_batch(spark, more, 1, corpus, idx)
        # the refused batch admitted nothing anywhere
        assert spark.read.parquet(corpus).count() == 2
        assert spark.read.parquet(idx).select("doc_id").distinct().count() == 2
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    assert process_batch(spark, more, 1, corpus, idx) == (1, 1)
    assert spark.read.parquet(corpus).count() == 3


def test_lock_held_is_verified_not_trusted(spark, tmp_path):
    """r8 review: lock_held=True is a verified declaration. (a) With
    the lock actually held by this process (the CLI pattern), batches
    run under it and an offline banded_index_compact fails loudly for the
    whole stream lifetime, even between batches. (b) A caller that
    passes lock_held=True WITHOUT holding gets the per-batch guard
    anyway. (c) A FOREIGN process holding the lock refuses the batch
    despite the flag."""
    import subprocess
    import sys
    import textwrap

    import pytest

    from nginx_analytics_spark.operators.index_fs import LOCAL_FS
    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "other entirely unrelated words about shuffle partitions")],
        "doc_id long, text string",
    )
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    lock = writer_lock_path(idx)

    # (a) lifetime hold: batches run, offline compaction is refused
    # between them — the CLI semantics
    with LOCAL_FS.exclusive_lock(lock, "stream-lifetime hold (test)"):
        assert process_batch(
            spark, docs, 0, corpus, idx, lock_held=True
        ) == (2, 2)
        with pytest.raises(RuntimeError, match="single-compactor"):
            banded_index_compact(spark, idx)  # "between batches"
        assert process_batch(
            spark, docs.limit(0), 1, corpus, idx, lock_held=True
        ) == (0, 0)

    # (b) lying caller: lock free -> the batch acquires it itself
    more = spark.createDataFrame(
        [(3, "third document with its own fresh vocabulary and tokens")],
        "doc_id long, text string",
    )
    assert process_batch(
        spark, more, 2, corpus, idx, lock_held=True
    ) == (1, 1)

    # (c) foreign PROCESS holder: refused despite lock_held=True
    prog = textwrap.dedent("""
        import fcntl, os, sys, time
        fd = os.open(sys.argv[1], os.O_CREAT | os.O_RDWR)
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        os.ftruncate(fd, 0); os.write(fd, str(os.getpid()).encode())
        print("locked", flush=True)
        time.sleep(60)
    """)
    holder = subprocess.Popen(
        [sys.executable, "-c", prog, lock], stdout=subprocess.PIPE
    )
    try:
        assert holder.stdout.readline().strip() == b"locked"
        with pytest.raises(RuntimeError, match="ingest loop"):
            process_batch(spark, more, 3, corpus, idx, lock_held=True)
    finally:
        holder.kill()
        holder.wait()


def test_lock_stamp_erased_on_release(tmp_path):
    """r8 ADVICE TOCTOU: the holder stamp lives in the lock file only
    WHILE the flock is held — releasing erases it, so a later verifier
    can never read this process's stale pid off a free lock (the
    window that let a lying lock_held=True proceed alongside a
    foreign acquirer that hadn't stamped yet)."""
    from nginx_analytics_spark.operators.index_fs import LOCAL_FS, LockHeldError

    lock = str(tmp_path / "x.lock")
    with LOCAL_FS.exclusive_lock(lock, "stamp test"):
        assert LOCAL_FS.read_text(lock).strip() == LOCAL_FS.holder_id()
        # and the failure type is the dedicated one
        import pytest

        with pytest.raises(LockHeldError):
            import fcntl
            import os

            fd = os.open(lock, os.O_RDWR)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                raise AssertionError("second flock should have failed")
            except BlockingIOError:
                raise LockHeldError("held") from None
            finally:
                os.close(fd)
    assert LOCAL_FS.read_text(lock) == ""


def test_lock_held_refuses_unstamped_foreign_acquirer(spark, tmp_path):
    """The closed r8 TOCTOU, end to end: a foreign flock holder that
    has NOT stamped its identity yet (the race window) leaves an empty
    stamp — a batch declaring lock_held=True must refuse, not read its
    own stale pid from a previous per-batch hold and proceed unlocked
    alongside the foreign compactor."""
    import fcntl
    import os

    import pytest

    from nginx_analytics_spark.operators.index_fs import LockHeldError
    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    # a normal per-batch hold first: pre-r9 this left our pid in the
    # lock file, which is exactly what the TOCTOU fed on
    assert process_batch(spark, docs, 0, corpus, idx) == (1, 1)

    lock = writer_lock_path(idx)
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)  # acquired, NOT stamped
    try:
        more = spark.createDataFrame(
            [(2, "second document with its own fresh vocabulary")],
            "doc_id long, text string",
        )
        with pytest.raises(LockHeldError, match="ingest loop"):
            process_batch(spark, more, 1, corpus, idx, lock_held=True)
        assert spark.read.parquet(corpus).count() == 1  # nothing admitted
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def test_recovery_backs_off_only_on_lock_held_error(tmp_path):
    """r8 ADVICE: banded_index_recover's 'live compactor, skip heal'
    branch catches exactly LockHeldError — an unrelated RuntimeError
    from a custom fs seam propagates instead of silently suppressing
    recovery."""
    import contextlib

    import pytest

    from nginx_analytics_spark.operators.index_fs import LockHeldError

    class BoomFS:
        @contextlib.contextmanager
        def exclusive_lock(self, path, purpose):
            raise RuntimeError("seam exploded for an unrelated reason")
            yield

    class HeldFS:
        @contextlib.contextmanager
        def exclusive_lock(self, path, purpose):
            raise LockHeldError("a live compactor owns it")
            yield

    with pytest.raises(RuntimeError, match="unrelated reason"):
        banded_index_recover(str(tmp_path / "idx"), fs=BoomFS())
    assert banded_index_recover(str(tmp_path / "idx"), fs=HeldFS()) is False


def test_lock_wait_telemetry_surfaces_contention(spark, tmp_path):
    """r8 verdict item 6: with lock_timeout_s set, a batch blocked on a
    foreign mutex holder WAITS (bounded) instead of dying, and the wait
    lands in telemetry["lock_wait_s"] — so a stalled out-of-band
    compactor shows up as lock contention, not as a mysteriously slow
    batch. A holder that never releases still fails loudly at the
    deadline; the uncontended path records ~0 wait."""
    import fcntl
    import os
    import threading
    import time

    import pytest

    from nginx_analytics_spark.operators.index_fs import LockHeldError
    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    tele = {}
    assert process_batch(
        spark, docs, 0, corpus, idx, telemetry=tele
    ) == (1, 1)
    assert tele["lock_wait_s"] < 0.5  # uncontended

    lock = writer_lock_path(idx)
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)

    # (a) holder releases mid-wait: the batch rides through and the
    # wait is visible in telemetry
    def release_later():
        time.sleep(0.6)
        fcntl.flock(fd, fcntl.LOCK_UN)

    t = threading.Thread(target=release_later)
    t.start()
    more = spark.createDataFrame(
        [(2, "second document with its own fresh vocabulary and tokens")],
        "doc_id long, text string",
    )
    tele = {}
    assert process_batch(
        spark, more, 1, corpus, idx, lock_timeout_s=10.0, telemetry=tele
    ) == (1, 1)
    t.join()
    assert tele["lock_wait_s"] > 0.3, tele

    # (b) holder never releases: loud failure at the bounded deadline
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        t0 = time.monotonic()
        with pytest.raises(LockHeldError, match="ingest loop"):
            process_batch(
                spark, more, 2, corpus, idx, lock_timeout_s=0.5
            )
        assert 0.4 < time.monotonic() - t0 < 5.0
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def test_acquire_lock_wait_bounds_the_startup_acquisition(tmp_path):
    """r9 review: `jobs dedup-ingest --lock-timeout N` was inert — the
    CLI's LIFETIME mutex acquisition died instantly on a held lock and
    the per-batch acquisitions (where the timeout WAS wired) can never
    contend under that lifetime hold. acquire_lock_wait is the startup
    path's bounded wait: rides out a holder that releases within the
    deadline (reporting the wait), refuses immediately at timeout 0,
    and fails loudly at the deadline against a holder that never lets
    go.

    r9 ADVICE low: the old API returned an ALREADY-entered lock plus
    waited_s as a tuple — caller code failing between the return and
    its `with lock:` (jobs.py printed in that window) left the mutex
    held until process exit with no release path. The manager is now
    un-entered until `with`: constructing it holds NOTHING, the
    bounded wait + acquisition happen inside __enter__, and the
    `as waited:` value is the seconds spent waiting."""
    import fcntl
    import os
    import threading
    import time

    import pytest

    from nginx_analytics_spark.operators.index_fs import (
        LOCAL_FS,
        LockHeldError,
        acquire_lock_wait,
    )

    lock_path = str(tmp_path / "idx.compact.lock")

    # the r9 ADVICE regression: constructing the manager acquires
    # nothing — a foreign acquisition between construction and entry
    # succeeds, so a caller that dies in that window leaks no mutex
    cm = acquire_lock_wait(LOCAL_FS, lock_path, "test", 5.0)
    with LOCAL_FS.exclusive_lock(lock_path, "free until entered"):
        pass

    # uncontended: enters at once, ~0 wait, and actually holds
    with cm as waited:
        assert waited < 0.5
        with pytest.raises(LockHeldError):
            LOCAL_FS.exclusive_lock(lock_path, "probe").__enter__()
    # and releases on exit
    with LOCAL_FS.exclusive_lock(lock_path, "released after with"):
        pass

    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        # timeout 0 = the plain fail-fast semantics, one attempt; the
        # refusal surfaces at ENTRY (construction still holds nothing)
        with pytest.raises(LockHeldError):
            with acquire_lock_wait(LOCAL_FS, lock_path, "test", 0.0):
                raise AssertionError("must not enter against a holder")

        # holder releases mid-wait: acquisition rides through and the
        # wait is visible (the number the CLI prints at startup)
        t = threading.Thread(
            target=lambda: (time.sleep(0.6), fcntl.flock(fd, fcntl.LOCK_UN))
        )
        t.start()
        with acquire_lock_wait(LOCAL_FS, lock_path, "test", 10.0) as waited:
            assert waited > 0.3
        t.join()

        # holder never releases: loud failure at the bounded deadline
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        t0 = time.monotonic()
        with pytest.raises(LockHeldError):
            with acquire_lock_wait(LOCAL_FS, lock_path, "test", 0.5):
                raise AssertionError("must not enter against a holder")
        assert 0.4 < time.monotonic() - t0 < 5.0

        # a LockHeldError raised by the BODY propagates instead of
        # triggering a bogus re-acquisition/second-yield
        fcntl.flock(fd, fcntl.LOCK_UN)
        with pytest.raises(LockHeldError, match="from the body"):
            with acquire_lock_wait(LOCAL_FS, lock_path, "test", 0.5):
                raise LockHeldError("from the body")
        # and the mutex was still released on that error path
        with LOCAL_FS.exclusive_lock(lock_path, "released after error"):
            pass
    finally:
        import contextlib

        with contextlib.suppress(OSError):
            os.close(fd)


def _unit_vecs(seed: int, n: int, dim: int = 64):
    """n seeded random unit vectors (near-orthogonal in 64-dim)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, dim))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _perturb(v, seed: int, eps: float = 0.05):
    """A unit near-duplicate of v (cosine ~0.999 at eps=0.05)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    w = v + eps * rng.normal(size=v.shape).astype(np.float32)
    return (w / np.linalg.norm(w)).astype(np.float32)


def _write_emb_parquet(path, rows, mtime: int | None = None):
    """(vec_id, embedding) rows as ONE parquet file with an explicit
    array<float> schema (pandas inference would widen to double and
    break the stream reader's declared schema). ``mtime`` pins the
    file's modification time: the file stream source orders batches by
    modTime, and three files written milliseconds apart can TIE at the
    source's resolution and deliver out of order (flaked once in a full
    suite run — b2's cross-batch near-dup then probed an index that
    didn't hold its ancestor yet)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
    )
    table = pa.table(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [list(map(float, r[1])) for r in rows],
        },
        schema=schema,
    )
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def test_embedding_ingest_loop_across_micro_batches(spark, tmp_path):
    """X85: the streaming SEMANTIC dedup-ingest loop — exact dup (bit-
    identical vector) WITHIN a batch, near-dup (cosine >= threshold)
    WITHIN a batch, near-dup AGAINST the corpus via the at-rest SRP
    index, and the append so a LATER batch dedups against an earlier
    batch's admissions. Three deterministic micro-batches
    (maxFilesPerTrigger=1) prove each path — the text loop's battery
    (test_dedup_ingest_loop_across_micro_batches) transposed to the
    embedding modality at the production 0.85 threshold."""
    from nginx_analytics_spark.streaming.dedup_ingest import start_dedup_ingest

    v = _unit_vecs(11, 3)  # v[0], v[1] novel bases; v[2] a third base
    src = tmp_path / "src"
    src.mkdir()
    # b1: two novel vectors
    _write_emb_parquet(src / "a.parquet", [(1, v[0]), (2, v[1])],
                       mtime=1700000000)
    # b2: near-dup of corpus vec 1 (via index probe); novel vec 4;
    # exact dup of 4 (bit-identical); near-dup of 4 within the batch
    _write_emb_parquet(src / "b.parquet", [
        (3, _perturb(v[0], 21)),
        (4, v[2]),
        (5, v[2]),
        (6, _perturb(v[2], 22)),
    ], mtime=1700000060)
    # b3: near-dup of vec 4 — caught ONLY via the index appended in b2
    _write_emb_parquet(src / "c.parquet", [(7, _perturb(v[2], 23))],
                       mtime=1700000120)

    corpus_dir = str(tmp_path / "corpus")
    index_path = str(tmp_path / "idx")
    seen = []
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = start_dedup_ingest(
        stream, corpus_dir, index_path, str(tmp_path / "ckpt"),
        modality=EMBEDDING,
        trigger={"availableNow": True},
        on_batch=lambda bid, n_in, n_novel, lock_wait: seen.append(
            (n_in, n_novel)
        ),
    )
    q.awaitTermination()

    assert seen == [(2, 2), (4, 1), (1, 0)]
    got = sorted(r.vec_id for r in spark.read.parquet(corpus_dir).collect())
    assert got == [1, 2, 4]
    # the index covers exactly the admitted vectors, one row per band
    idx_rows = spark.read.parquet(index_path).collect()
    assert {r.vec_id for r in idx_rows} == {1, 2, 4}
    assert len(idx_rows) == 3 * 8
    assert read_sidecar(index_path, "srp")["n_planes"] == 64


_MODALITIES = {"text": TEXT, "embedding": EMBEDDING}


def _two_distant_rows(spark, kind):
    """Ids 1 and 2, far apart under the modality's similarity."""
    if kind == "text":
        return spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (2, "totally separate words about broadcast joins and bloom filters")],
            "doc_id long, text string",
        )
    v = _unit_vecs(31, 2)
    return spark.createDataFrame(
        [(1, [float(x) for x in v[0]]), (2, [float(x) for x in v[1]])],
        "vec_id long, embedding array<float>",
    )


@pytest.mark.parametrize("kind", ["text", "embedding"])
def test_ingest_exactly_once_retry(spark, tmp_path, kind):
    """X80/X85 + X73 composition: a retried micro-batch (same epoch id)
    must REPLACE its own corpus output under exactly_once=True — and the
    replayed index append must not change probe RESULTS (duplicate band
    rows collapse in the candidate distinct; replayed rows self-match
    only on their own ids, which the probe's id inequality excludes),
    only index bytes. The plain-append contrast duplicates, pinning why
    the flag exists."""
    from nginx_analytics_spark.streaming.dedup_ingest import (
        process_batch,
        read_corpus,
    )

    m = _MODALITIES[kind]
    rows = _two_distant_rows(spark, kind)

    def ids(corpus):
        return sorted(r[m.id_col] for r in read_corpus(spark, corpus).collect())

    eo = str(tmp_path / "eo")
    got1 = process_batch(spark, rows, 0, eo, str(tmp_path / "idx_eo"),
                         modality=m, exactly_once=True)
    got2 = process_batch(spark, rows, 0, eo, str(tmp_path / "idx_eo"),
                         modality=m, exactly_once=True)  # same-id retry
    assert got1 == (2, 2)
    assert got2 == (2, 2)  # replay re-admits (self-matches excluded by id)
    assert ids(eo) == [1, 2]
    # index holds duplicate band rows after replay — bytes, not results
    idx = spark.read.parquet(str(tmp_path / "idx_eo"))
    assert idx.count() == 2 * idx.distinct().count()

    plain = str(tmp_path / "plain")
    process_batch(spark, rows, 0, plain, str(tmp_path / "idx_p"), modality=m)
    process_batch(spark, rows, 0, plain, str(tmp_path / "idx_p"), modality=m)
    assert ids(plain) == [1, 1, 2, 2]  # at-least-once append duplicates on replay


def _compaction_case(spark, kind):
    """Three micro-batches per modality plus the loop settings and the
    expected admissions: (batches, compact_every, max_files_per_band,
    per-batch (n_in, n_novel), admitted ids)."""
    if kind == "text":
        base_a = "the quick brown fox jumps over the lazy dog near the river"
        base_g = ("completely different subject matter covering spark "
                  "physical plans and shuffles today")
        batches = [
            [(1, base_a), (2, "unrelated text about parquet row groups and min max statistics here")],
            [(3, base_a + " extra"), (4, base_g)],
            [(7, base_g + " trailer")],
        ]
        frames = [
            spark.createDataFrame(b, "doc_id long, text string") for b in batches
        ]
        # compact_every defaults max_files_per_band=8
        return frames, 1, 8, [(2, 2), (2, 1), (1, 0)], [1, 2, 4]
    v = _unit_vecs(41, 9)
    frames = [
        spark.createDataFrame(
            [(b * 3 + i, [float(x) for x in v[b * 3 + i]]) for i in range(3)],
            "vec_id long, embedding array<float>",
        )
        for b in range(3)
    ]
    return frames, 3, 1, [(3, 3)] * 3, list(range(9))


@pytest.mark.parametrize("kind", ["text", "embedding"])
def test_ingest_with_in_loop_compaction(spark, tmp_path, kind):
    """X82 in the X80/X85 loop: compact_every folds the shared per-band
    compaction into the loop's own writer thread. Admissions are
    IDENTICAL to the uncompacted loop (compaction is layout-only); when
    the cycle fires with a forcing threshold (embedding: batch id 2,
    (2+1) % 3 == 0, max_files_per_band=1) band dirs are rewritten into
    range-partitioned files (<= default target), not the 2-3 append
    files each band accumulated; a final forced compaction reaches the
    1-file floor; and the index content equals a one-shot rebuild over
    the admitted corpus."""
    import os

    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    m = _MODALITIES[kind]
    frames, every, max_files, want_counts, want_ids = _compaction_case(spark, kind)
    corpus_dir = str(tmp_path / "corpus")
    index_path = str(tmp_path / "idx")
    counts = [
        process_batch(
            spark, b, i, corpus_dir, index_path, modality=m,
            compact_every=every, max_files_per_band=max_files,
        )
        for i, b in enumerate(frames)
    ]
    assert counts == want_counts  # same admissions as uncompacted
    admitted = spark.read.parquet(corpus_dir)
    assert sorted(r[m.id_col] for r in admitted.collect()) == want_ids
    rows = banded_index_read(spark, index_path)
    assert {r[m.id_col] for r in rows.collect()} == set(want_ids)

    def band_files():
        return {
            d: [
                f
                for f in os.listdir(os.path.join(index_path, d))
                if f.endswith(".parquet")
            ]
            for d in os.listdir(index_path)
            if d.startswith("band_idx=")
        }

    for d, files in band_files().items():
        assert len(files) <= 2, (d, files)
    # force a final full compaction to the 1-file floor to check the
    # invariant end-state
    banded_index_compact(spark, index_path, max_files_per_band=1)
    for d, files in band_files().items():
        assert len(files) == 1, d

    rebuilt = str(tmp_path / "rebuilt")
    m.write_index(admitted, rebuilt, m.id_col, m.payload_col, **m.sign)
    key = lambda p: sorted(  # noqa: E731
        (r[m.id_col], r.band_idx, r.band_hash)
        for r in spark.read.parquet(p).collect()
    )
    assert key(index_path) == key(rebuilt)


def _job_descriptions(spark) -> dict[int, str]:
    """jobId -> description for every job the status store retains,
    read the way perfbench/tracing.py reads it."""
    import json

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    jobs = json.loads(
        mapper.writeValueAsString(sc._jsc.sc().statusStore().jobsList(None))
    )
    return {j["jobId"]: j.get("description") or "" for j in jobs}


@pytest.mark.parametrize("kind", ["text", "embedding"])
def test_ingest_phase_labels(spark, tmp_path, kind):
    """perfbench's corpus_dedup splits every batch's wall by these job
    descriptions (its DEDUP_PHASES): one micro-batch that probes an
    existing index and admits a row must fire each phase, under the
    modality's label — X80 for text, X85 for embeddings."""
    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    m = _MODALITIES[kind]
    rows = _two_distant_rows(spark, kind)
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    seed = rows.filter(f"{m.id_col} = 1")
    seed.write.parquet(corpus)
    m.write_index(seed, idx, m.id_col, m.payload_col, **m.sign)

    start = max(_job_descriptions(spark), default=-1)
    batch = rows.filter(f"{m.id_col} = 2")
    assert process_batch(spark, batch, 1, corpus, idx, modality=m) == (1, 1)
    seen = {d for j, d in _job_descriptions(spark).items() if j > start}
    first = "dedup+shingle batch" if kind == "text" else "dedup batch"
    phases = (first, "sign batch", "probe at-rest index",
              "novel materialize", "corpus write", "index append")
    missing = {f"{m.label}: {p}" for p in phases} - seen
    assert not missing, (missing, seen)


def test_compact_corpus_plain_layout(spark, tmp_path):
    """X87 on the plain-append store: three batches leave three files;
    compaction rewrites to the byte-sized floor with row identity, and
    the loop keeps appending afterwards (read_corpus sees the union)."""
    import os

    from nginx_analytics_spark.streaming.dedup_ingest import (
        compact_corpus,
        process_batch,
        read_corpus,
    )

    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "completely different words about shuffle exchanges and codegen",
        "third subject matter on parquet footers and row group stats",
        "fourth batch text naming broadcast joins and bloom filters",
    ]
    for b in range(3):
        docs = spark.createDataFrame([(b, texts[b])], "doc_id long, text string")
        process_batch(spark, docs, b, corpus, idx)
    n_files = sum(
        1 for f in os.listdir(corpus) if f.endswith(".parquet")
    )
    assert n_files >= 3
    before = sorted(map(tuple, read_corpus(spark, corpus).collect()))

    stats = compact_corpus(spark, corpus, idx, sort_by="doc_id")
    assert stats["files_before"] == n_files and stats["files_after"] == 1
    assert stats["rows"] == 3
    assert sorted(map(tuple, read_corpus(spark, corpus).collect())) == before

    docs = spark.createDataFrame([(3, texts[3])], "doc_id long, text string")
    process_batch(spark, docs, 3, corpus, idx)
    got = sorted(r.doc_id for r in read_corpus(spark, corpus).collect())
    assert got == [0, 1, 2, 3]


def test_compact_corpus_exactly_once_layout_and_crash_recovery(spark, tmp_path):
    """X87 on the X73 layout: batch dirs flatten into the reserved
    ingest_batch=-1 partition (never a flat/partitioned mix — Spark's
    partition discovery rejects it), a later exactly-once batch
    coexists with the compacted partition, and a crash between the two
    swap renames is rolled forward on the next entry."""
    import os

    from nginx_analytics_spark.streaming.dedup_ingest import (
        compact_corpus,
        process_batch,
        read_corpus,
    )

    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "completely different words about shuffle exchanges and codegen",
        "third subject matter on parquet footers and row group stats",
        "fourth batch text naming broadcast joins and bloom filters",
    ]
    for b in range(3):
        docs = spark.createDataFrame([(b, texts[b])], "doc_id long, text string")
        process_batch(spark, docs, b, corpus, idx, exactly_once=True)
    before = sorted(map(tuple, read_corpus(spark, corpus).collect()))
    assert len([d for d in os.listdir(corpus) if d.startswith("ingest_batch=")]) == 3

    stats = compact_corpus(spark, corpus, idx)
    assert stats["rows"] == 3
    dirs = [d for d in os.listdir(corpus) if d.startswith("ingest_batch=")]
    assert dirs == ["ingest_batch=-1"]
    assert sorted(map(tuple, read_corpus(spark, corpus).collect())) == before

    # a later exactly-once batch coexists with the compacted partition
    docs = spark.createDataFrame([(3, texts[3])], "doc_id long, text string")
    process_batch(spark, docs, 3, corpus, idx, exactly_once=True)
    got = sorted(r.doc_id for r in read_corpus(spark, corpus).collect())
    assert got == [0, 1, 2, 3]

    # crash between the renames: live dir absent, .old present — the
    # next compaction rolls it forward and completes
    os.rename(corpus, corpus + "__compact_old")
    stats = compact_corpus(spark, corpus, idx)
    assert stats["rows"] == 4
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [
        0, 1, 2, 3,
    ]


def test_compact_corpus_refuses_against_live_lock(spark, tmp_path):
    """X87 single-writer contract: the corpus compactor takes the
    INDEX's mutex, so it loses loudly against a holder (a live CLI
    loop's lifetime hold) instead of interleaving with appends."""
    import fcntl
    import os

    import pytest

    from nginx_analytics_spark.operators.index_fs import LockHeldError
    from nginx_analytics_spark.streaming.dedup_ingest import (
        compact_corpus,
        process_batch,
    )

    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    process_batch(spark, docs, 0, corpus, idx)
    fd = os.open(writer_lock_path(idx), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(LockHeldError, match="ingest loop"):
            compact_corpus(spark, corpus, idx)
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def test_compact_corpus_refuses_to_reap_unproven_backup(spark, tmp_path):
    """r12 ADVICE: entry-time recovery sees src + __compact_old BOTH
    present. Normally that is a crash after the second rename (src is
    the compactor's commit — proven by the _COMPACTED marker it stamped
    pre-swap) and the backup is reaped. But if src carries NO marker it
    was recreated by some OTHER writer after a crash-between-renames,
    and the backup may be the only copy of the original corpus — the
    compactor must refuse loudly, leaving both dirs intact."""
    import os
    import shutil

    import pytest

    from nginx_analytics_spark.streaming.dedup_ingest import (
        compact_corpus,
        process_batch,
        read_corpus,
    )

    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "separate words about broadcast joins and bloom filters")],
        "doc_id long, text string",
    )
    process_batch(spark, docs, 0, corpus, idx)

    # happy path first: a completed compaction stamps the marker and a
    # LEFTOVER backup beside a marker-carrying src is reaped silently
    compact_corpus(spark, corpus, idx)
    assert os.path.isfile(os.path.join(corpus, "_COMPACTED"))
    shutil.copytree(corpus, corpus + "__compact_old")
    stats = compact_corpus(spark, corpus, idx)
    assert stats["rows"] == 2
    assert not os.path.isdir(corpus + "__compact_old")

    # danger path: src recreated by a foreign writer (no marker) while
    # the backup holds the original — refuse, destroy nothing
    shutil.copytree(corpus, corpus + "__compact_old")
    os.remove(os.path.join(corpus, "_COMPACTED"))
    with pytest.raises(RuntimeError, match="_COMPACTED"):
        compact_corpus(spark, corpus, idx)
    assert os.path.isdir(corpus + "__compact_old")
    assert sorted(r.doc_id for r in read_corpus(spark, corpus).collect()) == [1, 2]


def test_stop_compact_resume_exactly_once_lifecycle(spark, tmp_path):
    """r12 verdict item 5: X87's replay caveat run as the SEQUENCE it
    documents — N exactly-once batches -> stream stopped (checkpoint
    committed past every on-disk batch) -> compact_corpus -> resume
    with the SAME checkpoint -> N more batches. Admissions must be
    identical to an uncompacted control (the compacted store feeds the
    dedup gate exactly the same corpus — a phase-B near-dup of a
    phase-A admission is rejected either way), and the compacted
    store's file count stays strictly below the control's."""
    import os

    import pandas as pd

    from nginx_analytics_spark.streaming.dedup_ingest import (
        compact_corpus,
        read_corpus,
        start_dedup_ingest,
    )

    base_a = "the quick brown fox jumps over the lazy dog near the river"
    base_g = "completely different subject matter covering spark physical plans and shuffles today"
    base_p = "third body of text about parquet footers row groups and min max statistics"
    phase_a = [
        ("a0.parquet", [(1, base_a), (2, base_p)]),
        ("a1.parquet", [(3, base_g)]),
        ("a2.parquet", [(4, base_p + " appended tail")]),  # near-dup of 2
    ]
    phase_b = [
        ("b0.parquet", [(5, base_a + " extra")]),  # near-dup of phase-A doc 1
        ("b1.parquet", [(6, "novel fourth subject naming broadcast joins and bloom filters")]),
        ("b2.parquet", [(7, base_g + " trailer")]),  # near-dup of phase-A doc 3
    ]

    def parquet_files(root: str) -> int:
        return sum(
            1
            for r, _, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        )

    def run(root, compact_between: bool):
        src = root / "src"
        src.mkdir(parents=True)
        corpus, idx = str(root / "corpus"), str(root / "idx")
        seen = []

        def drain():
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src))
            )
            q = start_dedup_ingest(
                stream, corpus, idx, str(root / "ckpt"),
                trigger={"availableNow": True}, exactly_once=True,
                on_batch=lambda bid, n_in, n_novel, lw: seen.append(
                    (n_in, n_novel)
                ),
            )
            q.awaitTermination()

        for name, rows in phase_a:
            pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(src / name)
        drain()
        if compact_between:
            stats = compact_corpus(spark, corpus, idx)
            assert stats["files_after"] == 1
        for name, rows in phase_b:
            pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(src / name)
        drain()  # SAME checkpoint: only phase-B files are new
        admitted = sorted(r.doc_id for r in read_corpus(spark, corpus).collect())
        return admitted, parquet_files(corpus), seen

    ctl_rows, ctl_files, ctl_seen = run(tmp_path / "ctl", False)
    cmp_rows, cmp_files, cmp_seen = run(tmp_path / "cmp", True)

    # the gate's decisions are unchanged by compaction: 4 near-dups 2
    # in phase A; 5 near-dups 1 and 7 near-dups 3 ACROSS the stop —
    # both rejections ride the index probe against the (compacted)
    # corpus, which is exactly what the sequence must preserve
    assert ctl_rows == cmp_rows == [1, 2, 3, 6]
    assert ctl_seen == cmp_seen
    # the store's growth is bounded: phase A's three batch dirs became
    # one compacted file; phase B appended on top of both runs alike
    assert cmp_files < ctl_files


def test_stop_compact_resume_embedding_lifecycle(spark, tmp_path):
    """The X87 stop -> compact -> resume sequence for the EMBEDDING
    loop (the text twin above): exactly-once batches, stream stopped
    with the checkpoint committed past every on-disk batch,
    compact_corpus, resume with the SAME checkpoint, more batches with
    CROSS-STOP semantic near-dups. Admissions identical to an
    uncompacted control; store file count bounded. One lifecycle, two
    signing modalities — the store and its compactor are literally
    shared code, this pins the composition on the embedding side too."""
    import os

    from nginx_analytics_spark.streaming.dedup_ingest import (
        compact_corpus,
        read_corpus,
    )
    from nginx_analytics_spark.streaming.dedup_ingest import start_dedup_ingest

    v = _unit_vecs(29, 4)
    phase_a = [
        ("a0.parquet", [(1, v[0]), (2, v[1])], 1700000000),
        ("a1.parquet", [(3, v[2])], 1700000060),
        # near-dup of corpus vec 2, caught via the index within phase A
        ("a2.parquet", [(4, _perturb(v[1], 31))], 1700000120),
    ]
    phase_b = [
        # cross-stop near-dup of phase-A admission 1 — must be rejected
        # by the probe against the (compacted) corpus
        ("b0.parquet", [(5, _perturb(v[0], 32))], 1700000300),
        ("b1.parquet", [(6, v[3])], 1700000360),  # novel
        # cross-stop near-dup of phase-A admission 3
        ("b2.parquet", [(7, _perturb(v[2], 33))], 1700000420),
    ]

    def parquet_files(root: str) -> int:
        return sum(
            1
            for r, _, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        )

    def run(root, compact_between: bool):
        src = root / "src"
        src.mkdir(parents=True)
        corpus, idx = str(root / "corpus"), str(root / "idx")
        seen = []

        def drain():
            stream = (
                spark.readStream.schema("vec_id long, embedding array<float>")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src))
            )
            q = start_dedup_ingest(
                stream, corpus, idx, str(root / "ckpt"), modality=EMBEDDING,
                trigger={"availableNow": True}, exactly_once=True,
                on_batch=lambda bid, n_in, n_novel, lw: seen.append(
                    (n_in, n_novel)
                ),
            )
            q.awaitTermination()

        for name, rows, mtime in phase_a:
            _write_emb_parquet(src / name, rows, mtime=mtime)
        drain()
        if compact_between:
            stats = compact_corpus(spark, corpus, idx)
            assert stats["files_after"] == 1
        for name, rows, mtime in phase_b:
            _write_emb_parquet(src / name, rows, mtime=mtime)
        drain()
        admitted = sorted(r.vec_id for r in read_corpus(spark, corpus).collect())
        return admitted, parquet_files(corpus), seen

    ctl_rows, ctl_files, ctl_seen = run(tmp_path / "ctl", False)
    cmp_rows, cmp_files, cmp_seen = run(tmp_path / "cmp", True)

    assert ctl_rows == cmp_rows == [1, 2, 3, 6]
    assert ctl_seen == cmp_seen
    assert cmp_files < ctl_files


def test_reconcile_index_blind_spot_detected_and_repaired(spark, tmp_path):
    """X91 on the text modality, with the stakes demonstrated: a corpus
    row that bypassed the loop (manual import — written to the store
    without an index append) is a PERMANENT dedup blind spot — a
    near-duplicate of it band-matches nothing and is ADMITTED.
    reconcile_index reports it; --repair signs exactly that row under
    the sidecar's parameters; the same near-duplicate is then REJECTED.
    An id removed from the corpus afterwards reads back as a reported
    (never repaired) orphan, and probes stay correct throughout."""
    from nginx_analytics_spark.streaming.dedup_ingest import (
        dedup_batch_against_corpus,
        process_batch,
        reconcile_index,
    )

    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    base_a = "the quick brown fox jumps over the lazy dog near the river"
    base_z = "zebra topic sentences about adaptive query execution and skew joins"
    docs = spark.createDataFrame(
        [(1, base_a),
         (2, "unrelated text about parquet row groups and min max statistics")],
        "doc_id long, text string",
    )
    process_batch(spark, docs, 0, corpus, idx)
    out = reconcile_index(spark, corpus, idx)
    assert out["kind"] == "lsh"
    assert (out["corpus_ids"], out["indexed_ids"]) == (2, 2)
    assert out["missing_from_index"] == 0 and out["index_orphans"] == 0

    # a manual import bypasses the loop: corpus row, no band keys
    spark.createDataFrame(
        [(9, base_z)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(corpus)
    probe = spark.createDataFrame(
        [(10, base_z + " trailer")], "doc_id long, text string"
    )
    # blind spot: the near-dup of the unindexed doc is ADMITTED
    assert [r.doc_id for r in dedup_batch_against_corpus(
        spark, probe, corpus, idx
    ).collect()] == [10]

    out = reconcile_index(spark, corpus, idx)
    assert out["missing_from_index"] == 1 and out["repaired"] == 0
    out = reconcile_index(spark, corpus, idx, repair=True)
    assert out["missing_from_index"] == 1 and out["repaired"] == 1
    out = reconcile_index(spark, corpus, idx)
    assert out["missing_from_index"] == 0 and out["indexed_ids"] == 3
    # blind spot closed: the same near-dup is now rejected
    assert dedup_batch_against_corpus(
        spark, probe, corpus, idx
    ).count() == 0

    # orphan direction: drop the imported doc's corpus file — its band
    # keys remain; reported only, and the probe stays correct (the
    # exact-verify join drops orphan candidates)
    import os

    for root, _, files in os.walk(corpus):
        for f in files:
            p = os.path.join(root, f)
            if f.endswith(".parquet"):
                rows = spark.read.parquet(p).collect()
                if any(r.doc_id == 9 for r in rows):
                    os.remove(p)
    out = reconcile_index(spark, corpus, idx)
    assert out["index_orphans"] == 1 and out["missing_from_index"] == 0
    assert [r.doc_id for r in dedup_batch_against_corpus(
        spark, probe, corpus, idx
    ).collect()] == [10]  # orphan can no longer suppress anything


def test_reconcile_index_embedding_modality(spark, tmp_path):
    """X91's SRP side: same check, embedding corpus + SRP index — the
    repair signs missing vectors under the sidecar's own plane/band
    parameters (64-plane loop default)."""
    from nginx_analytics_spark.streaming.dedup_ingest import reconcile_index
    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    v = _unit_vecs(47, 3)
    batch = spark.createDataFrame(
        [(1, [float(x) for x in v[0]]), (2, [float(x) for x in v[1]])],
        "vec_id long, embedding array<float>",
    )
    process_batch(spark, batch, 0, corpus, idx, modality=EMBEDDING)
    out = reconcile_index(spark, corpus, idx)
    assert out["kind"] == "srp" and out["missing_from_index"] == 0

    spark.createDataFrame(
        [(9, [float(x) for x in v[2]])], "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("append").parquet(corpus)
    out = reconcile_index(spark, corpus, idx, repair=True)
    assert out["missing_from_index"] == 1 and out["repaired"] == 1
    out = reconcile_index(spark, corpus, idx)
    assert out["missing_from_index"] == 0 and out["indexed_ids"] == 3
    # the repaired vector's band keys carry the sidecar's 64-plane
    # signing: 8 band rows for the new id, consistent with the rest
    rows = spark.read.parquet(idx).collect()
    assert sum(1 for r in rows if r.vec_id == 9) == 8


def test_reconcile_index_ann_serving_kinds(spark, tmp_path):
    """r13 verdict item 5: reconcile_index extends to the at-rest ANN
    SERVING indexes (celled PQ, bucketed IVF), which pair with the
    same corpus store and diverge the same two ways. The stakes,
    demonstrated: a corpus vector absent from the index is a SILENT
    RECALL LOSS — the exact-nearest query for it cannot return it, and
    cell_index_verify stays green for both kinds because the row_count
    commit balances (the row was never appended). repair=True appends
    exactly the missing vector under the sidecar's own codebooks/
    centroids; the same query then returns it at rank 1. Orphans
    (index rows whose id left the store) are reported, not repaired."""
    from pyspark.sql import functions as F

    from nginx_analytics_spark.operators import similarity
    from nginx_analytics_spark.streaming.dedup_ingest import reconcile_index

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id")
        .limit(200)
        .localCheckpoint(eager=True)
    )
    hole_id = emb.agg(F.min("vec_id")).collect()[0][0]
    rest = emb.filter(F.col("vec_id") != hole_id)
    corpus = str(tmp_path / "corpus")
    emb.write.parquet(corpus)
    # query id deliberately distinct from every corpus id: the probe
    # paths exclude self-matches (same id), and the test's point is
    # that the VECTOR (exact match, distance 0) comes back
    queries = emb.filter(F.col("vec_id") == hole_id).select(
        (F.col("vec_id") + 10_000_000).alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)

    # --- PQ (celled/IVFADC) ---
    pq = str(tmp_path / "pq")
    similarity.pq_write_index(rest, pq, m=8, n_codes=16, seed=42, n_cells=8)
    got = similarity.pq_topk_indexed(
        spark, emb, queries, pq, k=5, nprobe=None
    ).collect()
    assert hole_id not in {int(r.neighbor_id) for r in got}  # recall hole
    assert cell_index_verify(spark, pq, "pq")["torn"] is False  # invisible
    out = reconcile_index(spark, corpus, pq)
    assert out["kind"] == "pq" and out["missing_from_index"] == 1
    assert out["index_orphans"] == 0
    out = reconcile_index(spark, corpus, pq, repair=True)
    assert out["repaired"] == 1
    assert cell_index_verify(spark, pq, "pq")["torn"] is False
    got = similarity.pq_topk_indexed(
        spark, emb, queries, pq, k=5, nprobe=None
    ).collect()
    by_rank = sorted(got, key=lambda r: r.rank)
    assert int(by_rank[0].neighbor_id) == hole_id  # found, at rank 1

    # --- IVF (bucketed) ---
    ivf = str(tmp_path / "ivf")
    similarity.ivf_write_bucketed(rest, ivf, n_cells=8)
    got = similarity.ivf_topk_bucketed(
        spark, ivf, None, queries, k=5, nprobe=8
    ).collect()
    assert hole_id not in {int(r.neighbor_id) for r in got}
    out = reconcile_index(spark, corpus, ivf, repair=True)
    assert out["kind"] == "ivf" and out["repaired"] == 1
    assert cell_index_verify(spark, ivf, "ivf")["torn"] is False
    got = similarity.ivf_topk_bucketed(
        spark, ivf, None, queries, k=5, nprobe=8
    ).collect()
    by_rank = sorted(got, key=lambda r: r.rn)  # IVF ranks by cosine desc
    assert int(by_rank[0].neighbor_id) == hole_id

    # orphan direction: a store that lost a row reads back as a
    # reported (never repaired) orphan on the serving kinds too
    shrunk = str(tmp_path / "shrunk")
    rest.write.parquet(shrunk)
    out = reconcile_index(spark, shrunk, pq, repair=True)
    assert out["index_orphans"] == 1 and out["repaired"] == 0
    assert out["missing_from_index"] == 0


def test_compact_index_prune_to_corpus_reclaims_orphans(spark, tmp_path):
    """r13 verdict item 4: X82 compaction's prune_ids drops orphan
    band rows (ids no longer in the corpus store) from every band it
    rewrites — a heavy orphan load is reclaimed by the maintenance
    pass the operator already runs, no full rebuild. Done-bar checks:
    reconcile_index reports 0 orphans after a forced full rewrite with
    pruning, the pruned index's rows exactly equal a control built
    from the surviving corpus alone (stronger than probe parity), and
    a partial pass (healthy bands untouched) prunes only what it
    rewrites. Both modalities share the body; exercised here on SRP,
    with the text/LSH smoke below."""
    from pyspark.sql import functions as F

    from nginx_analytics_spark.operators import similarity
    from nginx_analytics_spark.streaming.dedup_ingest import reconcile_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "srp")
    # three appends -> 3 files per band, all bands oversized at cap 1
    slices = [emb.filter(F.col("vec_id") % 3 == k) for k in range(3)]
    similarity.write_srp_index(slices[0], idx)
    for s in slices[1:]:
        similarity.append_srp_index(s, idx)
    # the corpus store kept only the even ids — odd band rows orphaned
    survivors = emb.filter(F.col("vec_id") % 2 == 0)
    corpus = str(tmp_path / "corpus")
    survivors.write.parquet(corpus)
    before = reconcile_index(spark, corpus, idx)
    assert before["index_orphans"] > 0
    assert before["missing_from_index"] == 0
    # forced full rewrite with pruning: every band rewritten, orphans gone
    stats = banded_index_compact(
        spark, idx, max_files_per_band=0,
        prune_ids=survivors.select("vec_id"),
    )
    assert stats["bands_compacted"] == stats["bands_seen"] > 0
    after = reconcile_index(spark, corpus, idx)
    assert after["index_orphans"] == 0
    assert after["missing_from_index"] == 0
    # content equals a one-shot control over the survivors: identical
    # band keys => identical probe behavior by construction
    ctl = str(tmp_path / "ctl")
    similarity.write_srp_index(survivors, ctl)
    a = {tuple(r) for r in banded_index_read(spark, idx).collect()}
    b = {tuple(r) for r in banded_index_read(spark, ctl).collect()}
    assert a == b
    # guard: prune_ids must be one column
    import pytest

    with pytest.raises(ValueError, match="ONE-column"):
        banded_index_compact(
            spark, idx, max_files_per_band=0,
            prune_ids=survivors.select("vec_id", "embedding"),
        )


def test_compact_index_prune_partial_pass_prunes_only_rewritten(
    spark, tmp_path
):
    """The partial-pass semantics stated in the docstring: a compaction
    whose threshold leaves healthy bands untouched prunes orphans only
    from the bands it rewrites — cost still scales with the oversized
    bands (text/LSH modality; the CLI flag is exercised in
    test_cli.py)."""
    from nginx_analytics_spark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(40)
    idx = str(tmp_path / "lsh")
    dedup.write_lsh_index(docs, idx)
    # healthy: 1 file per band; nothing exceeds the default threshold
    survivors = docs.filter("doc_id % 2 = 0")
    stats = banded_index_compact(
        spark, idx, prune_ids=survivors.select("doc_id")
    )
    assert stats["bands_compacted"] == 0  # nothing rewritten...
    rows = banded_index_read(spark, idx)
    assert rows.filter("doc_id % 2 = 1").count() > 0  # ...nothing pruned
    # force the rewrite: orphans now gone from every band
    stats = banded_index_compact(
        spark, idx, max_files_per_band=0,
        prune_ids=survivors.select("doc_id"),
    )
    assert stats["bands_compacted"] == stats["bands_seen"] > 0
    rows = banded_index_read(spark, idx)
    assert rows.filter("doc_id % 2 = 1").count() == 0
    assert rows.filter("doc_id % 2 = 0").count() > 0


def test_dedup_ingest_quality_survivor_option(spark, tmp_path):
    """X100 in the X80 loop (r15 verdict item 6): with quality_fn the
    within-batch near-dup drop keeps each cluster's BEST-QUALITY
    member — here the GREATER-id replica, exactly the doc the default
    min-id greedy pass drops — and the kept doc is what lands in the
    corpus; the against-corpus step stays first-come-wins."""
    from nginx_analytics_spark.operators import text
    from nginx_analytics_spark.streaming.dedup_ingest import (
        dedup_batch_against_corpus,
        process_batch,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    rich = base + " " + " ".join(f"extra{i}" for i in range(10))
    batch = spark.createDataFrame(
        [(1, base), (2, rich),
         (7, "standalone unrelated text about parquet row group stats")],
        "doc_id long, text string",
    )
    # sanity: 2 really is the higher-quality replica under the rubric
    q = {r.doc_id: r.quality for r in text.quality_score(batch).collect()}
    assert q[2] > q[1]

    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    # default greedy: min id survives the pair
    got = sorted(r.doc_id for r in dedup_batch_against_corpus(
        spark, batch, corpus, idx
    ).collect())
    assert got == [1, 7]
    # quality-aware: the higher-quality (greater-id) replica survives
    got = sorted(r.doc_id for r in dedup_batch_against_corpus(
        spark, batch, corpus, idx, quality_fn=text.quality_score
    ).collect())
    assert got == [2, 7]

    # end-to-end through process_batch: the survivor is what's admitted
    n_in, n_novel = process_batch(
        spark, batch, 0, corpus, idx, quality_fn=text.quality_score
    )
    assert (n_in, n_novel) == (3, 2)
    import pyspark.sql.functions as F
    admitted = sorted(
        r.doc_id for r in spark.read.parquet(corpus).collect()
    )
    assert admitted == [2, 7]
    # next batch: a replay of doc 1 now near-dup-matches the AT-REST
    # corpus (first-come-wins there — no re-litigation of survivors)
    n_in, n_novel = process_batch(
        spark,
        spark.createDataFrame([(11, base)], "doc_id long, text string"),
        1, corpus, idx, quality_fn=text.quality_score,
    )
    assert (n_in, n_novel) == (1, 0)
