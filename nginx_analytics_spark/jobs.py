"""Job entry points — the engine's "main" surface.

The reference runs three long-lived driver scripts (ingestor/main.py,
predictions/anomaly_detection.py, predictions/response_time_prediction.py).
Here each becomes a schedulable entry point over the shared operator
library; the fixture-staging helpers below let tests and the driver
contract run the streaming jobs end-to-end with deterministic
micro-batch boundaries.

Scale notes: staging (write two parquet files, symlink-free copies) is
test-harness plumbing — production feeds the same ``start_anomaly_job``
from a Kafka/file stream directly. The jobs themselves never collect to
the driver; every sink is a distributed Parquet append.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nginx_analytics_spark.ml import response_time
from nginx_analytics_spark.operators import features
from nginx_analytics_spark.sources import load_table
from nginx_analytics_spark.sources.warehouse import RESPONSE_TIME_PREDICTIONS, Warehouse
from nginx_analytics_spark.streaming.windows import start_anomaly_job

# The enriched access-log columns the anomaly job consumes (a projection of
# the full 38-field enriched frame; reference anomaly_detection.py:25-98
# touches exactly these).
ENRICHED_STREAM_SCHEMA = (
    "timestamp timestamp, remote_addr string, request_time_seconds double, "
    "request_uri string, event_id long"
)


def enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture mapped to the enriched access-log shape
    (same derivation as the anomaly_detail query: user -> remote_addr,
    event_type -> URI path)."""
    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    return ev.select(
        F.col("ts").alias("timestamp"),
        F.concat(F.lit("u"), uid).alias("remote_addr"),
        F.col("value").alias("request_time_seconds"),
        F.concat(F.lit("/api/"), F.col("event_type"), F.lit("/u"), uid).alias(
            "request_uri"
        ),
        "event_id",
    )


def stage_two_batches(df: DataFrame, work: str) -> str:
    """Write ``df`` as TWO single-file parquet "micro-batches" split by
    event_id parity. With ``maxFilesPerTrigger=1`` the file stream source
    delivers them as two deterministic micro-batches — the split is a
    column predicate, so an SQL oracle can replicate each batch exactly.
    """
    batch_dir = os.path.join(work, "batches")
    os.makedirs(batch_dir, exist_ok=True)
    for p in (0, 1):
        part_dir = os.path.join(work, f"stage{p}")
        (
            df.filter(F.col("event_id") % 2 == p)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        part_file = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        shutil.copy(part_file, os.path.join(batch_dir, f"batch{p}.parquet"))
    return batch_dir


def run_anomaly_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    work: str,
    as_of: str,
    batch_start: str,
    z_threshold: float,
    new_key_count: int,
) -> DataFrame:
    """The flagship streaming anomaly job end-to-end (J4/S5/A4; reference
    anomaly_detection.py:17-114):

      1. seed the warehouse's raw_logs with the history window
         (everything at or before ``batch_start``) via the partitioned
         Parquet sink (S4);
      2. stream the batch day through :func:`start_anomaly_job` as two
         deterministic micro-batches with a fixed ``as_of``;
      3. return the ``anomalies`` table contents (minus the
         ``detection_time`` stamp, which is wall-clock).

    Per-batch detection is independent (the job appends to ``anomalies``
    only, never to ``raw_logs``), so the table equals the UNION ALL of
    detection over each parity slice — the SQL oracle replicates that.
    """
    src = enriched_events(spark, sf_dir)
    cut = F.lit(batch_start).cast("timestamp")
    wh = Warehouse(spark, os.path.join(work, "warehouse"))
    wh.append_raw_logs(src.filter(F.col("timestamp") <= cut))
    batch_dir = stage_two_batches(src.filter(F.col("timestamp") > cut), work)
    stream = (
        spark.readStream.schema(ENRICHED_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(batch_dir)
    )
    q = start_anomaly_job(
        stream,
        wh,
        os.path.join(work, "ckpt"),
        as_of_of_batch=lambda _df: as_of,
        z_threshold=z_threshold,
        new_key_count=new_key_count,
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    return wh.table("anomalies").drop("detection_time")


# --------------------------------------------------------------------------
# Prediction serving + retrain (S6/A6/U7/U8; reference
# response_time_prediction.py:206-223 scoring loop, :266-274 retrain daemon)
# --------------------------------------------------------------------------


def score_and_store(model, feature_df: DataFrame, warehouse: Warehouse) -> DataFrame:
    """The batch scoring loop: score a feature frame, append the
    (endpoint, method, predicted, actual) rows to the
    ``response_time_predictions`` sink (S6, prediction_timestamp stamped by
    the writer), and return the table read back — the serving surface a
    dashboard queries (reference :206-215)."""
    preds = response_time.predict(model, feature_df)
    warehouse.append_predictions(preds)
    return warehouse.table(RESPONSE_TIME_PREDICTIONS)


def retrain_response_time(
    spark: SparkSession,
    warehouse: Warehouse,
    as_of: str,
    model_path: str,
    lookback_days: int = 7,
    order_key: str = "request_id",
):
    """U8 — the schedulable retrain entry point (replaces the reference's
    daemon thread + sleep(3600), :266-274): project training features from
    the warehouse's trailing raw_logs window (partition-pruned scan) and
    fit/save the pipeline behind the 100-row gate. Returns the fitted
    PipelineModel, or None when gated.

    ``order_key`` makes the training cap deterministic; raw_logs carries the
    wire schema's unique ``request_id`` (reference ingestor/main.py:12).
    """
    raw = warehouse.raw_logs_window(as_of, lookback_days)
    feats = features.training_features(raw, order_key=order_key)
    return response_time.train(feats, model_path=model_path)


# --------------------------------------------------------------------------
# CLI — the runnable surface (reference ingestor/main.py:49-107,
# anomaly_detection.py:193, response_time_prediction.py:276: three driver
# programs; here four subcommands over the same operator library).
#
#   python -m nginx_analytics_spark.jobs ingest  --source DIR --warehouse DIR --checkpoint DIR
#   python -m nginx_analytics_spark.jobs anomaly --source DIR --warehouse DIR --checkpoint DIR
#   python -m nginx_analytics_spark.jobs retrain --warehouse DIR --model DIR --as-of TS
#   python -m nginx_analytics_spark.jobs compact --warehouse DIR
#
# Triggers: --trigger available-now (default; drain the source and exit —
# the schedulable batch shape) or --trigger "processingTime=1 minute"
# (the reference's long-lived cadence). The SparkSession is built lazily
# AFTER argument parsing so --help never pays a JVM start.
# --------------------------------------------------------------------------


def _parse_trigger(spec: str) -> dict:
    """'available-now' -> {availableNow: True}; 'processingTime=1 minute'
    -> {processingTime: '1 minute'}."""
    if spec == "available-now":
        return {"availableNow": True}
    if "=" in spec:
        k, v = spec.split("=", 1)
        return {k: v}
    raise ValueError(f"unrecognized trigger spec: {spec!r}")


def _build_parser():
    import argparse

    p = argparse.ArgumentParser(
        prog="python -m nginx_analytics_spark.jobs",
        description="nginx analytics engine jobs",
    )
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, checkpoint=True):
        sp.add_argument("--warehouse", required=True, help="warehouse root dir")
        if checkpoint:
            sp.add_argument("--checkpoint", required=True, help="stream checkpoint dir")
            sp.add_argument("--trigger", default="available-now")

    ing = sub.add_parser("ingest", help="JSONL/Kafka -> parse_enrich -> raw_logs")
    common(ing)
    src = ing.add_mutually_exclusive_group(required=True)
    src.add_argument("--source", help="JSONL directory (file-stream source)")
    src.add_argument("--kafka-bootstrap", help="Kafka bootstrap servers")
    ing.add_argument("--topic", help="Kafka topic (with --kafka-bootstrap)")
    ing.add_argument(
        "--starting-offsets", default="latest", help="Kafka offset policy (T6)"
    )
    ing.add_argument("--max-files-per-trigger", type=int, default=None)
    ing.add_argument(
        "--exactly-once",
        action="store_true",
        help=(
            "idempotent batch-id-directory sink (X73): a retried "
            "micro-batch overwrites its own output instead of appending "
            "a duplicate copy; read back via raw_logs_exactly_once"
        ),
    )

    ano = sub.add_parser(
        "anomaly", help="enriched parquet stream -> z-score detection -> anomalies"
    )
    common(ano)
    ano.add_argument("--source", required=True, help="enriched-events parquet dir")
    ano.add_argument("--z-threshold", type=float, default=None)
    ano.add_argument("--new-key-count", type=int, default=None)
    ano.add_argument(
        "--as-of", default=None,
        help="fix the history window upper bound (tests); default = batch max ts",
    )

    ret = sub.add_parser("retrain", help="retrain the response-time model (U8)")
    common(ret, checkpoint=False)
    ret.add_argument("--model", required=True, help="model save path")
    ret.add_argument("--as-of", required=True, help="training window upper bound")
    ret.add_argument("--lookback-days", type=int, default=7)

    cmp_ = sub.add_parser("compact", help="compact raw_logs small files")
    common(cmp_, checkpoint=False)

    cur = sub.add_parser(
        "curate",
        help="documents parquet -> curation gates (X39) -> curated_documents",
    )
    common(cur, checkpoint=False)
    cur.add_argument("--source", required=True, help="documents parquet path")
    cur.add_argument("--bench-fraction", type=float, default=None)
    cur.add_argument("--contam-n", type=int, default=None)

    exp = sub.add_parser(
        "export-shards",
        help="parquet table -> deterministic shuffle shards (X49)",
    )
    common(exp, checkpoint=False)
    exp.add_argument("--source", required=True, help="input parquet path")
    exp.add_argument("--key", default="doc_id", help="integer shard key column")
    exp.add_argument("--n-shards", type=int, default=8)

    ho = sub.add_parser(
        "handoff",
        help=(
            "the end-to-end 100 TB hand-off (X67): curate (X39) -> "
            "Z-ordered at-rest corpus (X59) -> deterministic training "
            "shards (X49)"
        ),
    )
    common(ho, checkpoint=False)
    ho.add_argument("--source", required=True, help="documents parquet path")
    ho.add_argument("--n-shards", type=int, default=8)
    ho.add_argument("--bench-fraction", type=float, default=None)
    ho.add_argument("--contam-n", type=int, default=None)
    ho.add_argument(
        "--layout",
        choices=("zorder", "bucketed"),
        default="zorder",
        help=(
            "at-rest layout of the curated corpus: zorder (X59, 2-D "
            "row-group pruning on ws_tokens x quality) or bucketed "
            "(X38, catalog table hash-bucketed by doc_id for "
            "exchange-free downstream joins)"
        ),
    )
    ho.add_argument(
        "--quality-weights",
        action="store_true",
        help=(
            "score every curated doc with the X81 distilled quality "
            "classifier and carry quality_prob into the landed corpus "
            "and the training shards — the calibrated sampling weight "
            "the downstream loader mixes by (r6 verdict item 5)"
        ),
    )
    ho.add_argument(
        "--quality-model",
        default=None,
        help=(
            "path of a saved X81 PipelineModel to score with (implies "
            "--quality-weights); omitted => the scorer is distilled "
            "in-job from the source corpus against this handoff's own "
            "gate parameters (ml.quality.train_quality_classifier)"
        ),
    )
    ho.add_argument(
        "--quality-sample",
        type=float,
        default=None,
        metavar="FRAC",
        help=(
            "X83 (r7 verdict item 2): after scoring, KEEP only a "
            "quality_prob-weighted ~FRAC of the curated corpus — "
            "deterministic portable-hash membership at rate ∝ "
            "quality_prob (operators.sampling.quality_weighted_sample), "
            "so the calibrated score actually selects the documents "
            "that land in the shards; requires --quality-weights or "
            "--quality-model"
        ),
    )

    di = sub.add_parser(
        "dedup-ingest",
        help=(
            "streaming corpus ingest with incremental near-dedup (X80): "
            "per micro-batch, exact+near dedup within the batch, probe "
            "the at-rest LSH index (X69), append admissions to corpus "
            "and index (X79)"
        ),
    )
    di.add_argument("--source", required=True, help="documents parquet stream dir")
    di.add_argument("--index", required=True, help="at-rest LSH index path")
    di.add_argument("--threshold", type=float, default=0.6)
    di.add_argument(
        "--quality-survivor",
        action="store_true",
        help=(
            "X100: resolve WITHIN-BATCH near-dup clusters by keeping "
            "the best-quality member (X26 rubric score, min-id "
            "tie-break) instead of the min-id greedy drop; the "
            "against-corpus step stays first-come-wins (already-"
            "admitted docs are not re-litigated)"
        ),
    )

    ei = sub.add_parser(
        "embedding-dedup-ingest",
        help=(
            "streaming embedding ingest with incremental SEMANTIC "
            "near-dedup (X85, the X80 loop for the embedding modality): "
            "per micro-batch, exact+near dedup within the batch, probe "
            "the at-rest SRP index (X84), append admissions to corpus "
            "and index"
        ),
    )
    ei.add_argument(
        "--source", required=True, help="embedding rows parquet stream dir"
    )
    ei.add_argument("--index", required=True, help="at-rest SRP index path")
    ei.add_argument(
        "--threshold",
        type=float,
        default=0.85,
        help=(
            "cosine admission threshold (default 0.85 — the regime "
            "embedding dup detection operates in; see "
            "dedup_ingest.dedup_embedding_batch_against_corpus)"
        ),
    )
    # SRP signing parameters — pinned by the index's sidecar after the
    # first batch; a mismatch on a later deployment fails loudly in the
    # probe/append instead of silently losing recall
    ei.add_argument(
        "--n-planes",
        type=int,
        default=64,
        help=(
            "SRP signature bits (with --bands 8: 8-bit band chunks — "
            "the selectivity the 0.85 regime needs; background "
            "collisions ~8/2^8 of batch x corpus vs ~50%% at 32 planes, "
            "which the r12 sustained run measured as per-batch wall "
            "growth)"
        ),
    )
    ei.add_argument("--bands", type=int, default=8)
    ei.add_argument("--dim", type=int, default=64)
    ei.add_argument("--seed", type=int, default=42)

    from nginx_analytics_spark.operators import index_fs as _index_fs

    # the one ingest loop's options, the same for both modalities
    for loop in (di, ei):
        loop.add_argument(
            "--corpus", required=True, help="admitted-corpus output dir"
        )
        loop.add_argument(
            "--checkpoint", required=True, help="stream checkpoint dir"
        )
        loop.add_argument("--trigger", default="available-now")
        loop.add_argument("--max-files-per-trigger", type=int, default=None)
        loop.add_argument(
            "--compact-every",
            type=int,
            default=None,
            help=(
                "run X82 per-band index compaction after every Nth batch, "
                "bounding per-band file growth from the loop's own writer "
                "thread (default: never — compact via the API offline)"
            ),
        )
        loop.add_argument(
            "--max-files-per-band",
            type=int,
            default=_index_fs.COMPACT_MAX_FILES_PER_BAND,
            help=(
                "per-band parquet file threshold above which "
                "--compact-every rewrites a band (X82)"
            ),
        )
        loop.add_argument(
            "--lock-timeout",
            type=float,
            default=0.0,
            help=(
                "seconds to wait for the index mutex before failing (0 = "
                "refuse immediately). The CLI loop holds the mutex for "
                "the stream's whole lifetime, so here the wait applies to "
                "that STARTUP acquisition — e.g. riding out an offline "
                "compactor finishing up — and the wait is printed; "
                "library callers without a lifetime hold get the same "
                "bounded wait per micro-batch, surfaced as lock_wait in "
                "the telemetry line"
            ),
        )
        loop.add_argument(
            "--exactly-once",
            action="store_true",
            help=(
                "X73 composition: admissions land under "
                "ingest_batch=<id> with overwrite semantics, so a retried "
                "batch replaces its own corpus output; read back via "
                "dedup_ingest.read_corpus"
            ),
        )

    ci = sub.add_parser(
        "compact-index",
        help=(
            "X82 offline: per-band compaction of an at-rest banded "
            "index — MinHash/LSH (X69) or SRP embedding (X84), "
            "auto-detected from the parameter sidecar (the standalone "
            "twin of the ingest loops' --compact-every, for an index "
            "whose loop is stopped). Takes the single-compactor mutex: "
            "fails loudly against a live `jobs dedup-ingest` / "
            "`jobs embedding-dedup-ingest` loop (which holds it for "
            "the stream's lifetime) or another compactor; a "
            "library-embedded loop holds it only per micro-batch, so "
            "do not run this against one — whichever side loses the "
            "race fails loudly (never corrupts)"
        ),
    )
    # argparse defaults ARE the shared module constants (r8 ADVICE: a
    # literal 8/1 here is exactly the drift the constants exist to stop)
    ci.add_argument(
        "--index", required=True,
        help="at-rest banded index path (LSH or SRP — sidecar-detected)",
    )
    ci.add_argument(
        "--max-files-per-band",
        type=int,
        default=_index_fs.COMPACT_MAX_FILES_PER_BAND,
        help="rewrite only bands with more parquet files than this",
    )
    ci.add_argument(
        "--target-files",
        type=int,
        default=_index_fs.COMPACT_TARGET_FILES,
        help="minimum output files per rewritten band",
    )
    ci.add_argument(
        "--target-file-bytes",
        type=int,
        default=_index_fs.COMPACT_TARGET_FILE_BYTES,
        help=(
            "split a rewritten band into ceil(band_bytes / this) sorted "
            "range files (bounds compacted file sizes)"
        ),
    )
    ci.add_argument(
        "--max-concurrency",
        type=int,
        default=_index_fs.COMPACT_MAX_CONCURRENCY,
        help=(
            "compact up to this many oversized bands concurrently "
            "(driver threads, one Spark job each; the pause tracks the "
            "largest band, not the sum)"
        ),
    )
    ci.add_argument(
        "--prune-to-corpus",
        default=None,
        metavar="CORPUS_DIR",
        help=(
            "r13 item 4: also DROP orphan band rows (ids no longer in "
            "this corpus store) from every band the pass rewrites — "
            "reclaims the index_orphans `jobs reconcile-index` reports "
            "without a full rebuild; combine with "
            "--max-files-per-band 0 to force-rewrite (and prune) every "
            "band"
        ),
    )

    cc = sub.add_parser(
        "compact-corpus",
        help=(
            "X87 offline: small-file compaction of an ingest loop's "
            "corpus store (plain or exactly-once layout, preserved by "
            "kind) — the corpus half of the maintenance X82's "
            "compact-index gives the index. Takes the index's "
            "single-writer mutex, so it fails loudly against a live "
            "loop; for an exactly-once store, run only with the stream "
            "stopped and its checkpoint committed past every on-disk "
            "batch (compaction flattens the batch dirs a same-id retry "
            "would overwrite)"
        ),
    )
    cc.add_argument("--corpus", required=True, help="corpus store dir")
    cc.add_argument(
        "--index", required=True,
        help="the loop's index path (its mutex serializes compaction)",
    )
    cc.add_argument(
        "--target-file-bytes",
        type=int,
        default=128 << 20,
        help="rewrite into ceil(store_bytes / this) files",
    )
    cc.add_argument(
        "--sort-by",
        default=None,
        help=(
            "optionally re-sort rows within each output file so parquet "
            "min/max stats prune point lookups on this column"
        ),
    )

    vi = sub.add_parser(
        "verify-index",
        help=(
            "r12 maintenance: health-check any at-rest index by its "
            "parameter sidecar — IVF/PQ run the row_count commit check "
            "(torn-write detection: rows on disk a crashed writer never "
            "acknowledged), banded LSH/SRP validate the sidecar and "
            "report row/band counts. Exit 1 on a torn or invalid "
            "index, 0 healthy, 3 busy — the cron-able twin of the "
            "checks the append paths and verify=True probes run "
            "inline. Takes the index's single-writer mutex around the "
            "row count (r12 ADVICE: counting concurrently with an "
            "append, between its data write and sidecar flip, reads a "
            "transient false TORN), so against a live ingest loop it "
            "reports busy instead of lying; --lock-timeout bounds how "
            "long it waits for a between-appends window."
        ),
    )
    vi.add_argument(
        "--index", required=True,
        help="at-rest index path (LSH / SRP / IVF / PQ — sidecar-detected)",
    )
    vi.add_argument(
        "--lock-timeout",
        type=float,
        default=0.0,
        help=(
            "seconds to wait for the index's single-writer mutex "
            "before reporting busy (exit 3); 0 = one attempt"
        ),
    )

    ri = sub.add_parser(
        "recluster-ivf",
        help=(
            "maintenance rebuild of an at-rest IVF ANN index: refit "
            "the coarse quantizer over the index's own rows and swap "
            "the re-partitioned cell layout in atomically (the "
            "actuator ivf_append_bucketed's drift_ratio points at; "
            "run it when the monitor reports sustained drift, or let "
            "the append path trigger it via recluster_threshold). "
            "Also the recovery path for a torn append detected by "
            "the sidecar's row_count commit."
        ),
    )
    ri.add_argument("--index", required=True, help="at-rest IVF index path")
    ri.add_argument(
        "--n-cells",
        type=int,
        default=None,
        help="new cell count (default: keep the standing sidecar's)",
    )

    rp = sub.add_parser(
        "rebuild-pq",
        help=(
            "maintenance rebuild of an at-rest PQ index: refit "
            "codebooks (and the coarse quantizer, when celled) from "
            "the RAW corpus store and swap the re-encoded layout in "
            "atomically — the actuator pq_append_index's drift_ratio "
            "points at (the index stores only m-byte codes, so unlike "
            "recluster-ivf the rebuild needs the corpus of raw "
            "vectors; point --corpus at the ingest loop's store). "
            "Also the recovery path for a torn append detected by "
            "verify-index."
        ),
    )
    rp.add_argument("--index", required=True, help="at-rest PQ index path")
    rp.add_argument(
        "--corpus", required=True,
        help=(
            "corpus store dir of raw vectors (plain or exactly-once "
            "layout — read via the loops' read_corpus view)"
        ),
    )
    rp.add_argument(
        "--vec-col", default="embedding",
        help="vector column in the corpus store",
    )
    rp.add_argument(
        "--n-cells",
        type=int,
        default=None,
        help="new cell count (default: keep the standing sidecar's)",
    )
    rp.add_argument(
        "--residual",
        action=argparse.BooleanOptionalAction,
        default=None,
        help=(
            "encode cell residuals (true IVFADC) instead of raw "
            "vectors — the measured recall-recovery migration for an "
            "index that has outgrown its refine floor (SCALING.md r13: "
            "0.62 vs 0.50 recall@5 at x10 corpus); --no-residual "
            "migrates back; default keeps the standing sidecar's "
            "encoding"
        ),
    )

    ta = sub.add_parser(
        "tune-ann",
        help=(
            "X89 advisor: measure the smallest nprobe whose recall@k "
            "meets a target on a deterministic query sample drawn from "
            "the corpus — exact-L2 ground truth computed once, then a "
            "doubling + binary-search sweep (O(log n_cells) probes). "
            "Works on at-rest IVF and celled PQ indexes "
            "(sidecar-detected); run per index build or after a "
            "recluster/rebuild, like the other maintenance jobs."
        ),
    )
    ta.add_argument("--index", required=True, help="at-rest IVF/PQ index path")
    ta.add_argument(
        "--corpus", required=True,
        help="corpus store dir of raw vectors (read_corpus view)",
    )
    ta.add_argument(
        "--target-recall", type=float, default=0.6,
        help="recall@k the tuned nprobe must meet on the sample",
    )
    ta.add_argument("--k", type=int, default=5, help="neighbors per query")
    ta.add_argument(
        "--sample-queries", type=int, default=20,
        help="deterministic query sample size (crc32 order)",
    )
    ta.add_argument(
        "--vec-col", default="embedding",
        help="vector column in the corpus store",
    )

    rx = sub.add_parser(
        "reconcile-index",
        help=(
            "X91: store<->index consistency check for a corpus store "
            "and ANY at-rest store over it — banded dedup "
            "(LSH/prefix/SRP), ANN serving (PQ/IVF) or seen-key "
            "(paragraph/window), sidecar-detected. Corpus rows "
            "missing from a dedup index are PERMANENT dedup blind "
            "spots; missing from a serving index they are SILENT "
            "RECALL LOSSES invisible to verify-index (the row_count "
            "commit balances because the row was never appended). "
            "--repair signs/encodes exactly those rows under the "
            "sidecar's own parameters/codebooks/centroids and appends "
            "them. Index orphans (ids gone from the corpus) are "
            "reported only (dedup kinds: candidate-volume cost, "
            "reclaim with `compact-index --prune-to-corpus`; serving "
            "kinds: scan waste + possible shortlist displacement, "
            "rebuild from the store with rebuild-pq / a fresh "
            "ivf_write_bucketed — recluster-ivf refits from the "
            "index's own rows and would KEEP them). "
            "Takes the index's single-writer mutex; exit 0 consistent "
            "or repaired, 1 blind spots remain"
        ),
    )
    rx.add_argument("--corpus", required=True, help="corpus store dir")
    rx.add_argument(
        "--index", required=True,
        help="at-rest index or seen-key store (sidecar-detected)",
    )
    rx.add_argument(
        "--repair", action="store_true",
        help="append band keys for corpus rows missing from the index",
    )
    rx.add_argument(
        "--text-col", default="text", help="text column (LSH modality)"
    )
    rx.add_argument(
        "--vec-col", default="embedding",
        help="vector column (SRP modality)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from nginx_analytics_spark.session import get_spark
    from nginx_analytics_spark.streaming.ingest import (
        jsonl_stream,
        kafka_stream,
        start_ingest,
    )

    spark = get_spark(app_name=f"nginx_analytics_{args.command}")

    # dedup-ingest's sinks are its corpus/index dirs, not the warehouse —
    # dispatch it BEFORE Warehouse construction so `wh` stays
    # unconditionally valid for every branch that reaches it (a
    # hasattr-guarded None would fail deep inside the next
    # warehouse-less subcommand instead of at the obvious spot)
    if args.command in ("dedup-ingest", "embedding-dedup-ingest"):
        from dataclasses import replace

        from nginx_analytics_spark.operators.index_fs import (
            LOCAL_FS,
            acquire_lock_wait,
            writer_lock_path,
        )
        from nginx_analytics_spark.streaming.dedup_ingest import (
            EMBEDDING,
            TEXT,
            start_dedup_ingest,
        )

        if args.command == "dedup-ingest":
            modality, schema = TEXT, "doc_id long, text string"
        else:
            modality = replace(
                EMBEDDING,
                sign={"n_planes": args.n_planes, "bands": args.bands,
                      "dim": args.dim, "seed": args.seed},
            )
            schema = "vec_id long, embedding array<float>"
        reader = spark.readStream.schema(schema)
        if args.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", str(args.max_files_per_trigger)
            )
        _quality_fn = None
        if args.command == "dedup-ingest" and args.quality_survivor:
            from nginx_analytics_spark.operators.text import quality_score

            _quality_fn = quality_score
        # Hold the index's single-writer mutex for the STREAM's
        # whole lifetime, not just each micro-batch (r8 review): an
        # offline `jobs compact-index` racing this loop then loses even
        # between micro-batches — the maintenance tool fails loudly,
        # never the production loop. Because of that lifetime hold,
        # the per-batch acquisitions inside process_batch can never
        # contend (lock_wait prints 0.000 by construction) — the one
        # acquisition that CAN contend is this startup one, so
        # --lock-timeout applies HERE (r9 review): the loop rides out
        # a finishing offline compactor instead of dying instantly.
        # acquire_lock_wait is un-entered until the `with` (r9 ADVICE
        # low: acquiring before the with left the mutex held with no
        # release path if anything failed in between — the print sat
        # exactly in that window)
        with acquire_lock_wait(
            LOCAL_FS,
            writer_lock_path(args.index),
            f"the {args.command} loop owns this index for its lifetime; "
            "stop the loop before compacting offline",
            timeout_s=args.lock_timeout,
        ) as waited:
            if waited >= 0.05:
                print(
                    f"index mutex acquired after {waited:.3f}s wait",
                    flush=True,
                )
            q = start_dedup_ingest(
                reader.parquet(args.source),
                args.corpus,
                args.index,
                args.checkpoint,
                modality=modality,
                threshold=args.threshold,
                trigger=_parse_trigger(args.trigger),
                exactly_once=args.exactly_once,
                compact_every=args.compact_every,
                max_files_per_band=args.max_files_per_band,
                lock_timeout_s=args.lock_timeout,
                quality_fn=_quality_fn,
                on_batch=lambda bid, n_in, n_novel, lock_wait: print(
                    f"batch {bid}: {n_in} in, {n_novel} admitted, "
                    f"lock_wait={lock_wait:.3f}s",
                    flush=True,
                ),
                lock_held=True,
            )
            q.awaitTermination()
        return 0

    # the index-maintenance commands are warehouse-less for the same reason
    if args.command == "compact-corpus":
        from nginx_analytics_spark.streaming.dedup_ingest import (
            compact_corpus,
        )

        stats = compact_corpus(
            spark,
            args.corpus,
            args.index,
            target_file_bytes=args.target_file_bytes,
            sort_by=args.sort_by,
        )
        print(
            f"corpus compacted: {stats['files_before']} -> "
            f"{stats['files_after']} files, {stats['rows']} rows"
        )
        return 0

    if args.command == "verify-index":
        from nginx_analytics_spark.operators import similarity
        from nginx_analytics_spark.operators.index_fs import (
            BANDED_KINDS,
            CELL_KINDS,
            LOCAL_FS,
            LockHeldError,
            MissingSidecarError,
            acquire_lock_wait,
            banded_index_read,
            cell_index_verify,
            index_kind,
            read_sidecar,
            writer_lock_path,
        )

        p = args.index
        # The row counts below must not race a writer sitting between
        # its data write and its sidecar flip, or a compactor mid-band-
        # swap (r12 ADVICE: that window reads as a transient false TORN
        # / a skewed band count). Take the same single-writer mutex the
        # loops, appenders, and compactors serialize on; a live holder
        # means the index is BUSY, not broken — exit 3, not 1, so a
        # cron alert distinguishes "re-check when quiesced" from
        # "rebuild now". --lock-timeout bounds the wait for a
        # between-appends window (0 = one attempt). This ONE sibling
        # (index_fs.writer_lock_path) covers every kind since r14: all
        # four PQ/IVF writers (pq_append_index / ivf_append_bucketed /
        # rebuild_pq / recluster_ivf) acquire it first (r13 ADVICE
        # medium: they used to be lock-free or lock distinct siblings,
        # leaving this guard open for exactly the kinds with row_count
        # semantics).
        lock = acquire_lock_wait(
            LOCAL_FS,
            writer_lock_path(p),
            "verify-index counts rows only while no writer holds the "
            "index",
            timeout_s=args.lock_timeout,
        )
        try:
            lock.__enter__()
        except LockHeldError:
            print(
                f"index at {p!r} is BUSY: its single-writer mutex is "
                "held (a live ingest loop, appender, or compactor) — "
                "row counts taken now could report a transient false "
                "TORN. Re-run when appends are quiesced, or pass "
                "--lock-timeout to wait for a window."
            )
            return 3
        try:
            try:
                kind = index_kind(p, kinds=(*BANDED_KINDS, *CELL_KINDS))
            except MissingSidecarError as e:
                print(f"{e} — not an at-rest index")
                return 1
            if kind in BANDED_KINDS:
                # banded indexes carry no row_count commit (appends are
                # at-least-once by design — duplicate band rows collapse in
                # the probe's candidate distinct); health = sidecar valid +
                # readable rows, reported for operator eyes
                read_sidecar(p, kind)
                rows = banded_index_read(spark, p)
                n = rows.count()
                bands = rows.select("band_idx").distinct().count()
                print(
                    f"{kind} index healthy: sidecar valid, {n} band-key "
                    f"rows across {bands} bands"
                )
                return 0
            # a sidecar whose fitted arrays are corrupt fails loudly here
            (
                similarity.read_pq_index_meta
                if kind == "pq"
                else similarity.read_ivf_index_meta
            )(p)
            check = cell_index_verify(spark, p, kind)
            state = (
                "UNKNOWN (pre-commit-protocol sidecar; next append upgrades it)"
                if check["torn"] is None
                else ("TORN" if check["torn"] else "healthy")
            )
            print(
                f"{kind} index {state}: sidecar commits "
                f"{check['expected']} rows, disk holds {check['actual']}"
            )
            return 1 if check["torn"] else 0
        finally:
            lock.__exit__(None, None, None)

    if args.command == "recluster-ivf":
        from nginx_analytics_spark.operators import similarity

        stats = similarity.recluster_ivf(
            spark, args.index, n_cells=args.n_cells
        )
        print(
            f"ivf index reclustered: {stats['n_rows']} rows into "
            f"{stats['n_cells']} cells, mean assignment distance "
            f"{stats['old_mean_assign_dist']:.6g} -> "
            f"{stats['new_mean_assign_dist']:.6g}"
        )
        return 0

    if args.command == "rebuild-pq":
        from nginx_analytics_spark.operators import similarity
        from nginx_analytics_spark.streaming.dedup_ingest import read_corpus

        stats = similarity.rebuild_pq(
            spark,
            read_corpus(spark, args.corpus),
            args.index,
            vec_col=args.vec_col,
            n_cells=args.n_cells,
            residual=args.residual,
        )
        layout = (
            f"{stats['n_cells']} cells"
            f"{' (residual codes)' if stats['residual'] else ''}"
            if stats["n_cells"] is not None
            else "flat"
        )
        print(
            f"pq index rebuilt: {stats['n_rows']} rows, {layout}, "
            f"mean quantization error "
            f"{stats['old_mean_quant_err']:.6g} -> "
            f"{stats['new_mean_quant_err']:.6g}"
        )
        return 0

    if args.command == "reconcile-index":
        from nginx_analytics_spark.streaming.dedup_ingest import (
            reconcile_index,
        )

        out = reconcile_index(
            spark, args.corpus, args.index,
            text_col=args.text_col, vec_col=args.vec_col,
            repair=args.repair,
        )
        serving = out["kind"] in ("pq", "ivf")
        fixed = f" ({out['repaired']} repaired)" if out["repaired"] else ""
        if "index_orphans" not in out:  # a seen-key store: keys, no ids
            print(
                f"{out['kind']} store vs corpus: "
                f"{out['missing_from_index']} missing from index{fixed}"
            )
        else:
            orphan_fix = (
                "rebuild from the store to reclaim"
                if serving
                else "reclaim with compact-index --prune-to-corpus"
            )
            print(
                f"{out['kind']} index vs corpus: {out['corpus_ids']} corpus "
                f"ids, {out['indexed_ids']} indexed; "
                f"{out['missing_from_index']} missing from index{fixed}, "
                f"{out['index_orphans']} index orphans "
                f"({'scan waste' if serving else 'candidate-volume cost'} "
                f"only; {orphan_fix})"
            )
        remaining = out["missing_from_index"] - out["repaired"]
        if remaining:
            print(
                f"{remaining} corpus rows are "
                + (
                    "SILENT RECALL LOSSES — no probe can ever return "
                    "them"
                    if serving
                    else "DEDUP BLIND SPOTS — near-duplicates of them "
                    "will be admitted"
                )
                + "; re-run with --repair"
            )
            return 1
        return 0

    if args.command == "tune-ann":
        import json as _json

        from nginx_analytics_spark.operators import similarity
        from nginx_analytics_spark.streaming.dedup_ingest import read_corpus

        out = similarity.tune_ann_nprobe(
            spark,
            read_corpus(spark, args.corpus),
            args.index,
            target_recall=args.target_recall,
            k=args.k,
            sample_queries=args.sample_queries,
            vec_col=args.vec_col,
        )
        print(_json.dumps(out))
        if out.get("non_monotone"):
            print(
                "note: non-monotone sweep — a measured recall DECREASED "
                "as nprobe grew (PQ quantization noise can displace a "
                "true neighbor from a larger ADC shortlist), so the "
                "minimality of the answer is certified only at the "
                "probed points"
            )
        if out["met"]:
            print(
                f"tuned: nprobe={out['nprobe']} of {out['n_cells']} "
                f"cells ({out['scan_fraction']:.0%} scan) reaches "
                f"recall@{out['k']} {out['recall']:.2f} >= "
                f"{out['target_recall']:.2f} on {out['sample_queries']} "
                "sampled queries"
            )
            return 0
        print(
            f"target unreachable: full scan (nprobe={out['n_cells']}) "
            f"measures recall@{out['k']} {out['recall']:.2f} < "
            f"{out['target_recall']:.2f} — raise m/n_codes or "
            "refine_frac (PQ) / re-fit cells (IVF), not nprobe"
        )
        return 1

    if args.command == "compact-index":
        from nginx_analytics_spark.operators.index_fs import (
            BANDED_KINDS,
            banded_index_compact,
            index_kind,
            read_sidecar,
        )

        # One CLI, every banded kind (lsh, prefix, srp): the at-rest
        # format and its compactor are shared; the sidecar names the
        # kind, and a non-index dir fails loudly.
        kind = index_kind(args.index, kinds=BANDED_KINDS)
        kwargs = dict(
            max_files_per_band=args.max_files_per_band,
            target_files=args.target_files,
            target_file_bytes=args.target_file_bytes,
            max_concurrency=args.max_concurrency,
        )
        if args.prune_to_corpus:
            from nginx_analytics_spark.streaming.dedup_ingest import (
                read_corpus,
            )

            kwargs["prune_ids"] = read_corpus(
                spark, args.prune_to_corpus
            ).select(read_sidecar(args.index, kind)["id_col"])
        stats = banded_index_compact(spark, args.index, **kwargs)
        print(
            f"index compacted: {stats['bands_compacted']} of "
            f"{stats['bands_seen']} bands, {stats['files_before']} -> "
            f"{stats['files_after']} files"
            + (
                " (orphans pruned from rewritten bands)"
                if args.prune_to_corpus
                else ""
            )
        )
        return 0

    wh = Warehouse(spark, args.warehouse)

    if args.command == "ingest":
        if args.kafka_bootstrap:
            if not args.topic:
                raise SystemExit("--topic is required with --kafka-bootstrap")
            stream = kafka_stream(
                spark, args.kafka_bootstrap, args.topic, args.starting_offsets
            ).selectExpr("CAST(value AS STRING) AS value")
        else:
            stream = jsonl_stream(spark, args.source, args.max_files_per_trigger)
        q = start_ingest(
            stream, wh, args.checkpoint, _parse_trigger(args.trigger),
            exactly_once=args.exactly_once,
        )
        q.awaitTermination()
        return 0

    if args.command == "anomaly":
        from nginx_analytics_spark.operators import anomaly as anomaly_ops
        from nginx_analytics_spark.streaming.windows import start_anomaly_job

        stream = (
            spark.readStream.schema(ENRICHED_STREAM_SCHEMA).parquet(args.source)
        )
        q = start_anomaly_job(
            stream,
            wh,
            args.checkpoint,
            as_of_of_batch=(
                (lambda _df: args.as_of) if args.as_of is not None else None
            ),
            z_threshold=(
                args.z_threshold
                if args.z_threshold is not None
                else anomaly_ops.Z_THRESHOLD
            ),
            new_key_count=(
                args.new_key_count
                if args.new_key_count is not None
                else anomaly_ops.NEW_KEY_COUNT_THRESHOLD
            ),
            trigger=_parse_trigger(args.trigger),
        )
        q.awaitTermination()
        return 0

    if args.command == "retrain":
        model = retrain_response_time(
            spark, wh, args.as_of, args.model, lookback_days=args.lookback_days
        )
        print("model trained and saved" if model is not None else "gated: <100 rows")
        return 0

    if args.command == "compact":
        n = wh.compact_raw_logs()
        print(f"raw_logs compacted to {n} files")
        return 0

    if args.command == "curate":
        from nginx_analytics_spark.operators import curation
        from nginx_analytics_spark.sources.readers import read_parquet

        docs = read_parquet(spark, args.source)
        kwargs = {}
        if args.bench_fraction is not None:
            kwargs["bench_fraction"] = args.bench_fraction
        if args.contam_n is not None:
            kwargs["contam_n"] = args.contam_n
        out = curation.curate_documents(docs, **kwargs)
        dest = wh.path("curated_documents")
        # partitioned by language: downstream per-language training mixes
        # prune at the directory level instead of scanning the corpus
        out.write.mode("overwrite").partitionBy("predicted_lang").parquet(dest)
        print(f"curated_documents written: {spark.read.parquet(dest).count()} rows")
        return 0

    if args.command == "export-shards":
        from nginx_analytics_spark.operators.export import write_shards
        from nginx_analytics_spark.sources.readers import read_parquet

        df = read_parquet(spark, args.source)
        dest = wh.path("training_shards")
        n = write_shards(df, dest, key=args.key, n_shards=args.n_shards)
        print(f"training_shards written: {n} shards")
        return 0

    if args.command == "handoff":
        from nginx_analytics_spark.operators import curation
        from nginx_analytics_spark.operators.export import write_shards
        from nginx_analytics_spark.operators.layout import zorder_write
        from nginx_analytics_spark.sources.readers import read_parquet

        docs = read_parquet(spark, args.source)
        kwargs = {}
        if args.bench_fraction is not None:
            kwargs["bench_fraction"] = args.bench_fraction
        if args.contam_n is not None:
            kwargs["contam_n"] = args.contam_n
        # Stage 1 — curate, carrying the text for training consumption.
        curated = curation.curate_documents(docs, **kwargs).join(
            docs.select("doc_id", "text"), "doc_id"
        )
        persisted = []  # frames to release once every consumer has run
        pre_score = None  # the distillation branch's gate-stack cache
        if args.quality_weights or args.quality_model:
            # X81 wiring (r6 verdict item 5): the hand-off's end product
            # carries the calibrated sampling weight the classifier
            # exists to produce. Scoring is one shuffle-free feature
            # projection + dot product per doc; the equi-join on doc_id
            # rides the same key as every other hand-off join.
            # --quality-model implies --quality-weights (r7 review: a
            # model-only invocation silently scoring nothing would be a
            # trap).
            from nginx_analytics_spark.ml import quality as qmod

            if args.quality_model:
                from pyspark.ml import PipelineModel

                model = PipelineModel.load(args.quality_model)
            else:
                # In-job distillation teaches against THIS handoff's
                # gates: the CLI's --bench-fraction/--contam-n thread
                # into the teacher split, and the already-curated
                # survivor set IS the teacher's keep verdict — persisted
                # so the expensive gate stack executes once, not once
                # for landing and again for labels (r7 review).
                from pyspark import StorageLevel

                curated = curated.persist(StorageLevel.DISK_ONLY)
                persisted.append(curated)
                pre_score = curated
                model = qmod.train_quality_classifier(
                    docs, kept=curated, **kwargs
                )
            # Score only the SURVIVORS (scoring is row-local, so values
            # are identical to scoring the full corpus): at scale the
            # gate drops a large fraction of docs, and their feature
            # scan would be pure waste.
            curated = curated.join(
                qmod.score_quality(
                    model, curated.select("doc_id", "text")
                ),
                "doc_id",
            )
            if args.quality_sample is not None:
                # X83: the calibrated probability SELECTS the corpus —
                # rate ∝ quality_prob, normalized to ~FRAC of the
                # survivors, membership on the portable doc_id hash so
                # a re-run (or another engine) lands the same shards.
                # Cache the scored frame first: the normalization agg
                # is a second pass, and without this it would re-run
                # the whole gate stack + scoring join.
                from pyspark import StorageLevel

                from nginx_analytics_spark.operators.sampling import (
                    quality_weighted_sample,
                )

                scored = curated.persist(StorageLevel.DISK_ONLY)
                persisted.append(scored)
                if pre_score is not None:
                    # r8 review: the pre-score gate-stack cache's last
                    # consumer is scored's own fill — materialize
                    # scored now and release the pre-score blocks, so
                    # the landing stage never holds TWO disk copies of
                    # the corpus text at once.
                    scored.count()
                    # blocking: the async default only SCHEDULES block
                    # removal, which would let the landing start while
                    # both disk copies still exist (r8 review)
                    pre_score.unpersist(blocking=True)
                    persisted.remove(pre_score)
                    pre_score = None
                curated = quality_weighted_sample(
                    scored, "quality_prob", "doc_id",
                    target_frac=args.quality_sample,
                ).drop("rate")
        elif args.quality_sample is not None:
            raise SystemExit(
                "--quality-sample needs a quality_prob column: pass "
                "--quality-weights or --quality-model"
            )
        # Stage 2 — land the curated corpus. zorder (default): 2-D
        # row-group pruning for selection by length band / quality
        # floor (X59). bucketed: catalog table hash-bucketed by doc_id,
        # so every downstream equi-join on doc_id is exchange-free
        # (X38 — the layout to pick when the corpus joins against
        # other doc-keyed tables more often than it is range-scanned).
        if args.layout == "bucketed":
            from nginx_analytics_spark.sources.warehouse import write_bucketed

            write_bucketed(curated, "curated_corpus", "doc_id")
            landed = spark.table("curated_corpus")
        else:
            corpus_dest = wh.path("curated_corpus")
            zorder_write(curated, corpus_dest, "ws_tokens", "quality")
            # Stage 3 reads the LANDED corpus (curation runs once; the
            # at-rest table is the stage boundary, as in a real pipeline).
            landed = spark.read.parquet(corpus_dest)
        for frame in persisted:
            # every consumer of the cached frames (teacher labels,
            # scoring join, sampling normalization, corpus write) has
            # executed — release the blocks so an in-session caller
            # doesn't leak them (r7 ADVICE; a CLI run exits anyway)
            frame.unpersist()
        n = write_shards(
            landed, wh.path("training_shards"), key="doc_id",
            n_shards=args.n_shards,
        )
        print(
            f"handoff complete: {landed.count()} curated docs -> "
            f"curated_corpus ({args.layout}) -> {n} training shards"
        )
        return 0

    raise SystemExit(f"unknown command {args.command}")  # pragma: no cover


if __name__ == "__main__":
    raise SystemExit(main())
