"""``corpus_dedup``: the X80 loop through ``start_dedup_ingest``.

Set-up writes every batch file first: ``BATCH_DOCS`` documents each, of
which ``DUP_SHARE`` are near-duplicates of docs admitted by earlier
batches.  The loop then drains them one file per micro-batch
(``availableNow``, ``maxFilesPerTrigger=1``), so the corpus store and its
at-rest LSH index grow throughout the run while every batch probes them.
The first ``WARMUP_BATCHES`` commits are set-up; the timed batches
follow.  An op is one micro-batch commit; it is correct when the loop
admits exactly the fresh docs.  At the end the corpus must hold exactly
the fresh ids, the index must cover exactly those ids, and
``reconcile_index`` must report no doc missing from the index.
"""

from __future__ import annotations

import os
import time

import gen
import tracing
from common import Op

BATCH_DOCS = 250
DUP_SHARE = 0.2
# Fixed warm-up: the first batch bootstraps the index; the rest take the
# loop past most of its JIT ramp, which lasts about ten batches.
WARMUP_BATCHES = 6
# Timed batches per run: one per BATCH_S seconds of --seconds, never
# fewer than MIN_BATCHES.  The count depends on --seconds only, not on
# how fast the engine is, so every run times the same batches.
BATCH_S = 1.5
MIN_BATCHES = 10
DEDUP_PHASES = {
    "X80: dedup+shingle batch": "dedup_shingle",
    "X80: sign batch": "sign",
    "X80: probe at-rest index": "probe",
    "X80: novel materialize": "materialize",
    "X80: corpus write": "corpus_write",
    "X80: index append": "index_append",
}


def write_batches(src: str, seed: int, n: int) -> list[gen.DocBatch]:
    """Write ``n`` seeded batch files with strictly increasing mtimes, so
    the file source takes them in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stream = gen.doc_batches(seed, BATCH_DOCS, DUP_SHARE)
    base_ns = time.time_ns() - 10**12
    batches = []
    for i in range(n):
        b = next(stream)
        batches.append(b)
        path = os.path.join(src, f"b{i:06d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(b.ids, pa.int64()), "text": b.texts}), path)
        t = base_ns + i * 10_000_000
        os.utime(path, ns=(t, t))
    return batches


def run(ctx) -> dict:
    from nginx_analytics_spark.operators import dedup
    from nginx_analytics_spark.streaming import dedup_ingest

    spark, work = ctx.spark, ctx.work
    src = os.path.join(work, "src")
    corpus, index = os.path.join(work, "corpus"), os.path.join(work, "index")
    os.makedirs(src)
    n_timed = max(MIN_BATCHES, round(ctx.seconds / BATCH_S))
    batches = write_batches(src, ctx.seed, WARMUP_BATCHES + n_timed)
    seen: dict[int, tuple[int, int]] = {}  # batch -> (in, admitted)
    if ctx.tracer:
        ctx.tracer.wrap(dedup_ingest, "dedup_batch_against_corpus", "dedup.batch")
        ctx.tracer.wrap(dedup, "append_lsh_index", "dedup.index_append")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    t0 = time.time()
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = dedup_ingest.start_dedup_ingest(
        stream, corpus, index, os.path.join(work, "checkpoint"),
        trigger={"availableNow": True},
        on_batch=lambda b, n_in, n_novel, _wait: seen.__setitem__(b, (n_in, n_novel)),
    )
    try:
        q.awaitTermination()
    finally:
        if ctx.tracer:
            ctx.tracer.restore()
    progress = sorted((p for p in q.recentProgress if p["numInputRows"]),
                      key=lambda p: p["batchId"])
    ops = []
    for p in progress[WARMUP_BATCHES:]:
        b = p["batchId"]
        n_in, n_novel = seen.get(b, (0, -1))
        ok = n_in == BATCH_DOCS and n_novel == len(batches[b].fresh)
        ops.append(Op(p["durationMs"]["triggerExecution"] / 1000.0, ok, float(n_in)))

    # set-up ends, and the timed window starts, at the last warm-up commit
    ends = [s["end"] for s in tracing.progress_spans(progress) if s["name"] == "op"]
    window = ends[-1] - ends[WARMUP_BATCHES - 1]

    fresh = sorted(i for b in batches for i in b.fresh)
    admitted = sorted(r[0] for r in dedup_ingest.read_corpus(spark, corpus).select("doc_id").collect())
    indexed = sorted(r[0] for r in spark.read.parquet(index).select("doc_id").distinct().collect())
    rec = dedup_ingest.reconcile_index(spark, corpus, index)
    result = {
        "ops": ops,
        "setup_extra_s": ends[WARMUP_BATCHES - 1] - t0,
        "throughput_per_s": sum(o.units for o in ops) / window,
        "correct_extra": (admitted == fresh == indexed and rec["missing_from_index"] == 0
                          and len(progress) == len(batches)),
    }
    if ctx.tracer:
        result["per_layer"] = layers(ctx, progress, seen, corpus, index, len(admitted))
    return result


def layers(ctx, progress, seen: dict, corpus: str, index: str, n_admitted: int) -> dict:
    spans = tracing.progress_spans(progress)
    ops = [s for s in spans if s["name"] == "op"][WARMUP_BATCHES:]
    n = len(ops)
    inner = ctx.tracer.spans + [s for s in spans if s["name"] != "op"]
    jobs = tracing.spark_jobs(ctx.spark)
    out = tracing.op_layer_metrics(ops, inner, jobs)
    out.update(tracing.streaming_metrics(progress[WARMUP_BATCHES:]))
    phase = {v: 0.0 for v in DEDUP_PHASES.values()}
    for js in tracing.assign(ops, jobs).values():
        per: dict[str, list] = {v: [] for v in DEDUP_PHASES.values()}
        for j in js:
            if j["description"] in DEDUP_PHASES:
                per[DEDUP_PHASES[j["description"]]].append((j["start"], j["end"]))
        for k, iv in per.items():
            phase[k] += tracing.union_length(iv)
    for k, v in phase.items():
        out[f"dedup_ingest.phase_s.{k}"] = v / n
    idx_files, idx_bytes = tracing.tree_files(index)
    bands = [d for d in os.listdir(index) if d.startswith("band_idx=")]
    _, corpus_bytes = tracing.tree_files(corpus)
    counts = list(seen.values())
    out.update({
        "dedup_ingest.jobs_per_batch": out["spark.jobs_per_op"],
        "dedup_ingest.novel_ratio": sum(c[1] for c in counts) / sum(c[0] for c in counts),
        "index_fs.files_per_band": idx_files / max(len(bands), 1),
        "index_fs.bytes_per_doc": idx_bytes / n_admitted,
        "corpus.bytes_per_doc": corpus_bytes / n_admitted,
    })
    return out
