#!/usr/bin/env python
"""Headline benchmark — the driver's per-round BENCH_r{N}.json feed.

Runs the engine's representative query set at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Output contract (r4 fix: BENCH_r04.json captured only a 2000-char tail of
stdout, so the single ~2.6 KB JSON line lost its head and parsed as null):
  * stdout line 1: the FULL result JSON (metric/value/unit/queries/sf/
    loadavg/protocol) — intact for any consumer that reads whole stdout;
  * ``bench_full.json`` (repo root): the same full JSON, as a durable
    artifact next to ``bench_stderr.log``'s per-query progress lines;
  * stdout LAST line: a COMPACT summary JSON guaranteed < 1 KB — suite
    total, per-group subtotals, query count, ingest events/s — so a
    tail-truncating capture always ends with one parseable line.

Methodology:
  * Each query executes end-to-end into a ``noop`` sink — full computation,
    no driver collection and no disk-write cost in the measurement.
  * MULTI-PASS BEST-OF (r13, r12 verdict item 1): the r12 artifact
    inflated x1.45 on common queries from HOST ambient noise — uniform
    across untouched queries, zero improvements anywhere, same-code
    reruns spanning 69.7-75.1 s — which the guest loadavg gate cannot
    see. The whole suite now runs SUITE_PASSES (3) times, fresh JVMs
    each pass, and each query reports its BEST across passes; the
    artifact carries per-pass group totals (``pass_group_totals``) so
    a reader separates code from weather without consulting git: wide
    pass spread + tight best = ambient, tight spread that moved
    round-over-round = a plan change. Throughput passes run
    THROUGHPUT_PASSES (2) times with every rate recorded
    (``pass_rates``), best kept. The extra suite passes are
    WALL-BUDGETED (SUITE_WALL_BUDGET_S, default 1200 s, env-overridable
    via SPARK_GRAFT_BENCH_BUDGET_S): another pass starts only if the
    projected total fits, so on an ambient-slow host the protocol
    degrades to fewer passes — recorded as ``suite_passes`` in the
    artifact — instead of tripling the wall into whatever timeout the
    caller runs bench.py under and leaving NO artifact.
  * QUIET-MACHINE GATE (r5): the suite refuses to start while the 1-min
    loadavg exceeds LOAD_GATE (sleep-retry, bounded wait). Evidence: the
    r4 run started at loadavg 3.5 and four unchanged sub-second queries
    drifted 1.5-2x. If the bound is exhausted the run proceeds and the
    summary carries ``"load_gate": "timeout"`` so the numbers are read
    with that asterisk.
  * NOISE ISOLATION (r3 -> r4 protocol fix): the suite runs as several
    QUERY GROUPS, each in a FRESH subprocess with its own JVM. Evidence
    from BENCH_r02/r03: a single long session accumulates hundreds of
    generated expression classes, HotSpot call sites go megamorphic, and
    unchanged queries drift 2x round-over-round (count_raw 0.18 -> 0.36s
    with zero code change). Fresh JVMs per group cap that interference;
    groups run SEQUENTIALLY so they never compete for cores.
  * Within a group: one untimed warmup query amortizes JVM/codegen
    startup, then each query reports the BEST OF 2 back-to-back runs —
    BEST OF 3 when the query is sub-second (r5: short queries have the
    worst relative jitter; a third sample cuts the observed 1.5-2x
    drift tail). If two runs disagree by >2x another run is taken and
    the best kept: HotSpot occasionally deoptimizes/recompiles mid-run —
    a JVM artifact, not a plan cost.
  * JIT PLATEAU RULE (r6, closing r4 item 3's residual): sub-second
    queries keep sampling (cap 6) while each run still improves the
    best by >10%. ROOT CAUSE of the r3->r5 drift on latency_percentiles
    (0.43 -> 0.58) and exact_dedup_events (0.29 -> 0.50), measured on a
    quiet machine (loadavg 0.76): these two are dominated by
    SortExec/UnsafeExternalSorter codegen that tiered compilation takes
    4-6 invocations to carry to C2 — a fresh JVM's 6 back-to-back runs
    ramp monotonically 1.37/0.71/0.61/0.50/0.48/0.45 s and
    0.81/0.39/0.36/0.35/0.33/0.33 s, converging on the r3 figures. r3's
    smaller groups simply ran them after more same-JVM sort-shaped
    warmup; best-of-2/3 was sampling the still-warming tail, not a plan
    regression. The plateau rule reports a converged-or-near-converged
    figure (sample cap 6, stop under 10%/step improvement — in a busy
    group it can stop a step or two short of the 6-run asymptote), so
    round-over-round deltas reflect plans, with the residual bounded by
    the documented ramp, not unexplained.
  * INGEST THROUGHPUT: a separate fresh-JVM pass streams the fixture's
    events as nginx JSONL through the real foreachBatch parse->warehouse
    ingest (availableNow) and reports events/s end-to-end — the number
    the reference's producer envelope (~16.7 events/s) is compared
    against. Reported separately from the query suite because its unit
    differs and its wall time includes the streaming harness.
  * The set spans the reference surface (parse/enrich, aggregations, the
    z-score anomaly chain, feature projections, top-k windows) plus the
    corpus operators (MinHash dedup, ANN, text stats) — the shapes that
    dominate at 100 TB. The benched minhash entry is the PURE-LSH scale
    path (minhash_lsh_pairs); the exact_net oracle-gate variant is
    correctness-tier only. Same split for X69 (r5 verdict item 2): the
    benched entry is incremental_near_dups_probe — sign batch, probe the
    PRE-STAGED at-rest index, verify pruned candidates, i.e. the
    recurring per-batch cost — while incremental_near_dups (one-time
    index build + exact_net brute-force union, the driver's exact
    oracle twin) and incremental_index_near_dups (X79: the same gate
    over an append-built index) are excluded like minhash_dedup_pairs.
    The probe's first-ever run on a fixture builds the index once;
    best-of-N then reports the warm at-rest path, the production shape.
  * EXCLUDED by design — the exhaustive per-name map with reasons is
    ``BENCH_EXCLUDED`` below (r6 verdict item: every exclusion is NAMED
    so the contract stays auditable; tests/test_bench_contract.py
    asserts benched + excluded == registered, no gaps, no overlap).
    The categories: iterative trainers (bpe_merges — 12
    driver-coordinated rounds; the MLlib fits rt_model_predictions/
    rt_scoring_roundtrip/quality_classifier_scores — model-fit cost,
    not engine throughput), side-effecting roundtrip harnesses
    (windowed_*/session_windows/streaming_ingest_roundtrip/
    anomaly_job_roundtrip/stream_stream_*/dedup_ingest_roundtrip —
    they stage temp files and drive real StreamingQueries whose
    trigger/teardown dominates wall time; the ingest and dedup-ingest
    paths instead get the dedicated throughput passes above/below),
    oracle-gate exactness variants whose cost is O(corpus) by
    construction (minhash_dedup_pairs / incremental_near_dups /
    incremental_index_near_dups / ann_pq_topk_refined — each has a
    separately-benched production headline), and deliberate strawmen
    (embedding_dedup_pairs). Correctness for every excluded name is
    covered by CORRECTNESS entries and pytest.
  * DEDUP-INGEST THROUGHPUT (r7, closing the r6 "X80 has no measured
    number" finding): a separate fresh-JVM pass drives the real X80
    foreachBatch loop — exact+near within-batch dedup, at-rest index
    probe, corpus+index append — over >=10 micro-batches of the
    fixture's documents and reports docs/s admitted, per-batch wall
    times, and index growth. Reported beside the query suite because
    its unit differs (docs/s, not sec/query) and its wall time is
    dominated by the per-batch streaming harness by design.
  * EMBEDDING-INGEST THROUGHPUT (r12; batch shape fixed r13): the same
    pass for the X85 semantic dedup-ingest loop — 10 micro-batches
    through exact + SRP near-dedup, the X84 at-rest index probe, and
    corpus + index appends; reports vecs/s admitted and per-batch
    walls (flat by design at the 64-plane default — the 32-plane
    collision-growth failure mode is measured in SCALING.md). Benched
    at replicate=10 (~2,000 rows/batch at sf0.1): the r12 headline ran
    200-row batches whose ~7 s wall is ~90% fixed micro-batch harness
    overhead (measured corpus-independent, SCALING.md r12), so its
    21.9 vecs/s under-reported the loop ~10x; the controlled
    2,000-row run (7.9 s flat => ~250 vecs/s) is the honest sizing.
  * Known benign noise: a terminating StreamingQuery's final micro-batch
    can deliver task-end accumulator updates after its SQL execution is
    unregistered; local-mode Spark logs "Failed to update accumulator
    (Unknown class)" at ERROR. Harmless (rc=0, results unaffected),
    non-deterministic, and absent from clean runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

LOAD_GATE = 1.0  # max 1-min loadavg to start (judge-mandated quiet-machine bar)
LOAD_GATE_WAIT_S = 600  # give a busy machine up to 10 min to drain
SUBSECOND = 1.0  # best-of-3 below this (worst relative jitter)
SUITE_PASSES = 3  # max fresh-JVM suite passes; per-query best reported (r13)
THROUGHPUT_PASSES = 2  # fresh-JVM throughput passes; best rate reported
# Wall budget for the QUERY-SUITE passes: another full pass starts only
# if (elapsed + the mean duration of completed passes) fits. The driver
# runs bench.py under an unknown timeout; a protocol that can triple the
# wall on a noisy host must degrade to fewer passes gracefully (passes
# actually run are recorded in the artifact) rather than get killed
# mid-run and leave no artifact at all. Override: SPARK_GRAFT_BENCH_BUDGET_S.
SUITE_WALL_BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1200"))

# Groups run in separate fresh-JVM subprocesses (see docstring). The split
# keeps each JVM's live expression-class population small and roughly
# balances wall time per group.
BENCH_GROUPS: dict[str, list[str]] = {
    # reference-surface shapes: parse chain, aggs, anomaly chain, TPC-H
    "reference": [
        "count_raw",
        "parse_enrich",
        "batch_ip_stats",
        "hourly_reagg",
        "zscore_anomaly",
        "anomaly_detail",
        "training_features",
        "predict_features",
        "incremental_ip_stats",
        "sketch_distinct_users_7d",
        "kll_latency_percentiles_7d",
        "theta_user_overlap",
        "top_endpoints",
        "top_endpoints_bounded",
        "distinct_users",
        "approx_distinct_users",
        "data_expectations",
        "cms_user_counts_7d",
        "salted_ip_stats",
        "salted_user_join",
        "stateful_key_profiles",
        "traffic_forecast",
    ],
    # classic warehouse analytics: the TPC-H query shapes (X36/X52/X58/X66)
    "tpch": [
        "pricing_summary",
        "shipping_priority",
        "local_supplier_volume",
        "returned_items",
        "order_priority_check",
        "forecast_revenue",
        "priority_shipping",
        "promo_revenue",
        "large_volume_customers",
        "volume_shipping",
        "top_supplier",
        "small_quantity_revenue",
        "brand_size_revenue",
        "idle_customers",
        "market_share",
        "customer_order_distribution",
        "min_cost_supplier",
        "product_profit",
        "important_parts",
        "supplier_part_counts",
        "dominant_suppliers",
        "waiting_suppliers",
    ],
    # corpus text/dedup/sampling shapes (M6)
    "corpus": [
        "exact_dedup_events",
        "incremental_new_docs",
        "minhash_lsh_pairs",
        "simhash_near_dup",
        "ngram_jaccard_pairs",
        "clean_corpus",
        "curate_corpus",
        "token_stats",
        "language_id",
        "doc_quality",
        "doc_fingerprint",
        "bpe_pair_counts",
        "repetition_stats",
        "pack_chunks",
        "doc_chunks",
        "corpus_report",
        "corpus_report_incremental",
        "contamination_check",
        "pii_redaction",
        "multimodal_features",
        "frame_features",
        "tfidf_top_terms",
        "doc_logprob",
        "shard_manifest",
        "heavy_tokens",
        "dedup_clusters",
        "exact_jaccard_pairs",
        "training_handoff",
        "incremental_near_dups_probe",
        "bpe_tokens_pretrained",
        "jaccard_pairs_prefix",
        "jaccard_pairs_prefix_capped",
        "incremental_jaccard_prefix",
        "incremental_jaccard_prefix_probe",
        "paragraph_dedup_docs",
        "boilerplate_strip_docs",
        "exact_substring_dedup_docs",
        "incremental_paragraph_dedup_docs",
        "decontaminate_docs",
        "prefix_cap_report",
        "quality_survivors",
        "incremental_exact_substring_docs",
    ],
    # temporal/behavioral/sampling/ANN shapes
    "analytics": [
        "latency_percentiles",
        "latency_percentiles_approx",
        "asof_last_purchase",
        "scd2_user_plans",
        "rolling_7d_avg",
        "traffic_rollup",
        "traffic_cube",
        "error_only_users",
        "engaged_users",
        "value_rank_profile",
        "purchase_window_counts",
        "conversion_funnel",
        "cohort_retention",
        "dataset_split_counts",
        "stratified_sample_events",
        "grouped_split_users",
        "per_source_sample",
        "weighted_sample_docs",
        "temperature_sample_docs",
        "quality_weighted_sample",
        "value_deciles",
        "value_buckets_approx",
        "embedding_centroids",
        "user_sessions",
        "daily_event_matrix",
        "purchase_and_error_users",
        "value_trends",
        "ann_cosine_topk",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "ann_ivf_indexed",
        "ann_pq_topk",
        "ann_pq_indexed",
        "ann_pq_indexed_residual",
        "embedding_lsh_pairs",
        "incremental_embedding_near_dups_probe",
    ],
}

BENCH_QUERIES = [q for grp in BENCH_GROUPS.values() for q in grp]

# Registered-but-not-benched, each with its documented reason — the
# auditable half of the bench contract (tests/test_bench_contract.py
# asserts BENCH_QUERIES + BENCH_EXCLUDED == the full registry, disjoint).
BENCH_EXCLUDED: dict[str, str] = {
    # --- streaming / side-effecting roundtrip harnesses: temp-file
    # staging + StreamingQuery trigger/teardown dominates wall time ---
    "windowed_events": "streaming roundtrip harness",
    "sliding_windowed_events": "streaming roundtrip harness",
    "session_windows": "streaming roundtrip harness",
    "streaming_ingest_roundtrip": (
        "streaming harness; the ingest path gets the dedicated "
        "events/s pass instead"
    ),
    "anomaly_job_roundtrip": "streaming roundtrip harness",
    "stream_stream_join": "streaming roundtrip harness",
    "stream_stream_left_join": "streaming roundtrip harness",
    "dedup_ingest_roundtrip": (
        "X80 streaming harness; the loop gets the dedicated docs/s "
        "dedup-ingest pass instead (r7)"
    ),
    "embedding_ingest_roundtrip": (
        "X85 streaming harness (the X80 twin for embeddings); its "
        "recurring probe cost is the benched "
        "incremental_embedding_near_dups_probe"
    ),
    # --- iterative trainers / MLlib fits: model-fit cost, not engine
    # throughput ---
    "bpe_merges": "X75 iterative trainer (12 driver-coordinated rounds)",
    "bpe_tokens": (
        "X90 tokenize — retrains the 12-round X75 merge table inline "
        "to stay self-contained, so the trainer dominates its wall; "
        "the apply pass is benched as bpe_tokens_pretrained (frozen "
        "merge table, the production shape)"
    ),
    "rt_model_predictions": "MLlib RandomForest fit",
    "rt_scoring_roundtrip": "MLlib fit + warehouse roundtrip",
    "quality_classifier_scores": (
        "X81 MLlib LogisticRegression fit; scoring cost is the "
        "benched quality-feature projection shape"
    ),
    # --- oracle-gate exactness variants: cost O(corpus) by
    # construction so the driver hash-match is exact; each has a
    # separately-benched production headline ---
    "minhash_dedup_pairs": (
        "exact_net=True oracle gate; headline = minhash_lsh_pairs"
    ),
    "incremental_near_dups": (
        "index build + exact_net oracle gate; headline = "
        "incremental_near_dups_probe"
    ),
    "incremental_embedding_near_dups": (
        "X84 index build + exact_net oracle gate; headline = "
        "incremental_embedding_near_dups_probe"
    ),
    "incremental_index_near_dups": (
        "X79 append-built-index oracle gate; headline = "
        "incremental_near_dups_probe"
    ),
    "ann_pq_topk_refined": (
        "oracle tier with refine depth = corpus count (r6 structural-"
        "exactness fix), so its cost grows with scale by construction; "
        "headline = ann_pq_topk (refine=50)"
    ),
    "ann_pq_indexed_refined": (
        "X86 oracle tier: the at-rest probe at refine depth = corpus "
        "count — same O(corpus) construction; headline = ann_pq_indexed"
    ),
    "ann_pq_indexed_residual_refined": (
        "X88 oracle tier: the residual-encoded at-rest probe at refine "
        "depth = corpus count — same O(corpus) construction; headline "
        "= ann_pq_indexed_residual"
    ),
    # --- deliberate strawman ---
    "embedding_dedup_pairs": (
        "naive O(n^2) verification twin of the LSH path — benching it "
        "would measure the strawman, not the engine"
    ),
}


def run_group(
    group: str, sf_dir: str, cpus: int, names: list[str] | None = None
) -> dict[str, float]:
    """Child-process entry: fresh SparkSession, warmup, best-of-2 per
    query (best-of-3 sub-second). Prints a JSON object of {query: sec}
    on stdout's LAST line. ``names`` overrides the group's query list
    (the opt-in probes time ad-hoc subsets — e.g. the ANN queries —
    under the exact same protocol; ``group`` then only names the app)."""
    from nginx_analytics_spark import registry
    from nginx_analytics_spark.session import get_spark

    spark = get_spark(
        app_name=f"nginx_analytics_bench_{group}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    queries = registry.queries()

    def run(name: str) -> float:
        t0 = time.monotonic()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    run("count_raw")  # warmup (untimed)

    timings: dict[str, float] = {}
    group_names = names if names is not None else BENCH_GROUPS[group]
    if group_names:
        # Group-head warmup (r10 verdict item 7): the first TIMED query
        # of a fresh JVM otherwise absorbs session/JIT warm-up that the
        # trivial count_raw doesn't touch (parse_enrich read 1.12s in
        # the r10 driver run vs 0.45s same-code warm) — one untimed run
        # of the head query warms exactly its own code paths, so the
        # timed samples measure the query, not the session.
        run(group_names[0])
    for name in group_names:
        samples = [run(name), run(name)]
        if max(samples) > 2 * min(samples):  # JIT deopt suspected
            samples.append(run(name))
        if min(samples) < SUBSECOND and len(samples) < 3:
            samples.append(run(name))
        # JIT plateau rule (r6, see docstring): sort-dominated shapes
        # ramp for 4-6 invocations; sample until <10% improvement.
        while min(samples) < SUBSECOND and len(samples) < 6:
            nxt = run(name)
            improved = nxt < 0.9 * min(samples)
            samples.append(nxt)
            if not improved:
                break
        timings[name] = round(min(samples), 3)
        print(f"  {name}: {timings[name]}s", file=sys.stderr, flush=True)
    spark.stop()
    return timings


def run_ingest_throughput(sf_dir: str, cpus: int) -> dict[str, float]:
    """Child-process entry: end-to-end streaming ingest events/s. The
    fixture's events become nginx JSONL files; a file-stream drives the
    real parse_enrich foreachBatch into a partitioned Parquet warehouse
    (availableNow). Timed span = stream start -> awaitTermination, i.e.
    the full parse+validate+write path, excluding the one-time JSONL
    staging. Prints {"events": n, "sec": s, "events_per_sec": r}."""
    import shutil
    import tempfile

    from nginx_analytics_spark.operators.logview import events_as_nginx_jsonl
    from nginx_analytics_spark.session import get_spark
    from nginx_analytics_spark.sources import load_table
    from nginx_analytics_spark.sources.warehouse import Warehouse
    from nginx_analytics_spark.streaming.ingest import jsonl_stream, start_ingest

    spark = get_spark(
        app_name="nginx_analytics_bench_ingest",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    work = tempfile.mkdtemp(prefix="nas_bench_ingest_")
    try:
        jsonl_dir, wh_dir, ckpt = f"{work}/jsonl", f"{work}/wh", f"{work}/ckpt"
        events = events_as_nginx_jsonl(load_table(spark, sf_dir, "events"))
        events.coalesce(max(1, cpus // 2)).write.mode("overwrite").text(jsonl_dir)
        n_events = spark.read.text(jsonl_dir).count()
        wh = Warehouse(spark, wh_dir)
        t0 = time.monotonic()
        q = start_ingest(
            jsonl_stream(spark, jsonl_dir), wh, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination()
        sec = time.monotonic() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return {
        "events": n_events,
        "sec": round(sec, 3),
        "events_per_sec": round(n_events / sec, 1),
    }


def _doc_variants(docs, k: int, offset: int = 1, stride: int = 1,
                  keep_cols: tuple = ()):
    """``k`` dissimilar synthetic variants of a documents frame: words
    deterministically PERMUTED with a per-copy hash key + a per-copy
    token prepended, so variants share ~no 3-word shingles with the
    originals, with EACH OTHER, or with variants-of-variants
    (index/corpus mass grows without perturbing dedup decisions).
    Shared by the pregrown / batch-size / grown-corpus probes.

    The permutation sorts the word array by ``xxhash64(word, position,
    slot)`` — deterministic, but keyed per copy-slot, so composing the
    transform (a pregrow variant OF a pool variant) re-shuffles under a
    DIFFERENT key instead of undoing itself. The earlier spelling
    reversed the word order, an involution: a pregrow variant of a pool
    variant re-reversed back to ~original word order and shared N-2 of
    N 3-word shingles with the real doc, so the pregrown index silently
    rejected the streamed originals as near-dups (r9 ADVICE medium).

    Variant ids land at ``doc_id + (i*stride + offset) * 100_000_000``.
    ``stride`` must span the id-slot width of the INPUT pool so
    composed probes stay collision-free (r9 review: a pool already
    holding ``replicate`` id-slots, pregrown with the old flat
    ``offset=replicate`` scheme, gave two different documents the same
    doc_id — slot(r) + i collides across r). ``keep_cols`` pass
    through unchanged, except ``n_chars`` which is recomputed from the
    variant text (the grown-corpus fixture keeps the full schema)."""
    from functools import reduce

    from pyspark.sql import functions as F

    def variant(i):
        slot = i * stride + offset
        permuted = F.array_join(
            F.transform(
                F.array_sort(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w, pos: F.struct(
                            F.xxhash64(w, pos, F.lit(slot)).alias("k"),
                            w.alias("w"),
                        ),
                    )
                ),
                lambda s: s["w"],
            ),
            " ",
        )
        v = docs.select(
            (F.col("doc_id") + slot * 100_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(
                    F.lit(f"cp{slot - 1}x"),
                    F.col("doc_id").cast("string"),
                ),
                permuted,
            ).alias("text"),
            *[F.col(c) for c in keep_cols if c != "n_chars"],
        )
        if "n_chars" in keep_cols:
            v = v.withColumn("n_chars", F.length("text").cast("long"))
        return v

    return reduce(
        lambda a, b: a.unionByName(b), [variant(i) for i in range(k)]
    )


def run_dedup_ingest_throughput(
    sf_dir: str,
    cpus: int,
    n_batches: int = 10,
    pregrow: int = 0,
    replicate: int = 1,
    compact_every: int | None = None,
    max_files_per_band: int = 8,
    track_files: bool = False,
    layout: str = "local",
) -> dict:
    """Child-process entry (r7, closing the r6 'X80 has no measured
    number' finding): end-to-end throughput of the streaming dedup-ingest
    loop. The fixture's documents are split into ``n_batches``
    deterministic micro-batch files (portable doc_id hash, so every
    batch is a representative corpus slice); a file stream with
    maxFilesPerTrigger=1 drives the REAL X80 foreachBatch handler —
    exact + near dedup within the batch, probe of the at-rest LSH index,
    corpus append + X79 index append — so batch k's probe sees batches
    0..k-1's admissions, exactly the production recurrence. Timed span =
    stream start -> awaitTermination (the staging write is untimed).
    Reports docs/s admitted end-to-end, per-batch wall times (the
    capacity-planning number: it should stay ~flat as the index grows,
    because probe cost scales with the batch, not the corpus), and the
    final index size.

    ``pregrow=K`` (opt-in, ``--group dedup_ingest_pregrown``; r7 verdict
    item 5) seeds the corpus + index with K dissimilar synthetic
    variants of the whole fixture BEFORE the loop runs — the same
    10-batch loop then probes an index ~K× the size the baseline run
    ever reaches. Variants hash-permute the word order under a
    per-copy key and prepend a per-copy token, so they share ~no
    shingles with the real batches — including when composed with
    ``replicate`` (a variant of a variant re-shuffles under a new key
    rather than undoing itself; r9 ADVICE) — so admission counts stay
    comparable to the baseline while the band
    directories carry K×-deep row populations — the direct measurement
    of 'probe cost never scales with the corpus' at an index size where
    it could plausibly start to."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nginx_analytics_spark.operators.index_fs import banded_index_read
    from nginx_analytics_spark.session import get_spark
    from nginx_analytics_spark.sources import load_table
    from nginx_analytics_spark.streaming.dedup_ingest import start_dedup_ingest

    # ``layout="manifest"`` runs the IDENTICAL loop through the
    # ManifestIndexFS seam (the S3 manifest-pointer port: immutable unit
    # dirs + one atomic manifest flip per visible change) — the r10
    # verdict item 5 probe that the sustained steady state holds on the
    # object-store layout, not just the local rename one.
    if layout == "manifest":
        from nginx_analytics_spark.operators.index_fs import ManifestIndexFS

        fs = ManifestIndexFS()
    else:
        fs = None

    spark = get_spark(
        app_name="nginx_analytics_bench_dedup_ingest",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    work = tempfile.mkdtemp(prefix="nas_bench_dedup_ingest_")
    try:
        src = f"{work}/src"
        os.makedirs(src)
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n_docs = docs.count()
        idx_rows_start = 0
        if replicate > 1:
            # batch-size probe: grow the doc POOL with dissimilar
            # variants so per-batch volume scales while dedup behavior
            # per doc stays representative
            docs = docs.unionByName(
                _doc_variants(docs, replicate - 1)
            ).localCheckpoint(eager=True)
            n_docs = docs.count()
        if pregrow:
            from nginx_analytics_spark.operators import dedup as _dedup

            # stride=replicate: the pool already occupies id-slots
            # 0..replicate-1, so each pregrow copy must step a whole
            # pool-width — slots stay disjoint for any (replicate,
            # pregrow) combination (r9 review)
            variants = _doc_variants(
                docs, pregrow, offset=replicate, stride=replicate
            )
            variants.write.mode("overwrite").parquet(f"{work}/corpus")
            _dedup.write_lsh_index(variants, f"{work}/idx", fs=fs)
            idx_rows_start = banded_index_read(
                spark, f"{work}/idx", fs=fs
            ).count()
        for k in range(n_batches):
            batch = docs.filter(
                F.crc32(F.col("doc_id").cast("string")) % n_batches == k
            )
            stage = f"{work}/stage{k}"
            batch.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            # flat, ordered names; mtime order == write order, which is
            # the file source's pick order under maxFilesPerTrigger=1
            shutil.move(f"{stage}/{part}", f"{src}/b{k:02d}.parquet")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        def _index_files() -> int:
            # sustained-run telemetry (r9 verdict item 5): parquet file
            # population of the at-rest index — the log-structured
            # health number (flat sawtooth under periodic compaction =
            # steady state; monotonic growth = compaction not keeping
            # up). Post-run reconstruction is impossible (compaction
            # DELETES files), so the walk must run in the stream span.
            return sum(
                1
                for root, _, files in os.walk(f"{work}/idx")
                for f in files
                if f.endswith(".parquet")
            )

        marks: list[tuple[float, int, int, float, int]] = []
        walk_cost = [0.0]

        def _on_batch(bid, n_in, n_novel, lock_wait) -> None:
            # The mark timestamp is taken BEFORE the file walk, so the
            # walk never lands in ITS batch's wall; what remains in-span
            # (it delays the NEXT batch's start) is accumulated and
            # reported as file_walk_s so the sustained probe's drift
            # signal carries its own bias bound instead of hiding it
            # (r10 ADVICE — at the 100-batch run's ~160 files this is
            # sub-ms/batch, but it grows with index size).
            mark_t = time.monotonic()
            files = -1
            if track_files:
                files = _index_files()
                walk_cost[0] += time.monotonic() - mark_t
            marks.append((mark_t, n_in, n_novel, lock_wait, files))

        t0 = time.monotonic()
        q = start_dedup_ingest(
            stream,
            f"{work}/corpus",
            f"{work}/idx",
            f"{work}/ckpt",
            trigger={"availableNow": True},
            compact_every=compact_every,
            max_files_per_band=max_files_per_band,
            on_batch=_on_batch,
            fs=fs,
        )
        q.awaitTermination()
        sec = time.monotonic() - t0
        ends = [t0] + [m[0] for m in marks]
        batch_walls = [round(ends[i + 1] - ends[i], 3) for i in range(len(marks))]
        admitted = sum(m[2] for m in marks)
        idx_rows = banded_index_read(spark, f"{work}/idx", fs=fs).count()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    out = {
        "docs_in": n_docs,
        "docs_admitted": admitted,
        "n_batches": len(marks),
        "sec": round(sec, 3),
        "docs_per_sec": round(n_docs / sec, 1),
        "admitted_per_sec": round(admitted / sec, 1),
        "batch_walls_sec": batch_walls,
        "index_rows": idx_rows,
    }
    if pregrow:
        out["pregrow"] = pregrow
        out["index_rows_start"] = idx_rows_start
    if replicate > 1:
        out["replicate"] = replicate
        out["docs_per_batch"] = round(n_docs / max(1, n_batches))
    if compact_every:
        out["compact_every"] = compact_every
        out["max_files_per_band"] = max_files_per_band
    if track_files:
        out["lock_wait_s"] = [round(m[3], 3) for m in marks]
        out["index_files"] = [m[4] for m in marks]
        out["file_walk_s"] = round(walk_cost[0], 3)
    if layout != "local":
        out["layout"] = layout
    return out


def _stage_grown_fixture(spark, sf_dir: str, table: str, grown, work: str) -> int:
    """Shared grown-fixture scaffolding (r10 review: the corpus and
    embeddings probes duplicated it, including a latent relative-path
    symlink bug): write the grown table into the scratch dir, symlink
    every OTHER table with an ABSOLUTE target (a relative ``sf_dir``
    would otherwise dangle from /tmp), return the grown row count."""
    grown.write.mode("overwrite").parquet(os.path.join(work, table))
    n_rows = spark.read.parquet(os.path.join(work, table)).count()
    src = os.path.abspath(sf_dir)
    for t in os.listdir(src):
        if t != table:
            os.symlink(os.path.join(src, t), os.path.join(work, t))
    return n_rows


def _child_group(group: str, fixture_dir: str, cpus: int) -> dict:
    """Shared fresh-JVM timed child (r9 review lesson): the fixture
    build is itself a Spark job, and timing a group in the same warm
    JVM — spark.stop() stops the context, not the JVM — violates the
    bench's own protocol (same-JVM class accumulation drifts unchanged
    queries 1.5-2x, exactly the band the SCALING.md ratio tables read
    as signal). Every timed pass of the grown-fixture probes goes
    through here, over whatever fixture dir is passed."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--group", group],
        stdout=subprocess.PIPE,
        env=dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=os.path.abspath(fixture_dir),
            SPARK_GRAFT_CPUS=str(cpus),
        ),
        check=True,
        text=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run_embedding_ingest_throughput(
    sf_dir: str,
    cpus: int,
    n_batches: int = 10,
    replicate: int = 1,
    threshold: float = 0.85,
    n_planes: int = 64,
    compact_every: int | None = None,
    max_files_per_band: int = 8,
    track_files: bool = False,
) -> dict:
    """Child-process entry (r12, the X85 twin of
    :func:`run_dedup_ingest_throughput`): end-to-end throughput of the
    streaming EMBEDDING dedup-ingest loop. The fixture's embeddings
    (grown ``replicate``x with dissimilar unit-vector variants —
    :func:`_emb_variants`, so per-batch volume is meaningful at the
    100-batch horizon) are split into ``n_batches`` deterministic
    micro-batch files; a file stream with maxFilesPerTrigger=1 drives
    the REAL X85 foreachBatch handler — exact + SRP near dedup within
    the batch, X84 probe of the at-rest SRP index, corpus append +
    index append — so batch k's probe sees batches 0..k-1's
    admissions. Threshold is the 0.85 production regime (near-identical
    vectors; the variants are near-orthogonal, so admissions stay ~full
    and the measurement isolates PER-BATCH PROBE COST against a
    steadily growing index — the capacity-planning number: flat walls =
    probe cost scales with the batch, never the corpus). Same
    ``track_files`` sawtooth telemetry as the text twin."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from dataclasses import replace

    from nginx_analytics_spark.operators.index_fs import banded_index_read
    from nginx_analytics_spark.session import get_spark
    from nginx_analytics_spark.sources import load_table
    from nginx_analytics_spark.streaming.dedup_ingest import (
        EMBEDDING,
        start_dedup_ingest,
    )

    spark = get_spark(
        app_name="nginx_analytics_bench_emb_ingest",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    work = tempfile.mkdtemp(prefix="nas_bench_emb_ingest_")
    try:
        src = f"{work}/src"
        os.makedirs(src)
        emb = load_table(spark, sf_dir, "embeddings")
        if replicate > 1:
            emb = emb.unionByName(_emb_variants(emb, replicate - 1))
        emb = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
        n_vecs = emb.count()
        for k in range(n_batches):
            batch = emb.filter(
                F.crc32(F.col("vec_id").cast("string")) % n_batches == k
            )
            stage = f"{work}/stage{k}"
            batch.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            shutil.move(f"{stage}/{part}", f"{src}/b{k:02d}.parquet")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def _index_files() -> int:
            return sum(
                1
                for root, _, files in os.walk(f"{work}/idx")
                for f in files
                if f.endswith(".parquet")
            )

        marks: list[tuple[float, int, int, float, int]] = []
        walk_cost = [0.0]

        def _on_batch(bid, n_in, n_novel, lock_wait) -> None:
            mark_t = time.monotonic()
            files = -1
            if track_files:
                files = _index_files()
                walk_cost[0] += time.monotonic() - mark_t
            marks.append((mark_t, n_in, n_novel, lock_wait, files))

        t0 = time.monotonic()
        q = start_dedup_ingest(
            stream,
            f"{work}/corpus",
            f"{work}/idx",
            f"{work}/ckpt",
            modality=replace(
                EMBEDDING, sign={**EMBEDDING.sign, "n_planes": n_planes}
            ),
            threshold=threshold,
            trigger={"availableNow": True},
            compact_every=compact_every,
            max_files_per_band=max_files_per_band,
            on_batch=_on_batch,
        )
        q.awaitTermination()
        sec = time.monotonic() - t0
        ends = [t0] + [m[0] for m in marks]
        batch_walls = [
            round(ends[i + 1] - ends[i], 3) for i in range(len(marks))
        ]
        admitted = sum(m[2] for m in marks)
        idx_rows = banded_index_read(spark, f"{work}/idx").count()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    out = {
        "vecs_in": n_vecs,
        "vecs_admitted": admitted,
        "n_batches": len(marks),
        "sec": round(sec, 3),
        "vecs_per_sec": round(n_vecs / sec, 1),
        "admitted_per_sec": round(admitted / sec, 1),
        "batch_walls_sec": batch_walls,
        "index_rows": idx_rows,
    }
    out["n_planes"] = n_planes
    if replicate > 1:
        out["replicate"] = replicate
    if compact_every:
        out["compact_every"] = compact_every
        out["max_files_per_band"] = max_files_per_band
    if track_files:
        out["lock_wait_s"] = [round(m[3], 3) for m in marks]
        out["index_files"] = [m[4] for m in marks]
        out["file_walk_s"] = round(walk_cost[0], 3)
    return out


def run_paragraph_dedup_sustained(
    sf_dir: str,
    cpus: int,
    n_batches: int = 100,
    sep: str = " the ",
) -> dict:
    """Opt-in 100-batch horizon for the X97 incremental paragraph
    dedup loop (r15 verdict item 5, the X85 protocol): sf0.1 documents
    in ~n_docs/n_batches-doc batches through
    ``incremental_paragraph_dedup`` against the growing at-rest
    seen-paragraph store, starting from an EMPTY store (worst case:
    every batch's novel keys append). Expected: flat per-batch walls —
    the per-batch plan is segmentation + one 8-byte-key anti-join
    whose store side grows only by distinct novel paragraphs, and the
    novel append scales with the batch. Store row counts sampled every
    10 batches (outside the timed span) give the growth curve the
    walls are read against."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nginx_analytics_spark.operators import dedup
    from nginx_analytics_spark.session import get_spark
    from nginx_analytics_spark.sources import load_table

    spark = get_spark(
        app_name="nginx_analytics_bench_para_sustained",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    work = tempfile.mkdtemp(prefix="nas_bench_para_sustained_")
    try:
        store = f"{work}/paraseen"
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )
        n_docs = docs.count()
        dedup.write_paraseen_store(docs.limit(0), store, sep=sep)
        walls: list[float] = []
        store_rows: list[int] = []
        removed_total = kept_total = 0
        t0 = time.monotonic()
        for k in range(n_batches):
            batch = docs.filter(
                F.crc32(F.col("doc_id").cast("string")) % n_batches == k
            )
            tb = time.monotonic()
            out = dedup.incremental_paragraph_dedup(
                spark, batch, store, sep=sep
            )
            # consume like a real loop would (write-shaped action)
            agg = out.agg(
                F.sum("n_kept").alias("k"), F.sum("n_removed").alias("r")
            ).collect()[0]
            walls.append(round(time.monotonic() - tb, 3))
            kept_total += int(agg.k or 0)
            removed_total += int(agg.r or 0)
            if (k + 1) % 10 == 0:
                store_rows.append(spark.read.parquet(store).count())
        sec = time.monotonic() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return {
        "docs_in": n_docs,
        "n_batches": n_batches,
        "sec": round(sec, 3),
        "paras_kept": kept_total,
        "paras_removed": removed_total,
        "batch_walls_sec": walls,
        "store_rows_every_10": store_rows,
    }


def run_prefix_probe_sustained(
    sf_dir: str,
    cpus: int,
    n_batches: int = 100,
    compact_every: int = 10,
    max_files_per_band: int = 8,
    threshold: float = 0.6,
) -> dict:
    """Opt-in 100-batch horizon for the X94 at-rest prefix index loop
    (r15 verdict item 5): half of sf0.1 documents bootstrap the corpus
    + frozen-order prefix index; the other half arrives in n_batches
    batches, each probed EXACTLY against the indexed corpus
    (``incremental_jaccard_prefix_probe``), appended to the corpus
    store, signed into the index (``append_prefix_index``), with
    ``banded_index_compact`` every compact_every batches — the X82
    cadence inside the loop that owns the appends. Expected: flat
    per-batch walls (the probe signs only the batch and band-joins the
    directory-pruned index; the corpus text scan is semi-join-pruned
    to candidates) and a bounded index-file sawtooth; what grows
    honestly is the at-rest index, tracked per batch."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nginx_analytics_spark.operators import dedup
    from nginx_analytics_spark.operators.index_fs import banded_index_compact
    from nginx_analytics_spark.session import get_spark
    from nginx_analytics_spark.sources import load_table

    spark = get_spark(
        app_name="nginx_analytics_bench_prefix_sustained",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    work = tempfile.mkdtemp(prefix="nas_bench_prefix_sustained_")
    try:
        corpus_dir, idx = f"{work}/corpus", f"{work}/idx"
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )
        bucket = F.crc32(F.col("doc_id").cast("string")) % (2 * n_batches)
        base = docs.filter(bucket % 2 == 0)
        base.write.mode("overwrite").parquet(corpus_dir)
        dedup.write_prefix_index(base, idx, threshold=threshold)
        n_base = base.count()

        def _index_files() -> int:
            return sum(
                1
                for root, _, files in os.walk(idx)
                for f in files
                if f.endswith(".parquet")
            )

        walls: list[float] = []
        idx_files: list[int] = []
        pairs_total = probed_total = 0
        t0 = time.monotonic()
        for k in range(n_batches):
            batch = docs.filter(bucket == 2 * k + 1).localCheckpoint(
                eager=True
            )  # pin batch membership before the corpus append below
            corpus = spark.read.parquet(corpus_dir)
            tb = time.monotonic()
            pairs_total += dedup.incremental_jaccard_prefix_probe(
                spark, batch, corpus, idx, threshold=threshold
            ).count()
            batch.write.mode("append").parquet(corpus_dir)
            dedup.append_prefix_index(batch, idx)
            if (k + 1) % compact_every == 0:
                banded_index_compact(
                    spark, idx, max_files_per_band=max_files_per_band
                )
            walls.append(round(time.monotonic() - tb, 3))
            probed_total += batch.count()
            idx_files.append(_index_files())
        sec = time.monotonic() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return {
        "corpus_bootstrap_docs": n_base,
        "docs_probed": probed_total,
        "pairs_found": pairs_total,
        "n_batches": n_batches,
        "compact_every": compact_every,
        "max_files_per_band": max_files_per_band,
        "sec": round(sec, 3),
        "batch_walls_sec": walls,
        "index_files": idx_files,
    }


def run_corpus_grown(sf_dir: str, cpus: int, grow: int = 10) -> dict:
    """Child-process entry (r8 verdict item 5): the at-rest corpus
    query group measured against a ~``grow``x documents table — the
    cross-scale method the pregrown dedup-ingest probe uses, applied to
    the batch text/curation surface. A scratch fixture dir holds
    documents = originals + (grow-1) dissimilar variants (full schema:
    per-copy hash-permuted word order + per-copy token, lang/source
    kept, n_chars recomputed — see ``_doc_variants``); every other
    table is symlinked unchanged. The regular ``run_group("corpus",
    ...)`` protocol then runs over it in a fresh subprocess JVM
    (``_child_group``), so per-query walls are directly comparable to
    a same-session 1x ``--group corpus`` child — the per-query growth
    exponent vs the 10x row count is the SCALING.md payload. (Variant
    doc_ids have no embeddings rows, so embedding-joined queries grow
    on the documents side only — stated with the numbers; the
    embeddings side has its own probe, ``run_embeddings_grown``.)"""
    import shutil
    import tempfile

    from nginx_analytics_spark.session import get_spark
    from nginx_analytics_spark.sources import load_table

    work = tempfile.mkdtemp(prefix="nas_bench_corpus_grown_")
    try:
        spark = get_spark(
            app_name="nginx_analytics_bench_corpus_grow",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
        )
        docs = load_table(spark, sf_dir, "documents")
        grown = docs.unionByName(
            _doc_variants(
                docs, grow - 1, keep_cols=("lang", "source", "n_chars")
            )
        )
        n_rows = _stage_grown_fixture(
            spark, sf_dir, "documents.parquet", grown, work
        )
        spark.stop()
        timings = _child_group("corpus", work, cpus)
        return {"grow": grow, "documents_rows": n_rows, "queries": timings}
    finally:
        shutil.rmtree(work, ignore_errors=True)


# The embeddings/ANN cross-scale subset (r9 verdict item 3): the one
# operator group the 10x corpus probe deliberately left unmeasured
# (variant doc_ids carry no embeddings rows). NOT a BENCH_GROUPS entry —
# every name here is already benched in "analytics"; this list only
# feeds the opt-in grown-fixture probe.
ANN_GROWN_QUERIES = [
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_indexed",
    "ann_pq_topk",
    "ann_pq_indexed",
    "ann_pq_indexed_residual",
    "embedding_centroids",
    "embedding_lsh_pairs",
]


def _emb_variants(emb, k: int, offset: int = 1, stride: int = 1):
    """``k`` DISSIMILAR synthetic variants of the embeddings frame:
    deterministic pseudo-random UNIT vectors keyed by (vec_id, dim,
    slot) — uniform [-1, 1] per component via xxhash64, then normalized
    to unit length. Unit norm matters, not just direction (r10 probe
    debugging): the fixture's embeddings are unit-norm, which is what
    makes cosine and L2 rankings coincide — un-normalized variants
    (norm ~sqrt(dim/3) ≈ 4.6) silently broke that equivalence on the
    grown fixture, so the L2-ranked PQ path was being graded against a
    cosine baseline it could never match even with an exhaustive
    refine. Variants are near-orthogonal to the originals and to each
    other (64-dim random geometry: E[cosine]=0, sd~1/8), so corpus
    mass grows without planting synthetic near-neighbors and the
    recall-vs-brute-force gates stay meaningful (same design choice as
    _doc_variants' shingle-disjoint texts). Ids follow the same slot
    scheme as _doc_variants; labels pass through so label-grouped
    shapes keep their group count."""
    from functools import reduce

    from pyspark.sql import functions as F

    def variant(i):
        slot = i * stride + offset
        raw = F.transform(
            F.col("embedding"),
            lambda x, d: (
                F.pmod(
                    F.xxhash64(F.col("vec_id"), d, F.lit(slot)),
                    F.lit(2001),
                )
                - 1000
            ).cast("double")
            / 1000.0,
        )
        # Two-step projection (r10 review): the hash transform is
        # aliased to a column and the norm computed OVER THAT ATTRIBUTE
        # — embedding sqrt(aggregate(raw_expr)) directly inside the
        # normalize lambda re-evaluates the full 64-hash generation per
        # ELEMENT (dim² xxhash64 calls per row; Catalyst's
        # CollapseProject keeps a multiply-referenced expensive alias
        # as a real projection, so the hashes run once per row here).
        staged = emb.select(
            (F.col("vec_id") + slot * 100_000_000).alias("vec_id"),
            raw.alias("_raw"),
            F.col("label"),
        )
        # greatest(..., 1e-12): an all-zero hashed vector (probability
        # ~2001^-64, but unguarded it would NaN-poison the recall gates
        # silently — r10 ADVICE) divides by the clamp instead.
        norm = F.greatest(
            F.sqrt(
                F.aggregate(
                    F.col("_raw"), F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
            F.lit(1e-12),
        )
        return staged.select(
            "vec_id",
            F.transform(
                F.col("_raw"), lambda x: (x / norm).cast("float")
            ).alias("embedding"),
            "label",
        )

    return reduce(
        lambda a, b: a.unionByName(b), [variant(i) for i in range(k)]
    )


def run_embeddings_grown(sf_dir: str, cpus: int, grow: int = 10) -> dict:
    """Child-process entry (r9 verdict item 3): the ANN/embeddings
    query subset measured against a ~``grow``x embeddings table — the
    grown-fixture cross-scale method extended to the last unmeasured
    group. A scratch fixture holds embeddings = originals + (grow-1)
    dissimilar pseudo-random variants (labels kept, variant vec_ids
    out of the query-id range so the SAME 10 queries probe both
    scales); every other table is symlinked. Both timed passes run in
    fresh subprocess JVMs (the r9 protocol lesson), base fixture first.

    Beyond walls, the probe re-measures the ANN quality gates at the
    grown scale (untimed, one extra session): recall@k of the LSH /
    IVF / PQ paths against the brute-force cosine baseline ON THE SAME
    fixture, at 1x and at ``grow``x — the direct check that the
    configured heuristics (16 IVF cells / nprobe 6, in-memory and
    at-rest; PQ's default fraction-sized refine) hold as the corpus
    grows — plus embedding_lsh_pairs' TRUE output rows at both
    scales, so a super-linear wall can be attributed to output growth
    (random-geometry pair density is quadratic by nature) rather than
    scan cost."""
    import shutil
    import tempfile

    from nginx_analytics_spark.session import get_spark
    from nginx_analytics_spark.sources import load_table

    work = tempfile.mkdtemp(prefix="nas_bench_emb_grown_")
    try:
        spark = get_spark(
            app_name="nginx_analytics_bench_emb_grow",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
        )
        emb = load_table(spark, sf_dir, "embeddings")
        n_base = emb.count()
        grown = emb.unionByName(_emb_variants(emb, grow - 1))
        n_grown = _stage_grown_fixture(
            spark, sf_dir, "embeddings.parquet", grown, work
        )
        spark.stop()

        base_walls = _child_group("embeddings_ann", sf_dir, cpus)
        grown_walls = _child_group("embeddings_ann", work, cpus)

        # untimed quality pass: recall gates + true output rows
        from nginx_analytics_spark import registry

        spark = get_spark(
            app_name="nginx_analytics_bench_emb_recall",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
        )
        qs = registry.queries()

        def topk_set(name: str, fixture: str) -> set:
            return {
                (r.query_id, r.neighbor_id)
                for r in qs[name](spark, fixture).collect()
            }

        recall = {}
        for fixture, tag in ((sf_dir, "base"), (work, "grown")):
            exact = topk_set("ann_cosine_topk", fixture)
            for name in (
                "ann_lsh_topk",
                "ann_ivf_topk",
                "ann_ivf_indexed",
                "ann_pq_topk",
                "ann_pq_indexed",
                "ann_pq_indexed_residual",
            ):
                got = topk_set(name, fixture)
                recall.setdefault(name, {})[tag] = round(
                    len(exact & got) / len(exact), 3
                )
        pairs_rows = {
            tag: qs["embedding_lsh_pairs"](spark, fixture).count()
            for fixture, tag in ((sf_dir, "base"), (work, "grown"))
        }
        spark.stop()
        return {
            "grow": grow,
            "embeddings_rows": {"base": n_base, "grown": n_grown},
            "walls": {
                name: {
                    "base": base_walls[name],
                    "grown": grown_walls[name],
                    "ratio": round(
                        grown_walls[name] / max(base_walls[name], 1e-9), 2
                    ),
                }
                for name in ANN_GROWN_QUERIES
            },
            "recall_at_k": recall,
            "embedding_lsh_pairs_rows": pairs_rows,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def wait_quiet_machine() -> str:
    """Sleep-retry until the 1-min loadavg drops under LOAD_GATE (bounded
    by LOAD_GATE_WAIT_S). Returns 'ok' or 'timeout'."""
    deadline = time.monotonic() + LOAD_GATE_WAIT_S
    while True:
        load = os.getloadavg()[0]
        if load <= LOAD_GATE:
            return "ok"
        if time.monotonic() >= deadline:
            print(
                f"load gate TIMEOUT: loadavg {load:.2f} > {LOAD_GATE} after "
                f"{LOAD_GATE_WAIT_S}s — proceeding, numbers carry an asterisk",
                file=sys.stderr,
                flush=True,
            )
            return "timeout"
        print(
            f"load gate: loadavg {load:.2f} > {LOAD_GATE}, sleeping 15s",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(15)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    if len(sys.argv) == 3 and sys.argv[1] == "--group":
        if sys.argv[2] == "ingest":
            print(json.dumps(run_ingest_throughput(sf_dir, cpus)))
        elif sys.argv[2] == "dedup_ingest":
            print(json.dumps(run_dedup_ingest_throughput(sf_dir, cpus)))
        elif sys.argv[2] == "dedup_ingest_pregrown":
            # opt-in corpus-growth probe (r7 verdict item 5); NOT part
            # of the per-round artifact — numbers land in SCALING.md
            print(json.dumps(
                run_dedup_ingest_throughput(sf_dir, cpus, pregrow=10)
            ))
        elif sys.argv[2] == "dedup_ingest_batchsize":
            # opt-in batch-size throughput curve (r8 verdict item 4):
            # same loop, 1x/10x/100x docs per micro-batch (per-batch
            # volume = replicate*N/n_batches) — shows docs/s scaling
            # with batch size past the fixed per-batch harness floor;
            # numbers land in SCALING.md
            print(json.dumps({"sizes": [
                run_dedup_ingest_throughput(
                    sf_dir, cpus, n_batches=nb, replicate=rep
                )
                for rep, nb in ((1, 10), (10, 10), (30, 3))
            ]}))
        elif sys.argv[2] == "dedup_ingest_compact":
            # opt-in in-loop compaction pause probe (r8 verdict item 3):
            # the punitive forcing config (compact_every=3,
            # max_files_per_band=2) vs an uncompacted baseline, with
            # the CONCURRENT per-band rewrite path; SCALING.md payload
            print(json.dumps({
                "baseline": run_dedup_ingest_throughput(sf_dir, cpus),
                "compacting": run_dedup_ingest_throughput(
                    sf_dir, cpus, compact_every=3, max_files_per_band=2
                ),
            }))
        elif sys.argv[2] == "corpus_grown":
            # opt-in at-rest corpus scale curve (r8 verdict item 5)
            print(json.dumps(run_corpus_grown(sf_dir, cpus)))
        elif sys.argv[2] == "embeddings_ann":
            # inner timed child of the embeddings_grown probe: the ANN
            # subset under the standard group protocol, over whatever
            # fixture SPARK_GRAFT_SF_DIR points at
            print(json.dumps(
                run_group("embeddings_ann", sf_dir, cpus,
                          names=ANN_GROWN_QUERIES)
            ))
        elif sys.argv[2] == "embeddings_grown":
            # opt-in ANN/embeddings cross-scale curve (r9 verdict
            # item 3) — the last group without a grown-fixture
            # measurement; numbers land in SCALING.md
            print(json.dumps(run_embeddings_grown(sf_dir, cpus)))
        elif sys.argv[2] == "dedup_ingest_sustained":
            # opt-in long-horizon X80 probe (r9 verdict item 5):
            # ~100 micro-batches with in-loop compaction at the
            # production threshold; per-batch wall, lock_wait_s, and
            # index file count over time — flat sawtooth = healthy
            # log-structured steady state; SCALING.md payload
            print(json.dumps(run_dedup_ingest_throughput(
                sf_dir, cpus, n_batches=100, compact_every=10,
                track_files=True,
            )))
        elif sys.argv[2] == "embedding_ingest":
            # headline shape (r13, r12 verdict item 1): replicate=10
            # grows the pool so each of the 10 micro-batches carries
            # ~2,000 rows at sf0.1 — the measured honest sizing
            # (SCALING.md r12: the 200-row shape's wall is ~90% fixed
            # harness/bucket-group overhead, under-reporting the loop
            # ~10x; at 2,000 rows/batch walls stay flat and the number
            # means vectors, not trigger overhead)
            print(json.dumps(run_embedding_ingest_throughput(
                sf_dir, cpus, replicate=10
            )))
        elif sys.argv[2] == "embedding_ingest_sustained":
            # opt-in (r12, r11 verdict item 6): the 100-batch sustained
            # horizon for the X85 EMBEDDING loop — replicate=10 grows
            # the pool to ~20k vectors at sf0.1 so batches carry ~200
            # rows; expected: flat walls (probe cost scales with batch,
            # not corpus) and a bounded index-file sawtooth under the
            # in-loop X82 compaction; SCALING.md payload
            print(json.dumps(run_embedding_ingest_throughput(
                sf_dir, cpus, n_batches=100, replicate=10,
                compact_every=10, track_files=True,
            )))
        elif sys.argv[2] == "paragraph_dedup_sustained":
            # opt-in (r16, r15 verdict item 5): 100-batch horizon for
            # the X97 incremental paragraph dedup loop — per-batch wall
            # vs the growing seen-paragraph store; SCALING.md payload
            print(json.dumps(run_paragraph_dedup_sustained(sf_dir, cpus)))
        elif sys.argv[2] == "prefix_probe_sustained":
            # opt-in (r16, r15 verdict item 5): 100-batch horizon for
            # the X94 indexed exact prefix probe — probe + corpus append
            # + index append with the in-loop X82 compaction cadence;
            # SCALING.md payload
            print(json.dumps(run_prefix_probe_sustained(sf_dir, cpus)))
        elif sys.argv[2] == "dedup_ingest_sustained_manifest":
            # opt-in (r10 verdict item 5): the same 100-batch sustained
            # probe through the ManifestIndexFS seam — closes the
            # operational story for the S3-shaped port (expected: same
            # sawtooth, manifest flips instead of dir renames);
            # SCALING.md payload
            print(json.dumps(run_dedup_ingest_throughput(
                sf_dir, cpus, n_batches=100, compact_every=10,
                track_files=True, layout="manifest",
            )))
        else:
            print(json.dumps(run_group(sys.argv[2], sf_dir, cpus)))
        return

    gate = wait_quiet_machine()
    load_start = os.getloadavg()
    here = os.path.dirname(os.path.abspath(__file__))

    def child(arg: str) -> dict:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--group", arg],
            stdout=subprocess.PIPE,
            cwd=here,
            check=True,
            text=True,
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])

    # MULTI-PASS SUITE (r13, r12 verdict item 1): the r12 artifact read
    # x1.45 on common queries purely from host ambient noise (uniform
    # inflation across untouched queries, zero improvements anywhere,
    # same-code best-of-3 composite x1.07 — the documented signature of
    # host-level contention invisible to the guest loadavg gate). The
    # protocol now runs the WHOLE suite SUITE_PASSES times — each pass a
    # fresh JVM per group — and reports each query's best across passes;
    # the per-pass group totals land in the artifact so a reader can
    # separate code from weather WITHOUT consulting git: a wide pass
    # spread with a tight best is ambient noise, a tight spread that
    # moved round-over-round is a plan change.
    timings: dict[str, float] = {}
    group_totals: dict[str, float] = {}
    pass_group_totals: dict[str, list[float]] = {g: [] for g in BENCH_GROUPS}
    t_suite0 = time.monotonic()
    passes_run = 0
    for p in range(SUITE_PASSES):
        elapsed = time.monotonic() - t_suite0
        if p and elapsed + elapsed / passes_run > SUITE_WALL_BUDGET_S:
            print(
                f"suite pass {p + 1} skipped: projected wall "
                f"{elapsed + elapsed / passes_run:.0f}s exceeds the "
                f"{SUITE_WALL_BUDGET_S:.0f}s budget (ambient-slow host); "
                f"artifact records {passes_run} passes",
                file=sys.stderr,
                flush=True,
            )
            break
        for group in BENCH_GROUPS:
            print(
                f"group {group} pass {p + 1}/{SUITE_PASSES} "
                f"({len(BENCH_GROUPS[group])} queries):",
                file=sys.stderr,
                flush=True,
            )
            got = child(group)
            pass_group_totals[group].append(round(sum(got.values()), 2))
            for name, sec in got.items():
                timings[name] = min(timings.get(name, sec), sec)
        passes_run = p + 1
    for group, names in BENCH_GROUPS.items():
        group_totals[group] = round(sum(timings[n] for n in names), 2)

    def throughput(arg: str, rate_key: str) -> dict:
        """Best of THROUGHPUT_PASSES fresh-JVM runs (the throughput
        passes bounced +-35% across same-code r12 runs — same ambient
        cause); every pass's rate is recorded in the kept dict."""
        runs = []
        for p in range(THROUGHPUT_PASSES):
            print(
                f"{arg} throughput pass {p + 1}/{THROUGHPUT_PASSES}:",
                file=sys.stderr,
                flush=True,
            )
            got = child(arg)
            print(f"  {arg}: {got}", file=sys.stderr, flush=True)
            runs.append(got)
        kept = max(runs, key=lambda r: r[rate_key])
        kept["pass_rates"] = [r[rate_key] for r in runs]
        return kept

    ingest = throughput("ingest", "events_per_sec")
    dedup_ingest = throughput("dedup_ingest", "docs_per_sec")
    emb_ingest = throughput("embedding_ingest", "vecs_per_sec")
    load_end = os.getloadavg()

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf_dir
    full = {
        "metric": "headline query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "streaming_ingest": ingest,
        "dedup_ingest": dedup_ingest,
        "embedding_ingest": emb_ingest,
        "loadavg": {"start": load_start, "end": load_end},
        "load_gate": gate,
        "suite_passes": passes_run,
        "suite_passes_max": SUITE_PASSES,
        "suite_wall_budget_s": SUITE_WALL_BUDGET_S,
        "throughput_passes": THROUGHPUT_PASSES,
        "pass_group_totals": pass_group_totals,
        "protocol": (
            f"loadavg gate; {passes_run} of max {SUITE_PASSES} "
            "fresh-JVM suite passes (another pass starts only if the "
            "projected wall fits the stated budget — a noisy host "
            "degrades to fewer passes, recorded, instead of a killed "
            "run), "
            "per-query BEST across passes reported (per-pass group "
            "totals recorded — wide spread + tight best = ambient "
            "noise, not code); within a pass: fresh JVM per group, "
            "group-head warmed untimed, sequential, best-of-2; "
            "sub-second: sample to JIT plateau (cap 6, stop when a "
            f"step improves the best by <10%); {THROUGHPUT_PASSES} "
            "fresh-JVM throughput passes, best rate kept, all rates "
            "recorded; embedding_ingest benched at the ~2,000-row "
            "batch shape (replicate=10 — the honest sizing, "
            "SCALING.md r12). PROTOCOL DISCONTINUITY (r13 ADVICE): "
            "per-query best-of-N is a systematic downward bias vs the "
            "single-pass r1-r12 artifacts — cross-round comparisons "
            "against pre-r13 artifacts must use a same-protocol "
            "old-code worktree rerun (the scaling record's control), "
            "never the raw artifact totals"
        ),
    }
    full_line = json.dumps(full)
    print(full_line, flush=True)  # line 1: full detail
    with open(os.path.join(here, "bench_full.json"), "w") as f:
        f.write(full_line + "\n")
    # LAST line: compact, survives any tail truncation. Carries the
    # per-query seconds map (r16 verdict item 2): the driver parses THIS
    # line, and without "queries" its per-query round-over-round deltas
    # and 8-vs-32 scaling ratios were empty two rounds running. Additive
    # only — every pre-existing key is unchanged; ~4 KB with 122 queries.
    print(
        json.dumps(
            {
                "metric": "headline query suite wall time",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries": {n: round(s, 3) for n, s in timings.items()},
                "groups": group_totals,
                "ingest_events_per_sec": ingest["events_per_sec"],
                "dedup_ingest_docs_per_sec": dedup_ingest["docs_per_sec"],
                "embedding_ingest_vecs_per_sec": emb_ingest["vecs_per_sec"],
                "load_gate": gate,
                "queries_detail": "bench_full.json",
            },
            separators=(",", ":"),
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
