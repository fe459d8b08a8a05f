"""CLI smoke tests — the runnable surface (`python -m
nginx_analytics_spark.jobs ...`), driving ingest -> anomaly -> retrain ->
compact end-to-end on the sf0.001 fixture.

The ingest leg runs as a REAL subprocess module invocation (proving the
`python -m` wiring, flag parsing, and exit code); the remaining legs call
``jobs.main()`` in-process against the shared test session — same code
path minus one JVM start each.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from nginx_analytics_spark import jobs
from nginx_analytics_spark.operators.index_fs import (
    cell_index_verify,
    read_sidecar,
    writer_lock_path,
)
from nginx_analytics_spark.operators.logview import events_as_nginx_jsonl
from nginx_analytics_spark.sources import load_table
from nginx_analytics_spark.sources.warehouse import Warehouse

SF = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")


def test_cli_help_lists_all_commands():
    out = subprocess.run(
        [sys.executable, "-m", "nginx_analytics_spark.jobs", "--help"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0
    for cmd in (
        "ingest", "anomaly", "retrain", "compact", "curate",
        "export-shards", "handoff", "dedup-ingest",
        "embedding-dedup-ingest", "verify-index", "compact-corpus",
        "recluster-ivf",
    ):
        assert cmd in out.stdout


def test_cli_trigger_spec_parsing():
    assert jobs._parse_trigger("available-now") == {"availableNow": True}
    assert jobs._parse_trigger("processingTime=1 minute") == {
        "processingTime": "1 minute"
    }
    try:
        jobs._parse_trigger("bogus")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_cli_end_to_end_chain(spark, tmp_path):
    work = str(tmp_path)
    jsonl_dir = f"{work}/jsonl"
    wh_dir = f"{work}/warehouse"

    # stage nginx JSONL from the fixture (the Kafka value contract)
    events_as_nginx_jsonl(load_table(spark, SF, "events")).coalesce(2).write.mode(
        "overwrite"
    ).text(jsonl_dir)

    # 1) ingest — REAL `python -m` subprocess: JSONL -> parse_enrich -> raw_logs
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "nginx_analytics_spark.jobs",
            "ingest",
            "--source",
            jsonl_dir,
            "--warehouse",
            wh_dir,
            "--checkpoint",
            f"{work}/ckpt_ingest",
        ],
        capture_output=True,
        text=True,
        timeout=480,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    wh = Warehouse(spark, wh_dir)
    n_raw = wh.table("raw_logs").count()
    assert n_raw > 0

    # 2) anomaly — the batch day re-projected from the INGESTED warehouse
    # (keys must match the history raw_logs carries: remote_addr is the
    # wire-format IP, not the fixture's synthetic u<uid> alias)
    import glob
    import shutil

    batch_stage = f"{work}/batch_stage"
    batch_dir = f"{work}/anom_batches"
    os.makedirs(batch_dir, exist_ok=True)
    (
        wh.table("raw_logs")
        .filter(F.col("timestamp") > F.lit("2024-01-30 00:00:00").cast("timestamp"))
        .select(
            "timestamp",
            "remote_addr",
            "request_time_seconds",
            "request_uri",
            F.col("request_id").cast("long").alias("event_id"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(batch_stage)
    )
    shutil.copy(
        glob.glob(f"{batch_stage}/part-*.parquet")[0],
        f"{batch_dir}/batch0.parquet",
    )
    rc = jobs.main(
        [
            "anomaly",
            "--source",
            batch_dir,
            "--warehouse",
            wh_dir,
            "--checkpoint",
            f"{work}/ckpt_anomaly",
            "--as-of",
            "2024-01-31 00:00:00",
            "--z-threshold",
            "1.5",
            "--new-key-count",
            "10",
        ]
    )
    assert rc == 0
    assert wh.exists("anomalies")
    assert wh.table("anomalies").count() > 0

    # 3) retrain — model fit from the warehouse window, saved to disk
    rc = jobs.main(
        [
            "retrain",
            "--warehouse",
            wh_dir,
            "--model",
            f"{work}/model",
            "--as-of",
            "2024-01-31 00:00:00",
        ]
    )
    assert rc == 0
    assert os.path.isdir(f"{work}/model")

    # 4) compact — raw_logs collapses to one file per log_date partition
    rc = jobs.main(["compact", "--warehouse", wh_dir])
    assert rc == 0
    n_files = 0
    n_dates = 0
    for root, dirs, files in os.walk(wh.path("raw_logs")):
        n_files += sum(1 for f in files if f.endswith(".parquet"))
        n_dates += sum(1 for d in dirs if d.startswith("log_date="))
    assert n_files == n_dates  # one file per partition
    assert wh.table("raw_logs").count() == n_raw  # content preserved


def test_cli_curate_writes_curated_documents(spark, tmp_path):
    wh_dir = f"{tmp_path}/warehouse"
    rc = jobs.main(
        [
            "curate",
            "--warehouse", wh_dir,
            "--source", f"{SF}/documents.parquet",
        ]
    )
    assert rc == 0
    out = spark.read.parquet(f"{wh_dir}/curated_documents")
    assert set(out.columns) == {"doc_id", "predicted_lang", "ws_tokens", "quality"}
    n = out.count()
    assert 0 < n < load_table(spark, SF, "documents").count()


def test_cli_handoff_end_to_end(spark, tmp_path):
    """X67: one command runs curate -> Z-ordered at-rest corpus ->
    deterministic shards, and the shard CONTENTS equal sharding the
    curated metadata directly (the composition changes layout, never
    membership or order)."""
    from nginx_analytics_spark.operators import curation
    from nginx_analytics_spark.operators.export import shard_assignments

    wh_dir = f"{tmp_path}/warehouse"
    rc = jobs.main(
        [
            "handoff",
            "--warehouse", wh_dir,
            "--source", f"{SF}/documents.parquet",
            "--n-shards", "4",
        ]
    )
    assert rc == 0

    docs = load_table(spark, SF, "documents")
    expected_ids = {
        r.doc_id for r in curation.curate_documents(docs).select("doc_id").collect()
    }
    assert expected_ids  # the fixture must keep some docs

    corpus = spark.read.parquet(f"{wh_dir}/curated_corpus")
    assert {r.doc_id for r in corpus.select("doc_id").collect()} == expected_ids
    assert "text" in corpus.columns  # training needs the payload

    shards = spark.read.parquet(f"{wh_dir}/training_shards")
    got = {(r.doc_id, r.shard, r.pos) for r in shards.collect()}
    want = {
        (r.doc_id, r.shard, r.pos)
        for r in shard_assignments(
            curation.curate_documents(docs), "doc_id", 4
        ).collect()
    }
    assert got == want


def test_cli_export_shards(spark, tmp_path):
    wh_dir = f"{tmp_path}/warehouse"
    rc = jobs.main(
        [
            "export-shards",
            "--warehouse", wh_dir,
            "--source", f"{SF}/documents.parquet",
            "--n-shards", "4",
        ]
    )
    assert rc == 0
    out = spark.read.parquet(f"{wh_dir}/training_shards")
    assert out.count() == load_table(spark, SF, "documents").count()
    assert out.select("shard").distinct().count() == 4


def test_cli_handoff_bucketed_layout(spark, tmp_path):
    """X67 with --layout bucketed: the curated corpus lands as a
    catalog table hash-bucketed by doc_id (X38), and the shard export
    consumes it with identical membership."""
    from nginx_analytics_spark.operators import curation

    wh_dir = f"{tmp_path}/warehouse"
    try:
        rc = jobs.main(
            [
                "handoff",
                "--warehouse", wh_dir,
                "--source", f"{SF}/documents.parquet",
                "--n-shards", "4",
                "--layout", "bucketed",
            ]
        )
        assert rc == 0
        corpus = spark.table("curated_corpus")
        docs = load_table(spark, SF, "documents")
        expected_ids = {
            r.doc_id
            for r in curation.curate_documents(docs).select("doc_id").collect()
        }
        assert {r.doc_id for r in corpus.select("doc_id").collect()} == expected_ids
        shards = spark.read.parquet(f"{wh_dir}/training_shards")
        assert {r.doc_id for r in shards.collect()} == expected_ids
    finally:
        spark.sql("DROP TABLE IF EXISTS curated_corpus")


def test_cli_dedup_ingest(spark, tmp_path):
    """X80 CLI: one job drives the streaming dedup-ingest loop over a
    documents dir; exact dups are suppressed and the corpus + index
    land where pointed."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma delta epsilon zeta",  # exact dup of 1
                "unrelated words about shuffle partitions and joins",
            ],
        }
    ).to_parquet(src / "b.parquet")
    rc = jobs.main(
        [
            "dedup-ingest",
            "--source", str(src),
            "--corpus", f"{tmp_path}/corpus",
            "--index", f"{tmp_path}/idx",
            "--checkpoint", f"{tmp_path}/ckpt",
            "--compact-every", "1",  # X82 plumbing (no-op at 1 file/band)
        ]
    )
    assert rc == 0
    got = sorted(
        r.doc_id for r in spark.read.parquet(f"{tmp_path}/corpus").collect()
    )
    assert got == [1, 3]

    assert read_sidecar(f"{tmp_path}/idx", "lsh")["num_hashes"] == 32


def test_cli_dedup_ingest_quality_survivor(spark, tmp_path):
    """X100 CLI: --quality-survivor flips the within-batch near-dup
    drop to keep-best-quality — the richer (greater-id) replica is the
    one admitted, where the default greedy pass admits the min id."""
    import pandas as pd

    base = " ".join(f"tok{i}" for i in range(40))
    rich = base + " " + " ".join(f"extra{i}" for i in range(10))
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"doc_id": [1, 2], "text": [base, rich]}).to_parquet(
        src / "b.parquet"
    )
    rc = jobs.main(
        [
            "dedup-ingest",
            "--source", str(src),
            "--corpus", f"{tmp_path}/corpus",
            "--index", f"{tmp_path}/idx",
            "--checkpoint", f"{tmp_path}/ckpt",
            "--quality-survivor",
        ]
    )
    assert rc == 0
    got = [
        r.doc_id for r in spark.read.parquet(f"{tmp_path}/corpus").collect()
    ]
    assert got == [2]


def test_cli_embedding_dedup_ingest(spark, tmp_path):
    """X85 CLI: one job drives the streaming embedding dedup-ingest
    loop over a parquet dir; bit-identical vectors are suppressed and
    the corpus + SRP index land where pointed, with the signing
    parameters pinned in the sidecar."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    x = rng.normal(size=(2, 64))
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    src = tmp_path / "src"
    src.mkdir()
    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": [1, 2, 3],
                # 2 is a bit-identical dup of 1; 3 is novel
                "embedding": [list(map(float, v)) for v in (x[0], x[0], x[1])],
            },
            schema=schema,
        ),
        src / "b.parquet",
    )
    rc = jobs.main(
        [
            "embedding-dedup-ingest",
            "--source", str(src),
            "--corpus", f"{tmp_path}/corpus",
            "--index", f"{tmp_path}/idx",
            "--checkpoint", f"{tmp_path}/ckpt",
            "--compact-every", "1",  # X82 plumbing (no-op at 1 file/band)
        ]
    )
    assert rc == 0
    got = sorted(
        r.vec_id for r in spark.read.parquet(f"{tmp_path}/corpus").collect()
    )
    assert got == [1, 3]

    meta = read_sidecar(f"{tmp_path}/idx", "srp")
    assert meta["n_planes"] == 64 and meta["bands"] == 8


def test_cli_handoff_quality_weights(spark, tmp_path):
    """X81 -> X67 wiring (r6 verdict item 5): --quality-weights lands
    quality_prob in the curated corpus AND the training shards, and the
    sharded scores match score_quality with the same model directly —
    the weight survives the layout + shard composition bit-for-bit.
    Uses --quality-model (a saved scorer) so the expected scores are
    exactly reproducible in-test."""
    from nginx_analytics_spark.ml import quality as qmod

    docs = load_table(spark, SF, "documents")
    model = qmod.train_quality_classifier(docs)
    model_path = f"{tmp_path}/qmodel"
    model.write().overwrite().save(model_path)

    wh_dir = f"{tmp_path}/warehouse"
    rc = jobs.main(
        [
            "handoff",
            "--warehouse", wh_dir,
            "--source", f"{SF}/documents.parquet",
            "--n-shards", "4",
            "--quality-weights",
            "--quality-model", model_path,
        ]
    )
    assert rc == 0

    corpus = spark.read.parquet(f"{wh_dir}/curated_corpus")
    assert "quality_prob" in corpus.columns
    shards = spark.read.parquet(f"{wh_dir}/training_shards")
    assert "quality_prob" in shards.columns

    expected = {
        r.doc_id: r.quality_prob
        for r in qmod.score_quality(model, docs).collect()
    }
    got = {r.doc_id: r.quality_prob for r in shards.collect()}
    assert set(got) <= set(expected)
    assert got  # curation keeps docs
    assert all(got[d] == expected[d] for d in got)
    assert all(0.0 <= p <= 1.0 for p in got.values())


def test_cli_handoff_quality_sample(spark, tmp_path):
    """X83 -> X67 wiring (r7 verdict item 2): --quality-sample keeps a
    quality_prob-weighted ~FRAC of the curated corpus, deterministically
    — the sharded ids are exactly quality_weighted_sample over the
    scored survivors, so a re-run lands identical shards."""
    from nginx_analytics_spark.ml import quality as qmod
    from nginx_analytics_spark.operators import curation
    from nginx_analytics_spark.operators.sampling import (
        quality_weighted_sample,
    )

    docs = load_table(spark, SF, "documents")
    model = qmod.train_quality_classifier(docs)
    model_path = f"{tmp_path}/qmodel"
    model.write().overwrite().save(model_path)

    wh_dir = f"{tmp_path}/warehouse"
    rc = jobs.main(
        [
            "handoff",
            "--warehouse", wh_dir,
            "--source", f"{SF}/documents.parquet",
            "--n-shards", "2",
            "--quality-model", model_path,
            "--quality-sample", "0.5",
        ]
    )
    assert rc == 0

    shards = spark.read.parquet(f"{wh_dir}/training_shards")
    got = {r.doc_id for r in shards.select("doc_id").collect()}

    survivors = curation.curate_documents(docs).select("doc_id")
    scored = survivors.join(qmod.score_quality(model, docs), "doc_id")
    want = {
        r.doc_id
        for r in quality_weighted_sample(
            scored, "quality_prob", "doc_id", target_frac=0.5
        ).collect()
    }
    assert got == want
    n_survivors = survivors.count()
    assert abs(len(got) / n_survivors - 0.5) < 0.15  # ~FRAC of survivors

    # guard: sampling without a score column is a loud config error
    import pytest

    with pytest.raises(SystemExit, match="quality-sample"):
        jobs.main(
            [
                "handoff",
                "--warehouse", f"{tmp_path}/wh2",
                "--source", f"{SF}/documents.parquet",
                "--quality-sample", "0.5",
            ]
        )


def test_cli_handoff_quality_weights_trains_in_job(spark, tmp_path):
    """The --quality-weights default (no --quality-model) distills the
    scorer in-job from the source corpus; smoke the path end-to-end."""
    wh_dir = f"{tmp_path}/warehouse"
    rc = jobs.main(
        [
            "handoff",
            "--warehouse", wh_dir,
            "--source", f"{SF}/documents.parquet",
            "--n-shards", "2",
            "--quality-weights",
        ]
    )
    assert rc == 0
    shards = spark.read.parquet(f"{wh_dir}/training_shards")
    assert "quality_prob" in shards.columns
    assert shards.filter(F.col("quality_prob").isNull()).count() == 0


def test_cli_compact_index(spark, tmp_path):
    """X82 offline CLI: compact a stopped loop's index standalone —
    warehouse-less subcommand, content preserved, file floor applied;
    a foreign mutex holder makes it fail loudly (the dedup-ingest loop
    holds that mutex per batch, so racing a live loop cannot corrupt)."""
    import fcntl
    import os

    import pytest

    from nginx_analytics_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"document {i} with words {i % 3} {i % 5} {i % 7} endings")
         for i in range(12)],
        "doc_id long, text string",
    )
    idx = f"{tmp_path}/idx"
    dedup.write_lsh_index(docs.filter("doc_id % 2 = 0"), idx)
    dedup.append_lsh_index(docs.filter("doc_id % 2 = 1"), idx)
    before = sorted(
        (r.doc_id, r.band_idx, r.band_hash)
        for r in spark.read.parquet(idx).collect()
    )

    rc = jobs.main(
        ["compact-index", "--index", idx, "--max-files-per-band", "1"]
    )
    assert rc == 0
    after = sorted(
        (r.doc_id, r.band_idx, r.band_hash)
        for r in spark.read.parquet(idx).collect()
    )
    assert after == before
    for band in os.listdir(idx):
        if band.startswith("band_idx="):
            files = [f for f in os.listdir(os.path.join(idx, band))
                     if f.endswith(".parquet")]
            assert len(files) == 1

    fd = os.open(writer_lock_path(idx), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(RuntimeError, match="single-compactor"):
            jobs.main(["compact-index", "--index", idx])
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def test_cli_compact_index_srp(spark, tmp_path):
    """r12: the same offline CLI compacts an SRP EMBEDDING index — the
    kind is read off the sidecar (srp → the shared banded-index
    compactor), so a stopped embedding-dedup-ingest loop's
    index gets the identical maintenance surface as the text one.
    Content preserved, file floor applied, sidecar untouched."""
    import os

    import numpy as np

    from nginx_analytics_spark.operators import similarity

    rng = np.random.default_rng(9)
    x = rng.normal(size=(12, 64))
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    idx = f"{tmp_path}/srp_idx"
    similarity.write_srp_index(emb.filter("vec_id % 2 = 0"), idx)
    similarity.append_srp_index(emb.filter("vec_id % 2 = 1"), idx)
    before = sorted(
        (r.vec_id, r.band_idx, r.band_hash)
        for r in spark.read.parquet(idx).collect()
    )

    rc = jobs.main(
        ["compact-index", "--index", idx, "--max-files-per-band", "1"]
    )
    assert rc == 0
    after = sorted(
        (r.vec_id, r.band_idx, r.band_hash)
        for r in spark.read.parquet(idx).collect()
    )
    assert after == before
    for band in os.listdir(idx):
        if band.startswith("band_idx="):
            files = [f for f in os.listdir(os.path.join(idx, band))
                     if f.endswith(".parquet")]
            assert len(files) == 1
    # sidecar untouched by compaction — carries the write default
    # (64 planes since the r14 at-rest default bump)
    assert read_sidecar(idx, "srp")["n_planes"] == 64


def test_cli_verify_index(spark, tmp_path):
    """r12: one health-check CLI for every at-rest index kind,
    sidecar-detected — IVF/PQ run the row_count commit check and exit
    1 on a torn index; banded LSH/SRP validate the sidecar and report
    row/band counts; a sidecar-less dir exits 1."""
    import numpy as np

    from nginx_analytics_spark.operators import dedup, similarity

    emb = load_table(spark, SF, "embeddings").limit(60)
    docs = spark.createDataFrame(
        [(i, f"doc {i} words {i % 3} {i % 5} {i % 7} tail") for i in range(10)],
        "doc_id long, text string",
    )
    lsh, srp = f"{tmp_path}/lsh", f"{tmp_path}/srp"
    ivf, pq = f"{tmp_path}/ivf", f"{tmp_path}/pq"
    pfx = f"{tmp_path}/pfx"
    dedup.write_lsh_index(docs, lsh)
    dedup.write_prefix_index(docs, pfx, threshold=0.6)
    similarity.write_srp_index(emb, srp)
    similarity.ivf_write_bucketed(emb, ivf, n_cells=4)
    books = similarity.pq_write_index(emb, pq, m=8, n_codes=16)

    for idx in (lsh, srp, pfx, ivf, pq):
        assert jobs.main(["verify-index", "--index", idx]) == 0, idx

    # the prefix kind routes through the shared compactor too
    assert jobs.main(
        ["compact-index", "--index", pfx, "--max-files-per-band", "0"]
    ) == 0
    assert jobs.main(["verify-index", "--index", pfx]) == 0

    # tear the PQ index: rows beyond the committed count
    extra = emb.limit(2).select(
        (emb.vec_id + 70000).alias("vec_id"), "embedding"
    )
    similarity.pq_encode(extra, books).withColumn(
        "qerr", F.lit(0.0)
    ).write.mode("append").parquet(pq)
    assert jobs.main(["verify-index", "--index", pq]) == 1

    bare = f"{tmp_path}/bare"
    emb.write.mode("overwrite").parquet(bare)
    assert jobs.main(["verify-index", "--index", bare]) == 1


def test_cli_compact_corpus(spark, tmp_path):
    """X87 CLI: compact an ingest loop's corpus store standalone —
    warehouse-less subcommand, content preserved, file floor applied."""
    from nginx_analytics_spark.streaming.dedup_ingest import (
        process_batch,
        read_corpus,
    )

    corpus, idx = f"{tmp_path}/corpus", f"{tmp_path}/idx"
    for b, text in enumerate((
        "alpha beta gamma delta epsilon zeta",
        "unrelated words about shuffle partitions and joins",
    )):
        docs = spark.createDataFrame(
            [(b, text)], "doc_id long, text string"
        )
        process_batch(spark, docs, b, corpus, idx)
    before = sorted(map(tuple, read_corpus(spark, corpus).collect()))
    rc = jobs.main(
        ["compact-corpus", "--corpus", corpus, "--index", idx,
         "--sort-by", "doc_id"]
    )
    assert rc == 0
    assert sorted(map(tuple, read_corpus(spark, corpus).collect())) == before
    import os

    files = [f for f in os.listdir(corpus) if f.endswith(".parquet")]
    assert len(files) == 1


def test_cli_recluster_ivf(spark, tmp_path):
    """`jobs recluster-ivf` — the maintenance CLI behind the drift
    actuator: rebuilds the quantizer over the index's own rows and
    swaps the layout in; content (the id set) is preserved exactly and
    the sidecar's row_count commit stays healthy across the swap."""
    from nginx_analytics_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = f"{tmp_path}/ivf"
    similarity.ivf_write_bucketed(emb, idx, n_cells=4)
    before = sorted(
        r.vec_id for r in spark.read.parquet(idx).select("vec_id").collect()
    )
    rc = jobs.main(["recluster-ivf", "--index", idx, "--n-cells", "8"])
    assert rc == 0
    after = sorted(
        r.vec_id for r in spark.read.parquet(idx).select("vec_id").collect()
    )
    assert after == before
    meta = similarity.read_ivf_index_meta(idx)
    assert meta["n_cells"] == 8
    assert cell_index_verify(spark, idx, "ivf")["torn"] is False


def test_cli_rebuild_pq(spark, tmp_path, capsys):
    """r13 maintenance symmetry: a drifted PQ index's rebuild entry
    point — refit from the RAW corpus store (the loops' read_corpus
    view) and swap atomically. The CLI drives similarity.rebuild_pq;
    drift is re-armed (old mean distortion >> new) and the rebuilt
    index verifies healthy."""
    import numpy as np

    from nginx_analytics_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    idx = f"{tmp_path}/pq"
    corpus_dir = f"{tmp_path}/corpus"
    similarity.pq_write_index(
        emb, idx, m=8, n_codes=16, n_cells=8, residual=True
    )
    # the corpus store the loop would own: originals + a shifted batch
    shifted = emb.select(
        (emb.vec_id + 100000).alias("vec_id"),
        F.transform("embedding", lambda v: v + F.lit(5.0)).alias("embedding"),
    )
    emb.unionByName(shifted).write.mode("overwrite").parquet(corpus_dir)
    stats = similarity.pq_append_index(shifted, idx)
    assert stats["drift_ratio"] > 5

    rc = jobs.main(["rebuild-pq", "--index", idx, "--corpus", corpus_dir])
    assert rc == 0
    out = capsys.readouterr().out
    assert "pq index rebuilt" in out and "residual codes" in out
    meta = similarity.read_pq_index_meta(idx)
    assert meta["row_count"] == emb.count() * 2
    assert meta["residual"] is True
    # re-armed: the rebuilt codebooks describe BOTH modes, so a batch
    # from either lands near the reference
    more = emb.limit(50).select((emb.vec_id + 500000).alias("vec_id"), "embedding")
    assert similarity.pq_append_index(more, idx)["drift_ratio"] < 2.0
    assert jobs.main(["verify-index", "--index", idx]) == 0


def test_cli_rebuild_pq_residual_migration(spark, tmp_path, capsys):
    """r13 verdict item 6: the deliberate residual story — a NEW celled
    index defaults to RAW codes (small indexes are refine-floor-
    dominated and raw holds the pq_topk row-identity contract; the
    measured rationale lives on pq_write_index's docstring +
    SCALING.md), and the migration when a corpus outgrows the floor is
    one CLI call: `rebuild-pq --residual` flips the encoding from the
    raw corpus store, `--no-residual` migrates back, and the default
    keeps the standing sidecar's encoding."""
    from nginx_analytics_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    idx = f"{tmp_path}/pq"
    corpus_dir = f"{tmp_path}/corpus"
    emb.write.parquet(corpus_dir)
    # the pinned default: celled build without an explicit residual
    # flag writes RAW codes
    similarity.pq_write_index(emb, idx, m=8, n_codes=16, n_cells=8)
    assert similarity.read_pq_index_meta(idx)["residual"] is False
    # migrate up: residual encoding from the raw store
    rc = jobs.main([
        "rebuild-pq", "--index", idx, "--corpus", corpus_dir, "--residual",
    ])
    assert rc == 0 and "residual codes" in capsys.readouterr().out
    assert similarity.read_pq_index_meta(idx)["residual"] is True
    # default rebuild keeps the standing encoding
    assert jobs.main(["rebuild-pq", "--index", idx, "--corpus", corpus_dir]) == 0
    capsys.readouterr()
    assert similarity.read_pq_index_meta(idx)["residual"] is True
    # migrate back
    rc = jobs.main([
        "rebuild-pq", "--index", idx, "--corpus", corpus_dir,
        "--no-residual",
    ])
    assert rc == 0
    assert similarity.read_pq_index_meta(idx)["residual"] is False
    assert jobs.main(["verify-index", "--index", idx]) == 0


def test_cli_verify_index_busy_exits_3(spark, tmp_path, capsys):
    """r12 ADVICE: verify-index must not count rows while a writer
    holds the index mutex (the window between a data write and its
    sidecar flip reads as a transient false TORN) — against a held
    lock it reports BUSY with exit 3, distinct from healthy (0) and
    torn (1)."""
    import fcntl

    from nginx_analytics_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings").limit(30)
    idx = f"{tmp_path}/pq"
    similarity.pq_write_index(emb, idx, m=8, n_codes=16)
    fd = os.open(writer_lock_path(idx), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        rc = jobs.main(["verify-index", "--index", idx])
        assert rc == 3
        assert "BUSY" in capsys.readouterr().out
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    # released: the same index now verifies healthy
    assert jobs.main(["verify-index", "--index", idx]) == 0


def test_ann_writers_serialize_on_the_verify_mutex(spark, tmp_path):
    """r13 ADVICE medium: verify-index's busy-guard takes ONE mutex
    (the ``.compact.lock`` sibling), so every PQ/IVF writer must take
    the SAME one — the appenders used to be lock-free and the
    rebuilders locked only their own distinct siblings, leaving the
    transient-false-TORN / vanished-sidecar race open for exactly the
    kinds with row_count semantics. Against a held writer mutex all
    four writers refuse with LockHeldError; released, the appends
    commit (and lock_held=True skips re-acquisition for a caller that
    already owns it — the inline actuator path)."""
    import fcntl

    from nginx_analytics_spark.operators import similarity
    from nginx_analytics_spark.operators.index_fs import LockHeldError

    emb = load_table(spark, SF, "embeddings").limit(30)
    pq = f"{tmp_path}/pq"
    ivf = f"{tmp_path}/ivf"
    similarity.pq_write_index(emb, pq, m=8, n_codes=16)
    similarity.ivf_write_bucketed(emb, ivf, n_cells=4)
    more = emb.select((emb.vec_id + 10**6).alias("vec_id"), "embedding")
    writers = {
        pq: [
            lambda: similarity.pq_append_index(more, pq),
            lambda: similarity.rebuild_pq(spark, emb, pq),
        ],
        ivf: [
            lambda: similarity.ivf_append_bucketed(more, ivf),
            lambda: similarity.recluster_ivf(spark, ivf),
        ],
    }
    for idx, fns in writers.items():
        fd = os.open(
            writer_lock_path(idx), os.O_CREAT | os.O_RDWR
        )
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        try:
            for fn in fns:
                with pytest.raises(LockHeldError):
                    fn()
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
    # released: the appends commit under the mutex they now take
    assert similarity.pq_append_index(more, pq)["n"] == 30
    assert similarity.ivf_append_bucketed(more, ivf)["n"] == 30
    # and the held-mutex escape works for callers that already own it
    # (the ingest-loop / inline-actuator shape)
    more2 = emb.select((emb.vec_id + 2 * 10**6).alias("vec_id"), "embedding")
    from nginx_analytics_spark.operators.index_fs import LOCAL_FS

    with LOCAL_FS.exclusive_lock(
        writer_lock_path(pq), "test holds the mutex"
    ):
        assert similarity.pq_append_index(more2, pq, lock_held=True)["n"] == 30


def test_cli_tune_ann(spark, tmp_path, capsys):
    """X89 CLI: tune nprobe against a corpus store, JSON + summary on
    stdout, exit 0 when the target is met and 1 when unreachable."""
    import json

    from nginx_analytics_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    corpus_dir = f"{tmp_path}/corpus"
    emb.write.mode("overwrite").parquet(corpus_dir)
    idx = f"{tmp_path}/pq"
    similarity.pq_write_index(
        emb, idx, m=8, n_codes=16, n_cells=16, residual=True
    )
    rc = jobs.main([
        "tune-ann", "--index", idx, "--corpus", corpus_dir,
        "--target-recall", "0.3", "--sample-queries", "10",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    payload = json.loads(out.strip().splitlines()[0])
    assert payload["met"] is True and 1 <= payload["nprobe"] <= 16
    assert "tuned: nprobe=" in out

    rc = jobs.main([
        "tune-ann", "--index", idx, "--corpus", corpus_dir,
        "--target-recall", "0.999", "--sample-queries", "10",
    ])
    out = capsys.readouterr().out
    assert rc == 1 and "target unreachable" in out


@pytest.mark.parametrize("store", ["lsh", "paraseen"])
def test_cli_reconcile_index(spark, tmp_path, capsys, store):
    """X91 CLI: blind spots exit 1 with the repair hint; --repair
    closes them and exits 0; orphans alone exit 0 (report only). The
    same command reconciles a seen-key store (keys, not ids)."""
    from nginx_analytics_spark.operators import dedup
    from nginx_analytics_spark.streaming.dedup_ingest import process_batch

    corpus, idx = f"{tmp_path}/corpus", f"{tmp_path}/idx"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    if store == "lsh":
        process_batch(spark, docs, 0, corpus, idx)
    else:
        docs.write.parquet(corpus)
        dedup.write_paraseen_store(docs, idx)
    spark.createDataFrame(
        [(9, "manually imported words about bloom filters and codegen")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(corpus)

    rc = jobs.main(["reconcile-index", "--corpus", corpus, "--index", idx])
    out = capsys.readouterr().out
    assert rc == 1 and "DEDUP BLIND SPOTS" in out and "1 missing" in out

    rc = jobs.main(
        ["reconcile-index", "--corpus", corpus, "--index", idx, "--repair"]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "(1 repaired)" in out

    rc = jobs.main(["reconcile-index", "--corpus", corpus, "--index", idx])
    out = capsys.readouterr().out
    assert rc == 0 and "0 missing from index" in out


def test_cli_reconcile_index_serving_kind(spark, tmp_path, capsys):
    """r13 verdict item 5 at the CLI: reconcile-index sidecar-detects a
    PQ serving index; a corpus vector missing from it exits 1 with the
    recall-loss wording (not the dedup blind-spot one), --repair
    appends it under the sidecar's codebooks and exits 0."""
    from nginx_analytics_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings").limit(50)
    corpus, idx = f"{tmp_path}/corpus", f"{tmp_path}/pq"
    emb.write.parquet(corpus)
    similarity.pq_write_index(
        emb.filter("vec_id <> 0"), idx, m=8, n_codes=16, n_cells=4
    )
    rc = jobs.main(["reconcile-index", "--corpus", corpus, "--index", idx])
    out = capsys.readouterr().out
    assert rc == 1 and "SILENT RECALL LOSSES" in out and "pq index" in out
    rc = jobs.main(
        ["reconcile-index", "--corpus", corpus, "--index", idx, "--repair"]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "(1 repaired)" in out
    assert jobs.main(["verify-index", "--index", idx]) == 0
