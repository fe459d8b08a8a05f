"""Product-quantization ANN tests (X37, operators/similarity.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nginx_analytics_spark.operators import similarity
from nginx_analytics_spark.operators.index_fs import cell_index_verify
from nginx_analytics_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    x = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return ids, x


def test_codebook_shapes_and_determinism(emb):
    b1 = similarity.pq_codebooks(emb, m=4, k=16, seed=42)
    b2 = similarity.pq_codebooks(emb, m=4, k=16, seed=42)
    assert b1.shape == (4, 16, 16)  # 64-dim fixture / m=4
    assert np.array_equal(b1, b2)


def test_encode_codes_in_range(emb):
    books = similarity.pq_codebooks(emb, m=4, k=16)
    codes = similarity.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 16 for c in r["codes"])


def test_quantization_error_bounded(emb, emb_np):
    """Reconstruction from codebook centroids must beat the 1-centroid
    (global mean per subspace) strawman by a wide margin — on this
    near-random fixture m=8/k=16 measures ~0.54 of the mean-vector
    distortion (random data is the rate-distortion worst case)."""
    ids, x = emb_np
    books = similarity.pq_codebooks(emb, m=8, k=16)
    enc = {r["vec_id"]: list(r["codes"]) for r in similarity.pq_encode(emb, books).collect()}
    m, k, sub = books.shape
    recon = np.stack(
        [np.concatenate([books[j][enc[i][j]] for j in range(m)]) for i in ids]
    )
    pq_err = np.mean(np.sum((x - recon) ** 2, axis=1))
    mean_vec = x.mean(axis=0)
    mean_err = np.mean(np.sum((x - mean_vec) ** 2, axis=1))
    assert pq_err < 0.7 * mean_err


def _recall_at_5(got, ids, x) -> tuple[float, dict]:
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    hits = tot = 0
    for qid, approx in by_q.items():
        qv = x[ids == qid][0]
        d = np.sum((x - qv) ** 2, axis=1)
        d[ids == qid] = np.inf
        exact = set(ids[np.argsort(d, kind="stable")[:5]])
        hits += len(exact & set(approx))
        tot += 5
    return hits / tot, by_q


def test_pq_topk_refined_recall_vs_exact_l2(spark, emb, emb_np):
    """The production IVFADC+R shape (50-deep exact re-rank): calibrated
    0.74 on the fixture; gate leaves margin."""
    ids, x = emb_np
    queries = emb.filter(emb.vec_id < 10).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    got = similarity.pq_topk(emb, queries, k=5, m=8, refine=50).collect()
    recall, by_q = _recall_at_5(got, ids, x)
    assert len(by_q) == 10 and all(len(v) == 5 for v in by_q.values())
    assert recall >= 0.6, f"refined recall@5 = {recall}"


def test_pq_topk_adc_only_beats_random(spark, emb, emb_np):
    """Pure compressed-domain ranking saturates on near-random data
    (neighbor margins below quantization noise) but must still be far
    above the random-baseline 5/499: calibrated ~0.26."""
    ids, x = emb_np
    queries = emb.filter(emb.vec_id < 10).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    # refine_frac=None: pure ADC (re-ranking is the r11 default — this
    # test pins the UNREFINED compressed-domain ranking specifically)
    got = similarity.pq_topk(
        emb, queries, k=5, m=8, refine_frac=None
    ).collect()
    recall, _ = _recall_at_5(got, ids, x)
    assert recall >= 0.15, f"ADC recall@5 = {recall}"


def test_pq_default_refine_floor_binds_on_fixture(spark, emb):
    """r11: the default refine depth is max(k, refine_floor=50,
    ceil(refine_frac=2.5% of n)). At the 500-vector fixture the floor
    binds (ceil(12.5) < 50), so the default is row-identical to the
    former fixed refine=50 headline — the ann_pq_topk registry rows are
    unchanged by the default switch; only corpora past 2,000 vectors see
    the fraction take over (measured in the bench grown probe)."""
    queries = emb.filter(emb.vec_id < 10).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    default = sorted(
        map(tuple, similarity.pq_topk(emb, queries, k=5, m=8).collect())
    )
    fixed = sorted(
        map(
            tuple,
            similarity.pq_topk(emb, queries, k=5, m=8, refine=50).collect(),
        )
    )
    assert default == fixed


def test_pq_topk_deterministic(spark, emb):
    queries = emb.filter(emb.vec_id < 3).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    a = sorted(map(tuple, similarity.pq_topk(emb, queries, k=5).collect()))
    b = sorted(map(tuple, similarity.pq_topk(emb, queries, k=5).collect()))
    assert a == b


def test_pq_index_flat_probe_identity(spark, emb, tmp_path):
    """The at-rest PQ index (r11 verdict item 4): codebooks round-trip
    the sidecar bit-exactly, and the indexed probe is ROW-IDENTICAL to
    the in-memory pq_topk under the same codebooks — both paths run
    _pq_scan_topk, so the identity is structural; this pins that the
    parquet code round-trip and the sidecar row_count-derived refine
    depth change nothing."""
    idx = str(tmp_path / "pq_flat")
    queries = emb.filter(emb.vec_id < 10).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    books = similarity.pq_write_index(emb, idx, m=8, n_codes=16)
    meta = similarity.read_pq_index_meta(idx)
    assert np.array_equal(meta["codebooks"], books)  # bit-exact round-trip
    assert meta["n_cells"] is None and meta["row_count"] == emb.count()
    got = sorted(map(tuple, similarity.pq_topk_indexed(
        spark, emb, queries, idx, k=5
    ).collect()))
    mem = sorted(map(tuple, similarity.pq_topk(
        emb, queries, k=5, m=8, n_codes=16, codebooks=meta["codebooks"]
    ).collect()))
    assert got == mem and len(got) == 10 * 5


def test_pq_index_codes_equal_pq_encode_on_rounding_tie(spark, tmp_path):
    """The at-rest codes are pq_encode's codes BY CONSTRUCTION, ties
    included: both run one kernel whose argmin drops the row-constant
    |x|^2. Planted tie: against codebook rows 0.0 and 1e-9 the vector
    1e8 is nearer 1e-9 (|c|^2 - 2x.c = 0 vs -0.2), but adding
    |x|^2 = 1e16 first rounds both distances to 1e16, where an argmin
    would pick code 0."""
    from nginx_analytics_spark.operators.index_fs import (
        read_sidecar,
        write_sidecar,
    )

    schema = "vec_id long, embedding array<double>"
    idx = str(tmp_path / "pq_tie")
    similarity.pq_write_index(
        spark.createDataFrame([(0, [0.0]), (1, [1.0]), (2, [2.0])], schema),
        idx, m=1, n_codes=2,
    )
    meta = read_sidecar(idx, "pq")
    meta["codebooks"] = [[[0.0], [1e-9]]]
    write_sidecar(idx, "pq", meta)
    new = spark.createDataFrame([(99, [1e8])], schema)
    similarity.pq_append_index(new, idx)
    stored = spark.read.parquet(idx).filter("vec_id = 99").first()["codes"]
    encoded = similarity.pq_encode(
        new, np.asarray(meta["codebooks"])
    ).first()["codes"]
    assert list(stored) == list(encoded) == [1]


def test_pq_index_ivfadc_prunes_files_and_masks_cells(spark, emb, tmp_path):
    """The IVFADC layout: (1) the probe plan carries a partition filter
    on cell; (2) PHYSICAL proof — deleting every unprobed cell's files
    between plan construction and collect() does not disturb the query,
    so those code files are provably never opened (the
    ivf_topk_bucketed discipline); (3) per-QUERY semantics inside the
    pruned union: every returned neighbor lives in a cell its query
    actually probed, not merely one some other query probed."""
    import io
    import os
    import shutil
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    idx = str(tmp_path / "pq_ivfadc")
    queries = emb.filter(emb.vec_id < 3).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    similarity.pq_write_index(emb, idx, m=8, n_codes=16, n_cells=16)
    meta = similarity.read_pq_index_meta(idx)
    cell_dirs = sorted(d for d in os.listdir(idx) if d.startswith("cell="))
    assert len(cell_dirs) > 4, "corpus should spread over many cells"

    expected = sorted(map(tuple, similarity.pq_topk_indexed(
        spark, emb, queries, idx, k=5, nprobe=4
    ).collect()))

    out = similarity.pq_topk_indexed(spark, emb, queries, idx, k=5, nprobe=4)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert "PartitionFilters: [cell" in buf.getvalue(), buf.getvalue()[:2000]

    qcells = {
        int(r[0]): {int(c) for c in r[1]}
        for r in queries.select(
            "query_id",
            similarity.nearest_cells(
                similarity.as_double("embedding"), meta["centroids"], 4
            ).alias("cells"),
        ).collect()
    }
    probed = set().union(*qcells.values())
    removed = 0
    for d in cell_dirs:
        if int(d.split("=", 1)[1]) not in probed:
            shutil.rmtree(os.path.join(idx, d))
            removed += 1
    assert removed > 0, "nprobe=4 of 16 cells must leave unprobed cells"
    assert sorted(map(tuple, out.collect())) == expected

    # per-query cell mask: each neighbor's cell is in ITS query's probe set
    ncell = {
        int(r[0]): int(r[1])
        for r in emb.select(
            "vec_id",
            similarity.cell_assignment(
                similarity.as_double("embedding"), meta["centroids"]
            )["cell"],
        ).collect()
    }
    for row in expected:
        qid, nid = int(row[0]), int(row[1])
        assert ncell[nid] in qcells[qid], (qid, nid, ncell[nid], qcells[qid])


def test_pq_index_ivfadc_recall_and_full_scan_identity(spark, emb, emb_np, tmp_path):
    """IVFADC recall composes the two pruning stages: ~0.72 (IVF at
    6/16 cells) x ~0.74 (PQ+refine) — measured 0.50 on the seeded
    fixture; gate leaves margin for a fixture regeneration. And
    nprobe=None on a celled index scans every cell — identical rows to
    a flat index under the same codebooks (the layouts differ only in
    pruning, never content)."""
    ids, x = emb_np
    idx = str(tmp_path / "pq_ivfadc")
    flat = str(tmp_path / "pq_flat")
    queries = emb.filter(emb.vec_id < 10).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    similarity.pq_write_index(emb, idx, m=8, n_codes=16, n_cells=16)
    similarity.pq_write_index(emb, flat, m=8, n_codes=16)
    got = similarity.pq_topk_indexed(
        spark, emb, queries, idx, k=5, nprobe=6
    ).collect()
    recall, by_q = _recall_at_5(got, ids, x)
    assert len(by_q) == 10 and all(len(v) == 5 for v in by_q.values())
    assert recall >= 0.4, f"IVFADC recall@5 = {recall}"

    all_cells = sorted(map(tuple, similarity.pq_topk_indexed(
        spark, emb, queries, idx, k=5
    ).collect()))
    flat_out = sorted(map(tuple, similarity.pq_topk_indexed(
        spark, emb, queries, flat, k=5
    ).collect()))
    assert all_cells == flat_out


def test_pq_index_torn_commit_detected(spark, emb, tmp_path):
    """The row_count sidecar flip is the commit (the ivf_write_bucketed
    protocol): rows landing after the flip — a writer killed before
    re-flipping, or foreign files — read as torn, and a verify=True
    probe refuses loudly while the default probe (appends are not part
    of this index's lifecycle yet) still serves."""
    idx = str(tmp_path / "pq_flat")
    queries = emb.filter(emb.vec_id < 3).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    books = similarity.pq_write_index(emb, idx, m=8, n_codes=16)
    assert cell_index_verify(spark, idx, "pq")["torn"] is False

    extra = emb.filter(emb.vec_id < 2).select(
        (emb.vec_id + 100000).alias("vec_id"), "embedding"
    )
    similarity.pq_encode(extra, books).write.mode("append").parquet(idx)
    check = cell_index_verify(spark, idx, "pq")
    assert check["torn"] is True and check["actual"] == check["expected"] + 2
    with pytest.raises(ValueError, match="torn"):
        similarity.pq_topk_indexed(
            spark, emb, queries, idx, k=5, verify=True
        )
    assert similarity.pq_topk_indexed(
        spark, emb, queries, idx, k=5
    ).count() == 3 * 5


def test_pq_index_guards(spark, emb, tmp_path):
    """Fail-loudly surface: nprobe against a flat index (nothing to
    prune), a foreign id_col (the codes table doesn't carry it), and a
    sidecar-less directory all refuse instead of silently degrading."""
    idx = str(tmp_path / "pq_flat")
    queries = emb.filter(emb.vec_id < 3).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    similarity.pq_write_index(emb, idx, m=8, n_codes=16)
    with pytest.raises(ValueError, match="flat"):
        similarity.pq_topk_indexed(spark, emb, queries, idx, k=5, nprobe=4)
    with pytest.raises(ValueError, match="id_col"):
        similarity.pq_topk_indexed(
            spark, emb, queries, idx, k=5, id_col="doc_id"
        )
    bare = str(tmp_path / "not_an_index")
    emb.write.mode("overwrite").parquet(bare)
    with pytest.raises(FileNotFoundError):
        similarity.pq_topk_indexed(spark, emb, queries, bare, k=5)


def test_pq_index_append_lifecycle(spark, emb, tmp_path):
    """write → append → probe for the PQ index (the ivf_append_bucketed
    analogue): (1) appends encode under the SIDECAR codebooks, so the
    appended index's probe equals scoring the full corpus under the
    half-corpus codebooks — content-wise the append is invisible;
    (2) a planted near-duplicate of a query vector, appended later,
    becomes that query's top-1 — appended rows are genuinely scanned
    and re-ranked; (3) the sidecar's row_count commits each append and
    the in-distribution drift ratio reads ~1."""
    idx = str(tmp_path / "pq_appended")
    queries = emb.filter(emb.vec_id < 5).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    half = emb.vec_id % 2 == 0
    books = similarity.pq_write_index(
        emb.filter(half), idx, m=8, n_codes=16
    )
    stats = similarity.pq_append_index(emb.filter(~half), idx)
    assert stats["n"] == emb.filter(~half).count()
    assert 0.5 < stats["drift_ratio"] < 2.0, stats  # in-distribution
    meta = similarity.read_pq_index_meta(idx)
    assert meta["row_count"] == emb.count()

    got = sorted(map(tuple, similarity.pq_topk_indexed(
        spark, emb, queries, idx, k=5
    ).collect()))
    expect = sorted(map(tuple, similarity.pq_topk(
        emb, queries, k=5, m=8, n_codes=16, codebooks=books
    ).collect()))
    assert got == expect

    q0 = emb.filter(emb.vec_id == 0).select("embedding").collect()[0][0]
    planted = [v * 0.999 for v in q0]  # cosine ~1, tiny L2 distance
    extra = spark.createDataFrame(
        [(90001, planted)], "vec_id long, embedding array<float>"
    )
    similarity.pq_append_index(extra, idx)
    corpus2 = emb.select("vec_id", "embedding").unionByName(extra)
    top1 = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk_indexed(
            spark, corpus2, queries, idx, k=5
        ).collect()
        if r.rank == 1
    }
    assert (0, 90001) in top1
    assert similarity.read_pq_index_meta(idx)["row_count"] == emb.count() + 1


def test_pq_index_append_torn_refusal_and_drift_signal(spark, emb, tmp_path):
    """(1) an append onto a TORN index (rows beyond the committed count
    — a predecessor died before its sidecar flip) refuses loudly
    instead of compounding the tear; (2) the drift monitor fires in
    distortion space: an out-of-distribution batch (same directions,
    5x magnitude → ~25x reconstruction error under the standing
    codebooks) reads a large ratio, the PQ-native signal that ADC
    distances for new rows are degrading."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "pq_flat")
    books = similarity.pq_write_index(emb, idx, m=8, n_codes=16)

    ood = emb.filter(emb.vec_id < 50).select(
        (emb.vec_id + 50000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(5.0)).alias(
            "embedding"
        ),
    )
    stats = similarity.pq_append_index(ood, idx)
    assert stats["drift_ratio"] > 5.0, stats

    # tear the index: codes landing without a sidecar flip
    extra = emb.filter(emb.vec_id < 2).select(
        (emb.vec_id + 99000).alias("vec_id"), "embedding"
    )
    similarity.pq_encode(extra, books).withColumn(
        "qerr", F.lit(0.0)
    ).write.mode("append").parquet(idx)
    with pytest.raises(ValueError, match="torn"):
        similarity.pq_append_index(extra, idx)


def test_pq_index_append_celled_assigns_sidecar_cells(spark, emb, tmp_path):
    """IVFADC append: new rows land in the cell the SIDECAR centroids
    assign (cell geometry is append-invariant, like the IVF index), so
    a planted near-dup of a query is probed through the same nprobe
    partition pruning that serves the build-time rows."""
    idx = str(tmp_path / "pq_ivfadc")
    queries = emb.filter(emb.vec_id < 3).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    similarity.pq_write_index(emb, idx, m=8, n_codes=16, n_cells=16)
    q0 = emb.filter(emb.vec_id == 0).select("embedding").collect()[0][0]
    extra = spark.createDataFrame(
        [(90001, [v * 0.999 for v in q0])],
        "vec_id long, embedding array<float>",
    )
    stats = similarity.pq_append_index(extra, idx)
    assert stats["n"] == 1 and stats["drift_ratio"] is not None
    corpus2 = emb.select("vec_id", "embedding").unionByName(extra)
    got = similarity.pq_topk_indexed(
        spark, corpus2, queries, idx, k=5, nprobe=6
    ).collect()
    assert (0, 90001) in {(r.query_id, r.neighbor_id) for r in got if r.rank == 1}


def test_exhaustive_refine_exact_beyond_fixture_size(spark):
    """r6 regression (caught by the sf0.1 parity sweep): a FIXED refine
    depth that happens to exceed the small fixtures' 500 vectors is not
    an exactness guarantee — at 2000 vectors it silently missed a true
    neighbor. The oracle-tier registry entry now derives refine from the
    corpus row count; this pins the underlying contract on a synthetic
    corpus LARGER than the old constant: refine >= n ==> the refined
    top-k equals brute-force exact L2 for every query."""
    rng = np.random.default_rng(7)
    n = 700  # > the former fixed depth of 600
    x = rng.normal(size=(n, 64))
    # plant unambiguous near neighbors so exactness is a sharp assertion
    x[650] = x[0] + 0.01
    x[651] = x[1] + 0.01
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter(corpus.vec_id < 5).select(
        corpus.vec_id.alias("query_id"), "embedding"
    )
    got = similarity.pq_topk(
        corpus, queries, k=5, m=8, refine=n, refine_exact_fold=True
    ).collect()
    xe = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in corpus
                   .orderBy("vec_id").collect()])
    for q in range(5):
        d = ((xe - xe[q]) ** 2).sum(axis=1)
        d[q] = np.inf
        exact = list(np.argsort(d, kind="stable")[:5])
        mine = [r.neighbor_id for r in sorted(
            (r for r in got if r.query_id == q), key=lambda r: r.rank)]
        assert mine == exact, (q, mine, exact)


# --------------------------------------------------------------------------
# r13: residual encoding (true IVFADC), the rebuild actuator, and the
# single-collect probe contract
# --------------------------------------------------------------------------


def _recall5(got, ids, x) -> float:
    r, _ = _recall_at_5(got, ids, x)
    return r


def test_pq_residual_requires_cell_layout(emb, tmp_path):
    """residual codes reconstruct v - centroid[cell]; a flat index has
    no cell to take the residual against — loud, not silent."""
    with pytest.raises(ValueError, match="residual.*cell layout|cell layout"):
        similarity.pq_write_index(
            emb, str(tmp_path / "flat_res"), m=8, residual=True
        )


def test_pq_residual_distortion_and_recall_beat_raw(spark, emb, emb_np, tmp_path):
    """The point of residual encoding (r12 verdict item 3): residuals
    are smaller/more isotropic than raw vectors, so the same m×k budget
    reconstructs tighter — the sidecar's mean distortion must drop vs
    the raw-code index under identical (m, n_codes, n_cells, seed), and
    recall must be at least the raw index's at the same nprobe, on both
    the pure-ADC and the default refined path (measured on this fixture:
    ADC 0.16→0.26, refined 0.50→0.64 at nprobe=6)."""
    ids, x = emb_np
    raw_i, res_i = str(tmp_path / "raw"), str(tmp_path / "res")
    similarity.pq_write_index(emb, raw_i, m=8, n_codes=16, seed=42, n_cells=16)
    similarity.pq_write_index(
        emb, res_i, m=8, n_codes=16, seed=42, n_cells=16, residual=True
    )
    m_raw = similarity.read_pq_index_meta(raw_i)
    m_res = similarity.read_pq_index_meta(res_i)
    assert m_res["residual"] is True and not m_raw.get("residual")
    assert m_res["mean_quant_err"] < m_raw["mean_quant_err"]
    queries = emb.filter(emb.vec_id < 10).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    for kw in ({"refine_frac": None}, {}):
        raw_got = similarity.pq_topk_indexed(
            spark, emb, queries, raw_i, k=5, nprobe=6, **kw
        ).collect()
        res_got = similarity.pq_topk_indexed(
            spark, emb, queries, res_i, k=5, nprobe=6, **kw
        ).collect()
        assert _recall5(res_got, ids, x) >= _recall5(raw_got, ids, x), kw
    # the default refined path's measured fixture recall, with margin
    assert _recall5(res_got, ids, x) >= 0.55


def test_pq_residual_exhaustive_refine_is_exact(spark, emb, tmp_path):
    """The exactness tier is ENCODING-INDEPENDENT: with refine >= n the
    exact re-rank decides everything, so the residual index's refined
    output is row-identical to the raw flat index's (the structural
    guarantee the ann_pq_indexed_residual_refined oracle query rides)."""
    flat_i, res_i = str(tmp_path / "flat"), str(tmp_path / "res")
    similarity.pq_write_index(emb, flat_i, m=8, n_codes=16, seed=42)
    similarity.pq_write_index(
        emb, res_i, m=8, n_codes=16, seed=42, n_cells=16, residual=True
    )
    queries = emb.filter(emb.vec_id < 5).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    n = emb.count()
    a = sorted(map(tuple, similarity.pq_topk_indexed(
        spark, emb, queries, flat_i, k=5, refine=n, refine_exact_fold=True
    ).collect()))
    b = sorted(map(tuple, similarity.pq_topk_indexed(
        spark, emb, queries, res_i, k=5, refine=n, refine_exact_fold=True
    ).collect()))
    assert a == b and len(a) == 25


def test_pq_residual_append_lifecycle(spark, emb, tmp_path):
    """Appends to a residual index must encode RESIDUALS under the
    sidecar's codebooks (raw encoding would poison distances and fake
    drift): an in-distribution append reports drift_ratio ~1, the
    committed row_count covers the new rows, and a planted exact copy
    of a query vector surfaces as its rank-1 neighbor post-append."""
    res_i = str(tmp_path / "res")
    base = emb.filter(emb.vec_id >= 10)
    similarity.pq_write_index(
        base, res_i, m=8, n_codes=16, seed=42, n_cells=16, residual=True
    )
    n0 = similarity.read_pq_index_meta(res_i)["row_count"]
    planted = emb.filter(emb.vec_id == 3).select(
        F.lit(90007).cast("long").alias("vec_id"), "embedding"
    )
    batch = emb.filter(emb.vec_id < 10).select("vec_id", "embedding").unionByName(
        planted
    )
    stats = similarity.pq_append_index(batch, res_i)
    assert stats["n"] == 11
    assert 0.5 < stats["drift_ratio"] < 2.0  # in-distribution
    meta = similarity.read_pq_index_meta(res_i)
    assert meta["row_count"] == n0 + 11
    queries = emb.filter(emb.vec_id == 3).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    corpus2 = emb.select("vec_id", "embedding").unionByName(planted)
    got = similarity.pq_topk_indexed(
        spark, corpus2, queries, res_i, k=5, nprobe=6
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in got if r.rank == 1} == {(3, 90007)}


def test_rebuild_pq_heals_drift_and_survives_crash(spark, emb, tmp_path):
    """r12 verdict item 4 end-to-end: a drifted residual index (codes
    fitted on the original distribution, then a shifted batch appended)
    reports drift_ratio >> 1; rebuild_pq refits from the corpus store
    and swaps atomically — after it, the same shifted distribution
    appends at drift_ratio ~1 and probes stay correct across the swap.
    A crash between the two swap renames is healed on the next entry."""
    idx = str(tmp_path / "idx")
    similarity.pq_write_index(
        emb, idx, m=8, n_codes=16, seed=42, n_cells=16, residual=True
    )
    shifted = emb.select(
        (emb.vec_id + 100000).alias("vec_id"),
        F.transform("embedding", lambda v: v + F.lit(5.0)).alias("embedding"),
    ).localCheckpoint(eager=True)
    stats = similarity.pq_append_index(shifted.limit(100), idx)
    assert stats["drift_ratio"] > 5  # the monitor fires
    corpus = emb.select("vec_id", "embedding").unionByName(shifted.limit(100))
    out = similarity.rebuild_pq(spark, corpus, idx)
    assert out["n_rows"] == emb.count() + 100
    assert out["residual"] is True and out["n_cells"] == 16
    # re-armed: a further batch from the SAME shifted distribution now
    # lands near the rebuilt reference
    stats2 = similarity.pq_append_index(
        shifted.filter(F.col("vec_id") >= 100100).limit(100).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        ),
        idx,
    )
    assert stats2["drift_ratio"] < 2.0 < stats["drift_ratio"]
    # probes stay correct across the swap: the rebuilt index's
    # exhaustive-refine top-5 equals brute-force exact L2 (the refine
    # shortlist is fed from the REBUILT codes, so this pins both the
    # swap's row identity and the new codebooks' validity)
    queries = emb.filter(emb.vec_id == 7).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    got = similarity.pq_topk_indexed(
        spark, corpus, queries,
        idx, k=5, refine=similarity.read_pq_index_meta(idx)["row_count"],
        refine_exact_fold=True,
    ).collect()
    crows = corpus.collect()
    cids = np.array([r.vec_id for r in crows])
    cx = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in crows])
    qv = cx[cids == 7][0]
    d = ((cx - qv) ** 2).sum(axis=1)
    d[cids == 7] = np.inf
    exact = [int(i) for i in cids[np.lexsort((cids, d))[:5]]]
    mine = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)]
    assert mine == exact, (mine, exact)
    # crash between the renames: index dir missing, .pq-old present —
    # the next rebuild entry heals (rolls the old back) and completes
    import os

    os.rename(idx, str(tmp_path / ".pq-old-idx-99999"))
    out2 = similarity.rebuild_pq(spark, corpus, idx)
    assert out2["n_rows"] == out["n_rows"]
    assert cell_index_verify(spark, idx, "pq")["torn"] is False


def test_pq_topk_indexed_collects_queries_exactly_once(spark, emb, tmp_path, monkeypatch):
    """r12 ADVICE regression: the probe used to collect the query frame
    twice (once for the cell map, once for the LUTs) — a
    non-deterministic frame (limit/sample) could disagree between the
    two, KeyError-ing or silently mis-masking. Pin the fix structurally:
    exactly ONE DataFrame.collect happens inside the probe."""
    # pyspark 4: instances are the classic concrete class, whose collect
    # overrides the pyspark.sql.DataFrame facade's — patch the one that
    # actually executes
    from pyspark.sql.classic.dataframe import DataFrame

    idx = str(tmp_path / "idx")
    similarity.pq_write_index(emb, idx, m=8, n_codes=16, seed=42, n_cells=16)
    queries = emb.filter(emb.vec_id < 5).select(
        emb.vec_id.alias("query_id"), "embedding"
    )
    calls = []
    orig = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: calls.append(1) or orig(self)
    )
    got = similarity.pq_topk_indexed(
        spark, emb, queries, idx, k=5, nprobe=6, refine_frac=None
    ).collect()
    # the probe's single query collect + the test's own terminal collect
    assert len(calls) == 2
    assert len(got) == 25


def test_pq_append_rebuild_threshold_inline_actuator(spark, emb, tmp_path):
    """The IVF append's recluster_threshold symmetry for PQ: an append
    whose drift_ratio crosses rebuild_threshold triggers exactly one
    rebuild_pq from the caller-supplied raw corpus (which must already
    include the batch), after its own commit; a threshold without a
    corpus raises immediately (a trigger that could never fire its
    actuator would surface only once drift is real); a below-threshold
    append rebuilds nothing."""
    idx = str(tmp_path / "idx")
    similarity.pq_write_index(
        emb, idx, m=8, n_codes=16, seed=42, n_cells=16, residual=True
    )
    with pytest.raises(ValueError, match="rebuild_corpus"):
        similarity.pq_append_index(
            emb.limit(1).select(
                (emb.vec_id + 90000).alias("vec_id"), "embedding"
            ),
            idx, rebuild_threshold=5.0,
        )
    # in-distribution append under the threshold: no rebuild
    tame = emb.limit(20).select((emb.vec_id + 90000).alias("vec_id"), "embedding")
    stats = similarity.pq_append_index(
        tame, idx, rebuild_threshold=5.0,
        rebuild_corpus=emb.select("vec_id", "embedding").unionByName(tame),
    )
    assert stats["rebuilt"] is False and "rebuild" not in stats
    # drifted append over the threshold: exactly one inline rebuild
    shifted = emb.limit(100).select(
        (emb.vec_id + 200000).alias("vec_id"),
        F.transform("embedding", lambda v: v + F.lit(5.0)).alias("embedding"),
    ).localCheckpoint(eager=True)
    corpus = (
        emb.select("vec_id", "embedding").unionByName(tame).unionByName(shifted)
    )
    stats = similarity.pq_append_index(
        shifted, idx, rebuild_threshold=5.0, rebuild_corpus=corpus,
    )
    assert stats["drift_ratio"] > 5.0 and stats["rebuilt"] is True
    assert stats["rebuild"]["n_rows"] == emb.count() + 120
    assert stats["rebuild"]["residual"] is True
    # re-armed: the same shifted distribution now appends near ~1
    more = shifted.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    assert similarity.pq_append_index(more, idx)["drift_ratio"] < 2.0
    assert cell_index_verify(spark, idx, "pq")["torn"] is False
    # r13 ADVICE: a STALE rebuild_corpus (missing the just-committed
    # batch) must raise loudly instead of silently dropping the
    # acknowledged rows from the rebuilt index — the rebuilt sidecar's
    # row_count cannot cover what the append committed
    drifted2 = shifted.select(
        (F.col("vec_id") + 3000000).alias("vec_id"),
        F.transform("embedding", lambda v: v - F.lit(10.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="SHRANK|stale"):
        similarity.pq_append_index(
            drifted2, idx, rebuild_threshold=5.0,
            rebuild_corpus=emb.select("vec_id", "embedding").limit(30),
        )
    # r14 ADVICE: the refusal must fire BEFORE the swap — the complete
    # just-committed index (this append's 100 rows included) is still
    # on disk, not a 30-row rebuild that raised only after replacing it
    check = cell_index_verify(spark, idx, "pq")
    assert check["torn"] is False
    assert check["actual"] == emb.count() + 120 + 100 + 100


def test_tune_ann_nprobe_pq_residual(spark, emb, tmp_path):
    """X89 on the residual PQ index: the tuner finds an nprobe meeting
    a reachable target (recall measured against exact-L2 ground truth
    on a deterministic sample), reports the sweep it measured, is
    deterministic across runs, and reports met=False with the full-scan
    ceiling when the target is unreachable at this configuration."""
    idx = str(tmp_path / "pq")
    similarity.pq_write_index(
        emb, idx, m=8, n_codes=16, seed=42, n_cells=16, residual=True
    )
    out = similarity.tune_ann_nprobe(
        spark, emb, idx, target_recall=0.3, k=5, sample_queries=10
    )
    assert out["kind"] == "pq" and out["n_cells"] == 16
    assert out["met"] is True and 1 <= out["nprobe"] <= 16
    assert out["recall"] >= 0.3
    assert out["scan_fraction"] == round(out["nprobe"] / 16, 4)
    # r13 ADVICE: the flag matches the sweep the result itself reports
    rec = [s["recall"] for s in out["sweep"]]
    assert out["non_monotone"] == any(
        b < a for a, b in zip(rec, rec[1:])
    )
    probed = [s["nprobe"] for s in out["sweep"]]
    assert probed == sorted(probed) and len(probed) <= 6  # O(log n_cells)
    assert all(0.0 <= s["recall"] <= 1.0 for s in out["sweep"])
    # deterministic: same sample, same sweep, same answer
    assert similarity.tune_ann_nprobe(
        spark, emb, idx, target_recall=0.3, k=5, sample_queries=10
    ) == out
    # unreachable target: the full-scan ceiling IS the answer
    out2 = similarity.tune_ann_nprobe(
        spark, emb, idx, target_recall=0.999, k=5, sample_queries=10
    )
    assert out2["met"] is False and out2["nprobe"] == 16
    assert out2["scan_fraction"] == 1.0 and out2["recall"] < 0.999


def test_tune_ann_nprobe_ivf_monotone(spark, emb, tmp_path):
    """X89 on the at-rest IVF index: probed-cell sets are nested in
    nprobe and scoring is exact within probed cells, so the measured
    sweep must be monotone non-decreasing — and the tuner's answer is
    the smallest nprobe meeting the target within its log-search grid."""
    idx = str(tmp_path / "ivf")
    similarity.ivf_write_bucketed(emb, idx, n_cells=16)
    out = similarity.tune_ann_nprobe(
        spark, emb, idx, target_recall=0.5, k=5, sample_queries=10
    )
    assert out["kind"] == "ivf" and out["met"] is True
    recalls = [s["recall"] for s in out["sweep"]]
    assert recalls == sorted(recalls), out["sweep"]
    # r13 ADVICE: the non-monotone flag exists, and on IVF it firing
    # would indicate a bug (probed-cell nesting + exact scoring)
    assert out["non_monotone"] is False
    # the binary search's minimality: every probed nprobe below the
    # answer missed the target
    for s in out["sweep"]:
        if s["nprobe"] < out["nprobe"]:
            assert s["recall"] < 0.5


def test_tune_ann_nprobe_guards(spark, emb, tmp_path):
    """Flat PQ (nothing to tune) and sidecar-less dirs refuse loudly."""
    flat = str(tmp_path / "flat")
    similarity.pq_write_index(emb, flat, m=8, n_codes=16)
    with pytest.raises(ValueError, match="flat"):
        similarity.tune_ann_nprobe(spark, emb, flat)
    bare = str(tmp_path / "bare")
    emb.write.mode("overwrite").parquet(bare)
    with pytest.raises(ValueError, match="sidecar"):
        similarity.tune_ann_nprobe(spark, emb, bare)


def test_tune_ann_oracle_metric_matches_index_kind(spark, tmp_path):
    """The tuner's ground truth must rank in the INDEX's own metric —
    the IVF path scores exact cosine within probed cells, so on a
    corpus with VARYING NORMS (where cosine and L2 rankings diverge) a
    full scan must measure recall exactly 1.0 against the oracle. An
    L2 oracle under the cosine index would read < 1.0 at full scan —
    the mis-scoring this pin exists to catch."""
    rng = np.random.default_rng(13)
    x = rng.normal(size=(200, 64))
    # wildly varying magnitudes: cosine and L2 neighbor sets diverge
    x *= rng.uniform(0.1, 50.0, size=(200, 1))
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "ivf")
    similarity.ivf_write_bucketed(corpus, idx, n_cells=4)
    out = similarity.tune_ann_nprobe(
        spark, corpus, idx, target_recall=0.999, k=5, sample_queries=8
    )
    assert out["kind"] == "ivf"
    full = [s for s in out["sweep"] if s["nprobe"] == 4]
    got_full = full[0]["recall"] if full else out["recall"]
    assert got_full == 1.0, out["sweep"]
