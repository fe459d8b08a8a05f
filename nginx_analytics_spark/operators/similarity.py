"""Similarity search over embedding columns (SURVEY.md §7 M6).

An ``array<float>`` embedding column is searched two ways:

  * :func:`brute_force_topk` — exact cosine top-k. The query side is tiny
    (broadcast); the corpus side streams through one codegen'd stage of
    ``zip_with``/``aggregate`` arithmetic. Exact, and at 100 TB still the
    right *verification* path and the right plan for small query batches
    (cost = one corpus scan per batch, no index build).
  * :func:`hyperplane_lsh_*` — random-hyperplane (SRP) signatures bucket the
    corpus so candidate generation is a hash join instead of a cross
    product; exact cosine re-ranks only candidates. This is the scale path:
    signature build is one scan, bucket join shuffles only (id, bucket).

Two arithmetic paths, chosen per use:
  * oracle-matched exact paths fold with JVM higher-order functions
    (``aggregate(zip_with(...))``) — deterministic fold order, bit-exact
    against the SQL twin;
  * the LSH hot paths (signature build, candidate re-rank) use
    Arrow-batched numpy kernels (``pandas_udf``) — Spark executes HOFs on
    the interpreted expression path, so at volume the vectorized kernel
    wins by ~10-30x; sign/rounding agreement with the HOF formulation is
    asserted by tests.
Hyperplanes are a deterministic seeded constant (driver-generated, shipped
in the UDF closure / as array literals), so results are reproducible
run-to-run and across cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nginx_analytics_spark.functions.rounding import half_up
from nginx_analytics_spark.operators.index_fs import (
    CELL_APPEND_PURPOSE,
    banded_index_probe,
    banded_index_write,
    cell_index_append,
    cell_index_swap,
    cell_index_write,
    check_sidecar,
    index_kind,
    raise_if_torn,
    read_sidecar,
    write_sidecar,
    writer_gate,
)


def as_double(vec: Column | str) -> Column:
    """float[] -> double[] so all arithmetic folds in float64."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic, oracle-bit-exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_batch(a: Column, b: Column) -> Column:
    """Arrow-batched numpy cosine for candidate re-ranking.

    The sequential-fold :func:`cosine` is kept for the oracle-matched exact
    paths (its fold order is bit-identical to the SQL twin); candidate
    re-ranks after an LSH band join are rows-only checked and volume-bound
    — there the interpreted higher-order-function fold costs ~100us/pair,
    while this kernel does the whole Arrow batch in three einsums. numpy's
    pairwise summation differs from the sequential fold only below 1e-12
    relative — irrelevant at the 6-dp reporting precision.
    """
    @F.pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="float64")
        x = np.stack(xs.to_numpy())
        y = np.stack(ys.to_numpy())
        num = np.einsum("ij,ij->i", x, y)
        den = np.sqrt(np.einsum("ij,ij->i", x, x) * np.einsum("ij,ij->i", y, y))
        return pd.Series(num / den)

    return _cos(a, b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k corpus neighbors for each query vector.

    ``queries`` is broadcast (a query batch is small by construction), so
    the join is a broadcast nested loop over one corpus scan — no corpus
    shuffle. Ranking rounds the cosine first and tie-breaks on neighbor id,
    making the top-k set deterministic and oracle-comparable.
    """
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("cv"))
    q = queries.select(F.col(query_id_col), as_double(vec_col).alias("qv"))
    scored = c.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        half_up(cosine(F.col("qv"), F.col("cv")), round_to).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            "cosine",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


def _check_srp_banding(n_planes: int, bands: int) -> None:
    """Fail loudly on degenerate SRP banding (r11 ADVICE): every banded
    path computes ``chunk = n_planes // bands`` and masks with
    ``(1 << chunk) - 1``, so ``bands > n_planes`` makes chunk=0/mask=0 —
    every row hashes to band_hash=0 and the band join degenerates to a
    silent full cross product — and ``n_planes % bands != 0`` silently
    drops the signature's top ``n_planes % bands`` bits from banding.
    Both are recall-affecting misconfiguration, the class this module
    raises on (the PQ path's ``dim % m`` check is the model)."""
    if bands < 1 or bands > n_planes:
        raise ValueError(
            f"SRP banding needs 1 <= bands <= n_planes, got bands={bands}, "
            f"n_planes={n_planes} — bands > n_planes makes every band chunk "
            "0 bits wide, so all rows collide in one bucket (a silent full "
            "cross product instead of LSH pruning)"
        )
    if n_planes % bands:
        raise ValueError(
            f"n_planes={n_planes} not divisible by bands={bands} — the top "
            f"{n_planes % bands} signature bits would be silently excluded "
            "from every band, quietly changing recall; pick bands that "
            "divide n_planes"
        )


# Background-collision budget for AT-REST SRP banding (r12 verdict item
# 6, promoting the measured X85 scaling law from SCALING.md to a loud
# check): two UNRELATED near-orthogonal vectors agree on any given
# signature bit with p≈1/2, so a (n_planes, bands) config puts a random
# pair in the same bucket of SOME band with probability
# 1 - (1 - 2^-chunk)^bands, chunk = n_planes // bands. That fraction is
# the index's background candidate rate — the term that grows with the
# SQUARE of corpus size in every probe's candidate join. Measured
# (SCALING.md r12, 100-batch X85 horizon on the sf0.1 embeddings):
#   32 planes / 8 bands → chunk 4, background ≈ 0.40 → per-batch wall
#     drifted +80% across the horizon (candidate volume tracks corpus);
#   64 planes / 8 bands → chunk 8, background ≈ 0.031 → walls flat
#     (7.3/6.8/6.8 s), per-batch cost independent of corpus size.
# The threshold sits between those two measured points: configurations
# above it are fine for one-shot pair queries at fixture scale but make
# an at-rest index's probe cost scale with the corpus — exactly the
# failure the index exists to prevent.
SRP_BG_COLLISION_WARN = 0.05


def _check_srp_background_collisions(
    n_planes: int, bands: int, strict: bool = False
) -> None:
    """Warn (or raise, ``strict=True``) when an at-rest SRP banding
    config's expected background-collision fraction exceeds
    :data:`SRP_BG_COLLISION_WARN` — see the constant's derivation and
    the measured 32-vs-64-plane table it cites. Called by
    :func:`srp_band_keys` (and therefore every index write/append);
    the one-shot pair queries keep their own banding checks only,
    because their candidate volume is paid once, not per batch
    forever."""
    import warnings

    chunk = n_planes // bands
    expect = 1.0 - (1.0 - 2.0 ** -chunk) ** bands
    if expect > SRP_BG_COLLISION_WARN:
        msg = (
            f"SRP banding (n_planes={n_planes}, bands={bands}) expects "
            f"~{expect:.1%} of UNRELATED vector pairs to share a band "
            f"bucket (chunk={chunk} bits; threshold "
            f"{SRP_BG_COLLISION_WARN:.0%}). On an at-rest index this "
            "background rate makes every probe's candidate volume grow "
            "with the corpus — measured on the 100-batch ingest "
            "horizon, 32-plane signing drifted +80% per-batch wall "
            "while 64-plane stayed flat (SCALING.md r12). Raise "
            "n_planes (keeping bands, e.g. 64/8 -> 8-bit chunks) or "
            "pass strict=False knowingly for a fixture-scale index."
        )
        if strict:
            raise ValueError(msg)
        warnings.warn(msg, stacklevel=3)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side constant).

    Generated once per plan from a fixed seed; shipped to executors as an
    array literal, so signatures are stable across runs and cluster sizes.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def srp_signature_batch(vec: Column, planes: list[list[float]]) -> Column:
    """Arrow-batched SRP signature: one matmul against the plane matrix per
    Arrow batch instead of n_planes interpreted-HOF dot products per row.

    The HOF formulation (:func:`srp_signature`) runs on Spark's interpreted
    expression path (see the engine's HOF note) and was the dominant cost of
    both LSH bench queries; this kernel is the same sign decisions — bit
    i = 1 iff dot(v, plane_i) > 0 — packed identically (asserted equal to
    the HOF variant on the fixture by tests/test_dataops.py). numpy matmul's
    pairwise summation can differ from the sequential fold only when a dot
    product sits within ~1e-12 of zero, which a continuous-distribution
    embedding hits with probability ~0."""
    mat = np.asarray(planes, dtype=np.float64)
    weights = 1 << np.arange(mat.shape[0], dtype=np.uint64)

    @F.pandas_udf("long")
    def _sig(xs: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="int64")
        x = np.stack(xs.to_numpy())
        bits = (x @ mat.T) > 0
        return pd.Series((bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64))

    return _sig(vec)


def srp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection signature: bit i = 1 iff dot(v, plane_i) > 0.

    Returned as one long (n_planes <= 64). Reference formulation (JVM
    higher-order functions, fully deterministic fold order); the hot paths
    use :func:`srp_signature_batch` — keep the two in agreement."""
    plane_lits = [
        F.array(*[F.lit(float(x)) for x in p]) for p in planes
    ]
    bits = [
        F.when(dot(vec, pl) > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(
            F.lit(0).cast("bigint")
        )
        for i, pl in enumerate(plane_lits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def hyperplane_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 32,
    bands: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 6,
    block: int = 2048,
    bucket_warn_cap: int | None = None,
) -> DataFrame:
    """Corpus self near-dup pairs by SRP-LSH buckets + exact cosine verify —
    the scale path for :func:`dedup.embedding_dedup_pairs`.

    Same banding as :func:`hyperplane_lsh_topk` but corpus-vs-itself.
    The verify stage runs INSIDE each (band_idx, band_val) bucket as one
    Arrow-batched blocked matmul (``applyInPandas``): every bucket member
    ships its vector ONCE per band, and all intra-bucket pairwise cosines
    come from BLAS. The r1–r4 formulation materialized the candidate PAIR
    list ((id_a, id_b) band join -> distinct -> two vector re-joins ->
    per-pair kernel), which shipped each vector once per CANDIDATE — at
    the fixture's hard 0.4-threshold regime that was ~800 K pair rows x
    two 64-double vectors through Arrow (~3.8 s at sf0.1); the bucket
    kernel sends 8 x n vector rows total and cut the query to well under
    half that. Pairs passing the threshold are deduped across bands by a
    tiny groupBy (identical floats: the per-pair dot is the same
    fixed-operand BLAS reduction in every bucket).

    Memory contract at scale: one bucket's vectors must fit one executor
    (the score matrix is blocked, ``block`` rows at a time, so only the
    vectors persist). Bucket size is corpus/2^chunk in expectation —
    choose chunk (= n_planes/bands) so that holds; the production
    regime's wider bands (below) shrink buckets another 16x. That
    expectation can be violated by a DEGENERATE corpus (many zero or
    identical-signature vectors funnel into one bucket, putting one
    executor on the whole O(n^2) score alone): pass ``bucket_warn_cap``
    to pay one extra cheap count pass (keys only, no vectors) that
    surfaces any bucket above the cap as a loud RuntimeWarning BEFORE
    the kernel runs — visibility before an executor OOMs (r5 ADVICE).
    Off by default: the oracle-checked fixture queries are known-good,
    and the warning pass is an operator's knob, not a tax on every run.

    Selectivity is parameter- AND distribution-dependent, and the honest
    formula is: background pairs (cosine ~0, P(bit match) = 1/2) collide at
    ~bands x 2^-chunk of the cross product, while a pair at cosine c
    collides with P = 1 - (1 - p^chunk)^bands, p = 1 - acos(c)/pi. The
    defaults (8 bands x 4 bits) maximize recall for the fixture's hard
    regime — near-dups at cosine 0.40-0.55, barely above background —
    where they prune only ~2x. For REAL near-dup dedup (cosine >= 0.85,
    where embedding dup detection operates), use wider bands (e.g.
    n_planes=64, bands=8 -> 8-bit chunks): background collides at ~3% of
    the cross product while recall stays >= 0.9 — the near-linear regime
    asserted by tests/test_dataops.py::test_lsh_high_threshold_selectivity.
    """
    _check_srp_banding(n_planes, bands)
    planes = hyperplanes(dim, n_planes, seed)
    chunk = n_planes // bands
    mask = (1 << chunk) - 1
    scale = float(10**round_to)
    thr = float(threshold)

    v = corpus.select(F.col(id_col), as_double(vec_col).alias("v"))
    banded = v.select(
        F.col(id_col), F.col("v"), srp_signature_batch(F.col("v"), planes).alias("sig")
    ).select(
        id_col,
        "v",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), b * chunk).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )

    if bucket_warn_cap is not None:
        import warnings

        hot = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > bucket_warn_cap)
            .orderBy(F.col("n").desc())
            .limit(20)
            .collect()
        )
        if hot:
            detail = ", ".join(
                f"(band {r.band_idx}, val {r.band_val}): {r.n}" for r in hot
            )
            warnings.warn(
                f"hyperplane_lsh_pairs: {len(hot)}+ LSH bucket(s) exceed "
                f"bucket_warn_cap={bucket_warn_cap} — one executor will "
                f"score each hot bucket alone ({detail}). Widen bands "
                "(larger n_planes/bands chunk) or pre-drop degenerate "
                "(zero/constant) vectors.",
                RuntimeWarning,
                stacklevel=2,
            )

    idc = id_col
    # Preserve the pre-r5 type-agnostic contract: the output id type is
    # whatever the input id column is (string keys worked in the join
    # formulation and must keep working in the kernel one).
    id_type = dict(banded.dtypes)[id_col]

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype=pdf[idc].dtype),
                "id_b": pd.Series([], dtype=pdf[idc].dtype),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf[idc].to_numpy(), kind="stable")
        ids = pdf[idc].to_numpy()[order]
        x = np.stack(pdf["v"].to_numpy())[order]
        sq = np.einsum("ij,ij->i", x, x)
        out = [empty]
        for s in range(0, n, block):
            e = min(n, s + block)
            # same formula as cosine_batch: num / sqrt(xx * yy)
            num = x[s:e] @ x.T
            c = np.floor(num / np.sqrt(np.outer(sq[s:e], sq)) * scale + 0.5) / scale
            rows, cols = np.nonzero(c >= thr)
            keep = cols > rows + s  # ids ascending: position order == id order
            if keep.any():
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[rows[keep] + s],
                            "id_b": ids[cols[keep]],
                            "cosine": c[rows[keep], cols[keep]],
                        }
                    )
                )
        return pd.concat(out, ignore_index=True)

    # One pandas invocation PER ARROW BATCH, not per bucket (r17, guide
    # §4): applyInPandas calls the kernel once per (band_idx, band_val)
    # GROUP, and at micro-batch shapes (the X85 loop: ~2k vectors into
    # 8x256-value bands) that is thousands of per-group pandas
    # machineries per batch — measured as ~20 s of executor time per
    # 2k-row micro-batch doing ~nothing. The rows are instead hash-
    # partitioned and sorted by the SAME keys, and a streaming
    # mapInPandas walks buckets off the sorted batches (buffering at
    # most one bucket across Arrow-batch boundaries — the standing
    # "one bucket fits one executor" contract, unchanged). Each bucket
    # hits the IDENTICAL kernel on identical operands, so every pair's
    # cosine is bit-identical to the applyInPandas formulation. The open
    # bucket's chunks are kept in a list and concatenated once, when it
    # closes, so a bucket spanning k Arrow batches costs O(k) copying,
    # not O(k^2).
    def scored(chunks: list[pd.DataFrame]):
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        out = verify(pdf)
        if len(out):
            yield out

    def verify_stream(batches):
        pending: list[pd.DataFrame] = []  # chunks of the one open bucket
        for pdf in batches:
            if not len(pdf):
                continue
            bi = pdf["band_idx"].to_numpy()
            bv = pdf["band_val"].to_numpy()
            if pending and (
                pending[-1]["band_idx"].iat[-1] != bi[0]
                or pending[-1]["band_val"].iat[-1] != bv[0]
            ):
                yield from scored(pending)
                pending = []
            change = np.flatnonzero((bi[1:] != bi[:-1]) | (bv[1:] != bv[:-1]))
            starts = [0, *(change + 1).tolist()]
            # every run but the last closes a bucket (the first may
            # close the open one); the last may continue next batch
            for s, e in zip(starts, starts[1:]):
                pending.append(pdf.iloc[s:e])
                yield from scored(pending)
                pending = []
            pending.append(pdf.iloc[starts[-1] :])
        if pending:
            yield from scored(pending)

    hits = (
        banded.repartition("band_idx", "band_val")
        .sortWithinPartitions("band_idx", "band_val")
        .mapInPandas(
            verify_stream,
            schema=f"id_a {id_type}, id_b {id_type}, cosine double",
        )
    )
    # Dedup across bands. A pair found in several buckets scored the same
    # fixed-operand BLAS dot everywhere, so max == every observation; the
    # shuffle carries only PASSING pairs (tiny), never the candidate set.
    return hits.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 32,
    bands: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: SRP-signature band join, exact cosine re-rank.

    Corpus and queries are signed against the same hyperplanes; a pair is a
    candidate if any band (n_planes/bands consecutive bits) matches.
    Candidates get the exact cosine; top-k per query by the same
    deterministic ordering as :func:`brute_force_topk`. Recall depends on
    (n_planes, bands) — the test suite measures it against brute force.

    Scale shape: candidate rows carry ONLY (query_id, id) through the band
    join and the distinct — vectors are re-joined afterwards (distinct over
    rows carrying two 64-double arrays measured ~5x slower). The double
    vector and signature are each materialized once per frame in separate
    projections; Catalyst's CollapseProject keeps non-cheap aliases
    referenced more than once un-inlined, so they are computed once per row.
    """
    _check_srp_banding(n_planes, bands)
    planes = hyperplanes(dim, n_planes, seed)
    chunk = n_planes // bands
    mask = (1 << chunk) - 1

    def vectors(df: DataFrame, idc: str, vname: str) -> DataFrame:
        return df.select(F.col(idc), as_double(vec_col).alias(vname))

    def banded(vecs: DataFrame, idc: str, vname: str) -> DataFrame:
        return vecs.select(
            F.col(idc), srp_signature_batch(F.col(vname), planes).alias("sig")
        ).select(
            idc,
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(F.col("sig"), b * chunk).bitwiseAND(
                            F.lit(mask)
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )

    cv = vectors(corpus, id_col, "cv")
    qv = vectors(queries, query_id_col, "qv")
    cb = banded(cv, id_col, "cv")
    qb = banded(qv, query_id_col, "qv")
    cands = (
        cb.join(
            F.broadcast(qb),
            (cb.band_idx == qb.band_idx)
            & (cb.band_val == qb.band_val)
            & (F.col(id_col) != F.col(query_id_col)),
        )
        .select(query_id_col, id_col)
        .distinct()
    )
    scored = (
        cands.join(cv, id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            half_up(cosine_batch(F.col("qv"), F.col("cv")), round_to).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            "cosine",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


# --------------------------------------------------------------------------
# At-rest SRP index + incremental embedding near-dups (X84) — the
# X69/X79 write→append→probe lifecycle for the EMBEDDING modality,
# mirroring operators/dedup.py's MinHash-LSH index for text
# --------------------------------------------------------------------------

def _srp_meta(
    id_col: str,
    n_planes: int | None,
    bands: int | None,
    dim: int | None,
    seed: int | None,
) -> dict:
    """The SRP sidecar's parameters (the planes derive from them)."""
    return {
        "id_col": id_col,
        "n_planes": n_planes,
        "bands": bands,
        "dim": dim,
        "seed": seed,
    }


def _srp_params(have: dict) -> tuple[int, int, int, int]:
    return tuple(int(have[k]) for k in ("n_planes", "bands", "dim", "seed"))


def srp_band_keys(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    seed: int = 42,
    strict: bool = False,
) -> DataFrame:
    """(id, band_idx, band_hash) SRP bucket keys — the banding expression
    :func:`hyperplane_lsh_pairs`/:func:`hyperplane_lsh_topk` join on,
    exposed as the at-rest index's row format. The key column is named
    ``band_hash`` (matching the text index's schema) so the
    ``index_fs`` ``store_*`` seam and its sort-within-band layout apply
    verbatim. One Arrow matmul signature pass; the planes are fully
    derived from (dim, n_planes, seed), so the sidecar stores only
    parameters, never the matrix.

    Because these keys feed AT-REST indexes (whose probe cost pays the
    background-collision rate on every batch forever), the banding is
    additionally budget-checked: a config whose expected unrelated-pair
    collision fraction exceeds :data:`SRP_BG_COLLISION_WARN` warns —
    or raises with ``strict=True`` — citing the measured 32-vs-64-plane
    horizon (r12 verdict item 6). Accordingly the at-rest entry points
    (this, :func:`write_srp_index`, :func:`append_srp_index`,
    :func:`incremental_embedding_near_dups`) default to ``n_planes=64``
    — the ingest loops' measured-good config — since r13's ADVICE
    caught the 32-plane default warning against itself; 32 remains
    available (and default on the one-shot pair/topk queries, whose
    candidate volume is paid once, not per batch forever).

    UPGRADE NOTE (r14 → r15, the r8 lock-relocation-note precedent):
    indexes built before the 32→64-plane default bump keep working
    untouched — :func:`append_srp_index` and
    :func:`incremental_embedding_near_dups` now default their signing
    parameters to the index SIDECAR's recorded values, so standing
    ingest loops that relied on library defaults keep signing at the
    index's own 32 planes. Only callers passing ``n_planes``
    EXPLICITLY assert a configuration (a mismatch raises, as ever);
    to move an old index to 64 planes, rebuild it
    (:func:`write_srp_index` on the corpus, or ``jobs`` rebuild)."""
    _check_srp_banding(n_planes, bands)
    _check_srp_background_collisions(n_planes, bands, strict=strict)
    planes = hyperplanes(dim, n_planes, seed)
    chunk = n_planes // bands
    mask = (1 << chunk) - 1
    v = emb.select(F.col(id_col), as_double(vec_col).alias("v"))
    return v.select(
        F.col(id_col), srp_signature_batch(F.col("v"), planes).alias("sig")
    ).select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), b * chunk).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def write_srp_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    seed: int = 42,
    strict: bool = False,
    fs=None,
    keys: DataFrame | None = None,
) -> None:
    """Materialize the embedding corpus's SRP index AT REST: (id,
    band_idx, band_hash) rows, partitioned by band_idx and sorted by
    band_hash within each band — a probe reads matching band
    partitions and row groups, never the corpus's vectors. The index is
    bands x corpus rows of three longs (vector payloads stay in the
    corpus table), so per-batch near-dup checks touch this table plus
    only the CANDIDATES' vectors. An ``srp`` sidecar pins
    (id_col, n_planes, bands, dim, seed); probes validate it first.

    Storage layout is the fs seam's to own, exactly like the text
    index: the shared index_fs.banded_index_write (a seam exposing
    ``store_write`` — ManifestIndexFS — gets the writes delegated
    wholesale)."""
    if keys is None:
        keys = srp_band_keys(
            emb, id_col, vec_col, n_planes, bands, dim, seed, strict=strict
        )
    banded_index_write(keys, path, fs=fs, bands=bands)
    write_sidecar(
        path, "srp", _srp_meta(id_col, n_planes, bands, dim, seed), fs=fs
    )


def append_srp_index(
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    bands: int | None = None,
    dim: int | None = None,
    seed: int | None = None,
    strict: bool = False,
    fs=None,
    keys: DataFrame | None = None,
) -> None:
    """Fold a new batch into an existing SRP index WITHOUT re-signing
    the corpus: sign only the batch, append into the same band
    partitions (the X79 ``append_lsh_index`` analogue). The sidecar is
    validated first — appending keys signed under different planes
    would poison the index silently.

    Signing parameters default to ``None`` = WHATEVER THE SIDECAR
    RECORDS (r14 ADVICE): the index being appended to is the authority
    on how its keys were signed, so a standing ingest loop survives
    library-default changes (the r14 32→64-plane bump would otherwise
    turn every default-parameter append against a pre-r14 index into a
    parameter-mismatch error — loud, but an operational break). Pass
    values explicitly to ASSERT a configuration; a mismatch still
    raises.

    Each append adds one file per touched band; a long-running
    embedding ingest loop reclaims the file population with
    ``index_fs.banded_index_compact`` (the X82 per-band compaction,
    shared by every banded index kind).

    ``keys`` (r16): an already-signed (id, band_idx, band_hash) frame
    for exactly these rows — the X85 loop signs each batch once and
    hands the novel subset here, skipping a second signing matmul.
    The sidecar resolution/validation above still runs; the caller
    owns the keys-match-sidecar contract."""
    n_planes, bands, dim, seed = _srp_params(
        check_sidecar(
            path, "srp", _srp_meta(id_col, n_planes, bands, dim, seed), fs=fs
        )
    )
    if keys is None:
        keys = srp_band_keys(
            new_emb, id_col, vec_col, n_planes, bands, dim, seed,
            strict=strict,
        )
    banded_index_write(keys, path, fs=fs, mode="append", bands=bands)


def incremental_embedding_near_dups(
    spark,
    new_emb: DataFrame,
    corpus_emb: DataFrame,
    index_path: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    bands: int | None = None,
    dim: int | None = None,
    seed: int | None = None,
    round_to: int | None = 6,
    exact_net: bool = False,
    fs=None,
    new_keys: DataFrame | None = None,
) -> DataFrame:
    """Semantic near-dup pairs (new_id, old_id, cosine) of an incoming
    embedding batch against an indexed corpus, WITHOUT re-signing the
    corpus — the embedding-modality twin of
    :func:`dedup.incremental_near_dups` (X69's probe over X79's
    maintained index):

      1. sign + band ONLY the new batch (one Arrow matmul);
      2. band-join against the at-rest index — the probe reads matching
         band partitions, never corpus vectors;
      3. exact-cosine-verify candidates only: the corpus VECTOR scan is
         semi-join-pruned to candidate ids first.

    Per-batch cost scales with the batch and its collision volume, not
    the corpus — the production recurrence for continuous semantic
    dedup of an embedding stream. Recall at a given threshold follows
    the SRP banding odds (hyperplane_lsh_pairs' selectivity note);
    ``exact_net=True`` unions the output with the cross-set exact plan
    (recall 1 by construction) for oracle-checkable tiers, using the
    deterministic sequential-fold :func:`cosine` on BOTH sides so the
    union's distinct collapses duplicates bit-exactly; the pure-LSH
    path (the 100 TB shape) re-ranks with the Arrow :func:`cosine_batch`
    kernel instead.

    Signing parameters default to the SIDECAR'S recorded values (r14
    ADVICE, same contract as :func:`append_srp_index`): the probe must
    sign the batch exactly as the index was signed, so the index is
    the authority; pass values explicitly only to assert a config.

    ``new_keys`` (r16): a caller that already signed the batch (the X85
    loop signs once per micro-batch for probe AND append) passes its
    (id_col, band_idx, band_hash) frame and the probe skips the signing
    matmul. Caller contract: built by :func:`srp_band_keys` under this
    index's sidecar parameters."""
    n_planes, bands, dim, seed = _srp_params(
        check_sidecar(
            index_path,
            "srp",
            _srp_meta(id_col, n_planes, bands, dim, seed),
            fs=fs,
        )
    )
    new_v = new_emb.select(
        F.col(id_col).alias("new_id"), as_double(vec_col).alias("nv")
    )
    if new_keys is None or exact_net:
        # consumed by sign AND verify (AND net): materialize once. With
        # caller-supplied keys and no net, the verify broadcast below is
        # the ONE consumer — its build reads the caller's checkpointed
        # batch directly, so the extra materialization job is skipped
        # (r17, one fewer job per X85 micro-batch).
        new_v = new_v.localCheckpoint(eager=True)
    if new_keys is None:
        new_keys = srp_band_keys(
            new_v, "new_id", "nv", n_planes, bands, dim, seed
        )
    else:
        new_keys = new_keys.withColumnRenamed(id_col, "new_id")
    cands, pruned_old = banded_index_probe(
        spark, new_keys, index_path, {id_col: "old_id"}, corpus_emb, id_col,
        keep=F.col("new_id") != F.col("old_id"), fs=fs,
    )
    # fan the pruned rows out when the corpus scan has fewer natural
    # splits than cores — the Arrow cosine verify otherwise serializes
    # onto them; no-op at scale (r17, the X80 probes' twin rule — the
    # r16 attempt fanned the WHOLE scan ahead of the batch checkpoint
    # and lost; this exchanges only the collision-sized pruned set)
    if (
        corpus_emb.rdd.getNumPartitions()
        < spark.sparkContext.defaultParallelism
    ):
        pruned_old = pruned_old.repartition(
            spark.sparkContext.defaultParallelism
        )
    old_v = pruned_old.select(
        F.col(id_col).alias("old_id"), as_double(vec_col).alias("ov")
    )

    def score(pairs: DataFrame) -> DataFrame:
        c = (
            cosine(F.col("nv"), F.col("ov"))
            if exact_net
            else cosine_batch(F.col("nv"), F.col("ov"))
        )
        if round_to is not None:
            c = half_up(c, round_to)
        return pairs.select("new_id", "old_id", c.alias("cosine")).filter(
            F.col("cosine") >= threshold
        )

    # The first verify join broadcasts the BATCH vectors (batch-sized by
    # contract); the join to the pruned corpus vectors stays planner-
    # chosen — candidate volume scales with corpus x batch at the SRP
    # background-collision rate, so neither side of THAT join may be
    # force-broadcast (r17: an attempt to broadcast the joined
    # cands x vectors frame hit ~0.5 GB per batch by corpus growth and
    # collapsed the loop into GC).
    verified = score(
        cands.join(F.broadcast(new_v), "new_id").join(old_v, "old_id")
    )
    if not exact_net:
        return verified
    full_old = corpus_emb.select(
        F.col(id_col).alias("old_id"), as_double(vec_col).alias("ov")
    )
    net = score(
        full_old.join(
            F.broadcast(new_v), F.col("new_id") != F.col("old_id")
        )
    )
    return verified.unionByName(net).distinct()


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path, complementary to LSH
# --------------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    id_col: str = "vec_id",
    sample_cap: int = 4096,
) -> np.ndarray:
    """Fit the IVF coarse quantizer: seeded k-means over a DETERMINISTIC
    corpus sample, so the fit is layout-invariant.

    The pre-r11 fit (seeded MLlib KMeans over the distributed corpus)
    sampled per partition, so the same row multiset in a different
    physical order could fit different centroids — measured recall
    spread ~±0.1-0.2 at a fixed config on unstructured geometry
    (SCALING.md r10 sweep). Now the sample is chosen by PORTABLE HASH —
    order by (xxhash64(id), id), a pure function of the rows in the
    spirit of operators/sampling.py (the hash IS the rank: there is no
    need for portable_frac's [0,1) mapping here, and its Weyl multiply
    is domain-bounded to row-id-sized keys anyway) — and the fit runs
    the seeded driver-side Lloyd kernel PQ already uses (:func:`_lloyd`),
    so (row multiset, params) -> centroids is a pure function: permuting
    or repartitioning the corpus yields bit-identical centroids
    (tests/test_dataops.py::test_ivf_centroids_layout_invariant).

    The model is (n_cells x dim) — a driver-side constant like the SRP
    hyperplanes, shipped to executors in UDF closures. A quantizer
    converges on a sketch of the distribution, so ``sample_cap`` rows
    suffice at any corpus scale (the pq_codebooks rationale) — but the
    sample must also carry the CELL COUNT: the effective cap is
    ``max(sample_cap, 32 * n_cells)`` (below ~a-few-dozen points per
    centroid the k-means++ seeding degenerates toward duplicate
    centroids and empty cells — the r11 review's n_cells ~ sqrt(n)
    scenario), and fewer sampled rows than centroids raises outright.
    The orderBy+limit compiles to TakeOrderedAndProject — per-partition
    top-k merged on the driver, never a full sort shuffle. The third
    sort key (xxhash64 of the id AND vector) only matters for corpora
    with DUPLICATE ids: it makes the boundary cut row-determined there
    too, so layout invariance needs no uniqueness precondition (for
    unique ids the first two keys already decide, and the sample — and
    therefore every measured recall number — is unchanged).
    """
    cap = max(sample_cap, 32 * n_cells)
    ranked = (
        corpus.select(F.col(id_col), as_double(vec_col).alias("v"))
        .orderBy(
            F.xxhash64(F.col(id_col)).asc(),
            F.col(id_col).asc(),
            F.xxhash64(F.col(id_col), F.col("v")).asc(),
        )
        .limit(cap)
    )
    rows = ranked.collect()
    if not rows:
        raise ValueError("empty corpus")
    if len(rows) < n_cells:
        raise ValueError(
            f"corpus sample has {len(rows)} rows < n_cells={n_cells} — "
            "cannot fit more centroids than points"
        )
    x = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return _lloyd(x, n_cells, seed, max_iter)


def _nearest(x: np.ndarray, c: np.ndarray, cnorm: np.ndarray) -> tuple:
    """The nearest-row step every IVF/PQ kernel shares: for each row of
    ``x`` the index of its nearest row of ``c`` (squared L2) and that
    squared distance. The argmin runs over ``|c|^2 - 2 x.c`` (``cnorm``
    is ``|c|^2``): ``|x|^2`` is row-constant, so it is added to the
    CHOSEN distance only. Adding it before the argmin could round two
    distances to the same value and flip the pick — the tie the encode
    paths once disagreed on (tests/test_pq.py)."""
    part = cnorm - 2.0 * (x @ c.T)
    idx = np.argmin(part, axis=1)
    return idx, part[np.arange(len(x)), idx] + np.einsum("ij,ij->i", x, x)


def _nearest_k(x: np.ndarray, c: np.ndarray, cnorm: np.ndarray,
               k: int) -> np.ndarray:
    """:func:`_nearest`'s rule for the ``k`` nearest rows of ``c`` per
    row of ``x``: a stable argsort of ``|c|^2 - 2 x.c``, so ties break
    by row id and the head is ``_nearest``'s pick."""
    return np.argsort(cnorm - 2.0 * (x @ c.T), axis=1, kind="stable")[:, :k]


def cell_assignment(vec: Column, centroids: np.ndarray) -> Column:
    """``struct<cell:int, adist:double>`` — the nearest centroid id plus
    the TRUE squared-L2 assignment distance. Same argmin decisions as
    ``nearest_cells(vec, c, 1)[0]`` (first minimum == stable-argsort
    head); the distance is what the index stores per row so the drift
    monitor (:func:`ivf_append_bucketed`'s stats) is a column scan, not
    a recompute. Arrow-batched: one matmul per batch."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    cnorm = np.einsum("ij,ij->i", cents, cents)

    @F.pandas_udf("struct<cell:int, adist:double>")
    def _asg(xs: pd.Series) -> pd.DataFrame:
        if len(xs) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "adist": pd.Series([], dtype="float64")})
        idx, dist = _nearest(np.stack(xs.to_numpy()), cents, cnorm)
        return pd.DataFrame(
            {"cell": idx.astype(np.int32), "adist": dist}
        )

    return _asg(vec)


def nearest_cells(vec: Column, centroids: np.ndarray, nprobe: int) -> Column:
    """``array<int>`` of the ``nprobe`` nearest centroid ids (squared
    euclidean, deterministic tie-break by cell id via stable argsort).
    Arrow-batched: one matmul per batch against the centroid matrix."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    cnorm = np.einsum("ij,ij->i", cents, cents)
    probe = int(nprobe)

    @F.pandas_udf("array<int>")
    def _nc(xs: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="object")
        idx = _nearest_k(np.stack(xs.to_numpy()), cents, cnorm, probe)
        return pd.Series(list(idx.astype(np.int32)))

    return _nc(vec)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    round_to: int = 6,
    max_iter: int = 8,
) -> DataFrame:
    """Approximate top-k via an inverted-file index: corpus vectors live in
    exactly ONE cell (nearest centroid); each query probes its ``nprobe``
    nearest cells and brute-forces only those cells' vectors.

    vs LSH: cells partition the corpus, so candidates need no ``distinct``
    (a corpus vector meets a query at most once) and the scanned fraction
    is a hard ~nprobe/n_cells. At rest this pruning is storage-level:
    :func:`ivf_write_bucketed` materializes the corpus partitioned by
    ``cell`` with the centroids in a validated sidecar, and
    :func:`ivf_topk_bucketed` probes it with an ``IN`` partition filter
    so unprobed cells' files are never opened (proven at the file level
    by tests/test_dataops.py::test_ivf_bucketed_at_rest_prunes_files);
    here, in-memory, the same pruning is a hash join on ``cell``. Recall
    depends on (n_cells, nprobe) — measured against brute force in the
    test suite.

    Calibration rule (r10 grown-fixture measurement, SCALING.md): on
    unstructured (uniform-sphere) geometry, recall tracks the SCAN
    FRACTION nprobe/n_cells, not either knob alone — measured at 10×
    the fixture corpus, 38% fraction gives recall@5 ≈ 0.76 at 16, 45,
    and 64 cells alike, while dropping the fraction to 13% at fixed 45
    cells drops recall to 0.50. So hold the fraction for recall and
    size n_cells for partition granularity (n_cells ~ sqrt(n) is the
    standard choice; more, smaller cells = finer at-rest pruning and
    better rewrite parallelism at the same recall). One caveat: on
    CLUSTERED real embeddings the fraction needed for a target recall
    is far lower (that is IVF's design case). Calibrate against
    :func:`brute_force_topk` on a sample, like PQ's refine rule. (The
    r10 sweep's second caveat — fit sensitivity to physical row order —
    is gone: :func:`ivf_centroids` now fits on a portable-hash sample,
    so centroids are a pure function of the row multiset.)
    """
    centroids = ivf_centroids(corpus, n_cells, vec_col, seed, max_iter, id_col)
    cv = corpus.select(F.col(id_col), as_double(vec_col).alias("cv"))
    # Assignment goes through the SAME kernel as the at-rest write path
    # (cell_assignment), so the ann_ivf_indexed == ann_ivf_topk row
    # identity is structural — one kernel, not two kept bit-identical
    # by discipline (r11 review).
    assigned = cv.select(
        id_col,
        "cv",
        cell_assignment(F.col("cv"), centroids)["cell"].alias("cell"),
    )
    return _ivf_score_topk(assigned, queries, centroids, k, id_col, vec_col,
                           query_id_col, nprobe, round_to)


def _ivf_score_topk(
    assigned: DataFrame,
    queries: DataFrame | None,
    centroids: np.ndarray,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    nprobe: int,
    round_to: int,
    probes: DataFrame | None = None,
) -> DataFrame:
    """Shared probe/score/top-k tail of the IVF paths: join the assigned
    corpus (id, cv, cell) against each query's nprobe probe cells, exact
    cosine inside probed cells only, per-query top-k. ``probes`` lets a
    caller that already materialized the (query_id, qv, cell) frame
    (the at-rest path needs it driver-side for the partition filter)
    pass it in instead of re-running the cell-assignment kernel."""
    if probes is None:
        qv = queries.select(
            F.col(query_id_col), as_double(vec_col).alias("qv")
        )
        probes = qv.select(
            query_id_col,
            "qv",
            F.explode(
                nearest_cells(F.col("qv"), centroids, nprobe)
            ).alias("cell"),
        )
    scored = (
        assigned.join(
            F.broadcast(probes),
            (assigned.cell == probes.cell) & (F.col(id_col) != F.col(query_id_col)),
        )
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            half_up(cosine_batch(F.col("qv"), F.col("cv")), round_to).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            "cosine",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


def read_ivf_index_meta(path: str, fs=None) -> dict:
    """Load the at-rest IVF index's sidecar — the fitted centroids plus
    the layout parameters they were fitted under — with ``centroids``
    already validated and converted to a (n_cells x dim) float64 array.

    Raises FileNotFoundError for a pre-sidecar (or foreign) directory
    and ValueError for a corrupt one: probing with centroids that are
    not the ones the corpus was PARTITIONED BY assigns queries to cells
    the data doesn't live in and silently zeroes recall instead of
    erroring — the same failure mode the ``lsh`` sidecar guards against
    for the LSH index."""
    meta = read_sidecar(path, "ivf", fs=fs)
    _sidecar_array(path, "ivf", meta, "centroids", ("n_cells", "dim"))
    return meta


def _sidecar_array(path: str, kind: str, meta: dict, key: str,
                   dims: tuple[str, ...]) -> None:
    """Replace ``meta[key]`` by its float64 array, raising ValueError
    unless its shape is the sidecar's own ``dims`` entries."""
    arr = np.asarray(meta.get(key), dtype=np.float64)
    want = tuple(meta.get(d) for d in dims)
    if arr.shape != want:
        builder = "ivf_write_bucketed" if kind == "ivf" else "pq_write_index"
        raise ValueError(
            f"{kind.upper()} index at {path!r}: sidecar {key} shape "
            f"{arr.shape} disagrees with its own ({', '.join(dims)}) = "
            f"{want} — rebuild with {builder}"
        )
    meta[key] = arr


def _ivf_rows(vecs: DataFrame, id_col: str, vec_col: str,
              centroids: np.ndarray) -> DataFrame:
    """(id, cv, cell, adist): the IVF index's row layout, shared by the
    build and the append."""
    return (
        vecs.select(F.col(id_col), as_double(vec_col).alias("cv"))
        .withColumn("a", cell_assignment(F.col("cv"), centroids))
        .select(id_col, "cv", F.col("a.cell").alias("cell"),
                F.col("a.adist").alias("adist"))
    )


def ivf_write_bucketed(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    sample_cap: int = 4096,
    fs=None,
) -> np.ndarray:
    """Materialize the IVF index AT REST: the corpus written to Parquet
    partitioned by ``cell`` (one directory per inverted list), with the
    fitted centroids in an ``ivf`` sidecar (they ARE the index's
    metadata — ~n_cells x dim floats; json float repr round-trips
    float64 exactly, so the sidecar is bit-faithful). Each row stores
    its squared-L2 assignment distance ``adist``, the drift monitor's
    column. The write, the build-time stats and the sidecar-last commit
    are the shared cell store's (:func:`index_fs.cell_index_write`), so
    a torn later append is detected loudly instead of silently served.
    Returns the centroids for callers that probe immediately.

    This is the storage layout the in-memory :func:`ivf_topk` docstring
    promises: a probe becomes PARTITION PRUNING, so a query's scan opens
    only its nprobe cells' files and the other ``n_cells - nprobe``
    inverted lists are never read (asserted at the file level in
    tests/test_dataops.py). At 100 TB this is the difference between
    scanning ~nprobe/n_cells of the corpus and scanning all of it;
    re-cluster periodically as the corpus drifts, like any IVF index.
    The registered probe is ``registry_dataops.ann_ivf_indexed``."""
    centroids = ivf_centroids(
        corpus, n_cells, vec_col, seed, max_iter, id_col, sample_cap
    )
    cell_index_write(
        _ivf_rows(corpus, id_col, vec_col, centroids), path, "ivf",
        {"id_col": id_col, "n_cells": int(n_cells),
         "dim": int(centroids.shape[1]), "seed": int(seed)},
        {"centroids": centroids.tolist()},
        fs=fs,
    )
    return centroids


def ivf_append_bucketed(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs=None,
    recluster_threshold: float | None = None,
    recluster_kwargs: dict | None = None,
    lock_held: bool = False,
) -> dict:
    """Fold NEW vectors into an at-rest IVF index without a rebuild —
    the maintenance path that closes the write→append→probe lifecycle
    (the X79 ``append_lsh_index`` analogue): each new vector is
    assigned to its nearest centroid FROM THE SIDECAR and appended into
    the matching ``cell=`` partitions (Parquet append — only touched
    cells gain files). The quantizer is deliberately NOT refit by the
    append itself: append preserves the index's cell geometry so
    existing data never moves and concurrent probes stay correct.
    Raises loudly (via :func:`read_ivf_index_meta`) rather than
    appending under unknown centroids, which would scatter vectors
    into cells probes won't look in. The commit — torn-predecessor
    check, row write, ``row_count`` flip LAST — is the shared cell
    store's (:func:`index_fs.cell_index_append`); a torn index is
    rebuilt with :func:`recluster_ivf` or ``ivf_write_bucketed``.

    Returns the DRIFT STATS the re-cluster decision needs: the batch's
    mean squared-L2 assignment distance against the build-time means
    OF THE CELLS THE BATCH LANDS IN. ``drift_ratio`` ~1 means the batch
    still fits the quantizer; a ratio creeping upward across appends
    means the distribution has moved off the fitted cells (recall
    decays because true neighbors land in unprobed cells). The signal
    has an ACTUATOR (r11 verdict item 3): pass ``recluster_threshold``
    and any append whose ratio crosses it triggers exactly one
    :func:`recluster_ivf` — quantizer refit over the index's own rows
    (which now include this batch) + atomic layout swap — before
    returning, with the rebuild's stats under ``"recluster"`` in the
    result; after the rebuild the new distribution is IN distribution,
    so subsequent batches' ratios fall back toward 1 and the trigger
    self-arms only on genuine further drift (tested with sustained OOD
    appends in tests/test_dataops.py). ``None`` (default) keeps the
    monitor signal-only for callers that schedule rebuilds themselves.

    The append runs under the index's single-writer mutex
    (:func:`index_fs.writer_gate`, which ``jobs verify-index`` also
    takes); ``lock_held=True`` skips acquisition for a caller that
    already owns it (an ingest loop's writer thread)."""
    with writer_gate(path, f"IVF {CELL_APPEND_PURPOSE}", fs, lock_held):
        spark = new_vecs.sparkSession
        stats = cell_index_append(
            spark, path, "ivf", id_col, read_ivf_index_meta,
            lambda meta: _ivf_rows(new_vecs, id_col, vec_col,
                                   meta["centroids"]),
            fs=fs,
        )
        ratio = stats["drift_ratio"]
        out = {
            "n": stats["n"],
            "mean_assign_dist": stats["mean"],
            "build_mean_assign_dist": stats["build_mean"],
            "expected_assign_dist": stats["expected"],
            "drift_ratio": ratio,
            "reclustered": False,
        }
        if (
            recluster_threshold is not None
            and ratio is not None
            and ratio > recluster_threshold
        ):
            out["recluster"] = recluster_ivf(
                spark, path, fs=fs, lock_held=True, **(recluster_kwargs or {})
            )
            out["reclustered"] = True
        return out


def recluster_ivf(
    spark,
    path: str,
    n_cells: int | None = None,
    seed: int | None = None,
    max_iter: int = 8,
    sample_cap: int = 4096,
    fs=None,
    lock_held: bool = False,
) -> dict:
    """Re-fit the IVF quantizer over the index's OWN rows and swap the
    re-partitioned layout in atomically — the drift actuator
    :func:`ivf_append_bucketed`'s ``drift_ratio`` points at (r11
    verdict item 3: signal now has a consumer). The index stores full
    vectors per row, so the rebuild needs no external corpus handle:
    read (id, cv) through the standing layout, fit fresh centroids on
    the portable-hash sample (which now includes the drifted rows),
    and write the new cell layout to a SCRATCH dir that the shared cell
    store's two-rename swap cuts over (:func:`index_fs.cell_index_swap`
    — locking, crash recovery on entry and the reader caveat are
    documented there; ``lock_held=True`` is the inline actuator path
    from :func:`ivf_append_bucketed`).

    ``n_cells``/``seed`` default to the standing sidecar's, so the
    routine rebuild changes geometry, not configuration. Returns
    ``{"n_rows", "n_cells", "old_mean_assign_dist",
    "new_mean_assign_dist"}`` — the new build mean becomes the drift
    monitor's reference, which is what re-arms the trigger at ~1."""
    with cell_index_swap(path, "ivf", fs, lock_held) as scratch:
        meta = read_ivf_index_meta(path, fs=fs)
        n_cells = int(n_cells if n_cells is not None else meta["n_cells"])
        seed = int(seed if seed is not None else meta["seed"])
        rows = spark.read.parquet(path).select(meta["id_col"], "cv")
        ivf_write_bucketed(
            rows, scratch, n_cells=n_cells, id_col=meta["id_col"],
            vec_col="cv", seed=seed, max_iter=max_iter,
            sample_cap=sample_cap, fs=fs,
        )
        new_meta = read_sidecar(scratch, "ivf", fs=fs)
        return {
            "n_rows": int(new_meta["row_count"]),
            "n_cells": n_cells,
            "old_mean_assign_dist": meta.get("mean_assign_dist"),
            "new_mean_assign_dist": new_meta.get("mean_assign_dist"),
        }


def ivf_topk_bucketed(
    spark,
    path: str,
    centroids: np.ndarray | None,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 4,
    round_to: int = 6,
    fs=None,
    verify: bool = False,
) -> DataFrame:
    """Probe a bucketed-at-rest IVF index (written by
    :func:`ivf_write_bucketed`): compute the query batch's union of probe
    cells driver-side (queries are the SMALL side by contract — a top-k
    serving batch, not a second corpus), then scan the index with an
    ``IN`` partition filter so only those cells' files are opened.

    ``verify=True`` additionally checks the sidecar's ``row_count``
    commit against the on-disk rows first
    (:func:`index_fs.cell_index_verify`) and raises on a torn append —
    one footer-scale count per probe batch, for serving paths that must
    not read uncommitted rows. Off by default: appends and maintenance already gate on it, and a torn
    index only ever serves EXTRA (unacknowledged, correct-content)
    rows, never loses committed ones.

    ``centroids=None`` loads them from the index's validated sidecar —
    the normal path. Passing centroids explicitly is allowed only if
    they MATCH the sidecar (bit-equal after the json round-trip):
    foreign centroids would probe cells the corpus wasn't partitioned
    by, a silent-recall-zero bug, so the mismatch raises.

    Identical output to :func:`ivf_topk` given the same centroids — only
    the candidate-scan path differs (partition pruning vs hash join
    against an in-memory assignment).
    """
    meta = read_ivf_index_meta(path, fs=fs)
    if verify:
        raise_if_torn(spark, path, "ivf", fs=fs)
    if centroids is None:
        centroids = meta["centroids"]
    elif not np.array_equal(
        np.asarray(centroids, dtype=np.float64), meta["centroids"]
    ):
        raise ValueError(
            f"IVF index at {path!r}: caller-supplied centroids disagree "
            "with the index's sidecar — the corpus is partitioned by the "
            "sidecar's cells, so probing with foreign centroids silently "
            "zeroes recall. Pass centroids=None to use the sidecar's."
        )
    qv = queries.select(F.col(query_id_col), as_double(vec_col).alias("qv"))
    # One cell-assignment pass over the query batch, materialized (the
    # batch is small by contract): both the driver-side IN filter and
    # the probe join read the checkpointed frame, instead of running
    # the nearest_cells kernel twice (r11 review).
    probes = qv.select(
        query_id_col,
        "qv",
        F.explode(nearest_cells(F.col("qv"), centroids, nprobe)).alias("cell"),
    ).localCheckpoint(eager=True)
    probe_cells = sorted(
        int(r.cell) for r in probes.select("cell").distinct().collect()
    )
    assigned = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    return _ivf_score_topk(assigned, None, centroids, k, id_col, vec_col,
                           query_id_col, nprobe, round_to, probes=probes)


# --------------------------------------------------------------------------
# Product quantization (X37) — compressed-domain ANN
# --------------------------------------------------------------------------


def _lloyd(x: np.ndarray, k: int, seed: int, iters: int) -> np.ndarray:
    """Seeded k-means (k-means++ init + Lloyd) on a driver-side sample.
    Deterministic for a given (sample, k, seed)."""
    rng = np.random.RandomState(seed)
    # k-means++ seeding
    c = [x[rng.randint(len(x))]]
    for _ in range(1, k):
        d2 = np.min(
            ((x[:, None, :] - np.stack(c)[None, :, :]) ** 2).sum(-1), axis=1
        )
        p = d2 / d2.sum() if d2.sum() > 0 else None
        c.append(x[rng.choice(len(x), p=p)])
    cents = np.stack(c)
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                cents[j] = x[mask].mean(0)
    return cents


def pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 12,
    sample_cap: int = 20_000,
) -> np.ndarray:
    """Train product-quantization codebooks: the vector is split into
    ``m`` contiguous subspaces and each gets its own ``k``-centroid
    codebook (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011). Returns (m, k, dim/m) float64.

    The fit runs driver-side on a bounded sample (``limit(sample_cap)``
    collect — a quantizer converges on a sketch of the distribution, the
    standard practice at corpus scale; 8 distributed MLlib fits measured
    ~5s of pure scheduling overhead on the fixture for identical
    codebooks). All m subspaces fit from the ONE collected sample;
    codebooks are tiny driver constants (m*k*sub_dim doubles) shipped to
    executors in UDF closures.
    """
    return _fit_books_on_sample(
        _vec_sample(corpus, vec_col, sample_cap), m, k, seed, max_iter
    )


def _vec_sample(corpus: DataFrame, vec_col: str, sample_cap: int) -> np.ndarray:
    """The bounded driver-side sample (``limit(sample_cap)`` collect)
    the codebook fits run on, as a (rows x dim) float64 matrix."""
    rows = corpus.select(as_double(vec_col).alias("v")).limit(sample_cap).collect()
    if not rows:
        raise ValueError("empty corpus")
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])


def _fit_books_on_sample(
    x: np.ndarray, m: int, k: int, seed: int, max_iter: int
) -> np.ndarray:
    """The driver-side subspace fits shared by :func:`pq_codebooks`
    and :func:`pq_write_index` (raw vectors, or in residual mode the
    same sample shifted by its cell centroids)."""
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [
        _lloyd(x[:, j * sub : (j + 1) * sub], k, seed + j, max_iter)
        for j in range(m)
    ]
    return np.stack(books)  # (m, k, sub)


def _pq_kernel(codebooks: np.ndarray, centroids: np.ndarray | None = None,
               residual: bool = False):
    """THE PQ encoder, one Arrow kernel for every path: per subspace a
    (batch x k) distance matrix via matmul and the shared nearest-row
    step (:func:`_nearest`), returning ``struct<[cell,] codes, qerr>``
    in one pass. ``qerr`` is the row's reconstruction squared error
    under these codebooks — what the at-rest index stores per row (the
    IVF ``adist`` precedent), so the drift monitor's reference is a
    column scan of the index itself, never a second corpus pass.
    Distortion is THE health number for PQ — when the ingested
    distribution drifts off the fitted codebooks, qerr inflates and ADC
    distances degrade from 'quantization-noisy' to 'wrong', silently.

    ``centroids`` adds the IVFADC ``cell`` (the :func:`cell_assignment`
    decision, from the same vectors in the same pass). ``residual``
    (classic IVFADC, Jégou et al. 2011 §V.A) encodes ``v -
    centroid[cell]`` instead of ``v``: the residual DEPENDS on the
    assignment, so one kernel ships each vector through one Python
    worker instead of two (why residual codes recover recall:
    :func:`pq_write_index`). The in-memory :func:`pq_encode` and the at-rest writer
    and append run this same kernel, so their codes agree by
    construction, ties included."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m_, k_, sub = books.shape
    bnorm = [np.einsum("ij,ij->i", c, c) for c in books]
    celled = centroids is not None
    if celled:
        cents = np.ascontiguousarray(centroids, dtype=np.float64)
        cnorm = np.einsum("ij,ij->i", cents, cents)

    @F.pandas_udf(
        f"struct<{'cell:int, ' if celled else ''}"
        "codes:array<int>, qerr:double>"
    )
    def _enc(xs: pd.Series) -> pd.DataFrame:
        x = np.stack(xs.to_numpy()) if len(xs) else np.zeros((0, m_ * sub))
        out = {}
        if celled:
            cell = _nearest(x, cents, cnorm)[0]
            out["cell"] = cell.astype(np.int32)
            if residual:
                x = x - cents[cell]  # the residuals the codes reconstruct
        codes = np.empty((x.shape[0], m_), dtype=np.int32)
        err = np.zeros(x.shape[0], dtype=np.float64)
        for j in range(m_):
            codes[:, j], d = _nearest(x[:, j * sub : (j + 1) * sub],
                                      books[j], bnorm[j])
            err += d
        return pd.DataFrame({**out, "codes": list(codes), "qerr": err})

    return _enc


def _pq_rows(vecs: DataFrame, id_col: str, vec_col: str, books: np.ndarray,
             centroids: np.ndarray | None = None,
             residual: bool = False) -> DataFrame:
    """(id, codes, qerr[, cell]): the PQ index's row layout, shared by
    the build and the append."""
    enc = _pq_kernel(books, centroids, residual)
    return vecs.select(
        F.col(id_col), enc(as_double(vec_col)).alias("e")
    ).select(
        id_col, "e.codes", "e.qerr",
        *(["e.cell"] if centroids is not None else []),
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — each vector compressed to m codebook
    indices (m bytes at k<=256). One Arrow-batched pass
    (:func:`_pq_kernel`). The encoded corpus is ~dim*4/m
    bytes-per-vector smaller — the representation the 100 TB corpus is
    STORED in; raw vectors are only needed at encode time and for
    optional exact re-rank of the short list.
    """
    return corpus.select(
        F.col(id_col),
        _pq_kernel(codebooks)(as_double(vec_col))["codes"].alias("codes"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    m: int = 4,
    n_codes: int = 16,
    seed: int = 42,
    round_to: int = 6,
    refine: int | None = None,
    refine_frac: float | None = 0.025,
    refine_floor: int = 50,
    refine_exact_fold: bool = False,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """Approximate L2 top-k in the COMPRESSED domain (ADC): corpus
    vectors are m-byte PQ codes; per query a (m x k) lookup table of
    query-subvector-to-centroid distances is precomputed, and each
    corpus code scores with m table gathers + a sum — no original
    vectors touched during the scan.

    The exact re-rank stage (IVFADC+R, Jégou et al. 2011 §VI) is ON BY
    DEFAULT and FRACTION-SIZED: the ADC scan keeps a shortlist of
    ``max(k, refine_floor, ceil(refine_frac * n))`` per query (n = the
    corpus count — one cheap job over the checkpointed codes), the
    shortlist joins back to the raw vectors, and exact L2 decides the
    final top-k. On data whose neighbors are separated by margins
    smaller than the quantization noise (e.g. near-random fixtures),
    pure ADC ranking saturates; re-ranking recovers it for the cost of
    shortlist-depth random vector lookups per query. ``dist`` is then
    exact squared L2, not the ADC estimate. ``refine=R`` overrides with
    an absolute depth (the pre-r11 interface — valid on clustered real
    embeddings whose margins exceed the quantization noise, where a
    constant R suffices); ``refine_frac=None`` with no ``refine``
    disables re-ranking entirely (pure ADC).

    Why fraction-sized is the default (r10 grown-fixture measurement,
    SCALING.md, re-confirmed under this default in r11): when
    quantization error dominates neighbor margins, recall tracks the
    FRACTION R/n, not the absolute depth — measured on the near-random
    unit-sphere sf0.1 fixture at 2,000 vs 20,000 vectors, the same
    R/n=2.5% gives ~the same recall@5 at both scales (0.54 and 0.58),
    a fixed R=50 falls 0.54 → 0.22 as n grows 10×, R/n=10% gives
    0.86, and R >= n gives exactly 1.00. So the default 2.5% holds
    recall flat as the corpus grows, while ``refine_floor`` keeps small
    corpora from under-refining (below 2,000 rows the floor, not the
    fraction, is binding — the fixture configuration is unchanged by
    this default). The structural-exactness tier (refine >= n) is
    ``registry_dataops.ann_pq_topk_refined``. Callers tuning the
    fraction for a new corpus should measure recall against
    :func:`brute_force_topk` on a sample first — and note the
    comparison is only meaningful on norm-consistent vectors (cosine
    and L2 rankings coincide only at unit norm; the r10 probe's first
    cut learned this the hard way).

    ``refine_exact_fold=True`` additionally makes the re-rank
    oracle-bit-exact: dist = dot(q,q) - 2*dot(q,v) + dot(v,v) with the
    deterministic sequential-fold :func:`dot` (the numpy kernel's
    pairwise summation can differ in the last ulp), rounded half-up
    BEFORE ranking so a tie at the k boundary cuts identically in both
    engines. The shortlist is tiny by contract, so the interpreted HOF
    fold costs nothing here.

    Output: (query_id, neighbor_id, dist, rank) — dist is squared L2
    (quantized approximation without refine, exact with), 6-dp rounded;
    ties break by neighbor id. Self-matches are excluded.

    Scale: the scan side reads only (id, codes); the query LUT stack is
    a broadcast constant (q x m x k doubles). The ADC pass is a narrow
    Arrow-batched map; the only shuffles are the per-query top-k window
    over candidates already cut per partition (the bounded top-k
    pattern from operators/ranking.py) and, with refine, one join of
    q*R shortlist ids against the corpus.

    ``codebooks`` injects a pre-fitted (m, k, sub) stack and skips the
    fit — the seam :func:`pq_topk_indexed`'s row-identity contract
    rests on (same codebooks in, same rows out, whichever side encoded
    the corpus); without it the fit+encode cost recurs on EVERY call,
    which is exactly what the at-rest index amortizes away.
    """
    books = (
        np.ascontiguousarray(codebooks, dtype=np.float64)
        if codebooks is not None
        else pq_codebooks(corpus, vec_col, m, n_codes, seed)
    )
    encoded = pq_encode(corpus, books, id_col, vec_col).localCheckpoint(
        eager=True  # consumed once per query batch; never re-encode
    )
    return _pq_scan_topk(
        encoded, corpus, queries, books,
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        round_to=round_to, refine=refine, refine_frac=refine_frac,
        refine_floor=refine_floor, refine_exact_fold=refine_exact_fold,
    )


def _pq_scan_topk(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    *,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    round_to: int,
    refine: int | None,
    refine_frac: float | None,
    refine_floor: int,
    refine_exact_fold: bool,
    n_rows: int | None = None,
    qcells: dict[int, frozenset[int]] | None = None,
    q_rows: list[tuple] | None = None,
    residual_centroids: np.ndarray | None = None,
) -> DataFrame:
    """The ADC scan + optional exact re-rank shared by :func:`pq_topk`
    (which fits/encodes in-memory) and :func:`pq_topk_indexed` (which
    loads codes + codebooks from the at-rest index) — ONE scan kernel,
    so the two paths are row-identical under the same codebooks by
    construction, not by discipline. ``encoded`` carries (id, codes)
    plus a ``cell`` column when ``qcells`` or ``residual_centroids`` is
    given: the IVFADC layout's per-query cell mask (a query scores only
    candidates in ITS probed cells; the caller already partition-pruned
    the scan to the UNION of probed cells, this mask restores per-query
    semantics inside it). ``n_rows`` injects the committed corpus count
    (the sidecar's ``row_count``) so the fraction-sized refine depth
    costs no count job on the serving path.

    ``q_rows`` injects the ALREADY-COLLECTED (query_id, vector) rows so
    a caller that needed them for its own driver-side work (cell
    probing) never collects the query frame twice — a non-deterministic
    query frame (limit/sample) collected twice could disagree between
    the probe's cell map and the scan's LUTs, KeyError-ing or silently
    mis-masking (r12 ADVICE).

    ``residual_centroids`` switches the scan to RESIDUAL decoding
    (classic IVFADC, Jégou et al. 2011 §V.A): codes were encoded on
    ``v - centroid[cell]``, so the ADC distance for a candidate in cell
    c is |(q - centroid[c]) - reconstruct(codes)|² — one LUT per
    (query, cell) instead of per query, built only for cells the scan
    can actually touch (the union of probed cells; all cells when
    unpruned). The LUT stack is q × |cells touched| × m × k doubles —
    still a driver-side closure constant (queries are a serving batch
    and the touched-cell count is bounded by q·nprobe)."""
    if q_rows is None:
        q_rows = queries.select(
            F.col(query_id_col), as_double(vec_col).alias("qv")
        ).collect()
    if not q_rows:
        raise ValueError("empty query frame")
    qids = np.array([r[0] for r in q_rows])
    qv = np.stack(
        [np.asarray(r[1], dtype=np.float64) for r in q_rows]
    )  # (q, dim)
    m_, k_, sub = books.shape

    def _lut_of(qmat: np.ndarray) -> np.ndarray:
        # LUT[q, j, c] = |q_j - book[j, c]|^2
        out = np.empty((qmat.shape[0], m_, k_), dtype=np.float64)
        for j in range(m_):
            qj = qmat[:, j * sub : (j + 1) * sub]  # (q, sub)
            c = books[j]  # (k, sub)
            out[:, j, :] = (
                np.einsum("ij,ij->i", qj, qj)[:, None]
                - 2.0 * (qj @ c.T)
                + np.einsum("ij,ij->i", c, c)[None, :]
            )
        return out

    if residual_centroids is None:
        lut = _lut_of(qv)
        res_luts = None
    else:
        cents = np.ascontiguousarray(residual_centroids, dtype=np.float64)
        touched = (
            sorted({c for s in qcells.values() for c in s})
            if qcells is not None
            else range(cents.shape[0])
        )
        lut = None
        res_luts = {int(c): _lut_of(qv - cents[int(c)]) for c in touched}

    out_schema = f"{query_id_col} long, neighbor_id long, dist double"
    if refine is not None and int(refine) <= 0:
        # pre-r11 `if refine:` treated 0 as pure-ADC; silently keeping a
        # 0-deep shortlist would now return EMPTY results — fail loudly
        # and name the disable spelling instead (r11 review).
        raise ValueError(
            "refine must be a positive shortlist depth; for a pure ADC "
            "scan pass refine_frac=None (and no refine)"
        )
    if refine is not None:
        depth = int(refine)
    elif refine_frac is not None:
        import math

        n_corpus = n_rows if n_rows is not None else encoded.count()
        depth = max(k, refine_floor, math.ceil(refine_frac * n_corpus))
    else:
        depth = k
    do_refine = refine is not None or refine_frac is not None
    # per-query allowed-cell arrays, precomputed once (np.isin per batch
    # row-group is the kernel-side cost; the dict itself is a tiny
    # broadcast closure constant — queries are a serving batch)
    qallow = (
        {int(qid): np.fromiter(qcells[int(qid)], dtype=np.int64)
         for qid in qids}
        if qcells is not None
        else None
    )

    need_cells = qallow is not None or res_luts is not None

    def _adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (n, m)
            ids = pdf[id_col].to_numpy()
            cells = pdf["cell"].to_numpy() if need_cells else None
            # dist (q, n): gather LUT per subspace, accumulate
            d = np.zeros((len(qids), len(ids)), dtype=np.float64)
            if res_luts is not None:
                # residual decoding: each candidate's LUT is its CELL's
                # (codes reconstruct v - centroid[cell]); group the
                # batch's columns by cell and gather per group
                for c in np.unique(cells):
                    cols = np.nonzero(cells == c)[0]
                    lut_c = res_luts[int(c)]
                    for j in range(m_):
                        d[:, cols] += lut_c[:, j, :][:, codes[cols, j]]
            else:
                for j in range(m_):
                    d += lut[:, j, :][:, codes[:, j]]
            rows = []
            for qi, qid in enumerate(qids):
                mask = ids != qid  # exclude self
                if qallow is not None:
                    mask &= np.isin(cells, qallow[int(qid)])
                di, ii = d[qi][mask], ids[mask]
                # lexsort on (dist, neighbor_id): a dist tie at the depth
                # boundary must cut the same neighbor regardless of the
                # partition's row order, matching the bounded top-k
                # pattern's determinism contract (the global window below
                # orders by (dist, neighbor_id) but cannot recover a
                # candidate already dropped per partition).
                top = np.lexsort((ii, di))[:depth]
                rows.append(
                    pd.DataFrame(
                        {
                            query_id_col: qid,
                            "neighbor_id": ii[top],
                            "dist": di[top],
                        }
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    # per-partition shortlist per query, then one tiny global window
    cands = encoded.mapInPandas(_adc, schema=out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    if do_refine:
        shortlist = (
            cands.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= depth)
            .select(query_id_col, "neighbor_id")
        )
        vecs = corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("nv")
        )
        if refine_exact_fold:
            qframe = queries.select(
                F.col(query_id_col), as_double(vec_col).alias("_qv")
            )
            nv, qvc = F.col("nv"), F.col("_qv")
            exact = dot(qvc, qvc) - 2 * dot(qvc, nv) + dot(nv, nv)
            cands = (
                shortlist.join(vecs, "neighbor_id")
                .join(F.broadcast(qframe), query_id_col)
                .select(
                    query_id_col,
                    "neighbor_id",
                    half_up(exact, round_to).alias("dist"),
                )
            )
        else:
            qmap = {int(qid): qv[i] for i, qid in enumerate(qids)}

            @F.pandas_udf("double")
            def _exact_l2(qs: pd.Series, vs: pd.Series) -> pd.Series:
                if len(qs) == 0:
                    return pd.Series([], dtype="float64")
                qm = np.stack([qmap[int(q)] for q in qs.to_numpy()])
                v = np.stack(vs.to_numpy())
                diff = qm - v
                return pd.Series(np.einsum("ij,ij->i", diff, diff))

            cands = shortlist.join(vecs, "neighbor_id").select(
                query_id_col,
                "neighbor_id",
                _exact_l2(F.col(query_id_col), F.col("nv")).alias("dist"),
            )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            half_up(F.col("dist"), round_to).alias("dist"),
            "rank",
        )
    )


def read_pq_index_meta(path: str, fs=None) -> dict:
    """Load the at-rest PQ index's sidecar — the fitted codebooks (and,
    for the IVFADC layout, the coarse centroids) plus the parameters
    they were fitted under — with both arrays validated and converted
    to float64 (json float repr round-trips float64 exactly, the
    ``ivf`` sidecar precedent). Raises FileNotFoundError for a
    pre-sidecar (or foreign) directory and ValueError for a corrupt
    one: scoring codes against codebooks they were not ENCODED under
    returns confidently wrong distances — worse than the LSH/IVF
    failure modes (which lose recall), this one corrupts the ranking
    itself, so the guard is just as loud."""
    meta = read_sidecar(path, "pq", fs=fs)
    _sidecar_array(path, "pq", meta, "codebooks", ("m", "n_codes", "sub"))
    m, sub = meta["m"], meta["sub"]
    if meta.get("dim") != m * sub:
        raise ValueError(
            f"PQ index at {path!r}: sidecar dim {meta.get('dim')} != "
            f"m*sub = {m * sub} — rebuild with pq_write_index"
        )
    if meta.get("n_cells") is not None:
        _sidecar_array(path, "pq", meta, "centroids", ("n_cells", "dim"))
    return meta


def pq_write_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 16,
    seed: int = 42,
    max_iter: int = 12,
    sample_cap: int = 20_000,
    n_cells: int | None = None,
    ivf_max_iter: int = 8,
    ivf_sample_cap: int = 4096,
    residual: bool = False,
    fs=None,
) -> np.ndarray:
    """Materialize the PQ-compressed corpus AT REST so the fit+encode
    cost is paid ONCE, not per serving call (the r11 verdict's last
    ANN gap: :func:`pq_topk` re-fits codebooks and re-encodes the
    corpus on every invocation — fine for a batch analytic, wrong for
    a serving path). Two layouts:

      * ``n_cells=None`` (flat): (id, codes) parquet — the plain
        compressed-domain scan, every probe reads all codes but only
        ~dim*4/m bytes per vector;
      * ``n_cells=N`` (IVFADC, Jégou et al. 2011 §V): the IVF coarse
        quantizer (:func:`ivf_centroids` — layout-invariant fit)
        assigns each row a cell and the codes land PARTITIONED BY
        ``cell``, so a probe is partition pruning first (only
        nprobe/n_cells of the code files are opened) and an m-byte ADC
        scan second — the two pruning axes compose: at 100 TB the scan
        touches nprobe/n_cells of the files at 1/(dim*4/m)-th the
        bytes. By default codes quantize the RAW vectors, not cell
        residuals: that keeps codes cell-independent, so the flat and
        celled layouts share one per-query LUT (computed once per
        query, not once per probed cell) and the row-identity contract
        with :func:`pq_topk`.

    ``residual=True`` (celled layout only — it raises on flat, there
    is no cell to take a residual against) opts into TRUE IVFADC
    encoding (Jégou et al. 2011 §V.A): codebooks are fitted on the
    sample's CELL RESIDUALS and each row's codes reconstruct
    ``v - centroid[cell]``. Residuals are smaller and more isotropic
    than raw vectors, so the same m×k budget resolves finer structure
    — the standard recall recovery at grown scale (the r12 verdict's
    measured gap: raw-code indexed recall@5 fell 0.56→0.48 at ×10
    corpus while in-memory PQ held 0.58; the residual-vs-raw table
    lives in SCALING.md r13). The price is DELIBERATE: residual codes
    are cell-dependent, so the probe builds one LUT per (query,
    touched cell) and the output is no longer row-identical to
    :func:`pq_topk`'s raw encoding — the raw mode keeps that identity
    contract, this mode keeps recall; the sidecar records which was
    built and :func:`pq_topk_indexed` decodes accordingly.

    WHY THE DEFAULT STAYS ``residual=False`` (r13 verdict item 6 — a
    deliberate, measured decision, pinned by test): the SCALING.md r13
    table shows residual WINS where the index has outgrown its
    refine floor (×10 grown fixture: recall@5 0.62 vs 0.50 at
    identical m/nprobe) but LOSES at the 2,000-row base (0.52 vs 0.56)
    where ``refine_floor=50`` already re-ranks a quarter of the corpus
    exactly and the extra LUT-per-cell work buys nothing — small and
    medium indexes are refine-floor-dominated, and a new index is
    small by definition. Raw is also the only encoding that holds the
    row-identity contract with :func:`pq_topk` (the exactness tier the
    driver hash-checks). The migration is one command when a corpus
    outgrows the floor: ``jobs rebuild-pq --residual`` (or the inline
    ``rebuild_threshold`` actuator with ``residual=True`` in
    ``rebuild_kwargs``), and ``jobs tune-ann`` re-measures the
    nprobe/recall point on the rebuilt index.

    Every path encodes with the one kernel :func:`_pq_kernel`, and each
    row also stores its reconstruction squared error ``qerr`` (the IVF
    ``adist`` precedent). The write, the build-time distortion
    reference (per cell when celled — cells legitimately differ in
    spread) and the sidecar-last ``row_count`` commit are the shared
    cell store's (:func:`index_fs.cell_index_write`): the ``pq``
    sidecar carries the codebooks (and centroids, when celled)
    bit-faithfully, and a torn write is detectable by
    :func:`index_fs.cell_index_verify` / a ``verify=True`` probe.
    Probes never read ``qerr`` (explicit column selection keeps the
    scan at (id, codes)). Returns the fitted codebooks for callers that
    probe immediately."""
    if residual and n_cells is None:
        raise ValueError(
            "residual=True needs a cell layout (n_cells) — residual "
            "codes reconstruct v - centroid[cell], so a flat index has "
            "nothing to take the residual against"
        )
    centroids = None
    if n_cells is not None:
        centroids = ivf_centroids(
            corpus, n_cells, vec_col, seed, ivf_max_iter, id_col,
            ivf_sample_cap,
        )
    x = _vec_sample(corpus, vec_col, sample_cap)
    if residual:
        # fit the codebooks on the SAMPLE'S residuals: each sampled row
        # shifted by its nearest centroid before the subspace fits
        cnorm = np.einsum("ij,ij->i", centroids, centroids)
        x = x - centroids[_nearest(x, centroids, cnorm)[0]]
    books = _fit_books_on_sample(x, m, n_codes, seed, max_iter)
    cell_index_write(
        _pq_rows(corpus, id_col, vec_col, books, centroids, residual),
        path, "pq",
        {"id_col": id_col, "m": int(m), "n_codes": int(n_codes),
         "dim": int(books.shape[0] * books.shape[2]),
         "sub": int(books.shape[2]), "seed": int(seed)},
        {"n_cells": None if n_cells is None else int(n_cells),
         "residual": bool(residual),
         "centroids": None if centroids is None else centroids.tolist(),
         "codebooks": books.tolist()},
        fs=fs,
    )
    return books


def pq_append_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rebuild_threshold: float | None = None,
    rebuild_corpus: DataFrame | None = None,
    rebuild_kwargs: dict | None = None,
    fs=None,
    lock_held: bool = False,
) -> dict:
    """Fold NEW vectors into an at-rest PQ index without a rebuild —
    the maintenance path that closes the write→append→probe lifecycle
    for the compressed-domain index (the ``ivf_append_bucketed`` /
    ``append_srp_index`` analogue): each new vector is encoded under
    the SIDECAR's codebooks (never a refit — refitting would silently
    re-key the standing corpus's codes) by the same kernel as the
    build and :func:`pq_encode` — residual codes on a residual index,
    since encoding a RAW vector against residual-fitted codebooks would
    silently poison its distances (and inflate its qerr into a phantom
    drift signal) — and, on the IVFADC layout, assigned to its nearest
    sidecar centroid, then appended into the matching partitions. The
    commit — writer mutex (``lock_held=True`` for a caller that owns
    it), torn-predecessor check, row write, ``row_count`` flip LAST —
    is the shared cell store's (:func:`index_fs.cell_index_append`).

    Returns DRIFT STATS in distortion space — the PQ-native health
    signal: the batch's mean reconstruction squared error under the
    standing codebooks against the build-time mean of the cells the
    batch lands in (count-weighted; global mean on the flat layout).
    ``drift_ratio`` ~1 means the codebooks still describe the incoming
    distribution; a ratio creeping upward means ADC distances are
    degrading from quantization-noisy to WRONG for new rows. The
    actuator the ratio points at is :func:`rebuild_pq` (CLI ``jobs
    rebuild-pq``): a refit from the RAW corpus store the caller owns —
    the index stores only m-byte codes, so unlike the IVF monitor this
    one has no in-place actuator by construction (see there). After
    it, in-distribution appends read ~1 again.

    The signal can also drive the actuator INLINE, completing the IVF
    append's ``recluster_threshold`` symmetry: pass
    ``rebuild_threshold`` together with ``rebuild_corpus`` (the raw
    corpus frame — it must already INCLUDE this batch's rows, i.e. the
    caller appends to its corpus store before or alongside the index,
    which both ingest loops do) and any append whose drift_ratio
    crosses the threshold triggers exactly one :func:`rebuild_pq`
    after its own commit, returning the rebuild's stats under
    ``"rebuild"`` with ``"rebuilt": True``. ``rebuild_threshold``
    WITHOUT a corpus raises immediately — a trigger that could never
    fire its actuator would be worse than no trigger (the misconfig
    would surface only once drift is already real). The "corpus
    already includes this batch" requirement is ENFORCED, not just
    documented (r13 ADVICE): the rebuilt sidecar's ``row_count`` must
    cover what this append just committed, else the inline rebuild
    raises — a stale corpus frame would otherwise silently drop the
    acknowledged batch from the rebuilt index."""
    if rebuild_threshold is not None and rebuild_corpus is None:
        raise ValueError(
            "rebuild_threshold needs rebuild_corpus: the PQ index "
            "stores only m-byte codes, so the inline rebuild must be "
            "handed the raw corpus frame (including this batch's rows)"
        )
    with writer_gate(path, f"PQ {CELL_APPEND_PURPOSE}", fs, lock_held):
        stats = cell_index_append(
            new_vecs.sparkSession, path, "pq", id_col, read_pq_index_meta,
            lambda meta: _pq_rows(
                new_vecs, id_col, vec_col, meta["codebooks"],
                meta.get("centroids"), bool(meta.get("residual")),
            ),
            fs=fs,
        )
        ratio = stats["drift_ratio"]
        out = {
            "n": stats["n"],
            "mean_quant_err": stats["mean"],
            "expected_quant_err": stats["expected"],
            "drift_ratio": ratio,
            "rebuilt": False,
        }
        if (
            rebuild_threshold is not None
            and ratio is not None
            and ratio > rebuild_threshold
        ):
            # r13 ADVICE: "rebuild_corpus already includes this batch's
            # rows" was a docs-only contract — a caller handing a STALE
            # corpus frame silently dropped the just-committed batch from
            # the rebuilt index. r14 ADVICE tightened WHERE the guard
            # fires: counting after the rebuild raised loudly but only
            # AFTER the shrunken index had been atomically swapped in —
            # the on-disk index was already missing acknowledged rows the
            # moment the exception surfaced. So the corpus is counted
            # FIRST (one footer-scale count of the frame the rebuild is
            # about to scan anyway) and a stale frame is refused while the
            # complete, just-committed index is still in place.
            pre = int(stats["row_count"])
            corpus_n = int(rebuild_corpus.count())
            if corpus_n < pre:
                raise ValueError(
                    f"refusing inline rebuild of the PQ index at {path!r}: "
                    f"the append just committed {pre} rows but "
                    f"rebuild_corpus holds only {corpus_n} — the corpus "
                    "frame is stale (it must already include this batch's "
                    "rows; both ingest loops append to their corpus store "
                    "before or alongside the index). The committed index "
                    "is intact; re-run the rebuild from the complete "
                    "corpus store."
                )
            out["rebuild"] = rebuild_pq(
                new_vecs.sparkSession, rebuild_corpus, path,
                vec_col=vec_col, fs=fs, lock_held=True,
                **(rebuild_kwargs or {}),
            )
            out["rebuilt"] = True
            # Backstop (should be unreachable given the pre-count): if the
            # build itself dropped rows, still fail loudly rather than
            # hand back a silently-shrunken index.
            post = int(out["rebuild"]["n_rows"])
            if post < pre:
                raise ValueError(
                    f"inline rebuild of the PQ index at {path!r} SHRANK it: "
                    f"the append committed {pre} rows but the rebuild wrote "
                    f"only {post} — the rebuilt index is missing "
                    "acknowledged rows; re-rebuild from the complete corpus "
                    "store."
                )
        return out


def rebuild_pq(
    spark,
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    m: int | None = None,
    n_codes: int | None = None,
    seed: int | None = None,
    max_iter: int = 12,
    sample_cap: int = 20_000,
    n_cells: int | None = None,
    residual: bool | None = None,
    ivf_max_iter: int = 8,
    ivf_sample_cap: int = 4096,
    fs=None,
    lock_held: bool = False,
) -> dict:
    """Refit an at-rest PQ index from the RAW corpus and swap the new
    layout in atomically — the rebuild entry point the PQ drift monitor
    points at (r12 verdict item 4: :func:`pq_append_index`'s
    ``drift_ratio`` had no CLI-reachable actuator; the docstring's
    "rebuild belongs to the corpus-store owner" was honest but left the
    operator runbook at a Python API). Unlike :func:`recluster_ivf` the
    index CANNOT rebuild from its own rows — it stores m-byte codes,
    deliberately (self-rebuildability would forfeit the compression
    that is its point) — so the caller supplies the corpus of raw
    vectors (the ingest loop's corpus store via
    ``streaming.dedup_ingest.read_corpus``; the ``jobs rebuild-pq``
    CLI wires exactly that).

    Configuration (``m``/``n_codes``/``seed``/``n_cells``/``residual``)
    defaults to the standing sidecar's, so the routine rebuild changes
    codebooks, not geometry; ``id_col`` always carries over (the probe
    contract). The swap is the shared cell store's
    (:func:`index_fs.cell_index_swap` — locking, crash recovery on
    entry and the reader caveat are documented there; ``lock_held=True``
    is the inline actuator path from :func:`pq_append_index`). Returns
    ``{"n_rows", "n_cells", "residual", "old_mean_quant_err",
    "new_mean_quant_err"}`` — the new build mean becomes the drift
    monitor's reference, which re-arms the trigger at ~1 for
    in-distribution appends."""
    with cell_index_swap(path, "pq", fs, lock_held) as scratch:
        meta = read_pq_index_meta(path, fs=fs)
        if n_cells is None:
            n_cells = meta.get("n_cells")
        if residual is None:
            residual = bool(meta.get("residual"))
        pq_write_index(
            corpus, scratch, id_col=meta["id_col"], vec_col=vec_col,
            m=int(m if m is not None else meta["m"]),
            n_codes=int(n_codes if n_codes is not None else meta["n_codes"]),
            seed=int(seed if seed is not None else meta["seed"]),
            max_iter=max_iter, sample_cap=sample_cap, n_cells=n_cells,
            ivf_max_iter=ivf_max_iter, ivf_sample_cap=ivf_sample_cap,
            residual=residual, fs=fs,
        )
        new_meta = read_sidecar(scratch, "pq", fs=fs)
        return {
            "n_rows": int(new_meta["row_count"]),
            "n_cells": new_meta.get("n_cells"),
            "residual": bool(new_meta.get("residual")),
            "old_mean_quant_err": meta.get("mean_quant_err"),
            "new_mean_quant_err": new_meta.get("mean_quant_err"),
        }


def pq_topk_indexed(
    spark,
    corpus: DataFrame,
    queries: DataFrame,
    path: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int | None = None,
    round_to: int = 6,
    refine: int | None = None,
    refine_frac: float | None = 0.025,
    refine_floor: int = 50,
    refine_exact_fold: bool = False,
    verify: bool = False,
    fs=None,
) -> DataFrame:
    """Probe an at-rest PQ index (written by :func:`pq_write_index`):
    codebooks load from the validated sidecar and codes from parquet —
    NO fit, NO corpus encode; the per-call cost is the LUT build
    (driver-side, q x m x k doubles) plus the compressed-domain scan.
    Under the same codebooks the output is row-identical to
    :func:`pq_topk` BY CONSTRUCTION — both run :func:`_pq_scan_topk`
    (pinned by tests/test_dataops.py).

    ``nprobe`` (IVFADC layout only) prunes the scan to each query's
    nprobe nearest cells: the union of probed cells becomes an ``IN``
    partition filter (only those cells' files are OPENED — the
    ``ivf_topk_bucketed`` discipline), and inside the pruned scan each
    query scores only its OWN probed cells' candidates via the kernel's
    per-query mask. ``nprobe=None`` on a celled index scans every cell
    (the flat semantics — identical output to a flat index under the
    same codebooks); ``nprobe`` on a FLAT index raises (there are no
    cells to prune — rebuild with ``n_cells``).

    ``corpus`` supplies raw vectors for the exact re-rank stage only
    (IVFADC+R — the shortlist join; pass ``refine_frac=None`` for pure
    ADC and the corpus frame goes untouched). The refine depth uses the
    sidecar's committed ``row_count``, so the serving path runs zero
    count jobs. ``verify=True`` gates on
    :func:`index_fs.cell_index_verify` first and raises on a torn write.

    The query frame is collected exactly ONCE (r12 ADVICE): the probed
    cells are computed driver-side from the same collected rows the
    scan's LUTs use, so a non-deterministic query frame (limit/sample)
    cannot disagree between the cell map and the mask. A RESIDUAL index
    (``pq_write_index(residual=True)``) is detected from the sidecar
    and decoded accordingly — see :func:`_pq_scan_topk`; its output is
    NOT row-identical to :func:`pq_topk` (which encodes raw vectors by
    contract), it trades that identity for the classic IVFADC recall
    recovery at scale."""
    meta = read_pq_index_meta(path, fs=fs)
    if id_col != meta["id_col"]:
        raise ValueError(
            f"PQ index at {path!r} stores ids in column "
            f"{meta['id_col']!r}, not {id_col!r} — probe with the "
            "index's id_col or rebuild"
        )
    if verify:
        raise_if_torn(spark, path, "pq", fs=fs)
    books = meta["codebooks"]
    residual = bool(meta.get("residual"))
    encoded = spark.read.parquet(path)
    # ONE collect of the query frame — shared by the driver-side cell
    # probe below and the scan kernel's LUTs (r12 ADVICE: two collects
    # of a non-deterministic frame can disagree).
    q_rows = queries.select(
        F.col(query_id_col), as_double(vec_col).alias("qv")
    ).collect()
    qcells = None
    if nprobe is not None:
        if meta.get("n_cells") is None:
            raise ValueError(
                f"PQ index at {path!r} is flat (no cell layout) — "
                "nprobe has nothing to prune; rebuild with "
                "pq_write_index(n_cells=...) for IVFADC probing"
            )
        if q_rows:
            # nearest_cells' decisions, run on the already-collected
            # rows instead of a second Spark job
            cents = meta["centroids"]
            x = np.stack(
                [np.asarray(r[1], dtype=np.float64) for r in q_rows]
            )
            order = _nearest_k(
                x, cents, np.einsum("ij,ij->i", cents, cents), int(nprobe)
            )
            qcells = {
                int(r[0]): frozenset(int(c) for c in order[i])
                for i, r in enumerate(q_rows)
            }
            union = sorted({c for s in qcells.values() for c in s})
            encoded = encoded.filter(F.col("cell").isin(union))
        encoded = encoded.select(id_col, "codes", "cell")
    elif residual:
        # residual decoding needs each candidate's cell even unpruned
        encoded = encoded.select(id_col, "codes", "cell")
    else:
        encoded = encoded.select(id_col, "codes")
    return _pq_scan_topk(
        encoded, corpus, queries, books,
        k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        round_to=round_to, refine=refine, refine_frac=refine_frac,
        refine_floor=refine_floor, refine_exact_fold=refine_exact_fold,
        n_rows=meta["row_count"], qcells=qcells, q_rows=q_rows,
        residual_centroids=meta["centroids"] if residual else None,
    )


def label_centroids(
    emb: DataFrame,
    group: str = "label",
    vec: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-group embedding centroids as (group, dim, centroid) rows —
    the summary a curation pipeline needs for domain drift monitoring,
    cluster-balanced sampling, and semantic-dedup seeding (and the
    training step of the IVF coarse quantizer, expressed relationally).

    posexplode unpivots each vector to (dim, value) pairs that partial-
    aggregate map-side — the exchange carries one (group, dim, sum,
    count) row per partition, never the exploded corpus. Long output
    (rows, not re-assembled arrays) keeps the result oracle-expressible
    and join-ready; ``array_agg`` the dims back if a vector is needed.

    At 100 TB: explode inflates rows x dim inside the scan stage
    (pipelined, never materialized); the shuffle moves
    #groups x dim x #partitions partial rows — KB-scale."""
    from nginx_analytics_spark.functions.rounding import half_up

    return (
        emb.select(group, F.posexplode(as_double(vec)).alias("dim", "val"))
        .groupBy(group, "dim")
        .agg(half_up(F.avg("val"), round_to).alias("centroid"))
        .withColumn("dim", F.col("dim").cast("bigint"))
    )


def _exact_topk_sets(
    corpus: DataFrame,
    q_rows: list[tuple],
    k: int,
    id_col: str,
    vec_col: str,
    metric: str = "l2",
) -> dict[int, frozenset[int]]:
    """Exact ground-truth neighbor sets for a SMALL query sample — the
    oracle :func:`tune_ann_nprobe` scores sweeps against, in the SAME
    metric the probed index ranks by (``"l2"`` for the PQ/ADC path,
    ``"cosine"`` for the IVF path — cosine and L2 rankings coincide
    only at unit norm, so an L2 oracle under a cosine index would
    mis-score recall on any non-normalized corpus). One Arrow-batched
    matmul pass over the corpus with per-partition per-query top-k
    (the ``_pq_scan_topk`` candidate-cut pattern), then one tiny global
    window: O(sample x corpus) multiplies but only
    O(sample x k x partitions) rows ever shuffle. Self-matches
    excluded; ties break by neighbor id, matching both probe paths."""
    qids = np.array([r[0] for r in q_rows])
    qv = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qnorm = np.einsum("ij,ij->i", qv, qv)

    def _scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            x = np.stack(pdf["_v"].to_numpy())
            xx = np.einsum("ij,ij->i", x, x)
            if metric == "cosine":
                # rank by cosine DESC == negated cosine ASC
                denom = np.maximum(
                    np.sqrt(qnorm)[:, None] * np.sqrt(xx)[None, :], 1e-12
                )
                d = -(qv @ x.T) / denom
            else:
                # |q - x|^2 = |q|^2 - 2 q.x + |x|^2
                d = qnorm[:, None] - 2.0 * (qv @ x.T) + xx[None, :]
            rows = []
            for qi, qid in enumerate(qids):
                mask = ids != qid
                di, ii = d[qi][mask], ids[mask]
                top = np.lexsort((ii, di))[:k]
                rows.append(
                    pd.DataFrame(
                        {"query_id": qid, "neighbor_id": ii[top],
                         "dist": di[top]}
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    cands = corpus.select(
        F.col(id_col), as_double(vec_col).alias("_v")
    ).mapInPandas(_scan, "query_id long, neighbor_id long, dist double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    got = (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    )
    out: dict[int, set[int]] = {}
    for r in got:
        out.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
    return {q: frozenset(s) for q, s in out.items()}


def tune_ann_nprobe(
    spark,
    corpus: DataFrame,
    path: str,
    target_recall: float = 0.6,
    k: int = 5,
    sample_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs=None,
) -> dict:
    """X89: the recall/latency knob, tuned by measurement instead of
    folklore — find the smallest ``nprobe`` whose measured recall@k on
    a deterministic query sample meets ``target_recall``, for an
    at-rest IVF or celled PQ index (sidecar-detected). Every scaling
    probe this repo ran (SCALING.md r9–r13) shows the same law: indexed
    ANN recall tracks the SCAN FRACTION nprobe/n_cells, and the right
    fraction depends on the corpus's geometry — a number an operator
    should measure per index, not copy from a different dataset's
    defaults. This job packages that measurement: sample queries FROM
    the corpus (deterministic crc32 order — re-runs tune identically),
    compute exact ground truth once in the INDEX's own ranking
    metric (one Arrow matmul pass, :func:`_exact_topk_sets` — L2 for
    PQ/ADC, cosine for IVF), then sweep nprobe by DOUBLING and
    binary-search the gap between the last miss and the first hit —
    O(log n_cells) probes instead of n_cells.

    Monotonicity note: probed-cell sets are nested in nprobe, so IVF
    recall (exact scoring within probed cells) is monotone by
    construction; the PQ path's fraction-sized refine makes it
    monotone-in-expectation (a larger candidate pool can displace a
    true neighbor from the ADC shortlist by quantization noise). The
    full sweep lands in the result so the operator sees the measured
    curve, not just the answer — and the result carries a
    ``non_monotone`` flag (r13 ADVICE): True when any measured recall
    DECREASED as nprobe grew, which on the PQ path means the
    doubling/binary-search minimality certificate holds only at the
    probed points (an unprobed smaller nprobe could spike above the
    target); the value below the returned ``nprobe`` is always among
    the probed points by construction (binary search terminates at
    ``hi - lo == 1`` with ``lo`` measured, or at ``nprobe=1``), so
    local minimality is certified either way. On IVF the flag firing
    would indicate a bug, pinned by test.

    Returns ``{"kind", "n_cells", "nprobe", "recall", "met",
    "non_monotone", "scan_fraction", "sweep", "k", "sample_queries",
    "target_recall"}``
    — ``met=False`` reports the full-scan ceiling (nprobe = n_cells)
    when the target is unreachable at this index configuration, which
    is itself the actionable answer (raise m/n_codes or refine_frac,
    not nprobe). Cost: the ground-truth pass is O(sample x corpus)
    multiplies ONCE, each probe costs one production-shaped query
    batch — an offline advisor job, run per index build or after a
    rebuild, exactly like ``jobs recluster-ivf``/``rebuild-pq``
    (CLI: ``jobs tune-ann``)."""
    kind = index_kind(path, fs, ("pq", "ivf"))
    if kind == "pq":
        meta = read_pq_index_meta(path, fs=fs)
        if meta.get("n_cells") is None:
            raise ValueError(
                f"PQ index at {path!r} is flat — nprobe has nothing to "
                "tune; rebuild with pq_write_index(n_cells=...)"
            )
    else:
        meta = read_ivf_index_meta(path, fs=fs)
    if meta["id_col"] != id_col:
        raise ValueError(
            f"index at {path!r} stores ids in column "
            f"{meta['id_col']!r}, not {id_col!r}"
        )
    n_cells = int(meta["n_cells"])

    sample = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.crc32(F.col(id_col).cast("string")), F.col(id_col))
        .limit(int(sample_queries))
    )
    q_rows = sample.select(
        F.col(id_col), as_double(vec_col).alias("qv")
    ).collect()
    if not q_rows:
        raise ValueError("empty corpus — nothing to sample queries from")
    queries = sample.select(
        F.col(id_col).alias("query_id"), F.col(vec_col)
    ).localCheckpoint(eager=True)  # probed O(log n_cells) times
    # ground truth in the metric the probed index RANKS by: the PQ/ADC
    # path scores squared L2, the IVF path exact cosine within probed
    # cells — the two coincide only on unit-norm corpora
    truth = _exact_topk_sets(
        corpus, q_rows, k, id_col, vec_col,
        metric="l2" if kind == "pq" else "cosine",
    )

    def probe(nprobe: int) -> float:
        if kind == "pq":
            out = pq_topk_indexed(
                spark, corpus, queries, path, k=k, id_col=id_col,
                vec_col=vec_col, nprobe=nprobe, fs=fs,
            )
        else:
            out = ivf_topk_bucketed(
                spark, path, None, queries, k=k, id_col=id_col,
                vec_col=vec_col, nprobe=nprobe, fs=fs,
            )
        got: dict[int, set[int]] = {}
        for r in out.collect():
            got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
        hits = sum(
            len(truth[q] & got.get(q, set())) for q in truth
        )
        return hits / max(1, sum(len(truth[q]) for q in truth))

    sweep: list[dict] = []

    def measured(n: int) -> float:
        r = probe(n)
        sweep.append({"nprobe": n, "recall": round(r, 4)})
        return r

    lo, hi, hi_recall = 0, None, None
    n = 1
    while n < n_cells:
        r = measured(n)
        if r >= target_recall:
            hi, hi_recall = n, r
            break
        lo = n
        n *= 2
    if hi is None:
        r = measured(n_cells)
        if r >= target_recall:
            hi, hi_recall = n_cells, r
            lo = min(lo, n_cells - 1)
        else:
            sweep.sort(key=lambda s: s["nprobe"])
            return {
                "kind": kind, "n_cells": n_cells, "nprobe": n_cells,
                "recall": round(r, 4), "met": False,
                "non_monotone": _sweep_non_monotone(sweep),
                "scan_fraction": 1.0, "sweep": sweep, "k": k,
                "sample_queries": len(q_rows),
                "target_recall": target_recall,
            }
    while hi - lo > 1:
        mid = (lo + hi) // 2
        r = measured(mid)
        if r >= target_recall:
            hi, hi_recall = mid, r
        else:
            lo = mid
    sweep.sort(key=lambda s: s["nprobe"])
    return {
        "kind": kind, "n_cells": n_cells, "nprobe": int(hi),
        "recall": round(float(hi_recall), 4), "met": True,
        "non_monotone": _sweep_non_monotone(sweep),
        "scan_fraction": round(hi / n_cells, 4), "sweep": sweep,
        "k": k, "sample_queries": len(q_rows),
        "target_recall": target_recall,
    }


def _sweep_non_monotone(sweep: list[dict]) -> bool:
    """True when any measured recall DECREASED as nprobe grew (the
    sweep list must already be nprobe-sorted) — the r13 ADVICE flag:
    a non-monotone PQ sweep means the tuner's minimality certificate
    holds only at the probed points."""
    return any(
        b["recall"] < a["recall"] for a, b in zip(sweep, sweep[1:])
    )
