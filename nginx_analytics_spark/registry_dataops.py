"""M6 registry: training-data-pipeline queries over documents/embeddings.

Dedup, similarity search, text analysis, and multimodal plumbing
(SURVEY.md §7 M6; BASELINE.json north_star). Registered via the same
``@query`` decorator as the core surface — importing this module populates
:mod:`nginx_analytics_spark.registry`.

Float convention for THIS module: ``floor(x*1e6 + 0.5)/1e6`` on both the
Spark and SQL side instead of ``round`` — Spark's ``round`` rounds the
shortest-decimal representation while DuckDB rounds the binary value, and
they disagree on values like 1/640 whose decimal expansion terminates at
the tie digit. The floor formula is the same IEEE op sequence in both
engines, so parity is structural, not probabilistic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nginx_analytics_spark.functions.rounding import half_up, half_up_sql
from nginx_analytics_spark.operators import (
    aggregates,
    behavior,
    contamination,
    dedup,
    export,
    features,
    frequency,
    graph,
    multimodal,
    packing,
    pii,
    sampling,
    similarity,
    skew,
    temporal,
    text,
)
from nginx_analytics_spark.operators.index_fs import read_sidecar
from nginx_analytics_spark.operators.sampling import portable_frac_sql
from nginx_analytics_spark.registry import query
from nginx_analytics_spark.sources import load_table

JACCARD_THRESHOLD = 0.6
COSINE_DUP_THRESHOLD = 0.4
ANN_K = 5
ANN_QUERY_COUNT = 10  # queries = vec_id < 10


def r6(col: Column) -> Column:
    """Engine-portable 6-dp half-up rounding (functions.rounding.half_up)."""
    return half_up(col, 6)


R6_SQL = "floor(({x}) * 1000000 + 0.5) / 1000000"

# Shared SQL fragments -----------------------------------------------------

_SHINGLES_SQL = """
    SELECT doc_id,
           list_distinct(
               CASE WHEN len(w) >= 3
                    THEN [array_to_string(w[i:i+2], ' ')
                          for i in range(1, len(w) - 1)]
                    ELSE [text] END) AS sh
    FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
"""

_COSINE_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@query(
    "exact_dedup_events",
    """
    SELECT event_id, user_id, event_type
    FROM (
        SELECT event_id, user_id, event_type,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY event_id) AS rn
        FROM events
    ) t
    WHERE rn = 1
    """,
)
def exact_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic survivor choice: first event per
    (user_id, event_type). One shuffle on the dedup key."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    return dedup.exact_dedup(ev, keys=["user_id", "event_type"], order_col="event_id")


@query(
    "minhash_dedup_pairs",
    f"""
    WITH s AS ({_SHINGLES_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {R6_SQL.format(x="len(list_intersect(a.sh, b.sh))::DOUBLE"
                            " / len(list_distinct(list_concat(a.sh, b.sh)))")}
               AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
)
def minhash_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified. The oracle is
    the brute-force O(n²) Jaccard — and ``exact_net=True`` makes the
    engine output equal it BY CONSTRUCTION, not just with probability
    ~1-1e-3: the LSH candidate set (the 100 TB scale path, exercised
    end-to-end) is unioned with the relational exact plan over the same
    shingle frame, whose recall is 1 because any pair with Jaccard > 0
    shares a shingle. A regenerated fixture therefore cannot break this
    gate via banding odds (the r2 fragility note). The pure-LSH operator
    is covered independently by the full-recall property test
    (tests/test_dataops.py)."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # threshold/round_to pushed INTO the operator (r16): with exact_net
    # the output is exactly the relational net — half_up(j, 6) filtered
    # at >= t in-plan is definitionally the r6+filter previously applied
    # here (LSH-verified ∩ net ⊆ net, so the union is the net either
    # way), and the in-plan threshold engages the Jaccard length bound
    # inside the net's co-occurrence join.
    return dedup.minhash_dedup_pairs(
        docs, threshold=JACCARD_THRESHOLD, round_to=6, exact_net=True
    )


@query("minhash_lsh_pairs")  # pure-LSH scale path — recall-tested, rows-only
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benched HEADLINE minhash plan: pure MinHash-LSH near-dup pairs
    (``exact_net=False``) — banded signature self-join prunes the pair
    space, exact Jaccard verifies only candidates. This is the 100 TB
    path: candidate volume is bounded by the bands, no relational
    exact-Jaccard union rides along (that belt-and-suspenders variant is
    ``minhash_dedup_pairs``, kept for the oracle gate where output must
    equal the brute-force answer BY CONSTRUCTION). Recall of the banded
    candidate generation vs the exact pair set is property-tested in
    tests/test_dataops.py; on the fixture the two plans emit identical
    pairs with probability ~1-1e-3 per round."""
    docs = load_table(spark, sf_dir, "documents")
    # threshold/round_to pushed INTO the operator (r16): candidate
    # generation (signatures + banding) is threshold-independent, and
    # half_up(j, 6) >= t on each verified candidate in-plan is
    # definitionally the r6+filter previously applied here.
    return dedup.minhash_dedup_pairs(
        docs, threshold=JACCARD_THRESHOLD, round_to=6, exact_net=False
    )


@query(
    "exact_jaccard_pairs",
    f"""
    WITH s AS ({_SHINGLES_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {R6_SQL.format(x="len(list_intersect(a.sh, b.sh))::DOUBLE"
                            " / len(list_distinct(list_concat(a.sh, b.sh)))")}
               AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
)
def exact_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact word-shingle Jaccard pairs via the relational
    sparse plan (explode shingles, co-occurrence count, arithmetic union)
    — recall 1 by construction, no banding odds. The verification twin of
    minhash_dedup_pairs and the plan the exact_net option unions in."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # threshold/round_to pushed INTO the operator (r16): its output —
    # half_up(j, 6) filtered at >= t — is definitionally the r6+filter
    # this query previously applied outside, and the in-plan threshold
    # lets the Jaccard length bound prune the co-occurrence join.
    return dedup.exact_jaccard_pairs(
        docs, threshold=JACCARD_THRESHOLD, round_to=6
    )


@query(
    "weighted_sample_docs",
    "SELECT source, doc_id, n_chars, CAST(sample_rank AS BIGINT) AS "
    "sample_rank FROM ("
    + sampling.weighted_sample_wor_sql(
        "documents", "doc_id", "n_chars", 20,
        group_col="source", select="source, doc_id, n_chars",
    )
    + ") ORDER BY source, sample_rank",
)
def weighted_sample_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93: weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES, IPL 2006) — 20 documents per source with inclusion
    probability tracking document length, as a pure function of
    (doc_id, n_chars, salt): partition-invariant, engine-portable
    (the hash arithmetic is exact on both engines; ln is the one
    transcendental, same value both sides on this fixture), and
    consistent (the k-sample prefixes the k+m-sample). The quality/
    temperature samplers weight GROUPS; this weights ROWS — the
    missing cell in the sampling matrix a curation pipeline uses for
    importance-weighted corpus draws."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_sample_wor(
        docs.select("source", "doc_id", "n_chars"),
        "doc_id", "n_chars", 20, group_col="source",
    ).select(
        "source", "doc_id", "n_chars",
        F.col("sample_rank").cast("bigint").alias("sample_rank"),
    )


@query(
    "jaccard_pairs_prefix",
    f"""
    WITH s AS ({_SHINGLES_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {R6_SQL.format(x="len(list_intersect(a.sh, b.sh))::DOUBLE"
                            " / len(list_distinct(list_concat(a.sh, b.sh)))")}
               AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
)
def jaccard_pairs_prefix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92: exact threshold-Jaccard pairs via PREFIX FILTERING
    (AllPairs/PPJoin candidate scheme) — the deterministic 100 TB path
    for exact-threshold near-dup mining: only each document's rarest
    ``|d| - ceil(t|d|) + 1`` shingles enter the candidate join (recall
    1 by the prefix theorem, not by banding odds), a length filter
    prunes size-incompatible pairs, and one array_intersect verifies
    each surviving pair exactly once. Hash-matched against the same
    brute-force DuckDB oracle as exact_jaccard_pairs — identical
    output, structurally cheaper plan (the quadratic co-occurrence
    mass sits in the FREQUENT shingles, exactly the ones prefix
    ordering excludes)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs_prefix(
        docs, threshold=JACCARD_THRESHOLD, round_to=6
    )


@query(
    "jaccard_pairs_prefix_capped",
    f"""
    WITH s AS ({_SHINGLES_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {R6_SQL.format(x="len(list_intersect(a.sh, b.sh))::DOUBLE"
                            " / len(list_distinct(list_concat(a.sh, b.sh)))")}
               AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
)
def jaccard_pairs_prefix_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92 with the PPJoin stop-shingle cap engaged (r14 verdict item
    3): shingles above ``max_df`` are excluded from candidate
    generation and the boilerplate-dominated doc tail H is routed to
    the verify stage directly (the rarest-shared-shingle argument in
    the operator docstring keeps recall at exactly 1). The cap SCALES
    WITH THE CORPUS — background-shingle df grows linearly with doc
    count, so an absolute cap that bites at one SF swallows the whole
    corpus at 10× (measured, SCALING.md r15): ``max(3, n_docs/200)``
    keeps H at the genuine boilerplate tail at every scale the driver
    runs. Same brute-force DuckDB oracle as the uncapped twin: the cap
    changes the PLAN's candidate volume, never the answer."""
    docs = load_table(spark, sf_dir, "documents")
    cap = max(3, docs.count() // 200)
    return dedup.jaccard_pairs_prefix(
        docs, threshold=JACCARD_THRESHOLD, round_to=6, max_df=cap
    )


@query("bpe_merges")  # iterative algorithm — not SQL-expressible, rows-only
def bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75: distributed BPE tokenizer training — the iterative merge-
    learning loop (Sennrich 2016) over the documents fixture: corpus
    scanned ONCE into a frequency-weighted vocabulary, then each round
    is one codegen'd pair-weight aggregation + argmax + one Arrow merge
    application; the driver holds only the merge table. Not
    SQL-expressible (driver-coordinated iteration, like dedup_clusters'
    CC loop but with a data-dependent argmax per round) — correctness
    is a golden equivalence test against a sequential reference
    implementation of the same algorithm (tests/test_bpe.py)."""
    from nginx_analytics_spark.operators import bpe

    return bpe.learn_merges(
        load_table(spark, sf_dir, "documents"), n_merges=12
    )


@query("bpe_tokens")  # applies the iterative trainer's table — rows-only
def bpe_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90: APPLY the learned BPE merge table to the corpus — the
    tokenize step between X75's trainer and the packing/export plan,
    so shards can ship token-true lengths instead of whitespace
    approximations. Merges learned inline over the same fixture
    (self-contained, the bpe_merges configuration), then one
    Arrow-batched no-shuffle encode pass with a per-batch word cache
    (Zipf makes the hit rate high). Rank-order application exactly
    reproduces the trainer's final vocabulary segmentation — the
    identity a tokenizer must hold, pinned by tests/test_bpe.py
    against the sequential reference.

    The ``tokens array<string>`` column is projected to a
    space-joined ``token_text`` string: the driver contract's
    canonicalizer hashes pandas columns, and array cells are
    unhashable there (the r13 red row). Space-join is lossless for
    BPE symbols — no learned symbol can contain a space because
    :func:`bpe.word_vocab` pre-tokenizes on spaces, so the
    projection is a bijection on token sequences. The registry-wide
    no-nested-top-level-schema contract test
    (tests/test_registry_contract.py) pins the failure class shut."""
    from nginx_analytics_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe.bpe_encode(docs, bpe.learn_merges(docs, n_merges=12))
    return enc.select(
        "doc_id",
        F.array_join("tokens", " ").alias("token_text"),
        "n_tokens",
    )


# X90's production shape: tokenizers are trained once, applied forever —
# the merge table is a deployment constant, not a per-query fit. This is
# the learn_merges(documents@sf0.001, n_merges=12) output, frozen here so
# the benched registry entry measures the one no-shuffle Arrow encode
# pass (the serving cost) rather than the 12-round trainer. Rank order
# matters; weights are provenance only.
BPE_PRETRAINED_MERGES: list[tuple[str, str]] = [
    ("e", "r</w>"),
    ("o", "w</w>"),
    ("o", "r"),
    ("l", "u"),
    ("i", "n"),
    ("a", "r"),
    ("p", "ar"),
    ("e", "r"),
    ("a", "s"),
    ("t", "o"),
    ("a", "t"),
    ("a", "n</w>"),
]


@query("bpe_tokens_pretrained")  # frozen merge table — rows-only
def bpe_tokens_pretrained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90 (production shape): tokenize the corpus under the FROZEN
    :data:`BPE_PRETRAINED_MERGES` table — the deployment pattern where
    a tokenizer is trained once and applied to every later corpus.
    This is the benchable entry the r13 verdict asked for: its wall is
    exactly one Arrow-batched, no-shuffle ``mapInPandas`` scan with the
    merge table as a closure constant (``bpe_tokens`` stays
    bench-excluded because it retrains inline to remain
    self-contained). Tokens are projected to the space-joined
    ``token_text`` string like ``bpe_tokens`` — scalar-only top-level
    schema per the registry contract."""
    from nginx_analytics_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe.bpe_encode(docs, BPE_PRETRAINED_MERGES)
    return enc.select(
        "doc_id",
        F.array_join("tokens", " ").alias("token_text"),
        "n_tokens",
    )


@query(
    "doc_chunks",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    k AS (
        SELECT doc_id, w, n,
               1 + greatest(0, (n - 64 + 47) // 48) AS n_chunks
        FROM t
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(len(w[i * 48 + 1 : i * 48 + 64]) AS BIGINT) AS n_tokens,
           array_to_string(w[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
    FROM k, unnest([x for x in range(0, n_chunks)]) AS u(i)
    """,
)
def doc_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76: overlapping token-window chunking (chunk 64, overlap 16 ->
    stride 48) — retrieval/context-window preparation; one shuffle-free
    explode inside the scan stage (operators.packing.overlap_chunks)."""
    from nginx_analytics_spark.operators.packing import overlap_chunks

    return overlap_chunks(
        load_table(spark, sf_dir, "documents"), chunk_size=64, overlap=16
    )


# X69 split: the trailing ~10% of the portable hash space plays the
# incoming batch; the rest is the indexed corpus.
_INCR_NEW_FRAC = 0.9
_INCR_SALT = 13


def _incr_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(new_batch, corpus) — the deterministic X69 fixture split."""
    docs = load_table(spark, sf_dir, "documents")
    frac = sampling.portable_frac("doc_id", salt=_INCR_SALT)
    return docs.filter(frac >= _INCR_NEW_FRAC), docs.filter(frac < _INCR_NEW_FRAC)


def _staged_index(
    sf_dir: str, table: str, family_key: str, validate, build
) -> str:
    """Stage (or reuse) an at-rest index derived from one fixture table
    and return its path — the shared mechanics of the X69 LSH staging
    (generalized in r11 so the IVF at-rest index reuses the identical
    contract instead of duplicating it). Concurrency/tenancy contract
    (r5 ADVICE):

      * the staging ROOT is per-user (``nas_lsh_uid<uid>``, mode 0700)
        and its ownership is verified, so another local user cannot
        pre-create/squat the path;
      * the index is keyed by (``family_key`` — fixture dir + build
        parameters — and the source ``table`` parquet's size+mtime
        fingerprint) and PUBLISHED ATOMICALLY — built under a per-pid
        scratch name, then ``os.rename``d into place. Readers only ever
        see a complete index + meta sidecar; concurrent builders race
        on the rename and the loser discards its scratch copy. This
        replaces the r5 fixed overwrite-in-place path whose
        overwrite-vs-read window could fail a concurrent
        pytest/driver/bench run.
      * reuse is sound because the index is a pure deterministic
        function of (source rows, parameters), and the FILE FINGERPRINT
        in the key makes a regenerated fixture at the same path a cache
        MISS — without it a stale index would be probed against the old
        corpus's contents and silently lose recall, the exact failure
        mode the meta sidecars guard against for parameter drift (r6
        review finding).
      * crash hygiene: scratch dirs older than an hour are reaped on
        entry (a builder killed mid-build otherwise leaks a full index
        under /tmp forever; the age bound keeps a LIVE concurrent
        builder's scratch safe).

    The one-time BUILD amortizes across every later probe — exactly the
    production shape, where the corpus index lives at rest and each
    incoming batch/query pays only its own probe.

    ``validate(idx_path)`` must return normally for a reusable
    published index and raise FileNotFoundError/ValueError otherwise
    (the meta-sidecar readers do exactly this); ``build(idx_path)``
    materializes the index at the given scratch path."""
    import hashlib
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"nas_lsh_uid{os.getuid()}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"index staging root {root!r} is owned by uid {st.st_uid}, not "
            f"{os.getuid()} — refusing to stage into a foreign directory"
        )
    try:
        st_src = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
        fingerprint = f"{st_src.st_size}:{st_src.st_mtime_ns}"
    except OSError:
        fingerprint = "nofile"
    # Two-part tag (r6 ADVICE): the FAMILY prefix hashes everything
    # stable across fixture regenerations (fixture dir, index kind,
    # build parameters); the suffix hashes the source parquet's
    # size+mtime fingerprint. A regenerated fixture is still a cache
    # MISS (new suffix), but the stale published index is now
    # IDENTIFIABLE — it shares the family prefix — and is reaped below
    # instead of orphaning a full corpus index under /tmp forever.
    family = hashlib.sha1(family_key.encode()).hexdigest()[:8]
    tag = f"{family}-{hashlib.sha1(fingerprint.encode()).hexdigest()[:12]}"
    final = os.path.join(root, tag)
    idx = os.path.join(final, "idx")
    try:
        validate(idx)
        return idx  # pre-staged and parameter-validated: reuse
    except (FileNotFoundError, ValueError):
        pass
    import time as _time

    for d in os.listdir(root):
        p = os.path.join(root, d)
        try:
            stale = _time.time() - os.stat(p).st_mtime > 3600
            if d.startswith(f"{family}-") and d != tag and stale:
                # same fixture+params, dead fingerprint: the parquet it
                # indexed was replaced. Age-gated like every other reap
                # (r7 review): a process that staged against the OLD
                # fixture state may still be mid-probe over these files;
                # an hour bounds the orphan's life without racing a
                # live reader.
                shutil.rmtree(p, ignore_errors=True)
            elif stale and (d.startswith(".build-") or "-" not in d):
                # crash-orphaned scratch (.build-*) and pre-r7
                # single-hash published dirs, same age bound
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    scratch = os.path.join(root, f".build-{tag}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    build(os.path.join(scratch, "idx"))
    try:
        os.rename(scratch, final)
    except OSError:
        # a concurrent builder published first; its copy is equivalent
        shutil.rmtree(scratch, ignore_errors=True)
    return idx


def _staged_lsh_index(
    corpus: DataFrame, sf_dir: str, split: bool = False
) -> str:
    """Stage (or reuse) the corpus LSH index for the X69 queries
    (mechanics: :func:`_staged_index`). ``split=True`` stages the X79
    variant: the index is built INCREMENTALLY — write_lsh_index over
    the first ~half of the corpus, then append_lsh_index folds in the
    rest — exercising the index-maintenance path end-to-end while
    remaining content-identical to the one-shot build (append only adds
    files)."""
    kind = "split" if split else "full"

    def build(idx: str) -> None:
        if split:
            half = sampling.portable_frac("doc_id", salt=_INCR_SALT) < F.lit(0.45)
            dedup.write_lsh_index(corpus.filter(half), idx)
            dedup.append_lsh_index(corpus.filter(~half), idx)
        else:
            dedup.write_lsh_index(corpus, idx)

    # The indexed ROW SET is corpus_docs = the _incr_split slice, so the
    # split constants belong in the key: changing _INCR_SALT or
    # _INCR_NEW_FRAC changes which docs the index covers, and a warm
    # cache keyed without them would silently probe a stale corpus
    # (r11 review — the same drift mode the parameter part guards).
    return _staged_index(
        sf_dir,
        "documents",
        # LSH_INDEX_FORMAT in the key: a staged pre-v2 index (no size
        # payload) must rebuild, not get probed into a loud meta error
        f"{sf_dir}|{kind}|n3|h{dedup.NUM_HASHES}|r{dedup.ROWS_PER_BAND}"
        f"|salt{_INCR_SALT}|nf{_INCR_NEW_FRAC}|{dedup.LSH_INDEX_FORMAT}",
        lambda p: read_sidecar(p, "lsh"),
        build,
    )


# ann_ivf_topk's exact fit configuration — the at-rest/in-memory row
# identity asserted in tests requires the two paths to share it.
_IVF_INDEX_CELLS = 16
_IVF_SEED = 42
_IVF_MAX_ITER = 8
_IVF_SAMPLE_CAP = 4096


def _staged_ivf_index(emb: DataFrame, sf_dir: str) -> str:
    """Stage (or reuse) the at-rest IVF index for ``ann_ivf_indexed``
    (mechanics: :func:`_staged_index`): the embeddings corpus written
    cell-partitioned with the layout-invariant centroids in the
    validated ``_ivf_meta.json`` sidecar (similarity.ivf_write_bucketed).
    Fit determinism (ivf_centroids is a pure function of the row
    multiset) is what makes the cache key sound — same fixture, same
    parameters, same index, bit for bit. Every fit parameter the build
    passes appears in the family key FROM THE SAME CONSTANTS (r11
    review: literals that merely mirror defaults would let a future
    default change silently reuse stale cached centroids — the exact
    parameter-drift mode the key exists to prevent)."""

    def build(idx: str) -> None:
        similarity.ivf_write_bucketed(
            emb,
            idx,
            n_cells=_IVF_INDEX_CELLS,
            seed=_IVF_SEED,
            max_iter=_IVF_MAX_ITER,
            sample_cap=_IVF_SAMPLE_CAP,
        )

    # v2: the index rows gained the adist column and the sidecar the
    # build-time mean (drift monitor) — older cached layouts must miss.
    return _staged_index(
        sf_dir,
        "embeddings",
        f"{sf_dir}|ivf-v2|c{_IVF_INDEX_CELLS}|s{_IVF_SEED}"
        f"|i{_IVF_MAX_ITER}|cap{_IVF_SAMPLE_CAP}",
        similarity.read_ivf_index_meta,
        build,
    )


_INCR_NEAR_DUPS_SQL = f"""
    WITH s AS ({_SHINGLES_SQL}),
    tagged AS (
        SELECT doc_id, sh,
               {portable_frac_sql("doc_id", _INCR_SALT)} >= {_INCR_NEW_FRAC}
                   AS is_new
        FROM s
    )
    SELECT a.doc_id AS new_id, b.doc_id AS old_id,
           {R6_SQL.format(x="len(list_intersect(a.sh, b.sh))::DOUBLE"
                            " / len(list_distinct(list_concat(a.sh, b.sh)))")}
               AS jaccard
    FROM tagged a JOIN tagged b ON a.is_new AND NOT b.is_new
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """


@query("incremental_near_dups", _INCR_NEAR_DUPS_SQL)
def incremental_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69: incremental NEAR-dup of an incoming batch against an
    at-rest LSH signature index — the operational sibling of X43's
    exact-key increment. Each run stages the corpus index
    (write_lsh_index: banded MinHash keys partitioned by band), signs
    ONLY the batch, probes the index (three longs per band-row — a
    fraction of a percent of the text it stands for), and
    exact-verifies candidates with the corpus TEXT scan
    semi-join-pruned to matches — per-batch cost scales with the batch
    and its collision volume, never the corpus. exact_net=True (the
    minhash_dedup_pairs contract) makes the output equal the
    brute-force cross-set Jaccard BY CONSTRUCTION, so the oracle is
    exact while the at-rest probe path executes end-to-end; the
    pure-LSH probe is property-tested (subset + recall) in
    tests/test_dataops.py. BENCH-EXCLUDED (r5 verdict item 2): the
    exact_net union is the oracle-gate verification twin — benching it
    measures the brute-force net, not the engine; the benched headline
    is ``incremental_near_dups_probe`` below, the same split as
    minhash_dedup_pairs (oracle) vs minhash_lsh_pairs (bench)."""
    new_docs, corpus = _incr_split(spark, sf_dir)
    index_path = _staged_lsh_index(corpus, sf_dir)
    # threshold/round_to pushed INTO the operator (r16): with exact_net
    # the output is exactly the cross relational net (verified ⊆ net),
    # and half_up(j, 6) >= t in-plan is definitionally the r6+filter
    # previously applied here; the in-plan threshold engages the cross
    # net's Jaccard length bound.
    return dedup.incremental_near_dups(
        spark, new_docs, corpus, index_path,
        threshold=JACCARD_THRESHOLD, round_to=6, exact_net=True,
    )


@query("incremental_jaccard_prefix", _INCR_NEAR_DUPS_SQL)
def incremental_jaccard_prefix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94: exact cross-set threshold-Jaccard of the incoming batch
    against the standing corpus via prefix filtering — the
    deterministic exact-threshold member of the incremental trilogy:
    incremental_near_dups(_probe) is the banded at-rest probe (recall
    = banding odds), its exact_net twin the brute-force oracle gate,
    and this the 100 TB path when banding odds are not acceptable:
    recall 1 by the prefix theorem under the union-df shared order,
    candidate work confined to the rarest shingles of each side's
    prefixes, one array_intersect per surviving candidate. Same split
    constants and the SAME brute-force DuckDB cross oracle as
    incremental_near_dups — identical output, structurally cheaper
    plan (the self-join twin's r14 crossover measurements carry over;
    the cross form's volumes are in SCALING.md r15)."""
    new_docs, corpus = _incr_split(spark, sf_dir)
    return dedup.jaccard_pairs_prefix_cross(
        new_docs, corpus, threshold=JACCARD_THRESHOLD, round_to=6
    )


def _staged_prefix_index(corpus: DataFrame, sf_dir: str) -> str:
    """Stage (or reuse) the X94 exact prefix index over the corpus
    slice (mechanics: :func:`_staged_index`). The frozen hash order
    makes the build a pure function of the row set and (threshold,
    shingle_n), so the cache key is sound; split constants are in the
    key for the same reason as :func:`_staged_lsh_index`."""

    def build(idx: str) -> None:
        dedup.write_prefix_index(
            corpus, idx, threshold=JACCARD_THRESHOLD, shingle_n=3
        )

    # v2: the frozen order gained the sidecar frequent tail
    # (order=frozen-df-v1) — v1 hash-order layouts must miss
    return _staged_index(
        sf_dir,
        "documents",
        f"{sf_dir}|prefix-v3|t{JACCARD_THRESHOLD}|n3"
        f"|k{dedup.PREFIX_FREQ_TOP_K}|m{dedup.PREFIX_FREQ_MIN_DF}"
        f"|salt{_INCR_SALT}|nf{_INCR_NEW_FRAC}",
        lambda p: read_sidecar(p, "prefix"),
        build,
    )


@query("incremental_jaccard_prefix_probe", _INCR_NEAR_DUPS_SQL)
def incremental_jaccard_prefix_probe_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X94 headline: the pure per-batch EXACT probe — sign only the
    batch under the frozen hash order (a batch-local window; the
    corpus-side ordering was paid once at index build, staged at rest
    like the X69 LSH index), band-join the at-rest prefix rows, exact-
    verify candidates with the corpus text semi-join-pruned to them.
    Per-batch cost scales with the batch and its collision volume,
    never the corpus — the X69 recurrence at the EXACTNESS tier:
    unlike incremental_near_dups_probe (recall = banding odds,
    rows-only driver row), this probe's recall is 1 by the prefix
    theorem, so it hash-matches the same brute-force cross oracle
    DIRECTLY, no exact_net union needed."""
    new_docs, corpus = _incr_split(spark, sf_dir)
    index_path = _staged_prefix_index(corpus, sf_dir)
    return dedup.incremental_jaccard_prefix_probe(
        spark, new_docs, corpus, index_path,
        threshold=JACCARD_THRESHOLD, round_to=6,
    )


# X99 cap tuner: the candidate caps swept by the registered report
# (fixture shingle df tops out ~7 at sf0.01, ~30 at sf0.1 — the sweep
# straddles both so light/heavy both move at every SF).
_CAPS = (2, 3, 4, 8, 16, 32)
_T_CAND = JACCARD_THRESHOLD - 0.5e-6
_CAP_REPORT_SQL = f"""
    WITH s AS ({{shingles}}),
    g0 AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM s),
    dfc AS (SELECT g, count(*) AS df FROM g0 GROUP BY g),
    o AS (SELECT g0.doc_id, g0.g, dfc.df,
          row_number() OVER (PARTITION BY g0.doc_id
                             ORDER BY dfc.df ASC, g0.g ASC) AS pos,
          g0.n - ceil({_T_CAND!r} * g0.n - 1e-9) + 1 AS plen
          FROM g0 JOIN dfc USING (g)),
    p AS (SELECT doc_id, g, df FROM o WHERE pos <= plen),
    caps(cap) AS (VALUES {", ".join(f"({c})" for c in _CAPS)}),
    per_g AS (SELECT g, count(*) AS occ, any_value(df) AS df
              FROM p GROUP BY g),
    light AS (SELECT cap, CAST(sum((occ*(occ-1))//2) AS BIGINT) AS light_rows
              FROM caps, per_g WHERE df <= cap GROUP BY cap),
    per_doc AS (SELECT doc_id, max(df) AS mx FROM p GROUP BY doc_id),
    heavy AS (SELECT cap, count(*) AS heavy_docs
              FROM caps, per_doc WHERE mx > cap GROUP BY cap)
    SELECT c.cap::BIGINT AS cap,
           coalesce(l.light_rows, 0)::BIGINT AS light_rows,
           coalesce(h.heavy_docs, 0)::BIGINT AS heavy_docs,
           CAST((coalesce(h.heavy_docs,0)*(coalesce(h.heavy_docs,0)-1))//2
                AS BIGINT) AS heavy_rows,
           CAST(coalesce(l.light_rows,0)
                + (coalesce(h.heavy_docs,0)*(coalesce(h.heavy_docs,0)-1))//2
                AS BIGINT) AS total_rows
    FROM caps c LEFT JOIN light l USING (cap) LEFT JOIN heavy h USING (cap)
"""


# X95 paragraph decomposition, shared by both modes' oracles. The
# synthetic fixture text has no newline structure, so the registered
# queries segment on a frequent token (production uses sep="\n"); at
# sf0.01 ~11% of segments are cross-doc duplicates, so both modes cut.
_PARA_SEP = " the "
_PARA_SQL_BASE = f"""
    WITH p AS (
        SELECT doc_id, trim(arr[pos]) AS para, pos
        FROM (SELECT doc_id, string_split(text, '{_PARA_SEP}') AS arr
              FROM documents) t,
             LATERAL (SELECT unnest(generate_series(1, len(arr))) AS pos) u
        WHERE length(trim(arr[pos])) >= 1
    ), k AS (
        SELECT doc_id, para, pos, {{keep}} AS keep
        FROM ({{scored}})
    ), agg AS (
        SELECT doc_id,
               string_agg(CASE WHEN keep THEN para END, '{_PARA_SEP}'
                          ORDER BY pos) AS clean_text,
               count(*) FILTER (keep) AS n_kept,
               count(*) AS n_orig
        FROM k GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_kept, 0)::BIGINT AS n_kept,
           (coalesce(a.n_orig, 0) - coalesce(a.n_kept, 0))::BIGINT
               AS n_removed
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""

_PARA_FIRST_SQL = _PARA_SQL_BASE.format(
    scored="SELECT doc_id, para, pos, row_number() OVER "
    "(PARTITION BY para ORDER BY doc_id, pos) AS rn FROM p",
    keep="rn = 1",
)
_PARA_DF_SQL = _PARA_SQL_BASE.format(
    scored="SELECT doc_id, para, pos, count(DISTINCT doc_id) OVER "
    "(PARTITION BY para) AS df FROM p",
    keep="df <= 2",
)


@query(
    "prefix_cap_report", _CAP_REPORT_SQL.format(shingles=_SHINGLES_SQL)
)
def prefix_cap_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99: the stop-shingle cap tuner — for each candidate max_df it
    computes EXACTLY the candidate-stage volumes the capped X92 plan
    would generate (light per-shingle join mass, the boilerplate-
    dominated tail |H|, its direct product, and the total to minimize)
    from one pass over the join's own prefix frame. The df 'skew
    report' made actionable, and itself driver-verified: same
    arithmetic in the DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.suggest_max_df(
        docs, list(_CAPS), threshold=JACCARD_THRESHOLD, round_to=6
    )


@query("paragraph_dedup_docs", _PARA_FIRST_SQL)
def paragraph_dedup_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95 mode="first" (the Dolma paragraph-dedup semantics): a
    segment occurring in several documents survives only at its first
    (doc, pos) occurrence — the sub-document granularity whole-doc
    dedup cannot reach (documents sharing most paragraphs without
    being equal) — and documents reassemble from their surviving
    segments in original order, never losing rows. All-JVM plan: one
    explode, combine-friendly min-struct agg keyed by the paragraph
    string, join back, per-doc ordered reassembly."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.paragraph_dedup(docs, sep=_PARA_SEP, mode="first")


@query("boilerplate_strip_docs", _PARA_DF_SQL)
def boilerplate_strip_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95 mode="df" (the CCNet duplicated-line strip): segments
    occurring in more than max_df=2 documents are boilerplate and are
    cut from ALL documents — the pass that removes nav bars, footers
    and cookie banners wholesale, where keep-first dedup would leave
    one stranded copy. Same decomposition and reassembly as the
    keep-first twin; the df agg's map-side combine absorbs the
    boilerplate key skew."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.paragraph_dedup(docs, sep=_PARA_SEP, mode="df", max_df=2)


# X96 ExactSubstr window length for the registered query: the fixture's
# near-dup documents share long token runs (~18% of 20-token windows
# repeat at sf0.01); the paper's 50 stays the API default.
_SUBSTR_W = 20
_SUBSTR_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
    w AS (SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+{_SUBSTR_W}],' ') AS win
          FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks)-{_SUBSTR_W})) AS i)
          WHERE len(toks) >= {_SUBSTR_W}),
    rep AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
    hit AS (SELECT w.doc_id, w.pos, w.pos + {_SUBSTR_W} - 1 AS e
            FROM w SEMI JOIN rep USING (win)),
    isl0 AS (SELECT doc_id, pos, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pmax
             FROM hit),
    isl1 AS (SELECT doc_id, pos, e,
             sum(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS isl
             FROM isl0),
    ivs AS (SELECT doc_id, min(pos) AS s, max(e) AS e
            FROM isl1 GROUP BY doc_id, isl),
    tok AS (SELECT doc_id, idx, toks[idx+1] AS tk FROM t,
            LATERAL (SELECT unnest(generate_series(0, len(toks)-1)) AS idx)),
    keep AS (SELECT tok.doc_id, idx, tk FROM tok
             WHERE NOT EXISTS (SELECT 1 FROM ivs
                               WHERE ivs.doc_id = tok.doc_id
                                 AND idx BETWEEN ivs.s AND ivs.e)),
    agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY idx) AS clean_text,
                   count(*) AS n_kept FROM keep GROUP BY doc_id)
    SELECT d.doc_id, coalesce(a.clean_text,'') AS clean_text,
           coalesce(a.n_kept,0)::BIGINT AS n_tokens_kept,
           (len(string_split(d.text,' ')) - coalesce(a.n_kept,0))::BIGINT
               AS n_tokens_removed
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@query("exact_substring_dedup_docs", _SUBSTR_SQL)
def exact_substring_dedup_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96: ExactSubstr dedup (Lee et al. 2022) — every token span
    occurring more than once in the corpus is cut from EVERY document
    (the paper's remove-all-occurrences finding), at span granularity:
    the tier between paragraph dedup (needs separator structure) and
    whole-doc near-dedup. Stride-1 windows of W tokens mark repeated
    runs exactly (a repeated run >= W is a union of repeated windows);
    gaps-and-islands merges hits into maximal spans; docs rebuild from
    the complement. Hash-matched against the full windowed/island
    DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_substring_dedup(docs, window_tokens=_SUBSTR_W)


_PARASEEN_SQL = f"""
    WITH seg AS (
        SELECT doc_id, trim(arr[pos]) AS para, pos,
               {portable_frac_sql("doc_id", _INCR_SALT)} >= {_INCR_NEW_FRAC}
                   AS is_new
        FROM (SELECT doc_id, string_split(text, '{_PARA_SEP}') AS arr
              FROM documents) t,
             LATERAL (SELECT unnest(generate_series(1, len(arr))) AS pos) u
        WHERE length(trim(arr[pos])) >= 1
    ), corp AS (SELECT DISTINCT para FROM seg WHERE NOT is_new),
    b AS (SELECT doc_id, para, pos FROM seg WHERE is_new),
    k AS (
        SELECT doc_id, para, pos,
               para NOT IN (SELECT para FROM corp)
               AND row_number() OVER (PARTITION BY para
                                      ORDER BY doc_id, pos) = 1 AS keep
        FROM b
    ), agg AS (
        SELECT doc_id,
               string_agg(CASE WHEN keep THEN para END, '{_PARA_SEP}'
                          ORDER BY pos) AS clean_text,
               count(*) FILTER (keep) AS n_kept,
               count(*) AS n_orig
        FROM k GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_kept, 0)::BIGINT AS n_kept,
           (coalesce(a.n_orig, 0) - coalesce(a.n_kept, 0))::BIGINT
               AS n_removed
    FROM (SELECT doc_id FROM documents
          WHERE {portable_frac_sql("doc_id", _INCR_SALT)}
                >= {_INCR_NEW_FRAC}) d
    LEFT JOIN agg a USING (doc_id)
"""


def _staged_paraseen_store(corpus: DataFrame, sf_dir: str) -> str:
    """Stage (or reuse) the X97 seen-paragraph store over the corpus
    slice (mechanics: :func:`_staged_index`; split constants in the
    key for the :func:`_staged_lsh_index` reason)."""

    def build(idx: str) -> None:
        dedup.write_paraseen_store(corpus, idx, sep=_PARA_SEP)

    return _staged_index(
        sf_dir,
        "documents",
        f"{sf_dir}|paraseen-v1|m1|salt{_INCR_SALT}|nf{_INCR_NEW_FRAC}",
        lambda p: read_sidecar(p, "paraseen"),
        build,
    )


@query("incremental_paragraph_dedup_docs", _PARASEEN_SQL)
def incremental_paragraph_dedup_docs_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X97: X95's keep-first paragraph dedup extended ACROSS batches —
    the way a streaming ingest runs it (the X43 exact-doc ledger's
    sub-document sibling): a paragraph survives only at its first
    occurrence ever, across the already-ingested corpus (anti-join
    against the at-rest 8-byte-key seen store — staged once per
    fixture, the recurring probe never re-reads corpus text) and
    within the batch. update_store=False here: the driver runs the
    query repeatedly and the comparison must be idempotent; the ingest
    loop's call site flips it on. Exact up to 64-bit hash equality —
    tighter than the published streaming equivalent (Dolma keys a
    Bloom filter, which false-positives by design)."""
    new_docs, corpus = _incr_split(spark, sf_dir)
    store = _staged_paraseen_store(corpus, sf_dir)
    return dedup.incremental_paragraph_dedup(
        spark, new_docs, store, sep=_PARA_SEP, update_store=False
    )


_WINSEEN_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text,' ') AS toks,
               {portable_frac_sql("doc_id", _INCR_SALT)} >= {_INCR_NEW_FRAC}
                   AS is_new
               FROM documents),
    w AS (SELECT doc_id, is_new, i AS pos,
                 array_to_string(toks[i+1:i+{_SUBSTR_W}],' ') AS win
          FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks)-{_SUBSTR_W})) AS i)
          WHERE len(toks) >= {_SUBSTR_W}),
    corp AS (SELECT DISTINCT win FROM w WHERE NOT is_new),
    hit AS (SELECT w.doc_id, w.pos, w.pos + {_SUBSTR_W} - 1 AS e
            FROM w SEMI JOIN corp USING (win) WHERE w.is_new),
    isl0 AS (SELECT doc_id, pos, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pmax
             FROM hit),
    isl1 AS (SELECT doc_id, pos, e,
             sum(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS isl
             FROM isl0),
    ivs AS (SELECT doc_id, min(pos) AS s, max(e) AS e
            FROM isl1 GROUP BY doc_id, isl),
    tok AS (SELECT doc_id, idx, toks[idx+1] AS tk FROM t,
            LATERAL (SELECT unnest(generate_series(0, len(toks)-1)) AS idx)
            WHERE is_new),
    keep AS (SELECT tok.doc_id, idx, tk FROM tok
             WHERE NOT EXISTS (SELECT 1 FROM ivs
                               WHERE ivs.doc_id = tok.doc_id
                                 AND idx BETWEEN ivs.s AND ivs.e)),
    agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY idx) AS clean_text,
                   count(*) AS n_kept FROM keep GROUP BY doc_id)
    SELECT t.doc_id, coalesce(a.clean_text,'') AS clean_text,
           coalesce(a.n_kept,0)::BIGINT AS n_tokens_kept,
           (len(t.toks) - coalesce(a.n_kept,0))::BIGINT
               AS n_tokens_removed
    FROM t LEFT JOIN agg a USING (doc_id)
    WHERE t.is_new
"""


def _staged_winseen_store(corpus: DataFrame, sf_dir: str) -> str:
    """Stage (or reuse) the X101 seen-window store over the corpus
    slice (mechanics: :func:`_staged_index`)."""

    def build(idx: str) -> None:
        dedup.write_winseen_store(corpus, idx, window_tokens=_SUBSTR_W)

    return _staged_index(
        sf_dir,
        "documents",
        f"{sf_dir}|winseen-v1|w{_SUBSTR_W}|salt{_INCR_SALT}|nf{_INCR_NEW_FRAC}",
        lambda p: read_sidecar(p, "winseen"),
        build,
    )


@query("incremental_exact_substring_docs", _WINSEEN_SQL)
def incremental_exact_substring_docs_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X101: span-level dedup extended ACROSS batches — the
    incremental trilogy's last granularity tier (X43 exact-doc, X97
    paragraph, now W-token spans): every batch span already present in
    the ingested corpus is cut via one semi-join of the batch's 8-byte
    window keys against the at-rest seen-window store (staged once per
    fixture; the recurring probe never re-reads corpus text).
    Keep-first across batches — the streaming-shaped counterpart of
    X96's batch-global remove-all-occurrences. update_store=False
    here: the driver runs the query repeatedly and the comparison must
    be idempotent; the ingest call site flips it on. Oracle: the X96
    windowed/island machinery with the repeated-predicate replaced by
    a semi-join against the corpus slice's distinct window set."""
    new_docs, corpus = _incr_split(spark, sf_dir)
    store = _staged_winseen_store(corpus, sf_dir)
    return dedup.incremental_exact_substring_dedup(
        spark, new_docs, store, window_tokens=_SUBSTR_W, update_store=False
    )


@query("incremental_near_dups_probe")  # pure-LSH probe: recall is banding
# odds (property-tested >= the 16x2 banding curve), so no exact SQL twin —
# rows-only driver check, precision-1 by construction (exact verify stage).
def incremental_near_dups_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69 headline: the PURE per-batch probe path — the recurring cost a
    capacity planner provisions for (r5 verdict item 2; the r5 bench
    entry measured the one-time index build + the exact_net oracle gate
    instead). The corpus index is pre-staged at rest (_staged_lsh_index;
    built on first touch per fixture, reused after — bench best-of-N
    therefore reports the warm path); per run this executes ONLY:

      1. sign the incoming batch (trailing 10% of the hash space);
      2. band-join its keys against the at-rest index (partition-pruned
         by band_idx, row-group-pruned by the sorted band_hash);
      3. exact-verify candidates, corpus text semi-join-pruned to them.

    Cost scales with the batch and its collision volume, never the
    corpus — the 100 TB contract. Output pairs are exact-verified
    (precision 1, production threshold); recall vs the exact cross-set
    oracle is the documented 16x2 banding curve, property-tested in
    tests/test_dataops.py alongside the probe-subset invariant."""
    new_docs, corpus = _incr_split(spark, sf_dir)
    index_path = _staged_lsh_index(corpus, sf_dir)
    return dedup.incremental_near_dups(
        spark, new_docs, corpus, index_path,
        threshold=JACCARD_THRESHOLD, exact_net=False,
    ).select("new_id", "old_id", "jaccard")


@query("dedup_ingest_roundtrip")  # rows-only: side-effecting streaming
# loop (corpus + index writes); every stage is deterministic, and the
# per-path semantics are pinned by tests/test_streaming_jobs.py
def dedup_ingest_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80 end-to-end: the streaming dedup-ingest loop over the fixture —
    the documents table split into two deterministic micro-batches
    (doc_id parity, maxFilesPerTrigger=1), each batch exact-deduped,
    near-deduped within itself, probed against the at-rest LSH index,
    and its admissions appended to corpus + index (X69 probe + X79
    append inside foreachBatch; streaming/dedup_ingest.py). Returns one
    row per batch (batch_id, n_in, n_novel) plus a final corpus-count
    row — the admission telemetry a dedup gate monitors. The second
    batch's novel count is depressed exactly by its cross-parity
    near-dups, proving the index round-trip on fixture data."""
    import os
    import shutil
    import tempfile

    from nginx_analytics_spark.streaming.dedup_ingest import start_dedup_ingest

    work = tempfile.mkdtemp(prefix="nas_dedup_ingest_")
    try:
        src = f"{work}/src"
        os.makedirs(src)
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for i, half in enumerate(
            (docs.filter(F.col("doc_id") % 2 == 0),
             docs.filter(F.col("doc_id") % 2 == 1))
        ):
            batch_dir = f"{work}/stage{i}"
            half.coalesce(1).write.mode("overwrite").parquet(batch_dir)
            part = next(
                f for f in os.listdir(batch_dir) if f.endswith(".parquet")
            )
            dest = f"{src}/batch{i}.parquet"
            shutil.move(f"{batch_dir}/{part}", dest)
            os.utime(dest, (1700000000 + i * 60, 1700000000 + i * 60))
        seen: list[tuple[int, int, int]] = []
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = start_dedup_ingest(
            stream, f"{work}/corpus", f"{work}/idx", f"{work}/ckpt",
            threshold=JACCARD_THRESHOLD,
            trigger={"availableNow": True},
            on_batch=lambda bid, n_in, n_novel, lock_wait: seen.append(
                (bid, n_in, n_novel)
            ),
        )
        q.awaitTermination()
        n_corpus = spark.read.parquet(f"{work}/corpus").count()
        rows = [(int(b), int(n), int(v)) for b, n, v in sorted(seen)]
        rows.append((-1, n_corpus, n_corpus))
        return spark.createDataFrame(
            rows, "batch_id bigint, n_in bigint, n_novel bigint"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("embedding_ingest_roundtrip")  # rows-only: side-effecting
# streaming loop (corpus + SRP index writes); every stage is
# deterministic, and the per-path semantics are pinned by
# tests/test_streaming_jobs.py (3-batch path, exactly-once retry)
def embedding_ingest_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85 end-to-end: the streaming SEMANTIC dedup-ingest loop over the
    fixture — the embeddings table split into two deterministic
    micro-batches (vec_id parity, maxFilesPerTrigger=1), each batch
    exact-deduped (bit-identical vectors), near-deduped within itself
    (SRP-LSH + Arrow cosine verify), probed against the at-rest SRP
    index (X84), and its admissions appended to corpus + index inside
    foreachBatch (streaming/dedup_ingest.py's one loop, run with the
    EMBEDDING modality). Returns one row per batch (batch_id, n_in,
    n_novel) plus a final corpus-count row. The threshold is the X84
    fixture setting (0.4 — the fixture's near-dups live at cosine
    0.40-0.55), so the second batch's novel count is depressed exactly
    by its cross-parity semantic near-dups, proving the index
    round-trip on fixture data."""
    import os
    import shutil
    import tempfile

    from dataclasses import replace

    from nginx_analytics_spark.streaming.dedup_ingest import (
        EMBEDDING,
        start_dedup_ingest,
    )

    work = tempfile.mkdtemp(prefix="nas_emb_ingest_")
    try:
        src = f"{work}/src"
        os.makedirs(src)
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        for i, half in enumerate(
            (emb.filter(F.col("vec_id") % 2 == 0),
             emb.filter(F.col("vec_id") % 2 == 1))
        ):
            batch_dir = f"{work}/stage{i}"
            half.coalesce(1).write.mode("overwrite").parquet(batch_dir)
            part = next(
                f for f in os.listdir(batch_dir) if f.endswith(".parquet")
            )
            dest = f"{src}/batch{i}.parquet"
            shutil.move(f"{batch_dir}/{part}", dest)
            os.utime(dest, (1700000000 + i * 60, 1700000000 + i * 60))
        seen: list[tuple[int, int, int]] = []
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        modality = replace(
            EMBEDDING,
            sign={"n_planes": _SRP_PLANES, "bands": _SRP_BANDS,
                  "dim": _SRP_DIM, "seed": _SRP_SEED},
        )
        q = start_dedup_ingest(
            stream, f"{work}/corpus", f"{work}/idx", f"{work}/ckpt",
            modality=modality,
            threshold=COSINE_DUP_THRESHOLD,
            trigger={"availableNow": True},
            on_batch=lambda bid, n_in, n_novel, lock_wait: seen.append(
                (bid, n_in, n_novel)
            ),
        )
        q.awaitTermination()
        n_corpus = spark.read.parquet(f"{work}/corpus").count()
        rows = [(int(b), int(n), int(v)) for b, n, v in sorted(seen)]
        rows.append((-1, n_corpus, n_corpus))
        return spark.createDataFrame(
            rows, "batch_id bigint, n_in bigint, n_novel bigint"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query("quality_classifier_scores")  # rows-only: MLlib LR fit (float
# probabilities vary in low bits across fits); AUC/coverage/save-load
# gates live in tests/test_ml_quality.py; excluded from bench with the
# other MLlib fits (rt_model_predictions family — fit cost, not engine
# throughput)
def quality_classifier_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81: the distilled corpus-quality scorer (ml/quality.py) — the
    expensive X39 gate stack teaches weak labels on the train split, a
    standardized logistic regression distills them into one cheap
    linear scorer, and EVERY document (including the benchmark
    carve-out the teacher never labels) gets a calibrated
    P(survives-the-gates) from a single shuffle-free feature projection
    + 8-float dot product. Output: (doc_id, label, quality_prob) with
    label NULL where the teacher had no verdict — the exact frame a
    temperature-sampling (X28) or threshold sweep consumes."""
    from nginx_analytics_spark.ml import quality

    docs = load_table(spark, sf_dir, "documents")
    model = quality.train_quality_classifier(docs)
    return (
        quality.score_quality(model, docs)
        .join(quality.weak_labels(docs), "doc_id", "left")
        .select("doc_id", "label", r6(F.col("quality_prob")).alias("quality_prob"))
    )


@query("incremental_index_near_dups", _INCR_NEAR_DUPS_SQL)
def incremental_index_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79: index MAINTENANCE closes the X69 loop — the at-rest index is
    built INCREMENTALLY (write_lsh_index over ~half the corpus, then
    append_lsh_index folds in the rest: sign-batch-only, Parquet append
    into the same band partitions; dedup.append_lsh_index) and the
    incoming batch probes that appended index. exact_net=True makes the
    output equal the brute-force cross-set Jaccard BY CONSTRUCTION
    (minhash_dedup_pairs contract) so the driver hash is exact while
    the append-built index carries the probe end-to-end; the
    append==rebuild content identity and the append-then-reprobe loop
    are property-tested in tests/test_dataops.py. BENCH-EXCLUDED for
    the same reason as incremental_near_dups: the recurring-cost
    headline is incremental_near_dups_probe; this entry is the
    correctness gate for the maintenance path."""
    new_docs, corpus = _incr_split(spark, sf_dir)
    index_path = _staged_lsh_index(corpus, sf_dir, split=True)
    # threshold/round_to pushed INTO the operator (r16): with exact_net
    # the output is exactly the cross relational net (verified ⊆ net),
    # and half_up(j, 6) >= t in-plan is definitionally the r6+filter
    # previously applied here; the in-plan threshold engages the cross
    # net's Jaccard length bound.
    return dedup.incremental_near_dups(
        spark, new_docs, corpus, index_path,
        threshold=JACCARD_THRESHOLD, round_to=6, exact_net=True,
    )


# Shared transitive-closure CTE chain (the X30 oracle): exact
# word-shingle Jaccard pairs -> symmetric edges -> recursive reach ->
# min-id component per doc. Reused verbatim by dedup_clusters and the
# X100 quality-survivor oracle so the two queries' cluster assignments
# are definitionally identical.
_CLOSURE_CTES = f"""s AS ({_SHINGLES_SQL}),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               {R6_SQL.format(x="len(list_intersect(a.sh, b.sh))::DOUBLE"
                                " / len(list_distinct(list_concat(a.sh, b.sh)))")}
                   AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
    ),
    e AS (
        SELECT id_a AS a, id_b AS b FROM p WHERE jaccard >= {JACCARD_THRESHOLD}
        UNION
        SELECT id_b, id_a FROM p WHERE jaccard >= {JACCARD_THRESHOLD}
    ),
    r(src, dst) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.src, e.b FROM r JOIN e ON e.a = r.dst
    ),
    comp AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM r GROUP BY src
    )"""


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_CLOSURE_CTES}
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           coalesce(c.cluster_id, d.doc_id) != d.doc_id AS is_duplicate
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X30: near-dup CLUSTER resolution — pairs are not a dedup; the
    transitive closure is. Exact word-shingle Jaccard pairs (deterministic,
    same shingling as minhash_dedup_pairs) feed distributed connected
    components (min-label propagation + pointer jumping, O(log d) rounds);
    every document gets (cluster_id = min doc_id of its component,
    is_duplicate). The oracle is a DuckDB recursive-CTE transitive
    closure over the identical pair set — exponentially-sized reach set,
    verification-tier only; the Spark loop is the scale path."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # Same pair set, computed with the threshold IN the operator (r16):
    # half_up(j, 6) >= t inside _relational_jaccard is definitionally
    # the r6+filter previously applied here, and the in-plan threshold
    # engages the Jaccard length bound inside the co-occurrence join.
    pairs = dedup.exact_jaccard_pairs(
        docs, threshold=JACCARD_THRESHOLD, round_to=6
    )
    return graph.dedup_clusters(docs, pairs)


# single source of truth for the curation constants (shared with the CLI)
from nginx_analytics_spark.operators.curation import (  # noqa: E402
    BENCH_FRACTION,
    CONTAM_N,
)


_DECONTAM_SQL = f"""
    WITH t0 AS (
        SELECT doc_id, string_split(text,' ') AS toks,
               {portable_frac_sql("doc_id", 7)} AS frac
        FROM documents
    ),
    t AS (SELECT doc_id, toks FROM t0 WHERE frac >= {BENCH_FRACTION}),
    bw AS (
        SELECT DISTINCT array_to_string(toks[i+1:i+{_SUBSTR_W}],' ') AS win
        FROM (SELECT toks FROM t0 WHERE frac < {BENCH_FRACTION}) b,
             LATERAL (SELECT unnest(generate_series(0, len(toks)-{_SUBSTR_W})) AS i)
        WHERE len(toks) >= {_SUBSTR_W}
    ),
    w AS (SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+{_SUBSTR_W}],' ') AS win
          FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks)-{_SUBSTR_W})) AS i)
          WHERE len(toks) >= {_SUBSTR_W}),
    hit AS (SELECT w.doc_id, w.pos, w.pos + {_SUBSTR_W} - 1 AS e
            FROM w SEMI JOIN bw USING (win)),
    isl0 AS (SELECT doc_id, pos, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pmax
             FROM hit),
    isl1 AS (SELECT doc_id, pos, e,
             sum(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos) AS isl
             FROM isl0),
    ivs AS (SELECT doc_id, min(pos) AS s, max(e) AS e
            FROM isl1 GROUP BY doc_id, isl),
    tok AS (SELECT doc_id, idx, toks[idx+1] AS tk FROM t,
            LATERAL (SELECT unnest(generate_series(0, len(toks)-1)) AS idx)),
    keep AS (SELECT tok.doc_id, idx, tk FROM tok
             WHERE NOT EXISTS (SELECT 1 FROM ivs
                               WHERE ivs.doc_id = tok.doc_id
                                 AND idx BETWEEN ivs.s AND ivs.e)),
    agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY idx) AS clean_text,
                   count(*) AS n_kept FROM keep GROUP BY doc_id)
    SELECT t2.doc_id, coalesce(a.clean_text,'') AS clean_text,
           coalesce(a.n_kept,0)::BIGINT AS n_tokens_kept,
           (len(t2.toks) - coalesce(a.n_kept,0))::BIGINT AS n_tokens_removed
    FROM t t2 LEFT JOIN agg a USING (doc_id)
"""


@query("decontaminate_docs", _DECONTAM_SQL)
def decontaminate_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98: span-level eval decontamination over the X31 carve-out —
    every token span of a training document that also appears in the
    deterministic 5% benchmark slice is cut from the training
    document, benchmark untouched: where contamination_check FLAGS a
    document (wasting its clean remainder), this surgically removes
    the quoted span and keeps the rest. Benchmark window set is
    broadcast (eval-suite-sized); the train side pays X96's window
    bytes. Hash-matched against the cross-set windowed/island DuckDB
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    frac = sampling.portable_frac("doc_id", salt=7)
    bench = docs.filter(frac < BENCH_FRACTION)
    train = docs.filter(frac >= BENCH_FRACTION)
    return dedup.exact_substring_decontaminate(
        train, bench, window_tokens=_SUBSTR_W
    )



@query(
    "contamination_check",
    f"""
    WITH g AS (
        SELECT doc_id,
               CASE WHEN len(w) >= {CONTAM_N}
                    THEN list_distinct(
                        [array_to_string(w[i:i+{CONTAM_N - 1}], ' ')
                         for i in range(1, len(w) - {CONTAM_N - 2})])
                    ELSE [text] END AS sh,
               {portable_frac_sql("doc_id", 7)} AS frac
        FROM (SELECT doc_id, text, string_split(text, ' ') AS w
              FROM documents)
    ),
    b AS (SELECT DISTINCT unnest(sh) AS gr FROM g
          WHERE frac < {BENCH_FRACTION}),
    t AS (SELECT doc_id, sh FROM g WHERE frac >= {BENCH_FRACTION}),
    tg AS (SELECT doc_id, unnest(sh) AS gr FROM t),
    o AS (SELECT tg.doc_id, count(*) AS n_overlap
          FROM tg JOIN b USING (gr) GROUP BY tg.doc_id)
    SELECT t.doc_id, len(t.sh) AS n_grams,
           coalesce(o.n_overlap, 0) AS n_overlap,
           coalesce(o.n_overlap, 0) > 0 AS contaminated
    FROM t LEFT JOIN o USING (doc_id)
    """,
)
def contamination_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31: benchmark decontamination. A deterministic 5% of documents
    (Knuth-hash, salt 7 — the engine's portable split machinery) stands
    in for the evaluation suite; every remaining document is scored by
    word-5-gram collision against the benchmark's broadcast n-gram set.
    The fixture's planted near-dups make this non-trivial: a duplicate
    pair straddling the carve-out shows up with ~50 overlapping grams."""
    docs = load_table(spark, sf_dir, "documents")
    frac = sampling.portable_frac("doc_id", salt=7)
    bench = docs.filter(frac < BENCH_FRACTION)
    train = docs.filter(frac >= BENCH_FRACTION)
    # hashed=True (r16): 8-byte xxhash64 keys on both sides of the
    # overlap join (vs 5-word gram strings) — measured x1.35 at sf0.1,
    # counts identical; the string-side oracle stays the DuckDB twin
    # (collision odds |bench|x|train|/2^64, the module's standing
    # hash-key caveat).
    return contamination.contamination_check(
        train, bench, n=CONTAM_N, hashed=True
    )


@query(
    "pii_redaction",
    f"""
    WITH r AS (
        SELECT event_id,
               'user u' || CAST(user_id AS VARCHAR)
               || ' <u' || CAST(user_id AS VARCHAR) || '@example.com>'
               || ' from 10.' || CAST(user_id % 200 AS VARCHAR)
               || '.' || CAST(event_id % 256 AS VARCHAR)
               || '.' || CAST((event_id // 7) % 256 AS VARCHAR)
               || CASE WHEN user_id % 2 = 0
                       THEN ' peer 192.168.' || CAST(user_id % 256 AS VARCHAR)
                            || '.' || CAST(event_id % 100 AS VARCHAR)
                       ELSE '' END
               || CASE WHEN event_id % 3 = 0
                       THEN ' tel +1 555-'
                            || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS raw_text
        FROM events
    )
    SELECT event_id,
           len(regexp_extract_all(raw_text, '{pii.EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(raw_text, '{pii.IPV4_RE}')) AS n_ipv4,
           len(regexp_extract_all(raw_text, '{pii.PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(raw_text,
               '{pii.EMAIL_RE}', '{pii.EMAIL_TOKEN}', 'g'),
               '{pii.IPV4_RE}', '{pii.IP_TOKEN}', 'g'),
               '{pii.PHONE_RE}', '{pii.PHONE_TOKEN}', 'g') AS clean_text
    FROM r
    """,
)
def pii_redaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32: PII detect + redact. The fixture carries no natural PII, so
    the query deterministically synthesizes a PII-bearing line per event
    (email + internal IPs + conditional phone, identical construction in
    the oracle) and runs the generic operator over it: per-class counts
    on the original text, typed-token redaction in fixed order. The
    regex set is Java/RE2-portable by construction (operators/pii.py)."""
    ev = load_table(spark, sf_dir, "events", fanout=True)
    uid = F.col("user_id").cast("string")
    raw = F.concat(
        F.lit("user u"), uid,
        F.lit(" <u"), uid, F.lit("@example.com>"),
        F.lit(" from 10."), (F.col("user_id") % 200).cast("string"),
        F.lit("."), (F.col("event_id") % 256).cast("string"),
        F.lit("."), F.expr("(event_id div 7) % 256").cast("string"),
        F.when(
            F.col("user_id") % 2 == 0,
            F.concat(
                F.lit(" peer 192.168."), (F.col("user_id") % 256).cast("string"),
                F.lit("."), (F.col("event_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit(" tel +1 555-"),
                F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    df = ev.select("event_id", raw.alias("raw_text"))
    return pii.redact_pii(df, "raw_text").select(
        "event_id", "n_emails", "n_ipv4", "n_phones", "clean_text"
    )


@query(
    "bpe_pair_counts",
    """
    SELECT g AS pair, count(*) AS n
    FROM (SELECT unnest([substr(text, i, 2) for i in range(1, length(text))])
              AS g
          FROM documents WHERE length(text) >= 2)
    GROUP BY g
    ORDER BY n DESC, g ASC
    LIMIT 50
    """,
)
def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X41: top-50 adjacent character-pair frequencies — the argmax
    statistic of the first BPE tokenizer-training merge, as a corpus
    aggregation (one scan, |alphabet|^2-bounded shuffle)."""
    return text.char_pair_counts(load_table(spark, sf_dir, "documents", fanout=True), k=50)


@query(
    "salted_user_join",
    f"""
    WITH dims AS (
        SELECT user_id, {half_up_sql("avg(value)")} AS u_avg
        FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.value, d.u_avg
    FROM events e JOIN dims d USING (user_id)
    """,
)
def salted_user_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X40: skew-resistant salted equi-join — the big side salts, the
    small side replicates per salt, the join key becomes (key, salt) so
    a hot key spreads over 16 reducers. The oracle is the PLAIN join:
    salting must be invisible in the result (the same semantics-free
    contract salted_ip_stats proves for aggregation)."""
    ev = load_table(spark, sf_dir, "events")
    dims = ev.groupBy("user_id").agg(half_up(F.avg("value"), 6).alias("u_avg"))
    return skew.salted_join(
        ev.select("event_id", "user_id", "value"), dims, "user_id"
    ).select("event_id", "user_id", "value", "u_avg")


@query(
    "per_source_sample",
    f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {portable_frac_sql("doc_id", 5)} ASC, doc_id ASC
               ) AS rn
        FROM documents
    ) t WHERE rn <= 10
    """,
)
def per_source_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X44: class-balanced subsample — exactly min(10, |source|) docs
    per source, ranked by the portable key hash (salt 5): deterministic,
    engine-portable, and prefix-consistent (the k=10 sample is a strict
    prefix of the k=20 sample). One window exchange on the group key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.per_group_sample(docs, "source", "doc_id", k=10, salt=5)


@query(
    "traffic_rollup",
    f"""
    SELECT event_type,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           CAST(grouping(event_type) AS INT) AS g_type,
           CAST(grouping(CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                AS TIMESTAMP)) AS INT) AS g_day,
           count(*) AS n_events,
           {half_up_sql("sum(value)")} AS total_value
    FROM events
    GROUP BY ROLLUP (event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                          AS TIMESTAMP))
    """,
)
def traffic_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47: multi-dimensional aggregation — ROLLUP over (event_type,
    day): per-(type, day) cells, per-type subtotals, and the grand total
    in ONE pass (Spark Expand + single hash agg, not three scans).
    GROUPING() indicator columns disambiguate real NULLs from
    rolled-up levels, the standard warehouse cube contract."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        ev.select("event_type", day, "value")
        .rollup("event_type", "day")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count(F.lit(1)).alias("n_events"),
            half_up(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "event_type", "day", "g_type", "g_day", "n_events", "total_value"
        )
    )


@query(
    "rolling_7d_avg",
    f"""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           {half_up_sql(
               "avg(value) OVER (PARTITION BY user_id"
               " ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)"
               " RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)")}
               AS avg_7d
    FROM events
    """,
)
def rolling_7d_avg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46: trailing-7-day moving average per user — a TIME-RANGE window
    frame (every event averages over its key's events in the preceding
    604800 seconds, not a row count): the frame is expressed on INTEGER
    epoch seconds on both sides (Spark's unix_timestamp truncates, the
    oracle floors DuckDB's fractional epoch) so the boundary is
    engine-identical. One
    exchange on the key; the running frame evaluates in a single
    streaming pass per partition — no self-join time-window explosion."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-604800, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        half_up(F.avg("value").over(w), 6).alias("avg_7d"),
    )


@query(
    "scd2_user_plans",
    """
    WITH u AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(floor(value) AS BIGINT) % 3 AS plan
        FROM events WHERE event_type = 'signup'
    ),
    s AS (
        SELECT *, CASE WHEN lag(plan) OVER w IS NULL
                            OR lag(plan) OVER w != plan
                       THEN 1 ELSE 0 END AS chg
        FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
        SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run
        FROM s
    ),
    p AS (
        SELECT user_id, run, min(plan) AS plan, min(ts) AS valid_from
        FROM g GROUP BY user_id, run
    )
    SELECT user_id, plan, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to
    FROM p
    """,
)
def scd2_user_plans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X45: SCD-Type-2 derivation — fold each user's signup change log
    (plan id = floor(value) % 3, a synthetic slowly-changing attribute)
    into validity periods: consecutive-distinct runs via lag-compare +
    running sum, period bounds via min + lead. valid_to is NULL for the
    open period. Deterministic tie-break on event_id."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    u = ev.select(
        "user_id",
        "event_id",
        "ts",
        (F.floor("value").cast("bigint") % 3).alias("plan"),
    )
    return temporal.change_periods(
        u, key="user_id", order_col="ts", attr="plan", tie_break="event_id"
    ).select("user_id", "plan", "valid_from", "valid_to")


@query(
    "incremental_new_docs",
    f"""
    WITH n AS (
        SELECT doc_id, source,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt,
               {portable_frac_sql("doc_id", 11)} AS frac
        FROM documents
    )
    SELECT b.doc_id, b.source
    FROM n b
    WHERE b.frac >= 0.5
      AND NOT EXISTS (SELECT 1 FROM n h WHERE h.frac < 0.5 AND h.nt = b.nt)
    """,
)
def incremental_new_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X43: incremental corpus update — dedup a NEW batch against the
    EXISTING corpus: a deterministic half of the fixture stands in for
    yesterday's corpus, the other half is the incoming batch, and a
    left-anti join on the normalized text key keeps only genuinely new
    content. At 100 TB the anti-join runs on ``xxhash64(normalized)``
    against the warehouse's fingerprint store (ids ride the shuffle, not
    documents); the oracle uses the raw normalized text so DuckDB can
    replicate it."""
    docs = load_table(spark, sf_dir, "documents")
    frac = sampling.portable_frac("doc_id", salt=11)
    key = dedup.normalize_text("text").alias("nt")
    history = docs.filter(frac < 0.5).select(key)
    batch = docs.filter(frac >= 0.5).select("doc_id", "source", key)
    return batch.join(history, "nt", "left_anti").select("doc_id", "source")


@query(
    "stream_stream_join",
    """
    SELECT c.user_id, c.click_ts, p.purchase_ts
    FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
          FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
          FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X42: watermarked stream-stream interval join — two independent
    file-stream instances of the events fixture join on user_id with
    purchase_ts in [click_ts, click_ts + 1h]; the interval condition is
    what bounds both sides' state at scale. Inner-join append emission in
    an availableNow replay equals the batch theta-join the oracle runs."""
    from nginx_analytics_spark.streaming.joins import (
        run_click_purchase_join_available_now,
    )

    return run_click_purchase_join_available_now(spark, sf_dir)


@query(
    "stream_stream_left_join",
    """
    WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(click_ts) FROM c),
                        (SELECT max(purchase_ts) FROM p))
                  - INTERVAL 1 MINUTE AS w),
    j AS (SELECT c.user_id, c.click_ts, p.purchase_ts
          FROM c LEFT JOIN p
            ON c.user_id = p.user_id
           AND p.purchase_ts >= c.click_ts
           AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
    SELECT user_id, click_ts, purchase_ts FROM j, wm
    WHERE purchase_ts IS NOT NULL
       OR click_ts + INTERVAL 1 HOUR < w
    """,
)
def stream_stream_left_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X42b: LEFT-OUTER stream-stream interval join — matched pairs emit
    on match; NULL rows emit only when the join watermark (min of both
    streams' watermarks) strictly passes the click's window end. The
    oracle replicates both the theta-join and that emission cut — clicks
    whose window the watermark hasn't closed are withheld in state, not
    emitted."""
    from nginx_analytics_spark.streaming.joins import (
        run_click_purchase_left_join_available_now,
    )

    return run_click_purchase_left_join_available_now(spark, sf_dir)


@query(
    "repetition_stats",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bi AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 2
                           THEN [array_to_string(w[i:i+1], ' ')
                                 for i in range(1, len(w))]
                           ELSE [] END) AS g
        FROM w
    ),
    bid AS (
        SELECT doc_id, max(c) AS max_bg, sum(c) AS tot_bg
        FROM (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g)
        GROUP BY doc_id
    ),
    tri AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 3
                           THEN [array_to_string(w[i:i+2], ' ')
                                 for i in range(1, len(w) - 1)]
                           ELSE [] END) AS g
        FROM w
    ),
    trid AS (
        SELECT doc_id, count(*) AS dist_tg, sum(c) AS tot_tg
        FROM (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce({R6_SQL.format(x="max_bg / tot_bg")}, 0.0)
               AS top_bigram_frac,
           coalesce({R6_SQL.format(x="1 - dist_tg / (tot_tg * 1.0)")}, 0.0)
               AS dup_trigram_frac,
           coalesce({R6_SQL.format(x="max_bg / tot_bg")}, 0.0)
               <= {text.TOP_BIGRAM_FRAC_MAX}
           AND coalesce({R6_SQL.format(x="1 - dist_tg / (tot_tg * 1.0)")}, 0.0)
               <= {text.DUP_TRIGRAM_FRAC_MAX} AS repetition_ok
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN bid USING (doc_id) LEFT JOIN trid USING (doc_id)
    """,
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33: Gopher-style repetition quality gates — most-frequent-bigram
    share and duplicate-trigram share per document, with the boilerplate
    flag. Explode + two-level codegen'd hash agg per gram size."""
    return text.repetition_stats(load_table(spark, sf_dir, "documents", fanout=True))


PACK_BUDGET = 512  # tokens per context window in the packing plan


@query(
    "pack_chunks",
    f"""
    WITH t AS (SELECT doc_id, source,
                      len(string_split(text, ' ')) AS n_tokens
               FROM documents),
    c AS (
        SELECT doc_id, source, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS st
        FROM t
    )
    SELECT doc_id, source, n_tokens,
           st % {PACK_BUDGET} AS chunk_offset,
           st // {PACK_BUDGET} AS chunk_id,
           n_tokens > 0 AND
           st // {PACK_BUDGET} != (st + n_tokens - 1) // {PACK_BUDGET}
               AS spans_boundary
    FROM c
    """,
)
def pack_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34: concat-and-chunk sequence-packing plan — per-source document
    streams laid head-to-tail on a 512-token grid; each document gets its
    chunk id, offset, and boundary-straddle flag. One window exchange per
    source group, no global sort, no driver loop."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return packing.pack_plan(
        t, "n_tokens", PACK_BUDGET, part_col="source", order_col="doc_id"
    )


@query(
    "temperature_sample_docs",
    f"""
    WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
    tot AS (SELECT sum(pow(c, 0.5)) AS s, sum(c) AS n FROM c),
    r AS (
        SELECT source,
               least(1.0, {R6_SQL.format(x="pow(c, 0.5) / s * 0.5 * n / c")})
                   AS rate
        FROM c, tot
    )
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN r USING (source)
    WHERE {portable_frac_sql("d.doc_id", 3)} < r.rate
    """,
)
def temperature_sample_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X35: temperature-weighted domain mixing (alpha=0.5, target half
    the corpus) — per-source rates ∝ count^alpha up-sample rare sources,
    membership by the portable Knuth hash (salt 3). Rate frame broadcast;
    the corpus side is scan + filter, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.temperature_sample(
        docs, "source", "doc_id", alpha=0.5, target_frac=0.5, salt=3
    ).select("doc_id", "source", "rate")


@query("simhash_near_dup")  # engine-hash fingerprints — rows-only check
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 over 64-bit fingerprints,
    4-chunk pigeonhole banding). xxhash64-based — not SQL-replicable by
    design; property-tested in tests/test_dataops.py."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(docs)


@query(
    "embedding_dedup_pairs",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {R6_SQL.format(x=_COSINE_SQL.format(a="a.v", b="b.v"))} AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE cosine >= {COSINE_DUP_THRESHOLD}
    """,
)
def embedding_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs by exact cosine (correctness baseline; the
    LSH-bucketed scale path is ann_lsh_topk / hyperplane_lsh)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_dedup_pairs(emb, threshold=-2.0, round_to=None)
    return pairs.select(
        "id_a", "id_b", r6(F.col("cosine")).alias("cosine")
    ).filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)


@query(
    "salted_ip_stats",
    f"""
    SELECT user_id,
           count(*) AS request_count,
           {R6_SQL.format(
               x="sum(CAST(floor(value * 1000) AS BIGINT))"
                 " / count(*)")} AS avg_request_millis
    FROM events
    GROUP BY user_id
    """,
)
def salted_ip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — the hot-key scale pattern. The oracle
    is the PLAIN per-key count+avg: salting is an execution strategy, not a
    semantics change, and the match proves it. The measure is floor(value
    * 1000) (an exact integer) so the two-phase recomposition is
    bit-deterministic — a double measure would only agree up to float
    summation order, like any distributed sum."""
    from nginx_analytics_spark.operators.skew import salted_key_stats

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_millis", F.floor(F.col("value") * 1000).cast("bigint")
    )
    out = salted_key_stats(ev, "user_id", "value_millis", round_to=None)
    return out.select(
        "user_id",
        "request_count",
        r6(F.col("avg_request_time")).alias("avg_request_millis"),
    )


@query(
    "stateful_key_profiles",
    f"""
    SELECT user_id,
           count(*) AS n_events,
           last(value ORDER BY ts, event_id) AS last_value,
           {R6_SQL.format(
               x="list_reduce(list(value ORDER BY ts, event_id),"
                 " (acc, x) -> 0.3 * x + 0.7 * acc)")} AS ewma
    FROM events
    GROUP BY user_id
    """,
)
def stateful_key_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState): per-key
    running (count, last, EWMA) profiles driven to completion with
    Trigger.AvailableNow. The oracle replicates the event-time-ordered fold
    with DuckDB's ordered list_reduce — the identical IEEE op sequence, so
    the match is exact, not approximate."""
    from nginx_analytics_spark.sources.readers import events_stream
    from nginx_analytics_spark.streaming.stateful import (
        run_key_profiles_available_now,
    )

    out = run_key_profiles_available_now(events_stream(spark, sf_dir))
    return out.select("user_id", "n_events", "last_value", r6(F.col("ewma")).alias("ewma"))


@query(
    "traffic_forecast",
    f"""
    WITH c AS (
        SELECT event_type,
               sum(CASE WHEN CAST(ts AS TIMESTAMP)
                             > TIMESTAMP '2024-01-31 00:00:00'
                               - INTERVAL '24 hours'
                        THEN 1 ELSE 0 END) AS n_24h,
               sum(CASE WHEN EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) = 0
                        THEN 1 ELSE 0 END) AS n_seasonal
        FROM events
        WHERE CAST(ts AS TIMESTAMP)
                  > TIMESTAMP '2024-01-31 00:00:00' - INTERVAL '7 days'
          AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-31 00:00:00'
        GROUP BY event_type
    )
    SELECT event_type AS endpoint,
           TIMESTAMP '2024-01-31 00:00:00' AS forecast_time,
           {R6_SQL.format(x="0.5 * (n_24h / 24.0) + 0.5 * (n_seasonal / 7.0)")}
               AS predicted_requests,
           {R6_SQL.format(
               x="CASE WHEN greatest(n_24h / 24.0, n_seasonal / 7.0) > 0"
                 " THEN 1 - abs(n_24h / 24.0 - n_seasonal / 7.0)"
                 " / greatest(n_24h / 24.0, n_seasonal / 7.0)"
                 " ELSE 0.0 END")} AS confidence_score,
           'sma24+seasonal7-v1' AS model_version
    FROM c
    """,
)
def traffic_forecast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """traffic_forecasts made real (reference postgres/init.sql:71-77
    declares the table; no reference job ever writes it): next-hour per-key
    forecast from a mean-hourly-rate + seasonal-naive blend, all integer
    counts over one partition-prunable trailing window."""
    from nginx_analytics_spark.operators.forecast import traffic_forecast

    # AS_OF (2024-01-31 00:00) is on the hour; target hour-of-day is 0.
    from nginx_analytics_spark.registry import AS_OF

    return traffic_forecast(
        load_table(spark, sf_dir, "events"), key="event_type", ts="ts",
        as_of=AS_OF, round6=r6,
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@query(
    "ann_cosine_topk",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM v
          WHERE vec_id < {ANN_QUERY_COUNT}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {R6_SQL.format(x=_COSINE_SQL.format(a="q.qv", b="c.v"))} AS cosine
        FROM v c, q WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rn
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rn
        FROM scored
    ) t
    WHERE rn <= {ANN_K}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k — the ANN correctness baseline.
    Broadcast query batch, one corpus scan, rank on 6-dp-rounded cosine
    with neighbor-id tie-break (deterministic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # round_to handled via r6 for engine parity: recompute rank on r6 value
    c = emb.select("vec_id", similarity.as_double("embedding").alias("cv"))
    q = queries.select("query_id", similarity.as_double("embedding").alias("qv"))
    scored = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        r6(similarity.cosine(F.col("qv"), F.col("cv"))).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANN_K)
        .select("query_id", "neighbor_id", "cosine", F.col("rn").cast("bigint").alias("rn"))
    )


@query("embedding_lsh_pairs")  # approximate — recall-tested, not oracle-matched
def embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed near-dup pairs — the 100 TB path for
    embedding_dedup_pairs: one band-key shuffle instead of an O(n²) cross
    join, exact cosine only on bucket collisions. Recall vs the exact pair
    set asserted in tests/test_dataops.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hyperplane_lsh_pairs(emb, threshold=COSINE_DUP_THRESHOLD)


# X84: the SRP index's fixed fixture configuration — probe calls must
# sign under exactly these (the sidecar enforces it); every value
# appears in the staging family key from these same constants.
_SRP_PLANES = 32
_SRP_BANDS = 8
_SRP_DIM = 64
_SRP_SEED = 42


def _incr_split_emb(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(new_batch, corpus) — the X84 embedding twin of the X69 fixture
    split: the trailing ~10% of the portable hash space plays the
    incoming batch. (Scan fan-out was TRIED here r16 — the corpus-side
    verify profiles as a 0.9 s single-task stage — and measured
    inconclusive-to-worse over 5 interleaved arms: the extra exchange
    ahead of the batch-side checkpoint eats the parallel-verify gain at
    this batch/corpus shape. Left unfanned; see OPTIMIZATION_r16.md.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    frac = sampling.portable_frac("vec_id", salt=_INCR_SALT)
    return emb.filter(frac >= _INCR_NEW_FRAC), emb.filter(frac < _INCR_NEW_FRAC)


def _staged_srp_index(corpus_emb: DataFrame, sf_dir: str) -> str:
    """Stage (or reuse) the corpus SRP index for the X84 queries
    (mechanics: :func:`_staged_index`). Built INCREMENTALLY — write
    over the first ~half, append the rest — so the registered probes
    exercise the maintenance path end-to-end, like the X79 split
    staging for text; append only adds files, so the content equals a
    one-shot build (pinned by test)."""

    def build(idx: str) -> None:
        half = sampling.portable_frac("vec_id", salt=_INCR_SALT) < F.lit(0.45)
        kw = dict(
            n_planes=_SRP_PLANES, bands=_SRP_BANDS, dim=_SRP_DIM, seed=_SRP_SEED
        )
        similarity.write_srp_index(corpus_emb.filter(half), idx, **kw)
        similarity.append_srp_index(corpus_emb.filter(~half), idx, **kw)

    # salt/nf: the indexed row set is the _incr_split_emb corpus slice —
    # same key rationale as _staged_lsh_index.
    return _staged_index(
        sf_dir,
        "embeddings",
        f"{sf_dir}|srp-split|p{_SRP_PLANES}|b{_SRP_BANDS}"
        f"|d{_SRP_DIM}|s{_SRP_SEED}|salt{_INCR_SALT}|nf{_INCR_NEW_FRAC}",
        lambda p: read_sidecar(p, "srp"),
        build,
    )


_INCR_EMB_SQL = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id AS new_id, v AS nv FROM v
          WHERE {portable_frac_sql("vec_id", _INCR_SALT)} >= {_INCR_NEW_FRAC}),
    o AS (SELECT vec_id AS old_id, v AS ov FROM v
          WHERE {portable_frac_sql("vec_id", _INCR_SALT)} < {_INCR_NEW_FRAC})
    SELECT new_id, old_id,
           {R6_SQL.format(x=_COSINE_SQL.format(a="nv", b="ov"))} AS cosine
    FROM n, o
    WHERE new_id <> old_id AND cosine >= {COSINE_DUP_THRESHOLD}
    """


@query("incremental_embedding_near_dups", _INCR_EMB_SQL)
def incremental_embedding_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84 oracle tier: semantic (embedding-cosine) near-dups of an
    incoming batch against an INDEXED corpus — the embedding twin of
    X69/X79's text loop. The corpus's SRP band keys live at rest
    (write_srp_index + append_srp_index through the same staged-index
    contract as the text LSH index); the batch signs itself (one Arrow
    matmul), band-joins the index, and exact-cosine-verifies only
    collisions with vectors semi-join-pruned to candidates.
    exact_net=True unions the cross-set exact plan (recall 1 by
    construction, identical sequential-fold cosine on both sides) so
    the driver hash is exact while the at-rest probe path executes
    end-to-end — the same contract as incremental_near_dups.
    BENCH-EXCLUDED like its text twin: the recurring-cost headline is
    incremental_embedding_near_dups_probe."""
    new_emb, corpus_emb = _incr_split_emb(spark, sf_dir)
    idx = _staged_srp_index(corpus_emb, sf_dir)
    return similarity.incremental_embedding_near_dups(
        spark, new_emb, corpus_emb, idx,
        threshold=COSINE_DUP_THRESHOLD,
        n_planes=_SRP_PLANES, bands=_SRP_BANDS, dim=_SRP_DIM, seed=_SRP_SEED,
        exact_net=True,
    )


@query("incremental_embedding_near_dups_probe")  # LSH recall — rows-only
def incremental_embedding_near_dups_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X84 recurring-cost headline: the PURE at-rest probe (sign batch,
    band-join the staged SRP index, Arrow-kernel cosine on collisions
    only — no exact net), the per-batch shape a continuous semantic
    dedup loop pays. Output is a subset of the exact pair set up to
    kernel rounding (candidate verification computes the true cosine
    with the Arrow kernel, whose pairwise summation can differ from the
    oracle fold only within ~1e-12 of a 6-dp boundary — no genuine
    false positives); recall at the banding odds is gated in
    tests/test_dataops.py. Per-batch cost scales with the batch and its
    collisions, never the corpus."""
    new_emb, corpus_emb = _incr_split_emb(spark, sf_dir)
    idx = _staged_srp_index(corpus_emb, sf_dir)
    return similarity.incremental_embedding_near_dups(
        spark, new_emb, corpus_emb, idx,
        threshold=COSINE_DUP_THRESHOLD,
        n_planes=_SRP_PLANES, bands=_SRP_BANDS, dim=_SRP_DIM, seed=_SRP_SEED,
    )


@query("ann_lsh_topk")  # approximate — recall-tested, not oracle-matched
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN — the 100 TB path: signature band join
    instead of cross product, exact cosine re-rank of candidates only.
    Recall vs brute force asserted in tests/test_dataops.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.hyperplane_lsh_topk(emb, queries, k=ANN_K)


@query("ann_ivf_topk")  # approximate — recall-tested, not oracle-matched
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — the second scale path, complementary to LSH: a seeded
    KMeans coarse quantizer partitions the corpus into disjoint cells; each
    query brute-forces only its nprobe nearest cells (no candidate
    distinct, hard ~nprobe/n_cells scan fraction; partition/bucket the
    corpus by cell at rest for storage-level pruning). Recall vs brute
    force asserted in tests/test_dataops.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(emb, queries, k=ANN_K, n_cells=16, nprobe=6)


@query("ann_ivf_indexed")  # approximate — identity-vs-ann_ivf_topk tested
def ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index AT REST (r10 verdict item 1, the ANN analogue of
    X69/X79): the corpus lives cell-PARTITIONED on storage with the
    centroids in a validated sidecar (similarity.ivf_write_bucketed,
    staged once per fixture like the LSH index), and the probe is an
    ``IN`` partition filter — only the nprobe probed cells' files are
    ever OPENED, proven at the file level by deleting unprobed cells
    mid-plan in tests/test_dataops.py::test_ivf_bucketed_at_rest_prunes_files.
    Same (n_cells=16, nprobe=6) configuration as the in-memory
    ``ann_ivf_topk``; because the r11 centroid fit is a pure function of
    the row multiset, the two paths share centroids EXACTLY, so this
    query's output is row-identical to ann_ivf_topk's (asserted in
    tests/test_dataops.py) — recall is therefore the same 0.72/0.76
    (sf0.001/sf0.1) at the same 6/16 scan fraction, and the at-rest
    path's only delta is WHERE the candidates are read from. At 100 TB
    this is the serving shape: the scan touches ~nprobe/n_cells of the
    corpus's files, not all of them."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = _staged_ivf_index(emb, sf_dir)
    return similarity.ivf_topk_bucketed(
        spark, idx, None, queries, k=ANN_K, nprobe=6
    )


@query("ann_pq_topk")  # approximate — recall-tested, not oracle-matched
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37: product-quantization ANN — the compressed-domain third scale
    path: corpus stored as m-byte PQ codes (8x smaller than float32 at
    m=8/dim=64), the ADC scan touches only codes, and an exact re-rank
    (IVFADC+R) recovers the ranking the quantization noise blurs —
    mandatory on this fixture, whose near-random geometry puts neighbor
    margins below the quantization error. Recall vs exact L2 asserted
    in tests; seeded codebooks make the result reproducible.

    Refine depth is pq_topk's r11 DEFAULT — fraction-sized,
    max(k, 50, ceil(2.5% of corpus)) — encoding the r10 measured rule
    (recall tracks the refine/corpus FRACTION on unstructured geometry:
    same 2.5% → ~same recall at 2,000 and 20,000 vectors, while the
    former fixed refine=50 fell 0.54 → 0.22 at 10×; SCALING.md). At the
    oracle/bench fixtures (≤2,000 vectors) the 50 floor binds, so this
    query's rows and cost are IDENTICAL to the pre-r11 refine=50
    headline; at 10× the fraction binds and recall stays flat (r11
    grown-probe measurement). The structural-exactness tier is
    ann_pq_topk_refined (refine >= corpus count, hash-green, exactly
    1.00 at 10×)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_topk(emb, queries, k=ANN_K, m=8, n_codes=16)


# r12: the at-rest PQ index's fixed fixture configuration — m/n_codes
# match the ann_pq_topk headline (comparable cost/recall), the cell
# layout matches ann_ivf_indexed (same 16-cell granularity, same
# nprobe=6 scan fraction), and every value feeds the staging family key
# from these same constants.
_PQ_M = 8
_PQ_CODES = 16
_PQ_SEED = 42
_PQ_CELLS = 16
_PQ_NPROBE = 6


def _staged_pq_index(
    emb: DataFrame, sf_dir: str, layout: str = "ivfadc"
) -> str:
    """Stage (or reuse) an at-rest PQ index for the ``ann_pq_indexed*``
    queries (mechanics: :func:`_staged_index`; similarity.pq_write_index
    with its validated ``_pq_meta.json`` sidecar), every layout at the
    same m/n_codes/seed (and cells) so the probes differ in exactly one
    axis. The one-time fit+encode is exactly the cost the index
    amortizes: every later probe loads codes and codebooks, fits
    nothing, encodes nothing. ``layout``:

      * ``"ivfadc"`` — codes cell-partitioned with codebooks + coarse
        centroids (``ann_pq_indexed``);
      * ``"flat"`` — no cell layout (``ann_pq_indexed_refined``): the
        exactness tier scans every code by design, so partition pruning
        has nothing to prune;
      * ``"residual"`` — the IVFADC layout with codes that reconstruct
        cell residuals instead of raw vectors
        (``ann_pq_indexed_residual*``).

    v2 families: the index rows gained the qerr column and the sidecar
    the build-time distortion reference (drift monitor) — older cached
    layouts must miss."""
    family, n_cells, residual = {
        "ivfadc": ("pq-ivfadc-v2", _PQ_CELLS, False),
        "flat": ("pq-flat-v2", None, False),
        "residual": ("pq-ivfadc-res-v1", _PQ_CELLS, True),
    }[layout]

    def build(idx: str) -> None:
        similarity.pq_write_index(
            emb, idx, m=_PQ_M, n_codes=_PQ_CODES, seed=_PQ_SEED,
            n_cells=n_cells, residual=residual,
        )

    cells = "" if n_cells is None else f"|c{n_cells}"
    return _staged_index(
        sf_dir,
        "embeddings",
        f"{sf_dir}|{family}|m{_PQ_M}|k{_PQ_CODES}|s{_PQ_SEED}{cells}",
        similarity.read_pq_index_meta,
        build,
    )


@query("ann_pq_indexed")  # approximate — identity/recall pinned in tests
def ann_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index AT REST composed with the IVF cell layout — true
    IVFADC serving (r11 verdict item 4, closing the last ANN lifecycle
    gap: pq_topk re-fits codebooks and re-encodes the corpus EVERY
    call; here both live in the staged index and the per-call cost is
    the query LUT + a partition-pruned compressed-domain scan +
    fraction-sized exact re-rank). The probe opens only the union of
    the queries' nprobe=6 cells' code files (PartitionFilters — proven
    file-level in tests/test_pq.py by deleting unprobed cells
    mid-plan), scores each query against ITS probed cells only, and
    re-ranks the shortlist against raw vectors. Under the same
    codebooks the scan is row-identical to pq_topk by construction
    (shared _pq_scan_topk; pinned in tests/test_pq.py); recall at this
    (6/16 cells, m=8) configuration is the product of the two pruning
    stages — measured 0.50 on the fixture (~0.72 IVF x ~0.74 PQ+refine),
    gated in tests. At 100 TB this is THE ANN serving shape: the scan
    touches nprobe/n_cells of the files at m bytes per vector, and
    nothing re-reads the raw corpus but the shortlist join."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = _staged_pq_index(emb, sf_dir)
    return similarity.pq_topk_indexed(
        spark, emb, queries, idx, k=ANN_K, nprobe=_PQ_NPROBE
    )


# Squared L2 with the same three-dot-product decomposition (and fold
# order) as the Spark side: qq - 2qv + vv, each a sequential fold.
_L2_SQL = (
    "list_dot_product({q}, {q}) - 2 * list_dot_product({q}, {v})"
    " + list_dot_product({v}, {v})"
)
# Exhaustive at the oracle fixtures (embeddings corpus is 500 rows at
# sf0.001/sf0.01): every candidate enters the exact re-rank, so the
# hash-match is a structural guarantee, not a recall calibration.
_PQ_REFINE_DEPTH = 600

# Exact-L2 top-k — shared by BOTH exactness tiers (in-memory
# ann_pq_topk_refined and at-rest ann_pq_indexed_refined): with the
# shortlist exhaustive, the exact re-rank decides everything, so one
# SQL describes both plans regardless of which side stored the codes.
_PQ_EXACT_TOPK_SQL = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM v
          WHERE vec_id < {ANN_QUERY_COUNT}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {R6_SQL.format(x=_L2_SQL.format(q="q.qv", v="c.v"))} AS dist
        FROM v c, q WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, dist, rank
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY dist ASC, neighbor_id ASC) AS BIGINT) AS rank
        FROM scored
    ) t
    WHERE rank <= {ANN_K}
    """


@query("ann_pq_topk_refined", _PQ_EXACT_TOPK_SQL)
def ann_pq_topk_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37 oracle tier: the IVFADC+R plan (PQ-encode -> ADC scan ->
    shortlist -> exact-L2 re-rank join) driven to an EXACT top-k so the
    full refine path is hash-checkable against brute-force squared L2.
    The refine depth is max(600, corpus row count) — derived from the
    corpus, so the shortlist is exhaustive and the re-rank decides
    everything AT EVERY FIXTURE SCALE: exactness is structural, not
    calibrated (r6 fix: the former fixed 600 was exhaustive for the
    500-vector oracle fixtures but silently fell short of sf0.1's 2000
    vectors, where an sf0.1 parity sweep caught a missed neighbor; this
    fixture's near-random geometry would demand depth ~400 of 499 even
    at the small scales, see tests/test_pq.py). The count() is one
    cheap job over the corpus ids. The re-rank folds
    dist = qq - 2qv + vv with the deterministic sequential
    :func:`similarity.dot` and ranks on the half-up-rounded value,
    mirroring the SQL twin term for term. The production configuration
    (pq_topk's fraction-sized default, max(k, 50, ceil(2.5% of n)))
    stays the benched headline ``ann_pq_topk``; this query pins the
    plan's correctness, the headline its cost."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.pq_topk(
        emb,
        queries,
        k=ANN_K,
        m=8,
        n_codes=16,
        refine=max(_PQ_REFINE_DEPTH, emb.count()),
        refine_exact_fold=True,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@query("ann_pq_indexed_refined", _PQ_EXACT_TOPK_SQL)
def ann_pq_indexed_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86 oracle tier: the AT-REST PQ probe driven to an EXACT top-k —
    codes and codebooks load from the staged flat index (no fit, no
    encode; the sidecar's committed row_count sizes the shortlist) and
    the exhaustive exact-fold re-rank decides everything, so the
    hash-match against the shared exact-L2 SQL is structural. This is
    the at-rest twin of ``ann_pq_topk_refined``: same oracle, different
    storage side — together they pin that persisting the codes changes
    NOTHING about the plan's value semantics (the flat-probe
    row-identity test in tests/test_pq.py pins the approximate tier the
    same way). The production configuration stays the benched
    ``ann_pq_indexed`` headline; this query pins the at-rest plan's
    correctness, the headline its cost. BENCH-EXCLUDED like every
    refine>=corpus exactness tier — O(corpus) per query by
    construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = _staged_pq_index(emb, sf_dir, "flat")
    out = similarity.pq_topk_indexed(
        spark, emb, queries, idx,
        k=ANN_K,
        refine=max(_PQ_REFINE_DEPTH, emb.count()),
        refine_exact_fold=True,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@query("ann_pq_indexed_residual")  # approximate — recall pinned in tests
def ann_pq_indexed_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88: the at-rest IVFADC probe with RESIDUAL encoding (Jégou et
    al. 2011 §V.A — codes reconstruct v - centroid[cell], codebooks
    fitted on residuals), the classic recall recovery the r12 verdict
    priced: the raw-code X86 index holds the pq_topk row-identity
    contract but its indexed recall@5 fell 0.56→0.48 at ×10 corpus;
    residual codes spend the same m×k budget on the residual
    distribution and recover it (fixture: refined recall 0.50→0.64 at
    the same nprobe=6/m=8 — tests/test_pq.py; the grown-fixture table
    lives in SCALING.md r13). Same plan shape as ``ann_pq_indexed``:
    partition-pruned compressed-domain scan + per-query cell mask +
    fraction-sized exact re-rank, with the one extra term being a LUT
    per (query, touched cell) instead of per query — still a
    driver-side closure constant bounded by q·nprobe."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = _staged_pq_index(emb, sf_dir, "residual")
    return similarity.pq_topk_indexed(
        spark, emb, queries, idx, k=ANN_K, nprobe=_PQ_NPROBE
    )


@query("ann_pq_indexed_residual_refined", _PQ_EXACT_TOPK_SQL)
def ann_pq_indexed_residual_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88 oracle tier: the residual-encoded at-rest probe driven to an
    EXACT top-k — with the shortlist exhaustive (refine >= corpus, all
    cells scanned) the exact-fold re-rank decides everything, so the
    hash-match against the SAME exact-L2 SQL as the raw tiers is
    structural: it pins that residual decoding changes the SHORTLIST
    quality, never the refined value semantics (the ADC estimate feeds
    ranking only; refined dist is exact squared L2 either way).
    BENCH-EXCLUDED like every refine>=corpus exactness tier."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_COUNT).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = _staged_pq_index(emb, sf_dir, "residual")
    out = similarity.pq_topk_indexed(
        spark, emb, queries, idx,
        k=ANN_K,
        refine=max(_PQ_REFINE_DEPTH, emb.count()),
        refine_exact_fold=True,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@query(
    "token_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
               AS bpe_tokens,
           length(text) AS n_chars,
           len(list_distinct(string_split(text, ' '))) AS distinct_tokens
    FROM documents
    """,
)
def token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting (narrow map, no shuffle)."""
    return text.token_stats(load_table(spark, sf_dir, "documents"))


def _lang_scores_sql() -> str:
    cols = []
    for lang in text.LANG_ORDER:
        words = ", ".join(f"'{w}'" for w in text.STOPWORD_PROFILES[lang])
        cols.append(
            f"len(list_filter(w, x -> list_contains([{words}], x))) AS score_{lang}"
        )
    return ",\n           ".join(cols)


def _lang_case_sql() -> str:
    total = " + ".join(f"score_{lg}" for lg in text.LANG_ORDER)
    arms = [f"WHEN {total} = 0 THEN 'und'"]
    for lang in text.LANG_ORDER:
        conds = " AND ".join(
            f"score_{lang} >= score_{other}"
            for other in text.LANG_ORDER
            if other != lang
        )
        arms.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(arms) + " END"


@query(
    "language_id",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (
        SELECT doc_id,
           {_lang_scores_sql()}
        FROM t
    )
    SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
           {_lang_case_sql()} AS predicted_lang
    FROM s
    """,
)
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (argmax with fixed tie order)."""
    return text.language_id(load_table(spark, sf_dir, "documents", fanout=True))


_QUALITY_SQL = (
    "CASE WHEN n_chars = 0 THEN NULL ELSE "
    + R6_SQL.format(
        x="0.4 * least(1.0, len(w) / 100.0)"
        " + 0.3 * (len(list_distinct(w))::DOUBLE / len(w))"
        " + 0.2 * (1 - n_punct::DOUBLE / n_chars)"
        " + 0.1 * least(1.0, 4 * (len(list_filter(w, x -> list_contains("
        "[{en_words}], x)))::DOUBLE / len(w)))"
    )
    + " END"
)


@query(
    "corpus_report",
    f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS w,
               length(text) AS n_chars,
               length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct
        FROM documents
    ),
    s AS (SELECT doc_id, text, w, n_chars, n_punct, {{lang_scores}} FROM t),
    m AS (
        SELECT doc_id, text, {{lang_case}} AS predicted_lang,
               len(w) AS ws_tokens, {_QUALITY_SQL} AS quality
        FROM s
    ),
    a AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               CAST(sum(ws_tokens) AS DOUBLE) AS total_ws_tokens,
               {half_up_sql("avg(ws_tokens)")} AS mean_ws_tokens,
               CAST(max(ws_tokens) AS DOUBLE) AS max_ws_tokens,
               {half_up_sql(
                   "avg(CASE WHEN predicted_lang = 'en'"
                   " THEN 1.0 ELSE 0.0 END)")} AS share_lang_en,
               {half_up_sql(
                   "avg(CASE WHEN predicted_lang = 'und'"
                   " THEN 1.0 ELSE 0.0 END)")} AS share_lang_und,
               {half_up_sql("avg(quality)")} AS mean_quality,
               {half_up_sql(
                   "avg(CASE WHEN quality >= 0.55"
                   " THEN 1.0 ELSE 0.0 END)")} AS share_quality_pass,
               {half_up_sql(
                   "1.0 - count(DISTINCT text) / (count(*) * 1.0)"
               )} AS exact_dup_rate
        FROM m
    )
    SELECT 'n_docs' AS metric, n_docs AS value FROM a
    UNION ALL SELECT 'total_ws_tokens', total_ws_tokens FROM a
    UNION ALL SELECT 'mean_ws_tokens', mean_ws_tokens FROM a
    UNION ALL SELECT 'max_ws_tokens', max_ws_tokens FROM a
    UNION ALL SELECT 'share_lang_en', share_lang_en FROM a
    UNION ALL SELECT 'share_lang_und', share_lang_und FROM a
    UNION ALL SELECT 'mean_quality', mean_quality FROM a
    UNION ALL SELECT 'share_quality_pass', share_quality_pass FROM a
    UNION ALL SELECT 'exact_dup_rate', exact_dup_rate FROM a
    """.replace("{lang_scores}", _lang_scores_sql())
    .replace("{lang_case}", _lang_case_sql())
    .replace("{en_words}", ", ".join(f"'{w}'" for w in text.STOPWORD_PROFILES["en"])),
)
def corpus_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77: the corpus dataset card — size, token budget, language mix,
    quality distribution, exact-duplicate rate as (metric, value) rows,
    from ONE fused scoring pass + ONE global aggregate
    (operators.text.corpus_report). Oracle-hash-checked, so the card a
    training team reads is exactly reproducible across engines."""
    return text.corpus_report(load_table(spark, sf_dir, "documents"))


@query("corpus_report_incremental")  # sketch estimates (HLL/Theta/KLL) —
# rows-only driver check; merged==direct + accuracy gates in
# tests/test_sketches.py, exact twins carried by corpus_report (X77)
def corpus_report_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78 (r5 verdict item 6): the dataset card refreshed the 100 TB
    way — per-source mergeable rollup rows (counts + KLL length sketch +
    HLL distinct-text + Theta vocabulary, operators.text.corpus_rollups)
    merged into one (metric, value) card with ZERO raw rescans at read
    time. A new batch appends one rollup row per touched source; the
    card is then O(groups) sketch rows regardless of corpus size. This
    fixture entry builds the rollups inline from the documents table (the
    staging-free form the driver can hash-count); the at-rest variant
    is the same two calls with rollups persisted between them."""
    return text.corpus_report_incremental(
        text.corpus_rollups(load_table(spark, sf_dir, "documents"))
    )


# The length/diversity/punctuation/stopword rubric CTEs + combined score
# expression, shared by the doc_quality and quality_weighted_sample
# oracles (the DuckDB twin of operators.text.quality_components).
_QUALITY_RUBRIC_CTES = f"""t AS (
        SELECT doc_id,
               string_split(text, ' ') AS w,
               length(text) AS n_chars,
               length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(w) AS ws_tokens,
               n_chars,
               len(list_distinct(w))::DOUBLE / len(w) AS ttr,
               n_punct::DOUBLE / n_chars AS punct,
               len(list_filter(w, x -> list_contains(
                   [{", ".join(f"'{w}'" for w in text.STOPWORD_PROFILES["en"])}],
                   x)))::DOUBLE / len(w) AS stop
        FROM t
    )"""
_QUALITY_EXPR_SQL = (
    "0.4 * least(1.0, ws_tokens / 100.0) + 0.3 * ttr"
    " + 0.2 * (1 - punct) + 0.1 * least(1.0, 4 * stop)"
)


@query(
    "doc_quality",
    f"""
    WITH {_QUALITY_RUBRIC_CTES}
    SELECT doc_id, ws_tokens, n_chars,
           {R6_SQL.format(x="ttr")} AS type_token_ratio,
           {R6_SQL.format(x="punct")} AS punct_ratio,
           {R6_SQL.format(x="stop")} AS stopword_ratio,
           {R6_SQL.format(x=_QUALITY_EXPR_SQL)} AS quality
    FROM m
    """,
)
def doc_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/diversity/punctuation/stopword quality rubric."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    t = text.tokens("text")
    n_tokens = F.size(t)
    n_chars = F.length("text")
    ttr = F.size(F.array_distinct(t)).cast("double") / n_tokens
    punct = F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")).cast(
        "double"
    ) / n_chars
    stop = text.profile_hits("text", text.STOPWORD_PROFILES["en"]).cast(
        "double"
    ) / n_tokens
    quality = (
        0.4 * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        + 0.3 * ttr
        + 0.2 * (1 - punct)
        + 0.1 * F.least(F.lit(1.0), 4 * stop)
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("ws_tokens"),
        n_chars.alias("n_chars"),
        r6(ttr).alias("type_token_ratio"),
        r6(punct).alias("punct_ratio"),
        r6(stop).alias("stopword_ratio"),
        r6(quality).alias("quality"),
    )


@query(
    "quality_weighted_sample",
    f"""
    WITH {_QUALITY_RUBRIC_CTES},
    q AS (
        SELECT doc_id, {R6_SQL.format(x=_QUALITY_EXPR_SQL)} AS quality
        FROM m
    ),
    w AS (SELECT doc_id, quality, pow(quality, 2.0) AS wq FROM q),
    tot AS (
        SELECT {R6_SQL.format(x="0.5 * count(*) / sum(wq)")} AS scale
        FROM w
    ),
    rated AS (
        SELECT doc_id, quality,
               {R6_SQL.format(x="least(1.0, scale * wq)")} AS rate
        FROM w, tot
    )
    SELECT doc_id, quality, rate
    FROM rated
    WHERE {portable_frac_sql("doc_id", 9)} < rate
    """,
)
def quality_weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83: quality-weighted corpus selection (r7 verdict item 2 — the
    sampler the X81 score exists for). Weight = the SQL-twinned X26
    rubric score, beta=2 sharpening, normalized to target half the
    corpus; membership by the portable Knuth hash (salt 9), so the
    selection is reproducible across engines and partitionings. One
    tiny normalization agg broadcast back; the corpus side is scan +
    filter, no shuffle. (The production handoff path samples on the
    X81 calibrated ``quality_prob`` instead — ``jobs handoff
    --quality-sample``; this registry entry uses the deterministic
    rubric weight so the oracle can replicate the weights exactly.)"""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    q = text.quality_score(docs).select("doc_id", "quality")
    return sampling.quality_weighted_sample(
        q, "quality", "doc_id", target_frac=0.5, beta=2.0, salt=9
    ).select("doc_id", "quality", "rate")


@query(
    "quality_survivors",
    f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    {_QUALITY_RUBRIC_CTES},
    assign AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    q AS (
        SELECT doc_id, {R6_SQL.format(x=_QUALITY_EXPR_SQL)} AS quality
        FROM m
    ),
    rk AS (
        SELECT a.doc_id, a.cluster_id, q.quality,
               row_number() OVER (PARTITION BY a.cluster_id
                                  ORDER BY q.quality DESC, a.doc_id ASC)
                   AS rn
        FROM assign a JOIN q USING (doc_id)
    )
    SELECT doc_id, cluster_id, quality, (rn != 1) AS is_duplicate FROM rk
    """,
)
def quality_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X100: quality-aware survivor selection (r15 verdict item 6) —
    the composition production curation actually runs: X30's near-dup
    clusters (exact word-shingle Jaccard pairs -> distributed connected
    components) keep their BEST-QUALITY member per the SQL-twinned X26
    rubric, min-id only as the tie-break. The Spark side is one
    combine-friendly max-of-struct agg per cluster (argmax realized as
    max(quality, -id)) — no window over a hot cluster key; the oracle
    is the window twin (row_number over cluster ordered quality DESC,
    id ASC), so the argmax-vs-window equivalence is exactly what the
    hash verifies. Both sides rank on the SAME r6-rounded quality, so
    ties resolve identically by construction. Verification-tier oracle
    (recursive-CTE closure); the Spark loop is the scale path."""
    docs = load_table(spark, sf_dir, "documents", fanout=True)
    # Same pair set with the threshold IN the operator (r16) — see
    # dedup_clusters_q; the length bound prunes the co-occurrence join.
    pairs = dedup.exact_jaccard_pairs(
        docs, threshold=JACCARD_THRESHOLD, round_to=6
    )
    assign = graph.dedup_clusters(docs, pairs).select("doc_id", "cluster_id")
    quality = text.quality_score(docs).select("doc_id", "quality")
    return graph.quality_survivors(assign, quality)


@query(
    "doc_fingerprint",
    """
    SELECT doc_id,
           list_reduce(
               list_prepend(0, [ord(c)::BIGINT for c in split(text[1:128], '')]),
               (acc, x) -> (acc * 131 + x) % 1000000007) AS prefix_fp,
           list_reduce(
               list_prepend(0, [ord(c)::BIGINT for c in split(text, '')]),
               (acc, x) -> (acc * 131 + x) % 1000000007) AS full_fp
    FROM documents
    """,
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprints (128-char prefix + full text). The
    production content key is xxhash64 (see operators.text.fingerprint) —
    excluded here because engine hash seeds differ by design."""
    return text.fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "prefix_fp", "full_fp"
    )


_NGRAM_N = 5
_NGRAM_THRESHOLD = 0.4
# Verification-scale sample: doc_id < 300 — smallest decade-round sample
# whose pair set is non-empty at BOTH gate scales (12 pairs at sf0.001,
# 7 at sf0.01), so the CORRECTNESS entry is never a trivial 0-row match.
_NGRAM_SAMPLE = 300


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH g AS (
        SELECT doc_id,
               list_distinct([text[i:i+{_NGRAM_N - 1}]
                              for i in range(1, greatest(1, length(text) - {_NGRAM_N - 1}) + 1)])
                   AS sh
        FROM documents WHERE doc_id < {_NGRAM_SAMPLE}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           {R6_SQL.format(x="len(list_intersect(a.sh, b.sh))::DOUBLE"
                            " / len(list_distinct(list_concat(a.sh, b.sh)))")}
               AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE jaccard >= {_NGRAM_THRESHOLD}
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard near-dup pairs on a deterministic sample —
    the exact n-gram similarity metric as its own operator (robust to
    token-boundary edits word shingles miss). Pairwise compare is
    verification-scale by construction; the 100 TB path routes the same
    shingles through the MinHash-LSH bands."""
    docs = load_table(spark, sf_dir, "documents", fanout=True).filter(
        F.col("doc_id") < _NGRAM_SAMPLE
    )
    # threshold/round_to pushed INTO the operator (r16): half_up(j, 6)
    # filtered at >= t inside the plan is definitionally the r6+filter
    # previously applied here, and the in-plan threshold engages the
    # Jaccard length bound inside the gram self-join.
    return dedup.ngram_jaccard_pairs(
        docs, n=_NGRAM_N, threshold=_NGRAM_THRESHOLD, round_to=6
    )


@query(
    "clean_corpus",
    f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS w,
               length(text) AS n_chars,
               length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct
        FROM documents
    ),
    s AS (
        SELECT doc_id, text, w, n_chars, n_punct,
           {_lang_scores_sql()}
        FROM t
    ),
    m AS (
        SELECT doc_id, text,
               {_lang_case_sql()} AS predicted_lang,
               len(w) AS ws_tokens,
               {R6_SQL.format(
                   x="0.4 * least(1.0, len(w) / 100.0)"
                     " + 0.3 * (len(list_distinct(w))::DOUBLE / len(w))"
                     " + 0.2 * (1 - n_punct::DOUBLE / n_chars)"
                     " + 0.1 * least(1.0, 4 * (len(list_filter(w, x -> list_contains("
                     "[{en_words}], x)))::DOUBLE / len(w)))")}
               AS quality
        FROM s
    ),
    kept AS (
        SELECT * FROM m
        WHERE predicted_lang <> 'und' AND ws_tokens >= 20 AND quality >= 0.55
    ),
    d AS (
        SELECT doc_id, predicted_lang, ws_tokens, quality,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM kept
    )
    SELECT doc_id, predicted_lang, ws_tokens, quality FROM d WHERE rn = 1
    """.replace(
        "{en_words}",
        ", ".join(f"'{w}'" for w in text.STOPWORD_PROFILES["en"]),
    ),
)
def clean_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline (language gate +
    quality gate + length gate + exact text dedup) as one DAG: all gates
    are column expressions fused into the scan; the only exchange is the
    dedup window. The end-to-end shape a 100 TB corpus pass runs."""
    return text.clean_corpus(load_table(spark, sf_dir, "documents"))


# The full curation SQL twin, factored so training_handoff can compose
# over it verbatim (the oracle must run the SAME gates the Spark plan
# does, then shard the survivors).
_CURATE_SQL = f"""
    WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS w,
               length(text) AS n_chars,
               length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct
        FROM documents
    ),
    s AS (
        SELECT doc_id, text, w, n_chars, n_punct,
           {_lang_scores_sql()}
        FROM t
    ),
    m AS (
        SELECT doc_id, text,
               {_lang_case_sql()} AS predicted_lang,
               len(w) AS ws_tokens,
               {R6_SQL.format(
                   x="0.4 * least(1.0, len(w) / 100.0)"
                     " + 0.3 * (len(list_distinct(w))::DOUBLE / len(w))"
                     " + 0.2 * (1 - n_punct::DOUBLE / n_chars)"
                     " + 0.1 * least(1.0, 4 * (len(list_filter(w, x -> list_contains("
                     "[{en_words}], x)))::DOUBLE / len(w)))")}
               AS quality
        FROM s
    ),
    kept AS (
        SELECT * FROM m
        WHERE predicted_lang <> 'und' AND ws_tokens >= 20 AND quality >= 0.55
    ),
    d AS (
        SELECT doc_id, predicted_lang, ws_tokens, quality,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM kept
    ),
    clean AS (SELECT doc_id, predicted_lang, ws_tokens, quality
              FROM d WHERE rn = 1),
    bi AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 2
                           THEN [array_to_string(w[i:i+1], ' ')
                                 for i in range(1, len(w))]
                           ELSE [] END) AS g
        FROM t
    ),
    bid AS (
        SELECT doc_id, max(c) AS max_bg, sum(c) AS tot_bg
        FROM (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g)
        GROUP BY doc_id
    ),
    tri AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 3
                           THEN [array_to_string(w[i:i+2], ' ')
                                 for i in range(1, len(w) - 1)]
                           ELSE [] END) AS g
        FROM t
    ),
    trid AS (
        SELECT doc_id, count(*) AS dist_tg, sum(c) AS tot_tg
        FROM (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g)
        GROUP BY doc_id
    ),
    rep AS (
        SELECT d2.doc_id,
               coalesce({R6_SQL.format(x="max_bg / tot_bg")}, 0.0) AS top_bg,
               coalesce({R6_SQL.format(x="1 - dist_tg / (tot_tg * 1.0)")}, 0.0)
                   AS dup_tg
        FROM (SELECT doc_id FROM documents) d2
        LEFT JOIN bid USING (doc_id) LEFT JOIN trid USING (doc_id)
    ),
    g5 AS (
        SELECT doc_id,
               CASE WHEN len(w) >= {CONTAM_N}
                    THEN list_distinct(
                        [array_to_string(w[i:i+{CONTAM_N - 1}], ' ')
                         for i in range(1, len(w) - {CONTAM_N - 2})])
                    ELSE [text] END AS sh,
               {portable_frac_sql("doc_id", 7)} AS frac
        FROM t
    ),
    bset AS (SELECT DISTINCT unnest(sh) AS gr FROM g5
             WHERE frac < {BENCH_FRACTION}),
    tset AS (SELECT doc_id, sh FROM g5 WHERE frac >= {BENCH_FRACTION}),
    tg AS (SELECT doc_id, unnest(sh) AS gr FROM tset),
    o AS (SELECT tg.doc_id, count(*) AS n_overlap
          FROM tg JOIN bset USING (gr) GROUP BY tg.doc_id),
    cont AS (
        SELECT tset.doc_id, coalesce(o.n_overlap, 0) AS n_overlap
        FROM tset LEFT JOIN o USING (doc_id)
    )
    SELECT c.doc_id, c.predicted_lang, c.ws_tokens, c.quality
    FROM clean c
    JOIN rep USING (doc_id)
    JOIN cont USING (doc_id)
    WHERE rep.top_bg <= {text.TOP_BIGRAM_FRAC_MAX}
      AND rep.dup_tg <= {text.DUP_TRIGRAM_FRAC_MAX}
      AND cont.n_overlap = 0
""".replace(
    "{en_words}",
    ", ".join(f"'{w}'" for w in text.STOPWORD_PROFILES["en"]),
)


@query("curate_corpus", _CURATE_SQL)
def curate_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X39: the FULL curation DAG a pretraining corpus pass runs, as one
    declarative plan: language gate + quality gate + length gate + exact
    dedup (clean_corpus) ∧ repetition gates (X33) ∧ benchmark
    decontamination (X31 — the inner join also drops the benchmark
    carve-out itself from the training output, as a real pass must).
    Every stage is an already-verified operator; this query proves they
    COMPOSE into one Catalyst plan: the gate branches are doc_id-keyed
    aggregates joined back to the fused scan+filter spine — no driver
    loops, no materialization between 'stages'. Shared with the
    ``jobs curate`` CLI via operators/curation.py."""
    from nginx_analytics_spark.operators.curation import curate_documents

    return curate_documents(load_table(spark, sf_dir, "documents"))


@query(
    "training_handoff",
    f"""
    WITH curated AS ({_CURATE_SQL}),
    h AS (SELECT doc_id, ws_tokens,
                 (doc_id * 2654435761) % 4294967296 AS hv
          FROM curated),
    s AS (SELECT doc_id, ws_tokens, hv,
                 CAST(floor(hv * 8 / 4294967296.0) AS BIGINT) AS shard
          FROM h),
    p AS (SELECT doc_id, ws_tokens, shard,
                 CAST(row_number() OVER (
                     PARTITION BY shard ORDER BY hv ASC, doc_id ASC)
                     AS BIGINT) AS pos
          FROM s)
    SELECT shard, count(*) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(doc_id * pos) AS BIGINT) AS order_digest
    FROM p GROUP BY shard
    """,
)
def training_handoff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67: the END-TO-END training hand-off — curation (X39) composed
    with the deterministic shuffle-shard assignment (X49) in ONE
    Catalyst plan, summarized per shard. ``order_digest`` =
    sum(doc_id * pos) pins the exact intra-shard read order (any
    survivor landing at a different position changes the digest), so
    the hash-match proves the full composition: every curation gate,
    the shard function, AND the shuffled ordering a training job will
    consume. The operational twin is the ``jobs handoff`` CLI
    (curate -> Z-order at-rest write -> shard export); plan-tested to
    add exactly one exchange over the curation DAG
    (tests/test_plans.py::test_handoff_adds_one_exchange)."""
    from nginx_analytics_spark.operators.curation import curate_documents

    curated = curate_documents(load_table(spark, sf_dir, "documents"))
    manifest = export.shard_assignments(curated, key="doc_id", n_shards=8)
    return manifest.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("n_tokens"),
        F.sum(F.col("doc_id") * F.col("pos")).alias("order_digest"),
    )


# --------------------------------------------------------------------------
# Behavioral analytics (funnel + cohort retention)
# --------------------------------------------------------------------------

_FUNNEL_STAGES = ["view", "click", "purchase"]


@query(
    "conversion_funnel",
    """
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    s1 AS (SELECT user_id, min(ts) AS stage_ts FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS stage_ts FROM e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.stage_ts GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS stage_ts FROM e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.stage_ts GROUP BY e.user_id)
    SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
           count(*) AS n_users FROM s1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', count(*) FROM s2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM s3
    """,
)
def conversion_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view -> click -> purchase funnel: each stage counts
    users whose first stage event follows their previous stage's first
    event. One conditional-min aggregation + broadcast join per stage —
    no window pass over the raw stream, no per-user state."""
    return behavior.conversion_funnel(
        load_table(spark, sf_dir, "events"), _FUNNEL_STAGES
    )


@query(
    "cohort_retention",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    f AS (SELECT user_id,
                 CAST(date_trunc('week', min(CAST(ts AS DATE))) AS DATE)
                     AS cohort_start
          FROM e GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM e)
    SELECT f.cohort_start,
           CAST(floor(date_diff('day', f.cohort_start, a.day) / 7) AS BIGINT)
               AS period_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week
    (Monday-start date_trunc, identical in the oracle engine), distinct
    actives per (cohort, week offset). Two hash aggregations and one
    broadcast join."""
    return behavior.cohort_retention(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Deterministic sampling / dataset splits
# --------------------------------------------------------------------------


@query(
    "dataset_split_counts",
    f"""
    WITH s AS (
        SELECT event_id,
               CASE WHEN {sampling.portable_frac_sql("event_id")} < 0.8
                         THEN 'train'
                    WHEN {sampling.portable_frac_sql("event_id")} < 0.9
                         THEN 'val'
                    ELSE 'test' END AS split
        FROM events
    )
    SELECT split, count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM s GROUP BY split
    """,
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by portable key hash — reproducible
    across runs, engines, and partitionings (unlike randomSplit). id_sum
    pins row-level membership, not just the counts."""
    ev = sampling.dataset_split(load_table(spark, sf_dir, "events"), "event_id")
    return ev.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("event_id").alias("id_sum")
    )


@query(
    "stratified_sample_events",
    f"""
    SELECT event_id, user_id FROM events
    WHERE {sampling.portable_frac_sql("event_id", salt=7)} < 0.1
    """,
)
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample by key hash (salt 7): partition-count
    independent, and nested — the 10% sample is a subset of the 20%."""
    ev = load_table(spark, sf_dir, "events")
    return sampling.stratified_sample(ev, "event_id", 0.1, salt=7).select(
        "event_id", "user_id"
    )


@query(
    "grouped_split_users",
    f"""
    SELECT DISTINCT user_id,
           CASE WHEN {sampling.portable_frac_sql("user_id")} < 0.8 THEN 'train'
                WHEN {sampling.portable_frac_sql("user_id")} < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM events
    """,
)
def grouped_split_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe grouped split: hash the GROUP key (user), so every row
    of a user lands in exactly one split — the property a row-level random
    split silently violates for grouped data."""
    ev = sampling.dataset_split(
        load_table(spark, sf_dir, "events"), "user_id"
    )
    return ev.select("user_id", "split").distinct()


# --------------------------------------------------------------------------
# Temporal joins (as-of + range — operators Spark lacks natively)
# --------------------------------------------------------------------------

# Deduped purchase stream: as-of and interval joins need a right side
# unique per (key, ts); survivor = lowest event_id (deterministic).
_PURCHASES_SQL = """
    SELECT user_id, ts, value, event_id FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                                  ORDER BY event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ) d WHERE rn = 1
"""


def _purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return dedup.exact_dedup(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value", "event_id"
        ),
        keys=["user_id", "ts"],
        order_col="event_id",
    )


@query(
    "asof_last_purchase",
    f"""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    p AS ({_PURCHASES_SQL})
    SELECT e.event_id, e.user_id, e.ts AS "timestamp",
           p.value AS last_purchase_value
    FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators.temporal.asof_join): every event
    carries the user's latest purchase value at or before it. Implemented
    as union + one per-key ordered window pass (one exchange, no range
    explosion); the oracle is DuckDB's native ASOF JOIN — exact
    cross-engine semantics including the inclusive boundary."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = _purchases(spark, sf_dir).drop("event_id")
    out = temporal.asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts", payload=("value",)
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("timestamp"),
        F.col("asof_value").alias("last_purchase_value"),
    )


@query(
    "purchase_window_counts",
    f"""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    p AS ({_PURCHASES_SQL})
    SELECT p.event_id AS window_id, p.user_id, count(*) AS n_events
    FROM e JOIN p
      ON e.user_id = p.user_id
     AND e.ts >= p.ts
     AND e.ts < p.ts + INTERVAL 30 MINUTE
    GROUP BY 1, 2
    """,
)
def purchase_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via time-bin bucketing
    (operators.temporal.binned_range_join): events falling in each
    30-minute post-purchase window, counted per window. One (key, bin)
    equi-shuffle instead of the nested-loop theta-join Spark would plan
    for the naive BETWEEN formulation; the oracle IS that naive
    formulation on DuckDB."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    p = _purchases(spark, sf_dir)
    intervals = p.select(
        F.col("event_id").alias("window_id"),
        "user_id",
        F.col("ts").alias("wstart"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("wend"),
    )
    joined = temporal.binned_range_join(
        ev, intervals, key="user_id", ts="ts", start="wstart", end="wend",
        bin_minutes=30,
    )
    return joined.groupBy("window_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# --------------------------------------------------------------------------
# Latency percentiles (log-analytics staple; exact + sketch scale path)
# --------------------------------------------------------------------------


@query(
    "latency_percentiles",
    f"""
    SELECT event_type,
           {R6_SQL.format(x="quantile_cont(value, 0.50)")} AS p50,
           {R6_SQL.format(x="quantile_cont(value, 0.95)")} AS p95,
           {R6_SQL.format(x="quantile_cont(value, 0.99)")} AS p99,
           count(*) AS n_rows
    FROM events
    GROUP BY event_type
    """,
)
def latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-key p50/p95/p99 (linear interpolation = ANSI
    quantile_cont). The verification operator — buffers each group; the
    100 TB serving path is latency_percentiles_approx."""
    return aggregates.percentiles(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    )


@query("latency_percentiles_approx")  # sketch estimate — rows-only check
def latency_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch percentiles (percentile_approx): one pass,
    map-side-combined partials, bounded memory per group — the 100 TB
    path. Rank-error bound vs the exact operator asserted in
    tests/test_dataops.py."""
    return aggregates.approx_percentiles(
        load_table(spark, sf_dir, "events"), "event_type", "value"
    )


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------


@query(
    "multimodal_features",
    """
    WITH s AS (
        SELECT doc_id,
               length(text)::BIGINT AS n_bytes,
               list_reduce(
                   list_prepend(0, [ord(c)::BIGINT for c in split(text, '')]),
                   (acc, x) -> acc + x) AS bytesum
        FROM documents
    )
    SELECT doc_id, n_bytes,
           bytesum % 2147483648 AS checksum,
           floor(bytesum::DOUBLE / n_bytes * 1000000 + 0.5) / 1000000
               AS mean_byte
    FROM s
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing end-to-end: text -> binary payload + typed
    media metadata -> Arrow-batched mapInPandas featurizer. The payload is
    ASCII text bytes, so the byte checksum is SQL-replicable (ord == byte);
    a real image decoder drops into the same mapInPandas slot
    (operators.multimodal.decode_image_stub)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = multimodal.attach_payload(docs)
    return multimodal.byte_features(payloads)


# --------------------------------------------------------------------------
# r4 additions: TF-IDF, shard export, quantile binning, centroids
# --------------------------------------------------------------------------


@query(
    "tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term, tf, df,
               {half_up_sql("tf * ln(CAST(n_docs AS DOUBLE) / df)")} AS tfidf
        FROM tf JOIN dfreq USING (term), n
    )
    SELECT doc_id, term, tf, df, tfidf,
           CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X48: TF-IDF keyword extraction — top-3 terms per document
    (operators.text.tfidf_top_terms; plan shape in its docstring)."""
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@query(
    "shard_manifest",
    """
    WITH h AS (SELECT doc_id,
                      (doc_id * 2654435761) % 4294967296 AS hv
               FROM documents),
    s AS (SELECT doc_id, hv,
                 CAST(floor(hv * 8 / 4294967296.0) AS BIGINT) AS shard
          FROM h)
    SELECT doc_id, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY hv ASC, doc_id ASC) AS BIGINT)
               AS pos
    FROM s
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X49: deterministic shuffle-shard export manifest — globally
    shuffled, partition-invariant, engine-portable shard + position per
    row (operators.export; the writer twin is write_shards)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return export.shard_assignments(docs, "doc_id", 8)


@query(
    "value_deciles",
    """
    SELECT event_id, event_type, value,
           CAST(ntile(10) OVER (
               PARTITION BY event_type ORDER BY value ASC, event_id ASC)
               AS BIGINT) AS bin
    FROM events
    """,
)
def value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50a: exact per-group decile binning (NTILE) — deterministic via
    the event_id tiebreak (operators.features.ntile_bins)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return features.ntile_bins(ev, "event_type", "value", "event_id", 10)


@query(
    "data_expectations",
    """
    SELECT 'events_event_id_unique' AS rule,
           -- ROW() wrap mirrors Spark's struct-wrapped distinct (r6
           -- unique() semantics): NULL keys compare as VALUES, so both
           -- engines agree even if the fixture ever carries NULL ids
           CAST(count(*) - count(DISTINCT ROW(event_id)) AS BIGINT)
               AS violations,
           count(*) - count(DISTINCT ROW(event_id)) = 0 AS passed
    FROM events
    UNION ALL
    SELECT 'events_user_id_not_null',
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) = 0
    FROM events
    UNION ALL
    SELECT 'events_value_within_0_100',
           CAST(sum(CASE WHEN value IS NOT NULL
                          AND (value < 0 OR value > 100)
                     THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 100)
               THEN 1 ELSE 0 END) = 0
    FROM events
    UNION ALL
    SELECT 'events_ts_in_fixture_window',
           CAST(sum(CASE WHEN ts IS NOT NULL
                          AND (ts < TIMESTAMP '2024-01-01 00:00:00'
                               OR ts > TIMESTAMP '2024-02-01 00:00:00')
                     THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN ts IS NOT NULL
                     AND (ts < TIMESTAMP '2024-01-01 00:00:00'
                          OR ts > TIMESTAMP '2024-02-01 00:00:00')
               THEN 1 ELSE 0 END) = 0
    FROM events
    UNION ALL
    SELECT 'orders_custkey_in_customer',
           CAST(count(*) FILTER (
               o_custkey IS NOT NULL AND o_custkey NOT IN (
                   SELECT c_custkey FROM customer)) AS BIGINT),
           count(*) FILTER (
               o_custkey IS NOT NULL AND o_custkey NOT IN (
                   SELECT c_custkey FROM customer)) = 0
    FROM orders
    UNION ALL
    SELECT 'lineitem_orderkey_in_orders',
           CAST(count(*) FILTER (
               l_orderkey IS NOT NULL AND l_orderkey NOT IN (
                   SELECT o_orderkey FROM orders)) AS BIGINT),
           count(*) FILTER (
               l_orderkey IS NOT NULL AND l_orderkey NOT IN (
                   SELECT o_orderkey FROM orders)) = 0
    FROM lineitem
    """,
)
def data_expectations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70: declarative data-quality gate (the Deequ/Great-Expectations
    role, as plain Catalyst aggregates): four single-table rules over
    events evaluated in ONE scan/aggregate pass (uniqueness via
    distinct-agg, null-freedom, a value range, a timestamp window) plus
    two referential-integrity rules as LEFT ANTI orphan counts
    (orders->customer, lineitem->orders). Output is (rule, violations,
    passed) — counts, not booleans, because the count is what a monitor
    stores and an operator pages on. The value-range rule FAILS on the
    fixture by design (value tops out near 500): the report shape must
    carry real violation counts, not just green checkmarks."""
    from datetime import datetime

    from nginx_analytics_spark.operators import expectations as ex

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    single_pass = ex.check(
        ev,
        {
            "events_event_id_unique": ex.unique("event_id"),
            "events_user_id_not_null": ex.not_null("user_id"),
            "events_value_within_0_100": ex.within("value", 0.0, 100.0),
            "events_ts_in_fixture_window": ex.within(
                "ts", datetime(2024, 1, 1), datetime(2024, 2, 1)
            ),
        },
    )
    return ex.suite(
        [
            single_pass,
            ex.check_reference(
                orders, "o_custkey", customer, "c_custkey",
                "orders_custkey_in_customer",
            ),
            ex.check_reference(
                lineitem, "l_orderkey", orders, "o_orderkey",
                "lineitem_orderkey_in_orders",
            ),
        ]
    )


@query("cms_user_counts_7d")  # CMS cells hash with xxhash64 — rows-only
def cms_user_counts_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68: mergeable count-min frequency rollup — per-day sparse CMS
    sketches over events.user_id, merged (cell-wise SUM) across the
    trailing 7-day window and probed for every user's event count.
    The frequency analogue of the X60 HLL rollup: any date range
    answers from O(days x depth x width) pre-aggregated rows with zero
    raw rescan. Estimates never undercount; overcount bound, the
    merge==direct identity, and the empty-cell zero path are property-
    tested in tests/test_sketches.py. Rows-only: the cell hash is
    engine-native xxhash64, not SQL-portable by design."""
    from nginx_analytics_spark.operators import frequency
    from nginx_analytics_spark.registry import AS_OF, HISTORY_START

    ev = load_table(spark, sf_dir, "events")
    sketches = frequency.cms_daily_sketches(ev, "ts", "user_id")
    probes = ev.select("user_id")
    return frequency.cms_estimate(
        sketches, probes, "user_id", HISTORY_START, AS_OF
    )


@query("kll_latency_percentiles_7d")  # sketch estimates — rows-only
def kll_latency_percentiles_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71: mergeable KLL quantile rollup — per-day KLL sketches of
    events.value merged over the trailing 7-day window, reading
    p50/p95/p99 from O(days) sketch rows with zero raw rescan (the
    quantile member of the sketch-rollup trilogy: X60 HLL distinct,
    X68 CMS frequency). Rank-error-vs-exact and merged==direct
    properties tested in tests/test_sketches.py; rows-only by nature
    (sketch estimates are engine-specific)."""
    from nginx_analytics_spark.registry import AS_OF, HISTORY_START

    ev = load_table(spark, sf_dir, "events")
    sketches = aggregates.kll_daily_sketches(ev, "ts", "value")
    return aggregates.kll_range_percentiles(sketches, HISTORY_START, AS_OF)


@query("theta_user_overlap")  # sketch estimates — rows-only
def theta_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72: Theta-sketch distinct SET ALGEBRA — the question the HLL
    rollup cannot answer: how many distinct users did BOTH purchase and
    error (intersection), either-only (differences), and either
    (union), computed entirely in the compressed domain from one
    mergeable sketch per event type. Below the sketch's 2^12 retention
    the estimates are exact (asserted vs exact set ops in
    tests/test_sketches.py); rows-only by nature."""
    ev = load_table(spark, sf_dir, "events")
    sketches = aggregates.theta_group_sketches(ev, "event_type", "user_id")
    return aggregates.theta_overlap(sketches, "event_type", "purchase", "error")


@query("value_buckets_approx")  # sketch cutpoints — engine-specific, rows-only
def value_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50b: the 100 TB binning path — approx global quantile cutpoints
    (Greenwald-Khanna sketch, mergeable partials) + broadcast bucket
    assignment; no per-group sort, skew-immune. Bucket-balance and
    monotonicity property-tested in tests/test_export.py."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return features.quantile_bucketize(ev, "value", 10)


@query(
    "embedding_centroids",
    f"""
    SELECT label, CAST(i AS BIGINT) AS dim,
           {half_up_sql("avg(CAST(embedding[i + 1] AS DOUBLE))")} AS centroid
    FROM embeddings CROSS JOIN generate_series(0, 63) AS t(i)
    GROUP BY label, i
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X51: per-label embedding centroids as (label, dim, centroid) rows
    (operators.similarity.label_centroids). The oracle's generate_series
    bound is the fixture's fixed dim=64; Spark derives dims from the
    arrays themselves."""
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    return similarity.label_centroids(emb)


@query(
    "heavy_tokens",
    """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
                 FROM documents)
    SELECT term, count(*) AS n
    FROM tok GROUP BY term HAVING count(*) >= 100
    """,
)
def heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53: exact heavy hitters without shuffling the tail — pigeonhole
    local candidates (mapInPandas partition counts) + broadcast-pruned
    exact verify (operators.frequency). The oracle is the naive GROUP
    BY / HAVING twin the operator's plan avoids at scale."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("term"))
    return frequency.heavy_hitters(tok, "term", 100)


@query(
    "user_sessions",
    """
    WITH s AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         > 21600000000
                    THEN 1 ELSE 0 END AS flag
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    x AS (
        SELECT user_id, ts,
               CAST(sum(flag) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_idx
        FROM s
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) AS TIMESTAMP) AS session_end,
           (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0
               AS duration_sec
    FROM x GROUP BY user_id, session_idx
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54: batch sessionization (gap rule, lag-flag-cumsum) + per-session
    rollup — the at-rest twin of the streaming session_window
    (operators.behavior.sessionize/session_stats)."""
    ev = load_table(spark, sf_dir, "events")
    return behavior.session_stats(ev, gap_seconds=21_600)


@query(
    "daily_event_matrix",
    """
    SELECT date_trunc('day', ts) AS day,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
               AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def daily_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55: PIVOT — day x event_type count matrix. The value list is
    EXPLICIT (no discovery pass over the data; an implicit pivot runs a
    distinct first and its column set depends on the input — both wrong
    at scale). One hash aggregation; absent cells filled 0 to match the
    conditional-count relational twin."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


@query(
    "purchase_and_error_users",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def purchase_and_error_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56: set operation — INTERSECT (distinct semantics) of two
    filtered projections. Spark plans it as a dedup + LeftSemi hash
    join on the single user_id column — the shuffle carries distinct
    keys only."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    er = ev.filter(F.col("event_type") == "error").select("user_id")
    return p.intersect(er)


@query(
    "value_trends",
    f"""
    SELECT event_type,
           {half_up_sql(
               "regr_slope(value, (epoch_us(ts) - epoch_us("
               "TIMESTAMP '2024-01-01 00:00:00')) / 3600000000.0)"
           )} AS slope,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def value_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57: per-group OLS trend via the ANSI regr_slope aggregate —
    closed-form linear regression as ONE streaming aggregation (no
    MLlib fit, no second pass). The x axis is hours-since-epoch-start in
    exact integer-microsecond arithmetic so both engines see identical
    doubles."""
    ev = load_table(spark, sf_dir, "events")
    base = F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    hours = (F.unix_micros(F.col("ts").cast("timestamp")) - base) / 3.6e9
    return ev.groupBy("event_type").agg(
        r6(F.regr_slope(F.col("value"), hours)).alias("slope"),
        F.count(F.lit(1)).alias("n"),
    )


@query("sketch_distinct_users_7d")  # sketch estimate — rows-only check
def sketch_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60: mergeable HLL sketch rollup — materialize one DataSketches
    HLL per day, answer a 7-day distinct-user count by unioning 7
    sketch rows (no raw-data rescan). Union-equals-direct and 5%%
    accuracy asserted in tests/test_sketches.py."""
    ev = load_table(spark, sf_dir, "events")
    daily = aggregates.daily_sketches(ev, "ts", "user_id")
    return aggregates.sketch_range_estimate(
        daily, "2024-01-23 00:00:00", "2024-01-30 00:00:00"
    )


@query(
    "incremental_ip_stats",
    f"""
    SELECT user_id, count(*) AS request_count,
           {half_up_sql("avg(value)")} AS avg_request_time
    FROM events GROUP BY user_id
    """,
)
def incremental_ip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61: incremental view maintenance — per-key stats kept as
    mergeable (count, sum) partials; yesterday's partials merged with
    today's delta equal a full recompute (the oracle IS the full
    recompute). The merge joins one-row-per-key frames; history is
    never rescanned."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-20 00:00:00").cast("timestamp")
    old = aggregates.key_stats_partial(
        ev.filter(F.col("ts") < cut), "user_id", "value"
    )
    delta = aggregates.key_stats_partial(
        ev.filter(F.col("ts") >= cut), "user_id", "value"
    )
    return aggregates.finalize_key_stats(
        aggregates.merge_key_stats(old, delta, "user_id")
    )


@query(
    "frame_features",
    """
    WITH f AS (
        SELECT doc_id, i AS frame_idx, i * 16 AS "offset",
               substr(text, i * 16 + 1, 32) AS frame
        FROM documents CROSS JOIN generate_series(0, 7) AS t(i)
        WHERE i * 16 + 32 <= length(text)
    ),
    s AS (
        SELECT doc_id, frame_idx, "offset",
               list_reduce(
                   list_prepend(0, [ord(c)::BIGINT for c in split(frame, '')]),
                   (acc, x) -> acc + x) AS fsum
        FROM f
    )
    SELECT doc_id, frame_idx, "offset",
           fsum % 2147483648 AS frame_checksum,
           floor(fsum::DOUBLE / 32 * 1000000 + 0.5) / 1000000 AS frame_mean
    FROM s
    """,
)
def frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62: video-shape frame sampling — one payload row fans out to <=8
    overlapping fixed-length frame windows (stride 16, length 32), each
    featurized in the Arrow kernel (operators.multimodal.frame_samples).
    The payload is ASCII text bytes, so the byte-window checksum/mean is
    SQL-replicable and the whole fan-out is hash-checked; a real
    pyav/opencv decoder drops into the same mapInPandas slot."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.frame_samples(multimodal.attach_payload(docs))


@query(
    "error_only_users",
    """
    SELECT user_id FROM events WHERE event_type = 'error'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def error_only_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56b: set operation — EXCEPT (distinct anti semantics): users who
    hit errors but never purchased. Spark plans dedup + LeftAnti on the
    single key column; with INTERSECT (purchase_and_error_users) this
    completes the §2.5 set-op surface."""
    ev = load_table(spark, sf_dir, "events")
    er = ev.filter(F.col("event_type") == "error").select("user_id")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return er.subtract(p)  # subtract == EXCEPT DISTINCT


@query(
    "traffic_cube",
    f"""
    SELECT event_type,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           CAST(grouping(event_type) AS INT) AS g_type,
           CAST(grouping(CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                AS TIMESTAMP)) AS INT) AS g_day,
           count(*) AS n_events,
           {half_up_sql("sum(value)")} AS total_value
    FROM events
    GROUP BY CUBE (event_type,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                        AS TIMESTAMP))
    """,
)
def traffic_cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47b: CUBE over (event_type, day) — all four grouping sets
    (cells, per-type, PER-DAY, grand total) in one Expand pass; the
    per-day margin is the set ROLLUP (X47) cannot produce."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return (
        ev.select("event_type", day, "value")
        .cube("event_type", "day")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count(F.lit(1)).alias("n_events"),
            half_up(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "event_type", "day", "g_type", "g_day", "n_events", "total_value"
        )
    )


@query(
    "engaged_users",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    UNION
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
)
def engaged_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56c: set operation — UNION (distinct semantics): one hash
    aggregation over the concatenated branches. Completes the set-op
    trio with INTERSECT (purchase_and_error_users) and EXCEPT
    (error_only_users)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id")
    s = ev.filter(F.col("event_type") == "signup").select("user_id")
    return p.union(s).distinct()


@query(
    "value_rank_profile",
    f"""
    SELECT event_id, event_type, value,
           {half_up_sql(
               "percent_rank() OVER (PARTITION BY event_type "
               "ORDER BY value ASC, event_id ASC)"
           )} AS pct_rank,
           {half_up_sql(
               "cume_dist() OVER (PARTITION BY event_type "
               "ORDER BY value ASC, event_id ASC)"
           )} AS cume
    FROM events
    """,
)
def value_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50c: analytic rank functions — percent_rank + cume_dist per
    group (the normalized-rank features a scoring pipeline derives);
    one window pass, deterministic via the event_id tiebreak."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "event_type",
        "value",
        r6(F.percent_rank().over(w)).alias("pct_rank"),
        r6(F.cume_dist().over(w)).alias("cume"),
    )


@query(
    "doc_logprob",
    f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
    vocab AS (SELECT term, count(*) AS n_t FROM tok GROUP BY term),
    total AS (SELECT count(*) AS n_total FROM tok)
    SELECT doc_id, count(*) AS n_tokens,
           {half_up_sql("avg(ln(CAST(n_t AS DOUBLE) / n_total))")}
               AS avg_logprob
    FROM tok JOIN vocab USING (term), total
    GROUP BY doc_id
    """,
)
def doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65: unigram-LM document scoring (operators.text.unigram_logprob)
    — the CCNet-style perplexity-bucket quality signal, trained and
    applied in one Catalyst plan."""
    return text.unigram_logprob(load_table(spark, sf_dir, "documents"))
