"""Deduplication operators — the LLM-training-data extension (SURVEY.md §7 M6).

The reference stops at ``dropDuplicates`` being *implied* by its at-least-once
upstream (SURVEY.md §2.5, producer/main.py:85-101); a 100 TB corpus pipeline
needs the full ladder:

  * exact dedup           — hash-groupBy on a (normalized) key; one shuffle.
  * MinHash + LSH         — shingle -> k minhashes -> banded bucket join;
                            near-linear candidate generation, exact Jaccard
                            verification only on candidates.
  * SimHash               — 64-bit bitwise fingerprint, hamming-banded.
  * n-gram Jaccard        — the exact similarity metric (verification stage).
  * embedding cosine      — near-dup by vector similarity (see similarity.py
                            for the LSH-bucketed scale path).

Everything below is pure ``pyspark.sql.functions`` — no Python UDFs, no
driver-side collection; all hashing is JVM-side ``xxhash64`` inside
higher-order functions, so the hot path stays in whole-stage codegen.

Scale notes (100 TB):
  * LSH banding turns the O(n²) pair problem into |bands| shuffles keyed by
    (band_idx, band_hash); bucket sizes are bounded by real collision rates,
    and AQE skew-join splitting handles a hot bucket.
  * The candidate self-join carries only (id, band keys); shingle sets are
    re-joined per side afterwards so the wide text column never rides
    through the bucket shuffle.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nginx_analytics_spark.functions.rounding import half_up
from nginx_analytics_spark.operators.index_fs import (
    SEEN_KINDS,
    banded_index_probe,
    banded_index_write,
    check_sidecar,
    index_kind,
    read_sidecar,
    write_sidecar,
)

# MinHash defaults: 32 permutations banded 16x2. Candidate probability at
# similarity s is 1-(1-s^2)^16: ~0.1% miss rate at the 0.6 output threshold,
# effectively 0 above 0.8 — while pairs at background similarity (s~0.01)
# collide with P~2e-3, keeping the candidate set near-linear even when the
# corpus shares a small vocabulary (r=1 banding degrades to ~s per band and
# blows up quadratically on such corpora).
NUM_HASHES = 32
ROWS_PER_BAND = 2
SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 x 16-bit chunks: catches all pairs with hamming <= 3


def normalize_text(col: Column | str) -> Column:
    """Canonical text key for exact dedup: lowercase, collapsed whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Exact dedup: keep the first row per key, ordered by ``order_col``.

    ``row_number`` over a hash-partitioned window — one shuffle on the dedup
    key, deterministic survivor choice (unlike ``dropDuplicates``, which
    keeps an arbitrary row and is therefore not oracle-comparable).
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles of a whitespace-tokenized text.

    Documents with fewer than ``n`` tokens contribute their whole text as a
    single shingle (so they can still be exact-duplicate-matched).

    The token array is bound ONCE per row via a single-element ``transform``
    lambda (a let-binding): naively inlining ``split(text)`` into every
    ``element_at`` re-tokenizes the row ~3x per shingle — hundreds of array
    allocations per row — which measured ~50x slower on the 5k-doc fixture.

    Driver-side, the built tree is memoized per (column name, n) — this
    is the hottest expression builder in the engine (every jaccard /
    minhash / prefix / contamination path calls it, some twice) and its
    HOF lambdas cost ~a dozen py4j round trips each to construct; see
    :mod:`nginx_analytics_spark.functions.exprcache`.
    """
    if isinstance(text, str):
        from nginx_analytics_spark.functions.exprcache import cached_column

        return cached_column(
            ("word_shingles", text, n), lambda: word_shingles(F.col(text), n)
        )
    t = text

    def build(w: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(w, i + j) for j in range(n)]
        )
        return F.array_distinct(
            F.when(F.size(w) >= n, F.transform(idx, gram)).otherwise(F.array(t))
        )

    return F.element_at(F.transform(F.array(F.split(t, " ")), build), 1)


def _cand_threshold(threshold: float, round_to: int | None) -> float:
    """The candidate-stage threshold. An output rounded half-up to
    ``round_to`` places admits a true J down to ``t - 0.5·10^-round_to``,
    so every candidate bound (prefix length, length and positional
    filters) is cut there; the output filter still applies ``t``."""
    t_cand = float(threshold)
    if round_to is not None:
        t_cand -= 0.5 * 10.0 ** (-round_to)
    return t_cand


def _length_bound(n_a: Column, n_b: Column, t_cand: float) -> Column:
    """The Jaccard length bound on two set sizes: J >= t needs
    ``t·max(|A|,|B|) <= min(|A|,|B|)``, since J <= min/max. It is a
    necessary condition of the output filter, so applying it anywhere
    before verify changes no result; the 1e-9 absorbs float slop."""
    return (
        F.least(n_a, n_b).cast("double")
        >= F.lit(t_cand) * F.greatest(n_a, n_b).cast("double")
        - F.lit(1e-9)
    )


def _positional_bound(
    n_a: Column, pos_a: Column, n_b: Column, pos_b: Column, t_cand: float
) -> Column:
    """PPJoin positional filter (Xiao et al., WWW 2008) at a shared gram
    sitting at ``pos_a``/``pos_b`` of the shared order. J >= t_cand
    needs overlap >= alpha = ceil(t_cand·(|A|+|B|)/(1+t_cand)), and
    every OTHER shared gram sorts at or after this one only when it is
    the pair's rarest shared gram — there the overlap is bounded by
    1 + min(remaining tokens). Filtering every generated occurrence by
    that bound is exact: the rarest-shared-gram occurrence always
    satisfies it (overlap itself is >= alpha there), so a qualifying
    pair survives into the distinct; occurrences pruned are duplicates
    or sub-alpha pairs verify would reject anyway. Measured at sf0.1:
    candidate pairs 193k -> 69k (x2.8), wall x1.45, output identical.
    Float slack inside ceil mirrors :func:`_prefix_length`: an ulp-high
    product cannot raise alpha."""
    alpha = F.ceil(
        F.lit(t_cand) / (1.0 + t_cand) * (n_a + n_b).cast("double")
        - F.lit(1e-9)
    )
    return F.lit(1) + F.least(n_a - pos_a, n_b - pos_b) >= alpha


def _prefix_length(t_cand: float) -> Column:
    """PPJoin prefix length of a set of size ``n``: ``n - ceil(t·n) + 1``,
    with the float slack :func:`jaccard_pairs_prefix` explains (it can
    only lengthen a prefix, never lose recall)."""
    minreq = F.ceil(F.lit(t_cand) * F.col("n") - F.lit(1e-9))
    return F.col("n") - minreq + F.lit(1)


def _pair_cond(
    keys: list[str],
    id_col: str | None,
    t_cand: float | None,
    positional: bool = False,
) -> Column:
    """Condition of a pair join over frames aliased ``a`` and ``b``:
    equal ``keys``; ``a.id < b.id`` when ``id_col`` is given (a
    self-join emits each pair once; a cross join passes None); the
    length bound on ``n`` when ``t_cand`` is given; the positional
    bound on (``n``, ``pos``) when ``positional``."""
    parts = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if id_col is not None:
        parts.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    if t_cand is not None:
        parts.append(_length_bound(F.col("a.n"), F.col("b.n"), t_cand))
    if positional:
        parts.append(
            _positional_bound(
                F.col("a.n"), F.col("a.pos"), F.col("b.n"), F.col("b.pos"),
                t_cand,
            )
        )
    return functools.reduce(operator.and_, parts)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str = "signature",
    rows_per_band: int = ROWS_PER_BAND,
    threshold: float | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Banded-LSH candidate pairs: ids sharing ≥1 band of their signature.

    Self-join the :func:`banded_signature_keys` rows on (band_idx,
    band_hash) — the standard near-linear LSH plan. Returns distinct
    (id_a, id_b) with id_a < id_b. Only (id, band) rides the shuffle.

    When ``sigs`` carries the shingle-set size ``n``
    (:func:`signatures_from_shingles` emits it) and ``threshold`` is
    given, the Jaccard length bound, widened to the half-up rounding
    band like every exact path, rides the self-join condition (r16): a
    mismatched-size collision dies in the join instead of surviving to
    the distinct and the two shingle-array verify joins. Necessary
    condition of the verify filter ⇒ the final pair set is unchanged.
    """
    t_cand = (
        _cand_threshold(threshold, round_to)
        if threshold is not None and threshold > 0.0 and "n" in sigs.columns
        else None
    )
    banded = banded_signature_keys(sigs, id_col, sig_col, rows_per_band)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, _pair_cond(["band_idx", "band_hash"], id_col, t_cand))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return inter.cast("double") / union


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 3,
    num_hashes: int = NUM_HASHES,
    round_to: int | None = 6,
    exact_net: bool = False,
    shingles_df: DataFrame | None = None,
    signatures_df: DataFrame | None = None,
    broadcast_verify: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH candidates + exact Jaccard verify.

    Output: (id_a, id_b, jaccard) for every pair with shingle-set Jaccard
    >= threshold. The LSH stage only prunes the pair space; the reported
    similarity is exact, so (modulo the ~(1-t)^k missed-candidate odds
    documented above) this equals the brute-force O(n²) answer — which is
    exactly what the DuckDB oracle computes.

    ``exact_net=True`` additionally unions the OUTPUT with the relational
    exact plan (:func:`exact_jaccard_pairs` over the same shingling),
    making recall 1 BY CONSTRUCTION: every pair with Jaccard >= threshold
    shares at least one shingle, so the gram co-occurrence join surfaces
    it regardless of how the bands fall. Both paths derive the identical
    double (same intersection/union integers), so the union dedups with
    a plain ``distinct``. Use it on verification/gate tiers where the
    output must equal a brute-force oracle for ANY input (e.g. a
    regenerated fixture); the LSH path still runs end-to-end, the net
    closes the ~1e-3 near-threshold miss odds. The net is the count-based
    relational plan (codegen'd hash ops, never per-pair array
    intersections) — measured 4.3s -> ~2s at sf0.1 vs netting the
    CANDIDATE set into the per-pair verify join. At corpus scale the
    net's gram self-join costs Σ_g df(g)² — cheap on discriminative word
    3-shingles, but the pure-LSH path (exact_net=False) is the 100 TB
    default.

    ``shingles_df`` / ``signatures_df`` (r16, guide §1.2 "don't compute
    things twice"): a caller that ALSO needs the batch's shingles or
    minhash signatures (the X80 ingest loop signs the same batch for the
    within-batch pass, the at-rest probe, and the index append) passes
    its already-materialized (id, shingles) / (id, signature) frames
    here and this function skips recomputing them. The frames MUST be
    the same construction (``word_shingles(text, shingle_n)`` /
    :func:`signatures_from_shingles` at ``num_hashes``) and should be
    eagerly checkpointed by the caller — they are consumed by multiple
    joins below.

    ``broadcast_verify`` (r17): batch-shaped callers (``docs`` is one
    micro-batch) flip this to run the two verify joins as broadcast
    builds — zero exchanges instead of two shuffles. Off by default:
    corpus-wide callers' candidate sets scale with collision volume.
    """
    # localCheckpoint: shingles/signatures are consumed by BOTH sides of
    # the candidate self-join and again by the verify joins — without
    # materialization each branch re-tokenizes and re-hashes the corpus
    # (4x the dominant cost). Blocks are executor-local and reclaimed by
    # the ContextCleaner when the frame is dropped; on a cluster where
    # executor loss must be survivable, swap for a temp-table write.
    # EAGER, deliberately: a lazy checkpoint materializes inside whichever
    # SQL execution consumes it first, and that execution's teardown can
    # race the checkpoint stage's task-end accumulator updates ("attempted
    # to access non-existent accumulator" from the DAGScheduler event loop,
    # seen in the r1 bench log). Eager runs the checkpoint under its own
    # job, so consuming executions only ever read finished blocks.
    if shingles_df is not None:
        sh = shingles_df.select(
            F.col(id_col), F.col("shingles")
        )
    else:
        sh = docs.select(
            F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
        ).localCheckpoint(eager=True)
    # Signature via explode + k min-aggregates, NOT k array_min(transform)
    # HOF passes: higher-order functions always run on the interpreted
    # expression path (no codegen), whose JIT inlining degrades sharply in
    # long sessions as expression call sites go megamorphic — observed as
    # 5-25x run-to-run variance. The hash-agg formulation is fully
    # codegen'd and combines map-side (one row per doc per partition).
    if signatures_df is not None:
        sigs = signatures_df
    else:
        sigs = signatures_from_shingles(
            sh, id_col, "shingles", num_hashes
        ).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(
        sigs, id_col, threshold=threshold, round_to=round_to
    )
    if exact_net:
        # The exact relational frame IS the verified similarity for every
        # pair sharing a shingle — a superset of any LSH candidate set.
        # Verify candidates against it with a semi join instead of
        # re-joining shingle arrays per candidate (the array re-join
        # carries the wide shingle column through two shuffles; measured
        # ~2x the whole operator at sf0.1). The LSH path still executes
        # end-to-end — signatures, banding, candidate self-join — and the
        # union+distinct with the net keeps recall 1 by construction.
        net = _relational_jaccard(
            sh, id_col, "shingles", threshold, round_to
        ).localCheckpoint(eager=True)  # two consumers below
        lsh_verified = cands.join(net, ["id_a", "id_b"])
        return lsh_verified.unionByName(net).distinct()
    # broadcast_verify (batch-shaped callers only, the X80 within-batch
    # pass, r17): docs is ONE micro-batch, so the SHINGLE frame is
    # batch-bounded and both verify joins become broadcast builds of IT
    # — zero exchanges instead of two shuffles per batch, with the
    # candidate pairs always on the stream side (never broadcast: even
    # within a batch their count is quadratic in collisions). NOT the
    # corpus-wide default, where nothing here is small.
    hint = F.broadcast if broadcast_verify else (lambda f: f)
    return _verify_pairs(
        cands, hint(sh.alias("sa")), hint(sh.alias("sb")), id_col,
        "shingles", threshold, round_to,
    )


def _verify_pairs(
    cands: DataFrame,
    sa: DataFrame,
    sb: DataFrame,
    id_col: str,
    sh_col: str,
    threshold: float,
    round_to: int | None,
    ids: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs ``ids`` against
    (id, shingle-array) frames aliased ``sa`` and ``sb`` (a batch-sized
    side arrives wrapped in ``F.broadcast``): the per-pair
    :func:`jaccard` of the banded and stop-gram paths. Emits
    (ids, jaccard) with the (rounded) Jaccard >= threshold."""
    ida, idb = ids
    j = jaccard(F.col(f"sa.{sh_col}"), F.col(f"sb.{sh_col}"))
    if round_to is not None:
        j = half_up(j, round_to)
    return (
        cands.join(sa, cands[ida] == F.col(f"sa.{id_col}"))
        .join(sb, cands[idb] == F.col(f"sb.{id_col}"))
        .select(ida, idb, j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _relational_jaccard(
    sh: DataFrame,
    id_col: str,
    sh_col: str,
    threshold: float,
    round_to: int | None,
    sh_old: DataFrame | None = None,
) -> DataFrame:
    """Count-based exact Jaccard over a (id, distinct-shingle-array) frame:
    explode, self-join on shingle, count co-occurrences, derive the union
    arithmetically (|A∪B| = |A| + |B| - |A∩B|). All codegen'd hash
    operators with map-side combine — no per-pair array intersections.
    Emits exactly the pairs (id_a < id_b) with (rounded) Jaccard >=
    threshold; recall is 1 by construction, since any pair with Jaccard
    > 0 shares a shingle.

    With ``sh_old`` it is the cross-set form: pairs new (``sh``) × old
    (``sh_old``), emitted as (new_id, old_id, jaccard). Only the pair
    condition and the output names change; the old side's size table
    is corpus-sized, so it is not broadcast.

    The gram join carries each side's set size and applies the length
    bound INSIDE the join condition, widened to the half-up rounding
    band exactly like the prefix path's candidate threshold:
    mismatched-length co-occurrences are dropped before they enter the
    quadratic per-pair count aggregation (+8 bytes/row shuffled,
    measured ×1.4 on the whole operator at sf0.1). The final
    rounded-Jaccard filter is unchanged — the length filter is a
    necessary condition of it, so the output is identical by
    construction."""
    t_cand = _cand_threshold(threshold, round_to)
    cross = sh_old is not None
    old = sh_old if cross else sh
    ida, idb = ("new_id", "old_id") if cross else ("id_a", "id_b")

    def grams(s: DataFrame) -> DataFrame:
        return s.select(
            F.col(id_col), F.size(sh_col).alias("n"), F.explode(sh_col).alias("g")
        )

    ga = grams(sh)
    gb = grams(old) if cross else ga
    inter = (
        ga.alias("a")
        .join(gb.alias("b"), _pair_cond(["g"], None if cross else id_col, t_cand))
        .groupBy(
            F.col(f"a.{id_col}").alias(ida), F.col(f"b.{id_col}").alias(idb)
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sh.select(F.col(id_col).alias(ida), F.size(sh_col).alias("n_a"))
    nb = old.select(F.col(id_col).alias(idb), F.size(sh_col).alias("n_b"))
    j = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    if round_to is not None:
        j = half_up(j, round_to)
    return (
        inter.join(F.broadcast(na), ida)
        .join(nb if cross else F.broadcast(nb), idb)
        .select(ida, idb, j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def exact_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 3,
    round_to: int | None = 6,
) -> DataFrame:
    """Exact word-shingle Jaccard pairs via the relational sparse plan
    (the word-shingle twin of :func:`ngram_jaccard_pairs`): explode
    distinct shingles, self-join on shingle, count co-occurrences, derive
    the union arithmetically. Recall is 1 by construction — any pair with
    Jaccard > 0 shares a shingle and therefore materializes.

    This is the deterministic verification twin of
    :func:`minhash_dedup_pairs` (same shingling, same output contract,
    no banding odds). Cost is Σ_g df(g)²: near-linear on discriminative
    word 3-shingles, quadratic only on corpora dominated by repeated
    whole phrases — at that point use the MinHash path.
    """
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")
    ).localCheckpoint(eager=True)
    return _relational_jaccard(sh, id_col, "sh", threshold, round_to)


def jaccard_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 3,
    round_to: int | None = 6,
    max_df: int | None = None,
    max_heavy: int | None = 10_000,
) -> DataFrame:
    """X92: EXACT threshold-Jaccard pairs via PREFIX FILTERING (the
    AllPairs/PPJoin candidate scheme — Bayardo et al., WWW 2007;
    Xiao et al., WWW 2008) — the deterministic scale path between the
    probabilistic MinHash band join and the exhaustive
    :func:`exact_jaccard_pairs` co-occurrence plan. Same shingling,
    same output contract, recall 1 by THEOREM instead of by banding
    odds or by Σ df(g)² work:

      order each document's distinct shingles by ascending global
      document frequency (ties by value — a total order shared by all
      documents); with ``p(d) = |d| - ceil(t·|d|) + 1``, any pair with
      ``J(a,b) >= t`` must share a shingle lying in BOTH prefixes —
      in fact the pair's RAREST shared shingle lies in both (the
      pigeonhole puts SOME shared shingle in the prefix; the rarest
      one orders at or before it, so it is in the prefix too).
      Proof sketch: J >= t implies ``|A∩B| >= t·|A∪B| >= t·max(|A|,
      |B|)``; if no shared shingle sits in A's first ``p(A)`` tokens,
      all shared shingles live in A's last ``ceil(t·|A|) - 1`` — fewer
      than the required overlap. Symmetrically for B.

    The candidate join therefore explodes ONLY prefixes: the rarest
    ``|d| - ceil(t·|d|) + 1`` shingles of each document (at t=0.6,
    ~40% of each set, and — because ordering is by ascending df — the
    tokens with the SMALLEST join fan-out). Cost drops from
    ``Σ_g df(g)²`` over all shingles to the same sum over prefix
    occurrences of the rarest shingles, which is where the quadratic
    mass isn't. A length filter (``t·max(|A|,|B|) <= min(|A|,|B|)``,
    a necessary condition of J >= t) prunes candidates before
    verification. Each surviving pair is verified EXACTLY once
    (distinct) via one ``array_intersect`` of the two shingle arrays —
    cost scales with candidates, never the corpus².

    Float-safety, two layers. (1) The prefix/overlap bound is computed
    as ``ceil(t·n - 1e-9)`` so a float product landing an ulp ABOVE
    the exact value (0.6*5 = 3.0000000000000004) cannot shorten a
    prefix and silently lose recall — the slack only ever LENGTHENS a
    prefix by one. (2) When ``round_to`` is set, the OUTPUT filter
    admits any pair whose ROUNDED Jaccard clears the threshold — i.e.
    true J down to ``t - 0.5·10^-round_to`` (the half-up rounding
    band) — while the prefix theorem only guarantees candidates for
    true J >= t. Candidates are therefore generated at the effective
    threshold ``t_cand = t - 0.5·10^-round_to`` (prefix length AND
    length filter), so a knife-edge pair that rounds up to t is
    reachable, never silently lost (r14 ADVICE; the regression fixture
    in tests/test_dataops.py is exactly such a pair — true J below t,
    rounded J == t, shared shingles outside the unwidened prefix).

    ``max_df`` (the PPJoin stop-shingle knob, r14 verdict item 3):
    shingles with document frequency above the cap are EXCLUDED from
    candidate generation entirely — on a skewed crawl their prefix
    occurrences are the join's df² skew mass. Exactness is preserved
    by ROUTING, not joining: a qualifying pair can have its rarest
    SHARED shingle capped only if EVERY shared shingle is capped, and
    then each side's prefix provably contains a capped shingle — which
    (df ordering: capped shingles sort last) happens only for docs
    with fewer uncapped shingles than their prefix length, i.e. the
    boilerplate-DOMINATED docs H. H goes to the verify stage directly:
    one C(|H|,2) length-filtered product replaces the
    ``Σ_g df_prefix(g)²`` join mass of the capped shingles (win factor
    ~ s_p²/T — big when H shares a few large identical blocks, the
    crawl-boilerplate shape; the df frame is the report that sizes
    both). Note the prefix ordering is already SELF-TUNING for
    mixed-df corpora — a pair sharing only sub-threshold boilerplate
    never reaches candidates because its prefixes stay in the rare
    shingles — so the cap earns its keep specifically on
    boilerplate-dominated short-doc populations. Exactness is pinned
    against :func:`exact_jaccard_pairs` across thresholds on a skewed
    fixture in tests/test_dataops.py; the measured candidate-volume
    cut is in SCALING.md r15. ``max_heavy`` (default 10,000) is the
    loud guard for the measured misconfiguration: a cap at or below
    the corpus's ROUTINE df puts nearly every doc in H and the direct
    product goes quadratic in the corpus — the plan raises with the
    observed |H| instead of silently burning the cluster.

    Scale: one shuffle by shingle for the df counts, one window
    shuffle by id for the per-document ordering, the prefix-only
    candidate join, then id-keyed verification joins. At 100 TB the
    df frame doubles as the skew report: a shingle whose df makes even
    its prefix occurrences quadratic is a ``max_df`` candidate."""
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")
    ).localCheckpoint(eager=True)
    return jaccard_pairs_prefix_sets(
        sh, id_col, "sh", threshold, round_to, max_df, max_heavy
    )


def jaccard_pairs_prefix_sets(
    sh: DataFrame,
    id_col: str = "doc_id",
    sh_col: str = "sh",
    threshold: float = 0.6,
    round_to: int | None = 6,
    max_df: int | None = None,
    max_heavy: int | None = 10_000,
) -> DataFrame:
    """Set-level core of :func:`jaccard_pairs_prefix`: takes the
    (id, distinct-shingle-array) frame directly — the
    :func:`_relational_jaccard` calling convention — so tests and
    callers with non-text sets can drive the prefix plan on exact
    fixtures (the knife-edge and stop-shingle regressions construct
    shingle arrays, not prose). Semantics documented on the wrapper."""
    _check_prefix_args("jaccard_pairs_prefix_sets", threshold, max_df)
    return _prefix_pairs(
        [sh], id_col, sh_col, threshold, round_to, max_df, max_heavy
    )


def _check_prefix_args(who: str, threshold: float, max_df: int | None) -> None:
    if threshold <= 0.0:
        raise ValueError(
            f"{who}: prefix filtering needs threshold > 0 (at t=0 the "
            "prefix is the whole set — use the exhaustive co-occurrence "
            "plan)"
        )
    if max_df is not None and max_df < 1:
        raise ValueError(
            f"{who}: max_df caps document frequency; must be >= 1"
        )


def _prefix_rows(
    shs: list[DataFrame], id_col: str, sh_col: str, t_cand: float
) -> DataFrame:
    """Each set's PPJoin prefix under one shared total order (df
    ascending, then gram): (id, g, n, df, pos) rows, with ``side``
    ("new"/"old") first when ``shs`` holds two frames. One df count and
    one ordering window over all rows."""
    cross = len(shs) == 2
    side = ["side"] if cross else []

    def grams_of(sh: DataFrame, tag: str) -> DataFrame:
        return sh.select(
            F.col(id_col).alias("id"),
            *([F.lit(tag).alias("side")] if cross else []),
            F.size(sh_col).alias("n"),
            F.explode(sh_col).alias("g"),
        )

    grams = grams_of(shs[0], "new")
    if cross:
        grams = grams.unionByName(grams_of(shs[1], "old"))
    # n rides along from the array size — one window pass (row_number),
    # not two (a count-over-partition would re-aggregate what the
    # pre-explode array already knows). In the cross form the df frame
    # counts the UNION: the shared total order both sides' prefixes are
    # cut under (a per-side df would break the rarest-shared-shingle
    # argument across the join)
    df_counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(*side, "id").orderBy(
        F.col("df").asc(), F.col("g").asc()
    )
    ordered = grams.join(df_counts, "g").select(
        *side, "id", "g", "n", "df", F.row_number().over(w).alias("pos")
    )
    return ordered.filter(F.col("pos") <= _prefix_length(t_cand)).select(
        *side, "id", "g", "n", "df", "pos"
    )


def _prefix_pairs(
    shs: list[DataFrame],
    id_col: str,
    sh_col: str,
    threshold: float,
    round_to: int | None,
    max_df: int | None,
    max_heavy: int | None,
) -> DataFrame:
    """The PPJoin body behind :func:`jaccard_pairs_prefix_sets` (one
    (id, set) frame: pairs id_a < id_b) and
    :func:`jaccard_pairs_prefix_cross` (frames [new, old]: pairs
    new × old, emitted as new_id, old_id): the :func:`_prefix_rows`
    cut, the positional pair join, the ``max_df`` heavy-id routing and
    the ``array_intersect`` verify. Proofs are on
    :func:`jaccard_pairs_prefix`."""
    cross = len(shs) == 2
    t_cand = _cand_threshold(threshold, round_to)
    prefix = _prefix_rows(shs, id_col, sh_col, t_cand)
    ida, idb = ("new_id", "old_id") if cross else ("id_a", "id_b")

    def both(f):
        """``f`` of each side; a self-join uses one frame for both."""
        if not cross:
            return (f(prefix),) * 2
        return tuple(
            f(prefix.filter(F.col("side") == tag).select(
                "id", "g", "n", "df", "pos"
            ))
            for tag in ("new", "old")
        )

    def pairs(pa: DataFrame, pb: DataFrame, keys: list[str]) -> DataFrame:
        # gram rows (keys ["g"]) carry pos for the positional bound;
        # heavy-id rows (no keys) carry only (id, n)
        return pa.alias("a").join(
            pb.alias("b"),
            _pair_cond(keys, None if cross else "id", t_cand, bool(keys)),
        ).select(F.col("a.id").alias(ida), F.col("b.id").alias(idb))

    if max_df is None:
        cands = pairs(*both(lambda p: p), ["g"]).distinct()
    else:
        # Stop-shingle routing. Light: uncapped prefix occurrences of
        # ALL docs — finds every pair whose rarest shared shingle is
        # uncapped (it sits uncapped in both prefixes). Capped prefix
        # occurrences are NOT joined per-shingle at all: only
        # boilerplate-dominated docs have any (capped shingles sort
        # last; reaching one means the doc ran out of uncapped
        # shingles before its prefix did), and a pair whose EVERY
        # shared shingle is capped has BOTH docs in that set H — so H
        # is routed to the verify stage directly, one length-filtered
        # product instead of the Σ_g df_prefix(g)² join mass the capped
        # shingles would otherwise generate (the win factor is ~ s_p²/T
        # for s_p capped-prefix tokens per doc over T capped types —
        # largest when H shares a few big identical blocks, the
        # crawl-boilerplate shape). Union is exact; choose max_df from
        # the df frame so H is the genuinely boilerplate-dominated
        # tail, since the direct product pays |H|² candidates for
        # exactness.
        who = "jaccard_pairs_prefix_cross" if cross else "jaccard_pairs_prefix"
        product = "|H_new|·|H_old|" if cross else "C(|H|,2)"

        def heavy_ids(p: DataFrame) -> DataFrame:
            h = p.filter(F.col("df") > max_df).select("id", "n").distinct()
            if max_heavy is None:
                return h
            # Loud guard against the misconfiguration MEASURED in
            # SCALING.md r15: a cap below the corpus's ROUTINE df puts
            # nearly every doc in H and the direct product goes
            # quadratic in the corpus (5,000-doc fixture, max_df=3:
            # 12.5M candidates, ×12 wall). Lazily evaluated per row
            # against the broadcast 1-row count — the happy path costs
            # one comparison (the quality_weighted_sample pattern).
            h_tot = h.agg(F.count(F.lit(1)).alias("__h"))
            checked_n = F.when(
                F.col("__h") > max_heavy,
                F.raise_error(
                    F.format_string(
                        f"{who}: max_df=%s routes %s docs "
                        "to the direct-verify product (max_heavy="
                        f"{max_heavy}) — the cap sits at or below the "
                        f"corpus's routine shingle df, so {product} is "
                        "quadratic in the corpus, not in the "
                        "boilerplate-dominated tail. Read the df frame "
                        "and raise max_df (or raise max_heavy "
                        "knowingly).",
                        F.lit(str(max_df)),
                        F.col("__h"),
                    )
                ).cast("int"),
            ).otherwise(F.col("n"))
            return h.crossJoin(F.broadcast(h_tot)).select(
                "id", checked_n.alias("n")
            )

        light = pairs(*both(lambda p: p.filter(F.col("df") <= max_df)), ["g"])
        cands = light.unionByName(pairs(*both(heavy_ids), [])).distinct()
    sha = shs[0].select(F.col(id_col).alias(ida), F.col(sh_col).alias("sh_a"))
    shb = shs[-1].select(F.col(id_col).alias(idb), F.col(sh_col).alias("sh_b"))
    return _intersect_verify(cands, sha, shb, (ida, idb), threshold, round_to)


def _intersect_verify(
    cands: DataFrame,
    sha: DataFrame,
    shb: DataFrame,
    ids: tuple[str, str],
    threshold: float,
    round_to: int | None,
    pre: Column | None = None,
) -> DataFrame:
    """Exact verify of each candidate pair by ONE ``array_intersect``:
    ``sha``/``shb`` are (id, sh_a)/(id, sh_b) frames keyed by the two
    ``ids`` names; the union is derived arithmetically. ``pre`` is an
    optional filter applied after the joins, before the intersect."""
    ida, idb = ids
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    j = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    ).cast("double")
    if round_to is not None:
        j = half_up(j, round_to)
    joined = cands.join(sha, ida).join(shb, idb)
    if pre is not None:
        joined = joined.filter(pre)
    return joined.select(ida, idb, j.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def jaccard_pairs_prefix_cross(
    new_docs: DataFrame,
    old_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 3,
    round_to: int | None = 6,
    max_df: int | None = None,
    max_heavy: int | None = 10_000,
) -> DataFrame:
    """X94: EXACT cross-set threshold-Jaccard pairs (new × old) via
    prefix filtering — the incremental-direction twin of
    :func:`jaccard_pairs_prefix`, completing the incremental dedup
    trilogy: :func:`incremental_near_dups` is the probabilistic banded
    probe (recall = banding odds), :func:`_relational_jaccard` with
    ``sh_old`` the exhaustive oracle twin (Σ df_new·df_old work), and
    this the deterministic exact-threshold scale path (recall 1 by the
    prefix theorem, candidate work confined to the rarest shingles).

    The theorem needs ONE total order shared by both sides, so
    document frequency is counted over the UNION of the two shingle
    sets — one count aggregation across both frames (at batch-vs-
    corpus scale that is a corpus scan, but an int-count scan of
    shingles, not a pair join; an at-rest variant would freeze an
    order that never drifts, e.g. xxhash64(shingle) — the theorem
    holds for ANY fixed total order, df-ascending is just the one
    with the smallest join fan-out). Prefixes, the candidate-stage
    effective threshold (``t - 0.5·10^-round_to`` when rounding — the
    knife-edge class), the length filter, the ``max_df`` stop-shingle
    routing (capped shingles leave candidate generation; the
    boilerplate-dominated tails H_new × H_old go to verify directly,
    guarded by ``max_heavy``), and the one-``array_intersect``-per-
    candidate verify all match the self-join twin — see its docstring
    for the proofs; the cross-set form only restricts pairs to
    new × old instead of id_a < id_b.

    Output: (new_id, old_id, jaccard >= threshold). Equality with the
    exhaustive cross plan is pinned across thresholds (and under
    max_df on a skewed fixture) in tests/test_dataops.py; the
    registered query hash-matches the brute-force DuckDB cross
    oracle."""
    _check_prefix_args("jaccard_pairs_prefix_cross", threshold, max_df)
    shs = [
        d.select(
            F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")
        ).localCheckpoint(eager=True)
        for d in (new_docs, old_docs)
    ]
    return _prefix_pairs(
        shs, id_col, "sh", threshold, round_to, max_df, max_heavy
    )


# --------------------------------------------------------------------------
# X94 at-rest half: the exact prefix index
# --------------------------------------------------------------------------
#
# The one-shot cross operator above re-pays the corpus-side df count and
# ordering window EVERY batch (measured: slower than the exhaustive
# cross at fixture scale, SCALING.md r15). The production recurrence
# freezes the ordering instead: the prefix theorem holds for ANY fixed
# total order — df-ascending merely minimizes fan-out — so the at-rest
# index freezes a BUILD-TIME order that never drifts as the corpus
# grows: rare shingles spread uniformly by xxhash64, and the recorded
# frequent tail (sidecar, bounded — see PREFIX_FREQ_TOP_K) sorts last
# by its frozen df, keeping boilerplate out of prefixes exactly as live
# df order would. Each doc's prefix rows are stored ONCE. A probe signs
# only the batch (a batch-local window + one broadcast join against the
# sidecar's tail), band-joins the index, and exact-verifies candidates
# — per-batch cost scales with the batch and its collision volume,
# never the corpus: the X69 recurrence with recall 1 by THEOREM instead
# of banding odds.
#
# Storage is the shared banded layout verbatim — (id, band_idx,
# band_hash) with band_hash = xxhash64(shingle) and band_idx its
# bucket — so index_fs's banded write / read / compaction / recovery
# and X91 reconciliation all apply unchanged (one storage contract,
# three signing modalities). Candidates are exact-verified,
# so a 64-bit shingle-hash collision can only ADD a candidate, never
# lose one; doc sizes are not stored (the banded schema is fixed) —
# the length filter runs at verify where both arrays are in hand.

PREFIX_INDEX_BANDS = 16
# Prefixes are cut at threshold - PREFIX_ROUND_SLACK so a probe that
# rounds its output (round_to >= 6) keeps knife-edge recall; coarser
# probe rounding is validated against this at probe time.
PREFIX_ROUND_SLACK = 0.5e-6
# The frozen order's frequent tail: build-time document frequencies of
# the top-K most frequent shingles (df >= the floor) ride in the
# sidecar, and those shingles sort LAST, by df ascending — everything
# df-ascending order buys (frequent shingles stay out of prefixes,
# so their df² fan-out never reaches the candidate join) with a
# BOUNDED, seam-portable store: rare shingles need no entry at all
# (they tie at rank 0 and spread uniformly by hash). Measured at
# sf0.1: the frozen-df order cuts probe candidates ~2.3x vs pure hash
# order (SCALING.md r15); on a boilerplate-skewed corpus the gap is
# the difference between linear and quadratic.
PREFIX_FREQ_TOP_K = 8192
PREFIX_FREQ_MIN_DF = 8


def _prefix_meta(
    id_col: str, shingle_n: int, threshold=None, freq=None
) -> dict:
    """The prefix sidecar's parameters. Probes and appends pass
    ``threshold``/``freq`` as None: both are the index's geometry (its
    build threshold and frozen frequency tail), adopted from the
    sidecar, never the caller's choice."""
    return {
        "id_col": id_col,
        "shingle_n": shingle_n,
        "threshold": threshold,
        "order": "frozen-df-v2",
        "bands": PREFIX_INDEX_BANDS,
        "freq": freq,
    }


def _prefix_freq_table(
    docs: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> list[list[int]]:
    """Build-time frequent tail: [[xxhash64(g), df], ...] for the top
    ``PREFIX_FREQ_TOP_K`` shingles with df >= ``PREFIX_FREQ_MIN_DF``
    — bounded by construction (a driver-side list the sidecar can
    carry through any fs seam). Keyed by HASH, not the shingle string:
    a 64-bit collision merely conflates two shingles' dfs, which is
    still a deterministic, side-consistent key — the total order
    survives, exactness is untouched."""
    sh = docs.select(word_shingles(F.col(text_col), shingle_n).alias("sh"))
    rows = (
        sh.select(F.explode("sh").alias("g"))
        .select(F.xxhash64("g").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= PREFIX_FREQ_MIN_DF)
        .orderBy(F.col("df").desc(), F.col("h").asc())
        .limit(PREFIX_FREQ_TOP_K)
        .collect()
    )
    return [[int(r.h), int(r.df)] for r in rows]


def _prefix_freq_frame(spark: SparkSession, freq: list) -> DataFrame | None:
    if not freq:
        return None
    return spark.createDataFrame(
        [(int(h), int(d)) for h, d in freq], "band_hash long, __df0 long"
    )


def _prefix_keys(
    sh: DataFrame,
    id_col: str,
    sh_col: str,
    t_cand: float,
    freq: DataFrame | None,
) -> DataFrame:
    """(id, band_idx, band_hash, n, pos) prefix rows of an (id,
    shingle-array) frame under the FROZEN order (module note above):
    each doc's first ``n - ceil(t_cand·n) + 1`` distinct shingles by
    (frozen df0 asc — 0 for every shingle outside the recorded frequent
    tail — then xxhash64(shingle) asc, then shingle asc)."""
    grams = sh.select(
        F.col(id_col),
        F.size(sh_col).alias("n"),
        F.explode(sh_col).alias("g"),
    ).withColumn("band_hash", F.xxhash64("g"))
    if freq is not None:
        grams = grams.join(F.broadcast(freq), "band_hash", "left")
        df0 = F.coalesce(F.col("__df0"), F.lit(0))
    else:
        df0 = F.lit(0)
    w = Window.partitionBy(id_col).orderBy(
        df0.asc(), F.col("band_hash").asc(), F.col("g").asc()
    )
    # n and pos ride along (format frozen-df-v2, r16): 8 bytes/row that
    # let a probe run the Jaccard length bound AND the PPJoin positional
    # filter at the CANDIDATE stage — before the distinct, the corpus
    # text scan, and the per-pair array_intersect. pos is the shingle's
    # rank under the doc's own frozen order (doc-local, so
    # write-then-append still equals rebuild row-for-row).
    return (
        grams.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _prefix_length(float(t_cand)))
        .select(
            id_col,
            F.pmod(F.col("band_hash"), F.lit(PREFIX_INDEX_BANDS))
            .cast("int")
            .alias("band_idx"),
            "band_hash",
            "n",
            "pos",
        )
    )


def write_prefix_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 3,
    fs=None,
) -> None:
    """Materialize the corpus's EXACT prefix index at rest (module note
    above): hash-ordered prefix rows in the shared banded layout, plus
    a ``prefix`` sidecar pinning (id_col, shingle_n,
    threshold, order). ``threshold`` is the MINIMUM probe threshold the
    index supports: prefixes shrink as t grows, so an index cut at t0
    contains every prefix any probe at t >= t0 needs (a lower-t probe
    would need longer prefixes than were stored — validated loudly).
    The corpus-side ordering window is paid HERE, once, not per batch."""
    if threshold <= 0.0:
        raise ValueError("prefix index needs threshold > 0")
    freq = _prefix_freq_table(docs, id_col, text_col, shingle_n)
    keys = _prefix_keys(
        docs.select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")),
        id_col, "sh", threshold - PREFIX_ROUND_SLACK,
        _prefix_freq_frame(docs.sparkSession, freq),
    )
    banded_index_write(keys, path, fs=fs, bands=PREFIX_INDEX_BANDS)
    write_sidecar(
        path,
        "prefix",
        _prefix_meta(id_col, shingle_n, float(threshold), freq),
        fs=fs,
    )


def append_prefix_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    fs=None,
) -> None:
    """Fold a new batch into the at-rest prefix index WITHOUT touching
    the corpus rows (the X79 discipline): sign only the batch under the
    INDEX's frozen order — which, unlike live df order, is identical no
    matter when a doc arrives, so write(A) then append(B) holds exactly
    the rows write(A ∪ B) would hold UNDER A's FROZEN ORDER
    (property-tested), and probe recall stays 1 (the theorem needs any
    one shared total order, which this is). What drifts as the corpus
    grows is candidate QUALITY: a shingle that becomes boilerplate
    after the build is not in the frozen frequent tail and keeps
    entering prefixes at full fan-out — rebuild to refresh the tail
    when the probe's candidate volume says so. Build threshold and
    frozen tail come from the sidecar (the index's geometry, not the
    caller's choice). Reclaim file population with
    ``index_fs.banded_index_compact``."""
    have = check_sidecar(
        path, "prefix", _prefix_meta(id_col, shingle_n), fs=fs
    )
    keys = _prefix_keys(
        docs.select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")),
        id_col, "sh", float(have["threshold"]) - PREFIX_ROUND_SLACK,
        _prefix_freq_frame(docs.sparkSession, have["freq"]),
    )
    banded_index_write(
        keys, path, fs=fs, mode="append", bands=PREFIX_INDEX_BANDS
    )


def incremental_jaccard_prefix_probe(
    spark: SparkSession,
    new_docs: DataFrame,
    corpus: DataFrame,
    index_path: str,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    round_to: int | None = 6,
    fs=None,
) -> DataFrame:
    """X94 headline: EXACT cross-set threshold-Jaccard of an incoming
    batch against the INDEXED corpus — recall 1 by the prefix theorem,
    per-batch cost scaling with the batch and its collision volume,
    never the corpus (the X69 recurrence, exactness tier):

      1. sign ONLY the batch: its prefix rows under the frozen hash
         order (a batch-local window — no corpus df count, no corpus
         ordering; that was paid once at :func:`write_prefix_index`);
      2. band-join against the at-rest index (directory-pruned by
         band_idx, row-group-pruned by the sorted band_hash);
      3. exact-verify candidates — the corpus TEXT scan is semi-join-
         pruned to candidate ids; the threshold length filter runs
         here, where both shingle arrays are in hand.

    The probe threshold must be >= the index's build threshold (after
    each side's rounding slack): stored prefixes were cut for t_build,
    and a lower-t probe needs LONGER corpus prefixes than exist —
    validated loudly, never a silent recall loss. Unlike the banded
    MinHash probe (:func:`incremental_near_dups`), the output is exact
    by construction, so the registered query hash-matches the same
    brute-force cross oracle WITHOUT an exact_net union."""
    have = check_sidecar(
        index_path, "prefix", _prefix_meta(id_col, shingle_n), fs=fs
    )
    t_cand = _cand_threshold(threshold, round_to)
    t_build_cand = float(have["threshold"]) - PREFIX_ROUND_SLACK
    if t_cand < t_build_cand - 1e-12:
        raise ValueError(
            f"prefix index at {index_path!r} was built for probes at "
            f"threshold >= {have['threshold']} (candidate bound "
            f"{t_build_cand}); this probe needs {t_cand} — its pairs "
            "can hide beyond the stored prefixes. Rebuild the index at "
            "the lower threshold."
        )
    new_sh = new_docs.select(
        F.col(id_col).alias("new_id"),
        word_shingles(text_col, shingle_n).alias("sh_a"),
    ).localCheckpoint(eager=True)  # consumed by sign AND verify
    batch_keys = _prefix_keys(
        new_sh, "new_id", "sh_a", t_cand,
        _prefix_freq_frame(spark, have["freq"]),
    ).select(
        "new_id", "band_idx", "band_hash",
        F.col("n").alias("n_new"), F.col("pos").alias("pos_new"),
    )
    # Candidate-stage pruning off the v2 index payload (r16): the
    # Jaccard length bound and the PPJoin positional filter run ON THE
    # BAND JOIN, before the distinct, the corpus text scan, and the
    # per-pair array_intersect. Both are necessary conditions of
    # J >= t_cand at the pair's rarest shared shingle under the frozen
    # order (the exactness argument on jaccard_pairs_prefix_sets, which
    # holds for ANY shared total order), so recall stays 1.
    n_new, n_old = F.col("n_new"), F.col("n_old")
    cands, old_rows = banded_index_probe(
        spark, batch_keys, index_path,
        {have["id_col"]: "old_id", "n": "n_old", "pos": "pos_old"},
        corpus, id_col,
        keep=_length_bound(n_new, n_old, t_cand)
        & _positional_bound(
            n_new, F.col("pos_new"), n_old, F.col("pos_old"), t_cand
        ),
        fs=fs,
    )
    old_sh = old_rows.select(
        F.col(id_col).alias("old_id"),
        word_shingles(text_col, shingle_n).alias("sh_b"),
    )
    # the batch-shingle side broadcasts (batch-sized by contract); the
    # join to the pruned corpus shingles stays planner-chosen —
    # candidate volume scales with corpus x batch collision rates (r17,
    # see incremental_near_dups). The length filter applies where both
    # sizes are free, pruning before the intersect.
    return _intersect_verify(
        cands, F.broadcast(new_sh), old_sh, ("new_id", "old_id"),
        threshold, round_to,
        pre=_length_bound(F.size("sh_a"), F.size("sh_b"), t_cand),
    )


def suggest_max_df(
    docs: DataFrame,
    caps: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 3,
    round_to: int | None = 6,
) -> DataFrame:
    """X99: the stop-shingle cap tuner — turns
    :func:`jaccard_pairs_prefix`'s df frame ("the skew report") into
    the decision it exists for. For each candidate ``cap`` it computes
    EXACTLY (not by sampling) the candidate-stage volumes the capped
    plan would generate, from one pass over the same prefix frame the
    join itself builds:

      * ``light_rows``  = Σ_{g: df(g) <= cap} C(occ_p(g), 2) — the
        per-shingle join mass that stays in candidate generation
        (occ_p = the shingle's PREFIX occurrences; the length filter
        prunes further, so this is the upper bound the shuffle pays);
      * ``heavy_docs``  = |H| — docs whose prefix reaches a capped
        shingle (the boilerplate-dominated tail the cap routes to the
        direct-verify product);
      * ``heavy_rows``  = C(|H|, 2) — that product's upper bound;
      * ``total_rows``  = light + heavy, the number to MINIMIZE —
        and the `max_heavy` guard's sizing input.

    Read the frame, pick the cap at the knee (or conclude ``None``:
    on a clean corpus every cap's total exceeds the uncapped row —
    the prefix ordering is already self-tuning there, SCALING.md r15).
    Registered ``prefix_cap_report`` hash-matches a DuckDB oracle
    computing the same arithmetic, so the tuner itself is
    driver-verified. One aggregation per frame; the caps list
    broadcasts (it is a handful of ints)."""
    if not caps or any(int(c) < 1 for c in caps):
        raise ValueError("caps must be a non-empty list of ints >= 1")
    if threshold <= 0.0:
        raise ValueError("prefix filtering needs threshold > 0")
    t_cand = _cand_threshold(threshold, round_to)
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")
    )
    prefix = (
        _prefix_rows([sh], id_col, "sh", t_cand)
        .select("id", "g", "df")
        .localCheckpoint(eager=True)  # feeds both per-shingle and per-doc aggs
    )
    spark = docs.sparkSession
    caps_df = spark.createDataFrame(
        [(int(c),) for c in sorted(set(int(c) for c in caps))], "cap bigint"
    )
    per_g = prefix.groupBy("g").agg(
        F.count(F.lit(1)).alias("occ"), F.first("df").alias("df")
    )
    light = (
        caps_df.crossJoin(per_g)
        .filter(F.col("df") <= F.col("cap"))
        .groupBy("cap")
        .agg(
            # integer halving, not /2 via double: occ*(occ-1) is always
            # even, so per-row `div 2` is exact — float division would
            # silently lose precision past 2^53 (and diverge from the
            # DuckDB oracle's integer arithmetic) at the corpus sizes
            # this tuner is pitched for (r15 ADVICE).
            F.expr("sum((occ * (occ - 1)) div 2)")
            .cast("bigint")
            .alias("light_rows")
        )
    )
    per_doc = prefix.groupBy("id").agg(F.max("df").alias("mx"))
    heavy = (
        caps_df.crossJoin(per_doc)
        .filter(F.col("mx") > F.col("cap"))
        .groupBy("cap")
        .agg(F.count(F.lit(1)).alias("heavy_docs"))
    )
    return (
        caps_df.join(light, "cap", "left")
        .join(heavy, "cap", "left")
        .select(
            "cap",
            F.coalesce("light_rows", F.lit(0)).alias("light_rows"),
            F.coalesce("heavy_docs", F.lit(0)).alias("heavy_docs"),
        )
        .withColumn(
            "heavy_rows",
            F.expr("(heavy_docs * (heavy_docs - 1)) div 2").cast("bigint"),
        )
        .withColumn(
            "total_rows", (F.col("light_rows") + F.col("heavy_rows")).cast("bigint")
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    mode: str = "first",
    max_df: int | None = None,
    min_chars: int = 1,
    hash_keys: bool = True,
) -> DataFrame:
    """X95: SUB-document exact dedup — the paragraph/line-granularity
    pass every large-scale curation pipeline runs BETWEEN exact
    doc-hash dedup and fuzzy near-dedup (CCNet's duplicated-line strip;
    Dolma's paragraph dedup): whole-doc dedup misses documents that
    share most paragraphs without being equal, and near-dup dedup
    keeps one replica of boilerplate that should vanish from EVERY
    document. Two modes over the same decomposition:

      * ``mode="first"``: a paragraph occurring in several documents
        survives only at its FIRST occurrence (ordered by (doc, pos) —
        deterministic, partition-invariant); later occurrences are cut
        from their documents. The Dolma semantics.
      * ``mode="df"``: paragraphs occurring in more than ``max_df``
        documents are cut from ALL documents (frequency-based
        boilerplate strip, the CCNet semantics — nav bars, footers,
        cookie banners disappear wholesale).

    Decomposition: split on the literal ``sep``, trim, drop segments
    shorter than ``min_chars``; positions are pre-filter, so surviving
    segments rejoin in original order. Returns one row per input doc:
    (id, clean_text, n_kept, n_removed) — a doc whose every paragraph
    was cut keeps its row with clean_text = '' (the curation gate
    downstream decides whether to drop it; this operator never loses
    rows).

    Scale shape: one explode, one aggregation, one join back, one
    per-doc reassembly agg. With ``hash_keys`` (the default, r15
    verdict item 4) the aggregation and the join-back key on
    ``xxhash64(para)`` — the hot boilerplate paragraph is both the
    skew AND the bytes of this plan, and an 8-byte long where a nav
    bar/footer string used to ride cuts the agg-side shuffle and makes
    every join-key compare a long compare; the paragraph STRING rides
    only as the reassembly payload on the (id, pos) rows, which must
    carry it anyway. Cost is the module's standing 64-bit-key caveat
    (X97's seen store hashes the very same paragraphs to the very same
    8-byte keys): a cross-paragraph collision cuts a unique paragraph,
    odds ≈ n²/2⁶⁵; ``hash_keys=False`` restores the exact
    string-keyed plan, and the two paths' equality is pinned on the
    skewed-boilerplate fixture. The map-side partial combine absorbs
    the boilerplate skew for mode="df", and mode="first"'s min-struct
    agg is likewise combine-friendly — no window over a hot paragraph
    key.

    Reference: none — the reference has no corpus pipeline; semantics
    follow the published CCNet/Dolma passes. Registered
    ``paragraph_dedup_docs`` / ``boilerplate_strip_docs`` hash-match
    DuckDB oracles (the fixture's synthetic text has no newlines, so
    the registered queries segment on a frequent token; production
    uses the default ``sep="\\n"``)."""
    if mode not in ("first", "df"):
        raise ValueError(f"mode must be 'first' or 'df', got {mode!r}")
    if mode == "df" and (max_df is None or max_df < 1):
        raise ValueError("mode='df' needs max_df >= 1")
    paras = _paras_of(docs, id_col, text_col, sep, min_chars)
    key = "__hp" if hash_keys else "para"
    if hash_keys:
        paras = paras.withColumn("__hp", F.xxhash64("para"))
    if mode == "first":
        kept = _keep_first(paras, key, id_col)[1]
    else:
        dfs = paras.groupBy(key).agg(
            F.count_distinct(F.col(id_col)).alias("__df")
        )
        kept = paras.join(dfs, key).filter(F.col("__df") <= max_df)
    return _reassemble(docs, paras, kept, id_col, sep)


def _paras_of(
    docs: DataFrame, id_col: str, text_col: str, sep: str, min_chars: int
) -> DataFrame:
    """(id, pos, para) segments — X95's decomposition, shared by the
    batch operator and the incremental loop."""
    import re as _re

    return (
        docs.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.col(text_col), _re.escape(sep))
            ).alias("pos", "rawp"),
        )
        .select(F.col(id_col), "pos", F.trim(F.col("rawp")).alias("para"))
        .filter(F.length("para") >= min_chars)
    )


def _keep_first(
    paras: DataFrame, key: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """X95's keep-first choice: ``(firsts, kept)`` — each paragraph
    ``key``'s first (id, pos) occurrence by a combine-friendly
    min-struct aggregate, and the segments that ARE that occurrence."""
    firsts = paras.groupBy(key).agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first")
    )
    kept = paras.join(firsts, key).filter(
        F.struct(F.col(id_col), F.col("pos")) == F.col("__first")
    )
    return firsts, kept


def _reassemble(
    docs: DataFrame, paras: DataFrame, kept: DataFrame, id_col: str, sep: str
) -> DataFrame:
    """X95's row contract from the ``kept`` segments of ``paras``: one
    (id, clean_text, n_kept, n_removed) row per input doc, surviving
    segments rejoined in original order, a fully-cut doc keeping its
    row with clean_text = ''."""
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda x: x["para"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    orig = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_orig"))
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .join(orig, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.coalesce("__n_orig", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def _seen_keys(
    docs: DataFrame, kind: str, meta: dict, id_col: str, text_col: str
) -> DataFrame:
    """(h) the distinct 8-byte keys a seen store of ``kind`` holds for
    ``docs``, segmented under the store's sidecar ``meta``: xxhash64 of
    each paragraph (``paraseen``) or of each stride-1 token window
    (``winseen``)."""
    if kind == "paraseen":
        keys = _paras_of(
            docs, id_col, text_col, meta["sep"], meta["min_chars"]
        ).select(F.xxhash64("para").alias("h"))
    else:
        keys = _token_windows(
            _tokens(docs, id_col, text_col), id_col,
            int(meta["window_tokens"]), hash_keys=True,
        ).select(F.col("win").alias("h"))
    return keys.distinct()


def write_paraseen_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
    fs=None,
) -> None:
    """Materialize the corpus's SEEN-PARAGRAPH set at rest: distinct
    xxhash64 keys of every segment, one bigint column — the state the
    X97 incremental loop anti-joins each batch against. 8 bytes per
    distinct paragraph (vs the paragraphs themselves), and EXACT up to
    64-bit hash equality — tighter than the published streaming
    equivalent (Dolma's paragraph dedup keys a Bloom filter, which
    false-positives by design; a 64-bit hash collision needs ~2^32
    distinct paragraphs before the first expected dup). A
    ``paraseen`` sidecar pins (sep, min_chars) — a store
    segmented differently would silently stop deduping."""
    meta = {"sep": sep, "min_chars": int(min_chars)}
    _seen_keys(docs, "paraseen", meta, id_col, text_col).write.mode(
        "overwrite"
    ).parquet(path)
    write_sidecar(path, "paraseen", meta, fs=fs)


def reconcile_seen_store(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    repair: bool = True,
    fs=None,
) -> dict:
    """X91's discipline for a seen-key store of either kind (read off
    its sidecar): a corpus paragraph or window missing from the store
    is a PERMANENT dedup blind spot (its future repeats pass the
    store's anti-/semi-join uncut forever). One anti-join detects;
    ``repair`` appends the missing keys (cost scales with the missing
    set). Returns {"missing", "appended"}. Orphan keys (text no longer
    in any corpus doc) are harmless — they can only dedup text that
    genuinely occurred before — and are left in place (the set is
    monotone by design, like the exact-dup ledger)."""
    kind = index_kind(path, fs, SEEN_KINDS)
    missing = (
        _seen_keys(corpus, kind, read_sidecar(path, kind, fs=fs), id_col,
                   text_col)
        .join(spark.read.parquet(path), "h", "left_anti")
        .localCheckpoint(eager=True)
    )
    n = missing.count()
    if repair and n:
        missing.write.mode("append").parquet(path)
    return {"missing": int(n), "appended": int(n) if repair else 0}


def incremental_paragraph_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
    update_store: bool = True,
    fs=None,
) -> DataFrame:
    """X97: INCREMENTAL paragraph dedup — X95's keep-first semantics
    extended across batches, the way a streaming ingest runs it (the
    X43 exact-doc ledger's sub-document sibling): a paragraph survives
    only at its first occurrence EVER — across the already-ingested
    corpus (the at-rest seen-store anti-join) and within the batch
    (X95's min-struct first-occurrence choice) — and each document
    reassembles from its surviving segments. Per-batch cost scales
    with the batch and the store anti-join (8-byte keys, broadcast
    when the batch's distinct-paragraph set is small), never with
    re-reading corpus text.

    ``update_store=True`` appends the batch's NOVEL paragraph keys so
    the next batch dedups against them too — duplicate keys from an
    at-least-once replay are harmless (the store is a set; the
    anti-join ignores multiplicity). Returns X95's row contract:
    (id, clean_text, n_kept, n_removed), one row per input doc."""
    check_sidecar(
        path, "paraseen", {"sep": sep, "min_chars": int(min_chars)}, fs=fs
    )
    paras = _paras_of(new_docs, id_col, text_col, sep, min_chars).withColumn(
        "h", F.xxhash64("para")
    ).localCheckpoint(eager=True)  # consumed by anti-join AND novel append
    seen = spark.read.parquet(path)
    # EAGER: the returned plan must read the store's PRE-append state —
    # update_store appends the batch's novel keys below, before the
    # caller runs its action, and a lazy anti-join would then see the
    # batch's own keys as "seen" and cut every paragraph.
    unseen = paras.join(seen, "h", "left_anti").localCheckpoint(eager=True)
    firsts, kept = _keep_first(unseen, "h", id_col)
    out = _reassemble(new_docs, paras, kept, id_col, sep)
    if update_store:
        firsts.select("h").write.mode("append").parquet(path)
    return out


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 50,
    hash_keys: bool = True,
) -> DataFrame:
    """X96: EXACT-SUBSTRING dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    pass): remove every token span that occurs more than once in the
    corpus, at SPAN granularity — the tier between X95's paragraph
    dedup (needs a separator structure) and near-dedup (whole-doc
    granularity). The published method finds repeated runs >= 50
    tokens with a suffix array; the Spark-native equivalent slides a
    ``window_tokens``-token window at stride 1 over every document —
    any repeated run of length >= W contains only repeated windows,
    and every repeated W-window is a repeated run — so marking
    repeated windows and cutting their MERGED spans removes exactly
    the tokens lying inside some repeated run of >= W tokens, in every
    copy (the paper's remove-all-occurrences finding).

    Plan, all JVM expressions + relational ops: (1) per doc, the token
    array once, windows as a ``transform(sequence(...))`` expression
    over array slices (no per-window row explosion until the single
    explode); (2) repeated = windows with global count > 1, grouped by
    the window STRING — exact, no hash-collision caveat, and the same
    key the DuckDB oracle groups by; (3) per doc, merge hit windows
    into maximal spans with the gaps-and-islands window (running max
    of span end); (4) rebuild each doc from the tokens OUTSIDE its
    spans (an expression-level complement over the token array).
    Returns one row per input doc — (id, clean_text, n_tokens_kept,
    n_tokens_removed); a fully-repeated doc keeps its row with
    clean_text = ''. Output text is single-space token-joined
    (tokenization is whitespace split — the module's convention).

    Scale: with ``hash_keys`` (the default) each window row carries an
    8-byte ``xxhash64`` of the W-token window — the string is built
    transiently INSIDE the projection expression and never reaches the
    exploded rows, so the repeated-window shuffle moves O(corpus
    tokens × 8) bytes instead of O(corpus tokens × W·avg_token) — a
    measured ~W× byte cut (SCALING.md r16). The cost is the standard
    64-bit-key caveat the module already accepts for X97's seen store
    and the frozen prefix index: a cross-doc collision (≈ n²/2⁶⁵ for n
    distinct windows) marks a unique span repeated and over-removes
    it; ``hash_keys=False`` restores the exact string-keyed shuffle
    (O(tokens × W) bytes), and the two paths' row-for-row equality is
    property-pinned on the planted-span fixtures. W remains the
    selectivity knob (longer = fewer, more selective spans).
    Reference: none — the reference has no corpus pipeline; semantics
    follow the published ExactSubstr pass."""
    W = _window_size(window_tokens)
    toks = _tokens(docs, id_col, text_col).localCheckpoint(
        eager=True  # windows + reassembly + sizes
    )
    # Materialized: `wins` feeds BOTH the repeated-count aggregation and
    # the hits semi-join below — unmaterialized, the O(tokens × W)
    # slice+concat+hash window projection executes twice (profiled as
    # the query's two dominant CPU stages, ~0.7 s each at sf0.1; the
    # checkpoint trades that for one O(tokens × 16 B) local write+read,
    # measured ~×1.25 on the whole operator). Same executor-pinned
    # caveat as every localCheckpoint in this module.
    wins = _token_windows(toks, id_col, W, hash_keys=hash_keys).localCheckpoint(
        eager=True
    )
    repeated = (
        wins.groupBy("win")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("win")
    )
    hits = wins.join(repeated, "win", "left_semi")
    return _cut_spans(toks, hits, id_col, W)


def _window_size(window_tokens: int) -> int:
    W = int(window_tokens)
    if W < 2:
        raise ValueError("window_tokens must be >= 2")
    return W


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks): each doc's whitespace-split token array — the one
    tokenization every span operator windows and reassembles."""
    return docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))


def _token_windows(
    toks: DataFrame, id_col: str, W: int, hash_keys: bool = False
) -> DataFrame:
    """(id, pos, win): every stride-1 W-token window of each doc's
    token array, generated as one transform(sequence)/slice expression
    then a single explode (docs shorter than W yield none). With
    ``hash_keys`` the ``win`` column is the window's ``xxhash64``
    (long) instead of its string: the concat happens inside the
    projection and only 8 bytes per window survive into the exploded
    rows — the shuffle-bytes knob X96/X98 document."""

    def _win(i):
        s = F.concat_ws(" ", F.slice("toks", i + 1, W))
        return F.xxhash64(s) if hash_keys else s

    from nginx_analytics_spark.functions.exprcache import cached_column

    # the window-array tree binds only the fixed "toks" name and the
    # (W, hash_keys) constants — memoized per those (driver build cost)
    wins_arr = cached_column(
        ("token_windows", W, hash_keys),
        lambda: F.transform(
            F.sequence(F.lit(0), F.size("toks") - W),
            lambda i: F.struct(i.alias("pos"), _win(i).alias("win")),
        ),
    )
    return (
        toks.filter(F.size("toks") >= W)
        .select(
            F.col(id_col),
            F.explode(wins_arr).alias("w"),
        )
        .select(
            F.col(id_col), F.col("w.pos").alias("pos"), F.col("w.win").alias("win")
        )
    )


def _cut_spans(
    toks: DataFrame, hits: DataFrame, id_col: str, W: int
) -> DataFrame:
    """Merge each doc's hit windows (id, pos, ...) into maximal spans
    (gaps-and-islands running max) and rebuild every doc from the
    tokens OUTSIDE its spans — the shared tail of X96/X98."""
    hits = hits.select(
        F.col(id_col), "pos", (F.col("pos") + F.lit(W - 1)).alias("end")
    )
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("end").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn(
            "__new",
            F.when(
                prev_max.isNull() | (F.col("pos") > prev_max), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(
                w_doc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "__isl")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )
    from nginx_analytics_spark.functions.exprcache import cached_column

    # fixed "toks"/"ivs" names, no parameters — one tree per process
    kept_idx = cached_column(
        ("cut_spans_kept_idx",),
        lambda: F.filter(
            F.sequence(F.lit(0), F.size("toks") - 1),
            lambda i: ~F.exists(
                "ivs", lambda iv: (i >= iv["s"]) & (i <= iv["e"])
            ),
        ),
    )
    return (
        toks.join(islands, id_col, "left")
        .withColumn(
            "__kept",
            F.when(F.col("ivs").isNull(), F.col("toks")).otherwise(
                F.transform(
                    kept_idx, lambda i: F.element_at("toks", i + 1)
                )
            ),
        )
        .select(
            id_col,
            F.array_join("__kept", " ").alias("clean_text"),
            F.size("__kept").cast("bigint").alias("n_tokens_kept"),
            (F.size("toks") - F.size("__kept"))
            .cast("bigint")
            .alias("n_tokens_removed"),
        )
    )


def write_winseen_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 50,
    fs=None,
) -> None:
    """Materialize the corpus's SEEN-WINDOW set at rest: distinct
    xxhash64 keys of every stride-1 W-token window, one bigint column
    — the state the X101 incremental span-dedup loop semi-joins each
    batch against. 8 bytes per distinct window (the hash-key shuffle
    form X96 already defaults to), so the store is O(corpus tokens) ×
    8 bytes bounded above — the honest at-rest price of span-exact
    incremental dedup, and the same 64-bit-key trust X97's paragraph
    store carries. A ``winseen`` sidecar pins window_tokens
    — a store slid at a different W would silently stop cutting."""
    meta = {"window_tokens": _window_size(window_tokens)}
    _seen_keys(docs, "winseen", meta, id_col, text_col).write.mode(
        "overwrite"
    ).parquet(path)
    write_sidecar(path, "winseen", meta, fs=fs)


def incremental_exact_substring_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 50,
    update_store: bool = True,
    fs=None,
) -> DataFrame:
    """X101: INCREMENTAL span-level dedup — X96's machinery run the
    way a streaming ingest runs it, completing the incremental at-rest
    trilogy's last granularity tier (X43 exact-doc ledger, X97
    paragraph seen-store, now W-token spans): every token span of a
    batch document that already occurred in the ingested corpus is cut
    from the batch document, via one semi-join of the batch's 8-byte
    window keys against the at-rest seen-window store. Semantics are
    KEEP-FIRST across batches (the at-rest copy survives; the arriving
    repeat is cut) — the streaming-shaped counterpart of ExactSubstr's
    batch-global remove-all-occurrences, which needs the whole corpus
    in one pass by definition (Lee et al. 2022 run it offline; a
    curation loop runs THIS). Within-batch repeats are deliberately
    not cut here — compose :func:`exact_substring_dedup` over the
    batch first, exactly as the X80 loop composes within-batch then
    against-corpus dedup.

    Per-batch cost scales with the batch's token count and the store
    anti-/semi-joins (8-byte keys), never with re-reading corpus text.
    ``update_store=True`` appends the batch's NOVEL window keys from
    its ORIGINAL (pre-cut) text — the store is a monotone set, so
    at-least-once replays are harmless and future repeats of even a
    cut span stay cut. The store read is eagerly pinned BEFORE the
    append (the X97 lazy-read footgun: a lazy semi-join would see the
    batch's own keys as "seen" and cut every window). Returns X96's
    row contract: (id, clean_text, n_tokens_kept, n_tokens_removed),
    one row per batch doc."""
    W = int(window_tokens)
    check_sidecar(path, "winseen", {"window_tokens": W}, fs=fs)
    toks = _tokens(new_docs, id_col, text_col).localCheckpoint(
        eager=True  # windows + reassembly + sizes
    )
    wins = _token_windows(toks, id_col, W, hash_keys=True).localCheckpoint(
        eager=True
    )  # consumed by the hits semi-join AND the novel append
    seen = spark.read.parquet(path)
    # EAGER: the returned plan must read the store's PRE-append state
    hits = wins.join(
        seen.withColumnRenamed("h", "win"), "win", "left_semi"
    ).localCheckpoint(eager=True)
    out = _cut_spans(toks, hits, id_col, W)
    if update_store:
        (
            wins.select(F.col("win").alias("h"))
            .distinct()
            .join(seen, "h", "left_anti")
            .write.mode("append")
            .parquet(path)
        )
    return out


def exact_substring_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 50,
    hash_keys: bool = True,
) -> DataFrame:
    """X98: span-level EVAL DECONTAMINATION — the cross-set form of
    :func:`exact_substring_dedup`: every token span of a TRAINING
    document that also appears in the BENCHMARK corpus is cut from the
    training document (the benchmark side is never modified). This is
    the published decontamination standard at its strongest
    granularity: doc-level n-gram checks (X31
    ``contamination_check``) FLAG a contaminated document — wasting
    the clean 95% of a long document that quotes one test item — while
    this SURGICALLY removes the quoted span and keeps the rest.

    Same window-cover argument as X96 (a shared run >= W is exactly a
    union of shared W-windows), same gaps-and-islands span merge, same
    complement reassembly — the 'repeated' predicate becomes one
    semi-join of the train windows against the benchmark's DISTINCT
    window set. The benchmark window set is eval-suite-sized (tiny
    next to the corpus at 100 TB), so the semi-join broadcasts; with
    ``hash_keys`` (default) both sides carry 8-byte ``xxhash64`` keys
    — the broadcast set and the train-side rows shrink ~W× (same
    collision caveat and string-path escape hatch as X96; a collision
    here over-cuts a clean train span with probability ≈
    |bench|·|train|/2⁶⁴).
    Returns the X96 row contract over TRAIN docs: (id, clean_text,
    n_tokens_kept, n_tokens_removed), one row per train doc, a
    fully-quoted doc keeping its row with clean_text = ''. Registered
    ``decontaminate_docs`` hash-matches the cross-set windowed/island
    DuckDB oracle on the X31 benchmark carve-out split."""
    W = _window_size(window_tokens)
    toks = _tokens(train, id_col, text_col).localCheckpoint(eager=True)
    bench_wins = (
        _token_windows(
            _tokens(benchmark, id_col, text_col), id_col, W,
            hash_keys=hash_keys,
        )
        .select("win")
        .distinct()
    )
    hits = _token_windows(toks, id_col, W, hash_keys=hash_keys).join(
        F.broadcast(bench_wins), "win", "left_semi"
    )
    return _cut_spans(toks, hits, id_col, W)


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """64-bit SimHash per document (as a signed long): (id, fp).

    Per token: xxhash64 -> each bit votes +1/-1; fingerprint bit b is set
    iff the summed vote at b is positive.

    Shape: explode token hashes, then ONE hash aggregate with 64 simple
    per-bit vote sums, then assemble the fingerprint from the vote columns.
    An equivalent single-expression formulation (64 ``aggregate`` folds
    inside a higher-order function) generates a codegen unit so large that
    Janino compilation dominated and varied 4s-60s run to run; this
    explode+agg plan compiles small per-column expressions, combines
    map-side, and is stable. The shuffle moves one 64-int row per
    (doc, partition) — scale-safe.

    Expression sizing (the 3.3s driver/planning gap the stage profiler
    measured on this query — guide §7.3: the plan itself is the cost):
    each per-bit sum is the RAW bit (vote = 2·ones − n, so "vote > 0"
    is "2·ones > n" with one shared count(*)), which drops the
    cast·2−1 arithmetic from every aggregation expression, and the
    64-term fingerprint OR is assembled as a BALANCED tree (depth 6)
    instead of a 64-deep left chain — fewer/shallower nodes for every
    analyzer/optimizer walk and a smaller codegen unit, measured
    −0.5s on the first build and −0.15s steady-state at sf0.1.
    """
    hashes = docs.select(
        F.col(id_col),
        F.explode(F.transform(F.split(text_col, " "), lambda t: F.xxhash64(t))).alias(
            "h"
        ),
    )
    # bit positions are Python ints: pyspark shift functions take literal
    # bit counts, not Columns.
    votes = hashes.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__nt"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"o{b}")
            for b in range(bits)
        ],
    )
    # bit b of a 64-bit signed long: 1<<63 overflows to LONG_MIN, which
    # is exactly the two's-complement value shiftleft produced before.
    terms = [
        F.when(
            F.col(f"o{b}") * 2 > F.col("__nt"),
            F.lit(1 << b if b < 63 else -(1 << 63)).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for b in range(bits)
    ]
    while len(terms) > 1:
        terms = [
            terms[i].bitwiseOR(terms[i + 1]) if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return votes.select(F.col(id_col), terms[0].alias("fp"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """Near-dup pairs by SimHash: hamming(fp_a, fp_b) <= max_hamming.

    Candidate generation by chunk-banding (pigeonhole: any pair within
    hamming <= bands-1 shares at least one identical 64/bands-bit chunk),
    then exact hamming verification via bit_count(xor). Requires
    ``max_hamming < bands`` for exact recall.
    """
    if max_hamming >= bands:
        raise ValueError("exact recall needs max_hamming < bands")
    chunk = SIMHASH_BITS // bands
    # materialized once: both self-join sides reuse the fingerprints
    # (see the localCheckpoint note in minhash_dedup_pairs).
    fp = simhash_fingerprints(docs, id_col, text_col).localCheckpoint(eager=True)
    banded = fp.select(
        id_col,
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("fp"), b * chunk).bitwiseAND(
                        F.lit((1 << chunk) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, _pair_cond(["band_idx", "band_val"], id_col, None))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def embedding_dedup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_to: int | None = 6,
) -> DataFrame:
    """Near-dup pairs by exact embedding cosine >= threshold.

    This is the *correctness baseline*: an exact all-pairs self-join (the
    DuckDB oracle computes the same thing). It is O(n²) and meant for
    verification scale; at corpus scale use
    :func:`similarity.hyperplane_lsh_pairs`, which buckets by
    random-hyperplane signature first and verifies with this same exact
    cosine only inside buckets.
    """
    from nginx_analytics_spark.operators.similarity import cosine

    v = emb.select(
        F.col(id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    a, b = v.alias("a"), v.alias("b")
    c = cosine(F.col("a.v"), F.col("b.v"))
    if round_to is not None:
        c = half_up(c, round_to)
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            c.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def char_shingles(text: str, n: int = 5) -> Column:
    """Distinct character n-grams of column NAME ``text`` (the n-gram-
    Jaccard dedup signal; robust to token-boundary edits that word shingles
    miss). A text shorter than ``n`` is its own single shingle.

    HOF transform over a sequence — interpreted expression path, fine at
    verification volume; at corpus scale feed these shingles into the
    MinHash signature pipeline (explode + min-agg, codegen'd) instead of
    comparing pairwise.
    """
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(1, length({text}) - {n - 1})),"
        f" i -> substring({text}, i, {n})))"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.4,
    round_to: int | None = 6,
    stopgram_df_ceiling: int | None = None,
) -> DataFrame:
    """Character-n-gram Jaccard pairs via the relational sparse-similarity
    plan: explode distinct grams, self-join on gram, count co-occurrences
    per pair (|A∩B|), derive the union arithmetically
    (|A∪B| = |A| + |B| - |A∩B|). Pairs sharing no gram never materialize
    — correct, their Jaccard is 0.

    Exact (no hashing/banding), and 10x faster than the per-pair
    ``array_intersect`` formulation it replaced (which built two hash sets
    of ~10³ strings per pair): the gram join and the (id_a, id_b) count
    are codegen'd hash operators with map-side combine.

    Scale note: the gram self-join's output is Σ_g df(g)² — ultra-common
    grams (df ~ corpus size) make it quadratic. ``stopgram_df_ceiling``
    is the corpus-scale mitigation: grams whose document frequency
    exceeds the ceiling are dropped from CANDIDATE GENERATION only (the
    self-join input shrinks from Σ df² to Σ_{df<=c} df²), and candidates
    are then exact-verified per pair against the FULL shingle sets — so
    every reported Jaccard is exact. Recall caveat, quantified: a
    qualifying pair is missed only if EVERY shared gram has df > ceiling;
    a pair with Jaccard >= t shares >= t/(1+t)·(|A|+|B|) grams, so for
    real text (hundreds of grams/doc) a miss needs hundreds of distinct
    ultra-common grams and no rare one — boilerplate-only near-dups,
    which a corpus pipeline dedups upstream by exact hash. ``None``
    (default) keeps the fully-exact plan for verification tiers.
    """
    # Checkpoint the shingle frame itself (not just the sizes): it feeds
    # the size lookup AND both gram self-join sides — without
    # materialization each consumer re-runs the interpreted char_shingles
    # transform over the whole corpus.
    sh = docs.select(
        F.col(id_col), char_shingles(text_col, n).alias("sh")
    ).localCheckpoint(eager=True)
    if stopgram_df_ceiling is None:
        return _relational_jaccard(sh, id_col, "sh", threshold, round_to)
    grams = sh.select(
        F.col(id_col), F.size("sh").alias("n"), F.explode("sh").alias("g")
    )
    # Stopgrams are few DISTINCT values by construction (each one
    # appears in > ceiling docs), so the pruned-gram list is small:
    # broadcast it as a left-anti filter on the join input. Shingles
    # are distinct per doc, so count(*) per gram IS document frequency.
    stopgrams = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > stopgram_df_ceiling)
        .select("g")
    )
    grams = grams.join(F.broadcast(stopgrams), "g", "left_anti")
    a, b = grams.alias("a"), grams.alias("b")
    # the length bound rides the gram join, as in _relational_jaccard
    pairs = (
        a.join(b, _pair_cond(["g"], id_col, _cand_threshold(threshold, round_to)))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # Pruned co-occurrence counts undercount |A∩B|; recover exactness
    # by re-verifying each candidate against the full shingle sets.
    return _verify_pairs(
        pairs, sh.alias("sa"), sh.alias("sb"), id_col, "sh", threshold,
        round_to,
    )


# --------------------------------------------------------------------------
# X69: incremental near-dup against an at-rest LSH signature index
# --------------------------------------------------------------------------
#
# The operational 100 TB flow is never "re-band the whole corpus per
# batch": the corpus's banded MinHash signatures live AT REST, and each
# incoming batch (a) signs only ITS documents, (b) band-joins against the
# index, (c) exact-verifies only the matched candidates — so per-batch
# cost scales with the batch and its collision volume, not the corpus.
# X43 (incremental_new_docs) is the EXACT-dup increment; this is its
# near-dup sibling.


def signatures_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    sh_col: str = "shingles",
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """(id, signature array<bigint>, n) from a (id, distinct-shingle-array)
    frame — the same explode + k min-aggregate formulation as
    minhash_dedup_pairs (codegen'd, map-side combined; see the HOF note
    there). ``n`` = the shingle-set size, computed for free inside the
    same aggregation (r16): it rides the banded index rows (format
    banded-v2) so probes can apply the Jaccard length bound AT THE BAND
    JOIN — J >= t requires t·max(|A|,|B|) <= min(|A|,|B|) — killing
    mismatched-size candidates before the distinct + exact-verify
    stages, exactly the (n, pos) payload trick the X94 prefix index
    landed in wave 4."""
    exploded = sh.select(F.col(id_col), F.explode(sh_col).alias("s"))
    return (
        exploded.groupBy(id_col)
        .agg(
            *[
                F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"h{i}")
                for i in range(num_hashes)
            ],
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            id_col,
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias(
                "signature"
            ),
            "n",
        )
    )


def banded_signature_keys(
    sigs: DataFrame,
    id_col: str,
    sig_col: str = "signature",
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(id, band_idx, band_hash[, n]) — the LSH bucket keys of each
    signature (the rows :func:`lsh_candidate_pairs` self-joins on).
    When ``sigs`` carries the shingle-set size ``n``
    (:func:`signatures_from_shingles` emits it), every key row carries
    it too — the banded-v2 payload the probe's length bound reads."""
    n = rows_per_band
    extra = ["n"] if "n" in sigs.columns else []
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                # band b = hash of signature rows [b*n, (b+1)*n)
                F.sequence(F.lit(0), (F.size(sig_col) / n).cast("int") - 1),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.slice(F.col(sig_col), b * n + 1, n).cast(
                            "array<string>"
                        ),
                    )
                ),
            )
        ).alias("band_idx", "band_hash"),
        *extra,
    )


# At-rest row format of the text LSH index. banded-v2 (r16) adds the
# doc's shingle-set size ``n`` to every (id, band_idx, band_hash) row
# (+8 bytes/row) so probes apply the Jaccard length bound AT THE BAND
# JOIN — the same payload move as the X94 prefix index's (n, pos) v2.
# The format rides the sidecar: a probe/append against a pre-v2 index
# fails the parameter check LOUDLY with a rebuild instruction instead
# of mixing schemas inside band directories.
LSH_INDEX_FORMAT = "banded-v2"


def _lsh_meta(
    id_col: str, shingle_n: int, num_hashes: int, rows_per_band: int
) -> dict:
    """The LSH sidecar's parameters: everything the signing depends on,
    plus the row format."""
    return {
        "id_col": id_col,
        "shingle_n": shingle_n,
        "num_hashes": num_hashes,
        "rows_per_band": rows_per_band,
        "format": LSH_INDEX_FORMAT,
    }


def _lsh_keys(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    rows_per_band: int,
) -> DataFrame:
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
    )
    return banded_signature_keys(
        signatures_from_shingles(sh, id_col, "shingles", num_hashes),
        id_col,
        rows_per_band=rows_per_band,
    )


def write_lsh_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    fs=None,
    keys: DataFrame | None = None,
) -> None:
    """Materialize the corpus's LSH index: (id, band_idx, band_hash) rows,
    partitioned by band_idx and sorted by band_hash within each band —
    a probe restricted to specific bands prunes directories, and within
    a band Parquet min/max on the sorted hash prunes row groups. The
    index is ~bands x corpus rows of three longs — a fraction of a
    percent of the text it indexes, which is the point: per-batch
    near-dup checks touch this table and the candidates' text, never
    the corpus text at large.

    An ``lsh`` sidecar pins (shingle_n, num_hashes,
    rows_per_band, id_col) with the data; ``incremental_near_dups``
    validates it, because a probe signed with different parameters
    band-joins against incompatible hashes and silently drops recall to
    ~0 instead of erroring. (Sidecar I/O goes through the ``fs`` seam —
    local disk by default; an HDFS/S3 deployment routes it through the
    FileSystem API like any _SUCCESS-style marker, see
    :mod:`~nginx_analytics_spark.operators.index_fs`.)

    Storage layout is the fs seam's to own (r8 verdict item 2): a seam
    exposing the ``store_*`` family (``ManifestIndexFS`` — the S3
    manifest-pointer port) gets the row writes/reads/compaction
    delegated to it wholesale; the default local layout is the
    partitioned directory tree (index_fs.banded_index_write — shared
    with the X84 SRP index since r11).

    ``keys`` (r16): an already-signed (id, band_idx, band_hash) frame —
    callers that signed the batch once for probe+append (the X80 loop)
    pass it so the bootstrap write does not sign a second time. Caller
    contract: built with THIS call's declared parameters (which the
    sidecar then records)."""
    if keys is None:
        keys = _lsh_keys(
            docs, id_col, text_col, shingle_n, num_hashes, rows_per_band
        )
    banded_index_write(keys, path, fs=fs, bands=num_hashes // rows_per_band)
    write_sidecar(
        path,
        "lsh",
        _lsh_meta(id_col, shingle_n, num_hashes, rows_per_band),
        fs=fs,
    )


def append_lsh_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    fs=None,
    keys: DataFrame | None = None,
) -> None:
    """X79: fold a new batch into an at-rest LSH index WITHOUT touching
    the existing corpus signatures — the index-maintenance half of the
    X69 loop (probe a batch, keep the novel docs, APPEND their band
    keys so the next batch dedups against them too).

    Signs ONLY ``docs`` and Parquet-appends its (id, band_idx,
    band_hash) rows into the same ``band_idx`` partition layout: each
    append adds one sorted file per touched band directory, so
    directory pruning is unchanged and row-group min/max pruning holds
    per file. Cost scales with the batch, never the index. After many
    small appends, ``index_fs.banded_index_compact`` rewrites ONLY the
    bands whose file count grew past a threshold — the log-structured
    maintenance half, costing the oversized bands, never the corpus.

    The ``lsh`` sidecar is validated FIRST: appending keys
    signed with different parameters would silently poison the index.
    Content invariant (property-tested): write(A) then append(B) holds
    exactly the same rows as write(A ∪ B) — only file layout differs.

    ``keys`` (r16): an already-signed (id, band_idx, band_hash) frame
    for EXACTLY these docs — the X80 loop signs each batch once and
    hands the novel subset's keys here instead of paying a third
    signing. The sidecar validation above still runs against the
    declared parameters; the caller owns the keys-match-params
    contract (property-tested: append with precomputed keys holds the
    same rows as append without)."""
    check_sidecar(
        path,
        "lsh",
        _lsh_meta(id_col, shingle_n, num_hashes, rows_per_band),
        fs=fs,
    )
    if keys is None:
        keys = _lsh_keys(
            docs, id_col, text_col, shingle_n, num_hashes, rows_per_band
        )
    banded_index_write(
        keys, path, fs=fs, mode="append",
        bands=num_hashes // rows_per_band,
    )


def incremental_near_dups(
    spark,
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 3,
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
    round_to: int | None = 6,
    exact_net: bool = False,
    fs=None,
    new_shingles: DataFrame | None = None,
    new_keys: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (new_id, old_id, jaccard) of an incoming batch
    against an indexed corpus, WITHOUT re-signing the corpus:

      1. sign + band ONLY the new batch;
      2. band-join against the at-rest index (``write_lsh_index``) —
         the probe reads matching band partitions, never the text;
      3. exact-verify candidates only: the corpus TEXT scan is
         semi-join-pruned to candidate ids before shingling.

    ``exact_net=True`` unions the output with the cross-set relational
    exact plan (recall 1 by construction, same rounded double), closing
    the banding-odds gap where the output must equal a brute-force
    oracle — the same contract as minhash_dedup_pairs. The at-rest
    probe path still executes end-to-end.

    The index's ``lsh`` sidecar (write_lsh_index) is
    validated against this call's signing parameters FIRST: a probe
    with mismatched (shingle_n, num_hashes, rows_per_band, id_col)
    hashes into disjoint buckets and would return an empty/near-empty
    result with no error — the worst failure mode for a dedup gate.

    ``new_shingles`` / ``new_keys`` (r16): callers that already signed
    the batch (the X80 loop's within-batch pass) hand the materialized
    (id, shingles) frame and/or the (id, band_idx, band_hash) key frame
    in, and the probe skips re-shingling/re-signing. The caller owns
    the contract that they were built with THIS call's declared
    (shingle_n, num_hashes, rows_per_band) — the sidecar validation
    above still guards the declared params against the index."""
    check_sidecar(
        index_path,
        "lsh",
        _lsh_meta(id_col, shingle_n, num_hashes, rows_per_band),
        fs=fs,
    )
    if new_shingles is not None:
        new_sh = new_shingles.select(F.col(id_col), F.col("shingles"))
    else:
        new_sh = new_docs.select(
            F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
        ).localCheckpoint(eager=True)  # consumed by sign AND verify
    if new_keys is None:
        new_keys = banded_signature_keys(
            signatures_from_shingles(new_sh, id_col, "shingles", num_hashes),
            id_col,
            rows_per_band=rows_per_band,
        )
    new_keys = new_keys.withColumnRenamed(id_col, "new_id").withColumnRenamed(
        "n", "new_n"
    )
    # Jaccard length bound at the band join (banded-v2, r16): both sides
    # carry their shingle-set size, so a collision whose sizes already
    # preclude J >= t dies here — before the distinct and the exact
    # verify (the probe's dominant stage). Widened to the half-up
    # rounding band like every exact path; necessary condition of the
    # final filter ⇒ hits unchanged. Conditional on the batch keys'
    # size column so a caller-supplied sizeless key frame still probes
    # correctly (banded-v2 index rows always carry n).
    keep = F.col("new_id") != F.col("old_id")
    if "new_n" in new_keys.columns and threshold > 0.0:
        keep = keep & _length_bound(
            F.col("new_n"), F.col("old_n"), _cand_threshold(threshold, round_to)
        )
    cands, old_rows = banded_index_probe(
        spark, new_keys, index_path, {id_col: "old_id", "n": "old_n"},
        corpus_docs, id_col, keep=keep, fs=fs,
    )
    old_sh = old_rows.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
    )
    # The first verify join broadcasts the BATCH shingles (batch-sized
    # by contract — one exchange gone); the join to the pruned corpus
    # shingles stays planner-chosen, because candidate volume scales
    # with corpus x batch collision rates and carries array payloads —
    # not a frame to force-broadcast (r17, measured on the SRP twin).
    verified = _verify_pairs(
        cands, F.broadcast(new_sh.alias("sa")), old_sh.alias("sb"), id_col,
        "shingles", threshold, round_to, ids=("new_id", "old_id"),
    )
    if not exact_net:
        return verified
    full_old_sh = corpus_docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
    )
    net = _relational_jaccard(
        new_sh, id_col, "shingles", threshold, round_to, sh_old=full_old_sh
    )
    return verified.unionByName(net).distinct()
