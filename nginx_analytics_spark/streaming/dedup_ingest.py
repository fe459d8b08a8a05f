"""X80/X85: streaming corpus ingest with INCREMENTAL near-dedup — the
at-rest probe and index append composed inside ``foreachBatch``, turning
the batch operators into the continuous pipeline a training corpus
actually runs. One loop serves both payload modalities; a
:class:`Modality` record carries what differs between them — text
documents under MinHash-LSH and Jaccard (:data:`TEXT`, the X80 loop) and
embedding rows under SRP hyperplanes and cosine (:data:`EMBEDDING`, the
X85 loop):

  for each micro-batch:
    1. exact-dedup WITHIN the batch (normalized text, or the
       bit-identical vector itself, as the group key — deterministic
       min-id survivor, ``dedup.exact_dedup``);
    2. near-dedup WITHIN the batch (MinHash-LSH pairs, or SRP bucket
       pairs with a blocked Arrow cosine verify, at the production
       threshold; the GREATER id of each passing pair is dropped — the
       standard greedy pass, so a chain A~B~C keeps only A);
    3. near-dedup AGAINST THE CORPUS via the modality's at-rest index
       (``dedup.incremental_near_dups`` / ``similarity.
       incremental_embedding_near_dups`` — the pure probe: sign the
       batch only, band-join the index, exact-verify candidates with
       the corpus scan semi-join-pruned to them);
    4. append the surviving NOVEL rows to the corpus store and their
       band keys to the index, so the NEXT batch dedups against them
       too.

Per-batch cost scales with the batch and its collision volume, never
the corpus — the whole point of the at-rest index (SURVEY.md §2.9
X69/X79/X80/X84/X85). The reference has no corpus pipeline at all; this
is the engine extension a 100 TB training-data deployment needs.

Delivery semantics: the default corpus append is at-least-once (a batch
that fails with one of the two per-batch writes done — they run
OVERLAPPED since r17, so either the corpus write or the index append
may land first — replays and may re-append; its rows then band-match
THEMSELVES in the replayed probe — self-matches are excluded by id
inequality, so replay does not self-suppress, but duplicates can land.
An index-append-ahead crash additionally leaves orphan band keys whose
ids the probe's corpus verify drops — benign, reported by
:func:`reconcile_index`). ``exactly_once=True`` composes
the X73 per-batch-directory overwrite trick: each batch's admissions
land under ``ingest_batch=<id>`` with OVERWRITE semantics, so a retried
batch (same epoch id — the foreachBatch contract) REPLACES its own
corpus output instead of duplicating it. The INDEX append is not made
idempotent the same way: a replayed append adds duplicate band-key
rows, and the probe's candidate ``distinct()`` collapses them, so
replay never costs correctness. It does cost index bytes that nothing
reclaims today: per-band compaction preserves the row multiset exactly,
duplicates included (:func:`index_fs.banded_index_compact`, property-
tested in tests/test_index_fs.py), and :func:`reconcile_index` counts
distinct ids, so it does not see them either; only a rebuild from the
corpus store drops them. Replay-idempotent index appends are the open
half of ROADMAP.md's at-rest-store item. Read the batch-dir corpus back
via :func:`read_corpus`.

Index maintenance: every append adds one file per touched band, so a
long-running loop passes ``compact_every=N`` to fold the X82 per-band
compaction (``index_fs.banded_index_compact``) into the loop itself —
every N batches, bands whose file count grew past the threshold are
rewritten into sorted range-partitioned files, inside the same
foreachBatch thread that owns the appends. That single-writer contract
is enforced, not assumed (r8): each micro-batch holds the index's
writer mutex (``index_fs.writer_lock_path``, a SIBLING lock file, so
the bootstrap overwrite cannot unlink it) across heal + probe + append +
bootstrap + compaction, and the ``jobs dedup-ingest`` /
``jobs embedding-dedup-ingest`` CLI holds it for the stream's whole
lifetime — an out-of-band ``jobs compact-index`` always loses loudly
against a live CLI loop instead of racing its band swaps with the
loop's probes and appends.

The index bootstrap (first batch ever) writes the index instead of
appending; both paths stamp/validate the index's parameter sidecar, so
a config change between deployments fails loudly instead of silently
losing recall.

The CORPUS STORE has its own maintenance half (X87,
:func:`compact_corpus`): the loop appends one file (plain) or one
batch dir (exactly-once) per micro-batch, and the offline compactor —
``jobs compact-corpus`` — bounds that growth under the same index
mutex, with the exactly-once replay caveat documented there.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nginx_analytics_spark.operators import dedup, similarity
from nginx_analytics_spark.operators.index_fs import (
    BANDED_KINDS,
    COMPACT_MAX_FILES_PER_BAND,
    SEEN_KINDS,
    LOCAL_FS,
    banded_index_compact,
    banded_index_read,
    banded_index_recover,
    index_kind,
    read_sidecar,
    sidecar_path,
    writer_lock_path,
)


def read_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """Logical view of the admitted corpus regardless of sink mode:
    plain appended files or the exactly-once ``ingest_batch=<id>``
    layout (partition discovery exposes the bookkeeping level; drop it
    so consumers see the document schema either way)."""
    df = spark.read.parquet(corpus_dir)
    return df.drop("ingest_batch") if "ingest_batch" in df.columns else df


def dedup_batch_against_corpus(
    spark: SparkSession,
    batch: DataFrame,
    corpus_dir: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    fs=None,
    quality_fn: Callable[[DataFrame], DataFrame] | None = None,
    return_keys: bool = False,
) -> DataFrame:
    """Text steps 1-3 for one batch: returns the NOVEL docs (same schema
    as ``batch``). Pure function over (batch, at-rest state) — the
    foreachBatch handler below adds the writes. ``fs`` is the
    driver-side index-metadata seam (here and on the loop entries
    below) — local disk by default, see
    :mod:`~nginx_analytics_spark.operators.index_fs`; the parquet row
    I/O goes through Spark's own Hadoop FileSystem regardless.

    Sign once, consume thrice (r16, guide §1.2): the batch's shingles
    and minhash signatures are materialized ONCE here and shared by
    the within-batch pair pass AND the against-corpus probe (both
    previously re-shingled and re-signed the same rows); with
    ``return_keys=True`` the return value is ``(novel, keys)`` where
    ``keys`` is the batch's (id, band_idx, band_hash) frame — the loop
    hands the novel subset of it to the index append/bootstrap, saving
    the third signing. All three consumers use the loop's single
    signing-parameter set (the module defaults the sidecar records),
    so sharing cannot disagree with the per-call validation.

    ``quality_fn`` (X100, r15 verdict item 6) upgrades the
    WITHIN-BATCH near-dup drop from min-id-greedy to quality-aware:
    given ``quality_fn(batch) -> (id_col, 'quality')`` (pass
    ``text.quality_score`` for the X26 rubric or an X81 classifier
    scorer), the batch's near-dup pairs resolve into connected
    components and each cluster keeps its argmax-quality member
    (min-id tie-break) — the curation-standard keep-best rule instead
    of keep-first-crawled. Batch-shaped cost: components + scoring run
    over one micro-batch. The AGAINST-CORPUS step stays first-come-
    wins by design: already-admitted corpus docs are not re-litigated
    (replacing at-rest survivors would mean corpus rewrites inside the
    ingest loop; run an offline `quality_survivors` pass for that)."""
    fs = fs or LOCAL_FS
    sc = spark.sparkContext
    sc.setJobDescription("X80: dedup+shingle batch")
    # ONE fused materialization of survivors + their shingles (r17: the
    # separate b / sh checkpoints were two sequential jobs per batch;
    # the shingle HOF now rides the dedup checkpoint's projection and
    # both views below read the same in-memory blocks)
    frame = (
        dedup.exact_dedup(
            batch.withColumn("_norm", dedup.normalize_text(text_col)),
            keys=["_norm"],
            order_col=id_col,
        )
        .drop("_norm")
        .withColumn("shingles", dedup.word_shingles(text_col))
        .localCheckpoint(eager=True)
    )
    b = frame.drop("shingles")  # consumed by pairs + anti-joins
    # the ONE signing of this batch (see docstring): shingles and
    # signatures are materialized once and every downstream consumer
    # (pair self-join, verify joins, index band-join, index append)
    # reads these frames instead of re-deriving them from text
    sh = frame.select(F.col(id_col), F.col("shingles"))
    sc.setJobDescription("X80: sign batch")
    sigs = dedup.signatures_from_shingles(sh, id_col).localCheckpoint(
        eager=True
    )
    sc.setJobDescription(None)
    keys = dedup.banded_signature_keys(sigs, id_col)

    # within-batch near-dups: drop the greater id of each passing pair
    # (or, with quality_fn, everything but each cluster's best-quality
    # member — X100). broadcast_verify: the batch-bounded frames turn
    # the verify joins into broadcast builds (r17, zero exchanges).
    pairs = dedup.minhash_dedup_pairs(
        b, id_col=id_col, text_col=text_col, threshold=threshold,
        shingles_df=sh, signatures_df=sigs, broadcast_verify=True,
    )
    if quality_fn is None:
        # no .distinct(): the anti-join below ignores duplicate keys,
        # and the dedup was one more shuffle + job per batch (r17)
        losers = pairs.select(F.col("id_b").alias(id_col))
    else:
        from nginx_analytics_spark.operators import graph

        assign = graph.connected_components(
            pairs, src="id_a", dst="id_b"
        ).select(
            F.col("node").alias(id_col), F.col("component").alias("cluster_id")
        )
        losers = (
            graph.quality_survivors(assign, quality_fn(b), id_col=id_col)
            .filter("is_duplicate")
            .select(id_col)
        )
    # loser/dup id sets are batch-bounded: broadcast anti-joins keep the
    # survivor frame on the stream side with no exchange (r17)
    b = b.join(F.broadcast(losers), id_col, "left_anti")

    if fs.isfile(sidecar_path(index_path, "lsh")):
        sc.setJobDescription("X80: probe at-rest index")
        corpus = read_corpus(spark, corpus_dir)
        hits = dedup.incremental_near_dups(
            spark, b, corpus, index_path,
            id_col=id_col, text_col=text_col,
            threshold=threshold, exact_net=False, fs=fs,
            new_shingles=sh, new_keys=keys,
        )
        sc.setJobDescription(None)
        dup_ids = hits.select(F.col("new_id").alias(id_col))
        b = b.join(F.broadcast(dup_ids), id_col, "left_anti")
    return (b, keys) if return_keys else b


def dedup_embedding_batch_against_corpus(
    spark: SparkSession,
    batch: DataFrame,
    corpus_dir: str,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    seed: int = 42,
    fs=None,
    return_keys: bool = False,
) -> DataFrame:
    """Embedding steps 1-3 for one batch: returns the NOVEL rows (same
    schema as ``batch``). The default threshold is 0.85, the regime
    embedding dup detection actually operates in (hyperplane_lsh_pairs'
    selectivity note) — near-identical vectors, not the fixture's hard
    0.4 recall-stress setting; callers pass the production value for
    their embedding space.

    Sign once (r16, guide §1.2): the batch's SRP band keys are
    materialized ONCE here and shared by the against-corpus probe;
    ``return_keys=True`` returns ``(novel, keys)`` so the loop hands
    the novel subset to the index append/bootstrap too. (The
    within-batch pair pass keeps its own banding: it needs the vectors
    alongside the keys for the in-bucket BLAS verify, a different row
    shape.)"""
    fs = fs or LOCAL_FS
    sc = spark.sparkContext
    sc.setJobDescription("X85: dedup batch")
    b = dedup.exact_dedup(
        batch, keys=[vec_col], order_col=id_col
    ).localCheckpoint(eager=True)  # consumed by pairs + anti-joins

    # the ONE signing of this batch: (id, band_idx, band_hash), shared
    # by the probe's band join and the loop's index append
    sc.setJobDescription("X85: sign batch")
    keys = similarity.srp_band_keys(
        b, id_col, vec_col, n_planes, bands, dim, seed
    ).localCheckpoint(eager=True)
    sc.setJobDescription(None)

    # within-batch near-dups: drop the greater id of each passing pair
    pairs = similarity.hyperplane_lsh_pairs(
        b, threshold=threshold, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, bands=bands, dim=dim, seed=seed,
    )
    # broadcast anti-join, no .distinct() — as in the text step (r17)
    losers = pairs.select(F.col("id_b").alias(id_col))
    b = b.join(F.broadcast(losers), id_col, "left_anti")

    if fs.isfile(sidecar_path(index_path, "srp")):
        sc.setJobDescription("X85: probe at-rest index")
        corpus = read_corpus(spark, corpus_dir)
        hits = similarity.incremental_embedding_near_dups(
            spark, b, corpus, index_path,
            threshold=threshold, id_col=id_col, vec_col=vec_col,
            n_planes=n_planes, bands=bands, dim=dim, seed=seed, fs=fs,
            new_keys=keys,
        )
        sc.setJobDescription(None)
        dup_ids = hits.select(F.col("new_id").alias(id_col))
        b = b.join(F.broadcast(dup_ids), id_col, "left_anti")
    return (b, keys) if return_keys else b


@dataclass(frozen=True)
class Modality:
    """What the ingest loop needs to know about one payload type.

    ``against_corpus`` is the modality's steps 1-3, called as
    ``(spark, batch, corpus_dir, index_path, id_col, payload_col,
    threshold, fs=, return_keys=True, **sign)`` and returning
    ``(novel, keys)``; ``write_index`` / ``append_index`` bootstrap and
    extend the index, called as ``(novel, index_path, id_col,
    payload_col, fs=, keys=, **sign)``. ``sign`` holds the signing
    parameters the index sidecar pins (empty = the signer's module
    defaults); ``dataclasses.replace`` derives a record with other
    columns, threshold or signing parameters."""

    label: str  # job-description prefix of every phase ("X80", "X85")
    kind: str  # at-rest index kind, see index_fs.SIDECARS
    id_col: str
    payload_col: str
    threshold: float  # default admission threshold
    sign: dict
    against_corpus: Callable
    write_index: Callable
    append_index: Callable


# The steps are late-bound (looked up on their module at call time), so
# a wrapper installed on the module attribute — a profiler's span —
# sees every batch.
TEXT = Modality(
    label="X80",
    kind="lsh",
    id_col="doc_id",
    payload_col="text",
    threshold=0.6,
    sign={},
    against_corpus=lambda *a, **k: dedup_batch_against_corpus(*a, **k),
    write_index=lambda *a, **k: dedup.write_lsh_index(*a, **k),
    append_index=lambda *a, **k: dedup.append_lsh_index(*a, **k),
)
EMBEDDING = Modality(
    label="X85",
    kind="srp",
    id_col="vec_id",
    payload_col="embedding",
    threshold=0.85,
    sign={"n_planes": 64, "bands": 8, "dim": 64, "seed": 42},
    against_corpus=lambda *a, **k: dedup_embedding_batch_against_corpus(*a, **k),
    write_index=lambda *a, **k: similarity.write_srp_index(*a, **k),
    append_index=lambda *a, **k: similarity.append_srp_index(*a, **k),
)


def compact_corpus(
    spark: SparkSession,
    corpus_dir: str,
    index_path: str,
    target_file_bytes: int = 128 << 20,
    sort_by: str | None = None,
    fs=None,
) -> dict:
    """X87: small-file compaction for the ingest loops' CORPUS STORE —
    the missing half of the store's lifecycle (the index half is X82).
    Both loops append one parquet file (plain mode) or one
    ``ingest_batch=<id>`` directory (X73 exactly-once mode) per
    micro-batch, so a long-running ingest accumulates files without
    bound; at production batch cadence the small-files problem hits the
    corpus long before the data volume does. This rewrites the store
    into ``ceil(bytes / target_file_bytes)`` files and swaps the
    directory with the warehouse compactor's crash discipline
    (two renames; a crash between them is rolled forward on the next
    entry — ``compact_raw_logs`` precedent, sources/warehouse.py).

    Layout preserved BY KIND: a plain store compacts to flat files; an
    exactly-once store compacts into the single reserved partition
    ``ingest_batch=-1`` — never a mix, because Spark's partition
    discovery rejects flat files alongside partition dirs, and real
    batch ids are non-negative so the reserved id cannot collide with
    a future append. ``read_corpus`` reads either layout unchanged.

    Concurrency: takes the INDEX's single-writer mutex (the sibling
    ``<index>.compact.lock`` both loops hold per batch and the CLIs
    hold for the stream's lifetime), so compacting against a live CLI
    loop fails loudly — never corrupts — exactly the ``compact-index``
    contract. The exactly-once REPLAY caveat is the one additional
    rule: compaction flattens the batch directories a same-id retry
    would overwrite, so run it only when the stream is stopped with
    its checkpoint committed past every on-disk batch (a replay of an
    uncommitted batch AFTER compaction would append a fresh batch dir
    and duplicate its compacted rows — at-least-once, never lost, but
    the dedup gate's output should not need its own dedup). The CLI
    (``jobs compact-corpus``) states the same rule.

    Scale: one single-pass rewrite of the store — ``coalesce`` (no
    shuffle: output files are unions of input splits) when shrinking
    the file population with no re-sort, ``repartition`` (ONE full
    shuffle of the store — the price of balanced output) only when
    growing the file count or when ``sort_by`` needs evenly-sized
    sorted files (r12 ADVICE: the previous docstring called
    ``repartition`` shuffle-free, which it never is). The sizing walk
    is metadata-only. ``sort_by`` re-sorts rows within each output
    file so parquet min/max stats prune point lookups (the warehouse
    compactor's affordance). On an object store the two-rename swap is
    the piece a table format's metadata commit replaces — same caveat
    as the warehouse compactor. Returns
    ``{files_before, files_after, rows}``.

    Crash recovery proves PROVENANCE before it deletes (r12 ADVICE):
    the compactor stamps a ``_COMPACTED`` marker into the new layout
    before the swap, and the entry-time reaper removes a leftover
    ``__compact_old`` backup only when the live store carries that
    marker — i.e. the live store IS a compactor commit. Both dirs
    present WITHOUT the marker means the store was recreated by some
    other writer after a crash-between-renames; deleting the backup
    then would destroy the only copy of the original corpus, so the
    compactor refuses loudly and names both paths for the operator.
    (Spark ignores underscore-prefixed files, so the marker is
    invisible to every reader, like ``_SUCCESS``.)"""
    import math
    import os
    import shutil

    fs = fs or LOCAL_FS
    with fs.exclusive_lock(
        writer_lock_path(index_path),
        "corpus compaction must not interleave with the ingest loop "
        "that writes this store; stop the loop (or let an embedded "
        "loop's current batch finish) first",
    ):
        src = corpus_dir.rstrip("/")
        tmp, old = src + "__compact_tmp", src + "__compact_old"
        marker = "_COMPACTED"  # provenance stamp (see docstring)
        if not os.path.isdir(src) and os.path.isdir(old):
            os.rename(old, src)  # roll forward a crash between renames
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.isdir(old):
            # src + old both present: normally a crash after the second
            # rename (src is the committed compaction, old the swapped-
            # out original) — but ONLY the marker proves that. Without
            # it, src was recreated by another writer after a
            # crash-between-renames and old holds the only original.
            if os.path.isfile(os.path.join(src, marker)):
                shutil.rmtree(old)
            else:
                raise RuntimeError(
                    f"refusing to reap {old!r}: the live store {src!r} "
                    "carries no _COMPACTED marker, so it was not "
                    "committed by this compactor — the backup may be "
                    "the only copy of the original corpus. Reconcile "
                    "the two directories manually before compacting."
                )

        def _walk(p: str) -> tuple[int, int]:
            n = b = 0
            for root, _, files in os.walk(p):
                for f in files:
                    if f.endswith(".parquet"):
                        n += 1
                        b += os.path.getsize(os.path.join(root, f))
            return n, b

        files_before, total_bytes = _walk(src)
        df = spark.read.parquet(src)
        exactly_once = "ingest_batch" in df.columns
        rows = df.drop("ingest_batch") if exactly_once else df
        n_files = max(1, math.ceil(total_bytes / target_file_bytes))
        if sort_by is None and n_files < rows.rdd.getNumPartitions():
            # shrink-only, no re-sort: coalesce unions input splits
            # into n_files tasks with ZERO shuffle (r12 ADVICE)
            out = rows.coalesce(n_files)
        else:
            out = rows.repartition(n_files)  # one full shuffle
            if sort_by is not None:
                out = out.sortWithinPartitions(sort_by)
        dest = os.path.join(tmp, "ingest_batch=-1") if exactly_once else tmp
        out.write.mode("overwrite").parquet(dest)
        # provenance stamp BEFORE the swap: recovery may delete the
        # __compact_old backup only when the live store carries it
        with open(os.path.join(tmp, marker), "w") as fmark:
            fmark.write("compacted corpus store; see compact_corpus\n")
        os.rename(src, old)
        os.rename(tmp, src)
        shutil.rmtree(old, ignore_errors=True)
        files_after, _ = _walk(src)
        n_rows = spark.read.parquet(src).count()  # footer-scale
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": int(n_rows),
    }


def reconcile_index(
    spark: SparkSession,
    corpus_dir: str,
    index_path: str,
    text_col: str = "text",
    vec_col: str = "embedding",
    repair: bool = False,
    fs=None,
) -> dict:
    """X91: store↔index consistency check (and repair) for a corpus
    store paired with ANY of the at-rest indexes derived from it. The
    store and its index are written together but are not one atomic
    object, so operator interventions outside the writers' replay
    discipline (a lost/trimmed checkpoint, a manual corpus import, a
    restored-from-backup store) can leave them diverged — in two very
    different directions:

      * **missing-from-index** (corpus rows with NO band keys): these
        are PERMANENT DEDUP BLIND SPOTS — a future near-duplicate of an
        unindexed document band-matches nothing and is admitted
        forever. The dangerous direction, and the repairable one:
        ``repair=True`` signs exactly the missing rows under the
        SIDECAR's own parameters and appends their band keys (the
        X79/X84 append path — cost scales with the missing set, never
        the corpus).
      * **index orphans** (band keys whose id left the corpus): benign
        for correctness — the probe's exact-verify stage joins
        candidates back to the corpus, so an orphan candidate drops
        out of the join and can never produce a hit — they only waste
        candidate volume. Reported, not repaired HERE: removing rows
        from a banded index means rewriting bands, and the maintenance
        pass that already rewrites bands owns that job — X82
        compaction's ``prune_ids`` (r13 verdict item 4:
        ``jobs compact-index --prune-to-corpus <store>``, with
        ``--max-files-per-band 0`` for a full reclaim) drops orphan
        rows from every band it rewrites, no full rebuild needed; the
        returned count is the number an operator decides that with.

    Kind is read off the sidecar (``index_fs.index_kind``) — all seven
    store kinds: the banded dedup indexes (MinHash/LSH text, X94
    hash-order prefix, SRP embedding) and the ANN SERVING indexes
    (celled/flat PQ, bucketed IVF), which pair with the same corpus
    store and diverge the same two ways, plus the seen-key stores
    (X97 paragraphs, X101 token windows), which hold text keys, not
    ids: they dispatch to ``dedup.reconcile_seen_store`` and return
    only ``{"kind", "missing_from_index", "repaired"}`` (missing keys
    are blind spots, appended under ``repair``; orphan keys are
    harmless and kept).
    For the serving kinds a
    missing row is a SILENT
    RECALL LOSS — the vector exists in the corpus but no probe can
    ever return it, invisible to ``index_fs.cell_index_verify`` (it
    only checks the row_count commit, which balances because the row
    was never appended) — and ``repair=True``
    appends exactly the missing vectors under the SIDECAR's own
    codebooks/centroids (``pq_append_index``/``ivf_append_bucketed``
    with the writer mutex already held, so the appends' torn-check and
    commit-flip protocol run as usual; a TORN index fails the repair
    loudly — heal it first). Serving-index orphans waste scan work and
    can displace true neighbors from fixed-size shortlists; they are
    reported with the rebuild guidance (``rebuild_pq`` from the store /
    ``ivf_write_bucketed`` over ``read_corpus`` — NOT ``recluster_ivf``,
    which refits from the index's own rows and would keep them).

    The check runs under the index's single-writer mutex (the
    verify-index rule: counting mid-append would report transient
    divergence — since r14 the same sibling serializes every writer of
    every kind), so it fails loudly against a live loop.

    Scale: two id-only anti-joins — the index side reads one
    column, the corpus side reads only ids; the payloads of missing
    rows are the ONLY corpus content touched, and only under
    ``repair``. Returns ``{"kind", "corpus_ids", "indexed_ids",
    "missing_from_index", "index_orphans", "repaired"}``."""
    fs = fs or LOCAL_FS
    kind = index_kind(index_path, fs)
    with fs.exclusive_lock(
        writer_lock_path(index_path),
        "reconcile counts (and repairs) only while no writer holds "
        "the index; stop the ingest loop first",
    ):
        corpus = read_corpus(spark, corpus_dir)
        if kind in SEEN_KINDS:
            rep = dedup.reconcile_seen_store(
                spark, corpus, index_path, text_col=text_col, repair=repair,
                fs=fs,
            )
            return {
                "kind": kind,
                "missing_from_index": rep["missing"],
                "repaired": rep["appended"],
            }
        meta = read_sidecar(index_path, kind, fs=fs)
        id_col = meta["id_col"]
        payload_col = text_col if kind in ("lsh", "prefix") else vec_col
        cids = corpus.select(F.col(id_col)).distinct().localCheckpoint(
            eager=True  # consumed by both anti-joins + the repair semi
        )
        index_rows = (
            banded_index_read(spark, index_path, fs=fs)
            if kind in BANDED_KINDS
            else spark.read.parquet(index_path)
        )
        iids = (
            index_rows.select(F.col(id_col))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_corpus, n_indexed = cids.count(), iids.count()
        missing = cids.join(iids, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        n_missing = missing.count()
        n_orphans = iids.join(cids, id_col, "left_anti").count()
        repaired = 0
        if repair and n_missing:
            rows = corpus.select(id_col, payload_col).join(
                F.broadcast(missing) if n_missing < 1_000_000 else missing,
                id_col,
                "left_semi",
            )
            if kind == "lsh":
                dedup.append_lsh_index(
                    rows, index_path, id_col=id_col, text_col=text_col,
                    shingle_n=meta["shingle_n"],
                    num_hashes=meta["num_hashes"],
                    rows_per_band=meta["rows_per_band"], fs=fs,
                )
            elif kind == "prefix":
                # signs under the frozen hash order at the sidecar's
                # build threshold — order-stable, so the repaired rows
                # are exactly what the original write would have held
                dedup.append_prefix_index(
                    rows, index_path, id_col=id_col, text_col=text_col,
                    shingle_n=meta["shingle_n"], fs=fs,
                )
            elif kind == "srp":
                # signing parameters default to the sidecar's
                similarity.append_srp_index(
                    rows, index_path, id_col=id_col, vec_col=vec_col, fs=fs
                )
            else:
                # encodes/assigns under the SIDECAR's codebooks or
                # centroids (never a refit) and flips the row_count
                # commit; lock_held — this mutex IS the writers' since r14
                (
                    similarity.pq_append_index
                    if kind == "pq"
                    else similarity.ivf_append_bucketed
                )(
                    rows, index_path, id_col=id_col, vec_col=vec_col,
                    fs=fs, lock_held=True,
                )
            repaired = n_missing
    return {
        "kind": kind,
        "corpus_ids": int(n_corpus),
        "indexed_ids": int(n_indexed),
        "missing_from_index": int(n_missing),
        "index_orphans": int(n_orphans),
        "repaired": int(repaired),
    }


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    corpus_dir: str,
    index_path: str,
    modality: Modality = TEXT,
    threshold: float | None = None,
    exactly_once: bool = False,
    compact_every: int | None = None,
    max_files_per_band: int = COMPACT_MAX_FILES_PER_BAND,
    fs=None,
    lock_held: bool = False,
    lock_timeout_s: float = 0.0,
    telemetry: dict | None = None,
    quality_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[int, int]:
    """One micro-batch of the loop (exposed for retry tests and batch
    backfills): dedup, admit, append. Returns (n_in, n_novel).
    ``modality`` picks the payload type (:data:`TEXT` or
    :data:`EMBEDDING`); ``threshold`` defaults to the modality's.
    ``quality_fn`` (text only) makes the within-batch drop
    quality-aware — see :func:`dedup_batch_against_corpus`.
    ``exactly_once`` lands the admissions under ``ingest_batch=<id>``
    with overwrite semantics (X73) so a same-id retry replaces rather
    than duplicates its corpus output; the index append has no such
    guard, so a replay duplicates its band keys — harmless to the
    probe, but nothing reclaims them (see the module docstring).
    ``compact_every=N`` runs the X82 per-band compaction after every
    Nth batch (batch ids N-1, 2N-1, ...), bounding per-band file
    growth from inside the only thread that writes the index — the
    cycle fires even when the batch itself is empty (r7 review:
    compaction is index-state-driven, not batch-content-driven; an idle
    feed must not starve it).

    Concurrency (r8 review): the loop is the index's SINGLE writer, and
    this function enforces it — it holds the writer mutex (the sibling
    ``<index>.compact.lock``, acquirable before the index first exists)
    for the WHOLE batch, so heal, probe, append, bootstrap, and the
    in-loop compaction cycle all run under it. An out-of-band compactor
    can then neither detach a band mid-probe (silently missed near-dups
    admitted forever — dedup is a one-shot gate) nor sweep this batch's
    fresh band-key appends into a ``.old`` it deletes. If someone else
    holds the mutex, THIS batch fails loudly instead (foreachBatch
    surfaces it and the retried batch re-runs whole): refusing to run
    beats silently corrupting the index. ``lock_held=True`` declares
    that the CALLER already holds the mutex for the stream's whole
    lifetime (the ``jobs dedup-ingest`` CLI does), which also means an
    offline ``jobs compact-index`` racing a live CLI loop loses even
    BETWEEN micro-batches, so the production loop never dies to a
    maintenance tool. The declaration is VERIFIED, not trusted (r8
    review): the batch still attempts the acquisition — if the lock
    turns out free it is simply held per-batch (a caller that lied gets
    the guard anyway), and if the recorded holder is not THIS process
    (compared via ``fs.holder_id()``, the seam-defined identity format
    — r8 ADVICE) the batch fails loudly despite the flag. The stamp is
    erased on release (index_fs r9), so the only way the record can
    name this process is the caller genuinely holding it — the r8
    TOCTOU (a foreign acquirer not yet stamped over OUR stale pid) now
    reads an empty stamp and refuses. (A foreign thread inside this
    process is indistinguishable from the caller — in-process writer
    discipline stays the caller's own contract.)

    Observability (r8 verdict item 6): ``lock_timeout_s > 0`` turns the
    fail-fast refusal into a bounded wait — the batch polls the mutex
    until the foreign holder (say, an offline compactor finishing up)
    releases, and the seconds spent waiting land in
    ``telemetry["lock_wait_s"]`` (an optional caller-supplied dict; the
    loop forwards the field to ``on_batch``). Without the field a
    stalled compactor holding the lock is indistinguishable from a slow
    batch in the admission telemetry. The wait polls through the fs
    seam's own non-blocking acquisition, so any seam implementation
    gets it unchanged; the deadline is checked BEFORE each sleep so
    ``lock_timeout_s=0`` still refuses on the first failed attempt.
    Under a caller's LIFETIME hold (``lock_held=True``, the CLI) the
    per-batch acquisition can never contend — lock_wait reads 0.0 by
    construction, and the acquisition that can actually wait is the
    caller's own startup one (the CLI routes ``--lock-timeout`` there
    via :func:`~nginx_analytics_spark.operators.index_fs.acquire_lock_wait`,
    r9 review); nonzero per-batch lock_wait is the LIBRARY-embedded
    loop's signal."""
    import os
    import time
    from concurrent.futures import ThreadPoolExecutor
    from contextlib import ExitStack

    from nginx_analytics_spark.operators.index_fs import LockHeldError

    m = modality
    fs = fs or LOCAL_FS
    threshold = m.threshold if threshold is None else threshold
    step_kw = {"quality_fn": quality_fn} if quality_fn is not None else {}
    lock_path = writer_lock_path(index_path)
    stack = ExitStack()
    t0 = time.monotonic()
    deadline = t0 + lock_timeout_s
    while True:
        try:
            stack.enter_context(
                fs.exclusive_lock(
                    lock_path,
                    "the ingest loop holds the index mutex for each "
                    "micro-batch; out-of-band compaction must wait for "
                    "the loop to stop",
                )
            )
            break
        except LockHeldError:
            try:
                holder = fs.read_text(lock_path).strip()
            except OSError:
                holder = ""
            if lock_held and holder and holder == fs.holder_id():
                break  # verified delegation: the caller's lifetime hold
            if time.monotonic() >= deadline:
                raise
            time.sleep(0.1)
    if telemetry is not None:
        telemetry["lock_wait_s"] = round(time.monotonic() - t0, 3)

    def indexed() -> bool:
        return fs.isfile(sidecar_path(index_path, m.kind))

    with stack:
        if indexed():
            # heal a compaction interrupted by a crash BEFORE probing
            # (r7): recovery rolls a half-swapped band back into place,
            # so a restarted loop never probes an index with a detached
            # band (bounded-recall window) while waiting for the next
            # compaction cycle. The mutex is already held above.
            banded_index_recover(index_path, fs, lock_held=True)
        # one count() both empties-gates and feeds telemetry (the prior
        # head(1) + count() pair scanned the micro-batch source twice)
        sc = spark.sparkContext
        sc.setJobDescription(f"{m.label}: source count")
        n_in = batch.count()
        sc.setJobDescription(None)
        n_novel = 0
        if n_in:
            novel, keys = m.against_corpus(
                spark, batch, corpus_dir, index_path, m.id_col,
                m.payload_col, threshold, fs=fs, return_keys=True,
                **m.sign, **step_kw,
            )
            sc.setJobDescription(f"{m.label}: novel materialize")
            novel = novel.localCheckpoint(eager=True)  # write + append
            n_novel = novel.count()
            sc.setJobDescription(None)
        if n_novel:
            # Corpus write and index append are independent jobs over the
            # CHECKPOINTED novel frame — overlap them in two driver
            # threads (guide §2.6) so the scheduling-bound tail of one
            # back-fills the other. Crash discipline: both complete
            # before this batch's streaming commit; a crash between them
            # can now leave EITHER side ahead — index-ahead leaves
            # orphan band keys the probe's corpus verify drops (benign,
            # reconcile_index reports them), corpus-ahead leaves
            # missing-from-index rows (the pre-existing direction —
            # repairable, see reconcile_index). Delivery stays
            # at-least-once either way; replay self-matches are excluded
            # by id inequality exactly as before.
            def _corpus_write() -> None:
                sc.setJobDescription(f"{m.label}: corpus write")  # thread-local
                if exactly_once:
                    dest = os.path.join(
                        corpus_dir, f"ingest_batch={batch_id}"
                    )
                    novel.write.mode("overwrite").parquet(dest)
                else:
                    novel.write.mode("append").parquet(corpus_dir)

            def _index_append() -> None:
                # the batch was signed exactly once (the against-corpus
                # step); the index append/bootstrap reuses the novel
                # subset of those keys instead of a second signing.
                # novel ids are batch-bounded: broadcast the semi-join
                # so the key frame streams with no exchange.
                sc.setJobDescription(f"{m.label}: index append")
                novel_keys = keys.join(
                    F.broadcast(novel.select(m.id_col)), m.id_col, "left_semi"
                )
                write = m.append_index if indexed() else m.write_index
                write(
                    novel, index_path, m.id_col, m.payload_col,
                    fs=fs, keys=novel_keys, **m.sign,
                )

            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(_corpus_write),
                    pool.submit(_index_append),
                ]
                for f in futs:
                    f.result()  # propagate either failure -> batch retry
        if compact_every and (batch_id + 1) % compact_every == 0 and indexed():
            banded_index_compact(
                spark, index_path, max_files_per_band=max_files_per_band,
                fs=fs, lock_held=True,
            )
    return (n_in, n_novel)


def start_dedup_ingest(
    docs_stream: DataFrame,
    corpus_dir: str,
    index_path: str,
    checkpoint_dir: str,
    modality: Modality = TEXT,
    threshold: float | None = None,
    trigger: dict | None = None,
    exactly_once: bool = False,
    compact_every: int | None = None,
    max_files_per_band: int = COMPACT_MAX_FILES_PER_BAND,
    on_batch: Callable[[int, int, int, float], None] | None = None,
    fs=None,
    lock_held: bool = False,
    lock_timeout_s: float = 0.0,
    quality_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Run the continuous dedup-ingest loop over a streaming DataFrame of
    documents or embedding rows (``modality``, see :func:`process_batch`).
    ``on_batch(batch_id, n_in, n_novel, lock_wait_s)``
    surfaces per-batch admission counts plus mutex wait (the
    observability a dedup gate needs: a sudden novel-rate collapse means
    upstream re-delivery; a 100% novel rate on a known-overlapping feed
    means the index is being missed; a nonzero lock_wait_s means an
    out-of-band compactor is contending for the index — without the
    field that contention masquerades as a slow batch, r8 verdict item
    6). ``compact_every=N`` folds X82 per-band index compaction into
    every Nth batch — see :func:`process_batch`. ``quality_fn`` makes
    the within-batch drop quality-aware (X100) — see
    :func:`dedup_batch_against_corpus`."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        tele: dict = {}
        n_in, n_novel = process_batch(
            batch.sparkSession, batch, batch_id, corpus_dir, index_path,
            modality=modality, threshold=threshold,
            exactly_once=exactly_once, compact_every=compact_every,
            max_files_per_band=max_files_per_band, fs=fs,
            lock_held=lock_held, lock_timeout_s=lock_timeout_s,
            telemetry=tele, quality_fn=quality_fn,
        )
        if on_batch is not None:
            on_batch(batch_id, n_in, n_novel, tele.get("lock_wait_s", 0.0))

    writer = (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
