"""End-to-end corpus curation: the full training-data assembly chain
composed from the shipped operators, defined ONCE (:class:`CurateChain`)
and run by three runners.

    raw documents
      -> quality gate        (Gopher repetition + length filters)
      -> exact dedup         (first-wins on normalized-text hash)
      -> near-dup dedup      (LSH candidates -> Jaccard verify ->
                              connected components -> survivors)
      -> decontamination     (drop docs colliding with the eval set's
                              n-grams; benchmark side broadcast)
      -> split assignment    (deterministic train/val/test buckets)
      -> sequence packing    (per-shard concat-and-chunk offsets)

The chain is an ordered list of named stage boundaries
(:data:`BOUNDARIES`), each built from its upstream stages:

    gated      mojibake repair, line dedup, length + repetition gate,
               trained quality filter (each optional stage when set)
    deduped    exact dedup
    ccnet      CCNet perplexity-tier filter (only with ``ccnet_target``)
    shingles   the distinct shingle relation (banding AND verify read it)
    survivors  LSH candidates -> Jaccard verify -> components
    final      decontaminate -> split -> n_tokens -> pack

A runner decides only what happens AT a boundary:

* :func:`curate_corpus` (in session) checkpoints ``deduped``, ``ccnet``,
  ``shingles`` and ``survivors`` with ``localCheckpoint(eager=True)``
  — the boundaries with more than one downstream consumer — and
  returns ``final`` unmaterialized;
* :func:`plans.curate_job.run_curate_job` (durable) writes ``gated``,
  ``deduped``, ``survivors`` and ``final`` to the lake and commits each
  in a manifest, and checkpoints ``ccnet``/``shingles`` in session;
* :func:`curate_increment` runs the same gate, CCNet filter and tail
  against a FROZEN corpus, with its own frozen-fingerprint anti-join
  and ``incremental_assign`` near-dup stage in place of the full-run
  dedup stages; it checkpoints its ``deduped`` and ``survivors``.

Every stage is the scale-correct shape documented on its operator:
the quality gate and split are narrow zero-shuffle maps, exact dedup
is one map-side-combinable aggregation, the near-dup chain is banded
(never all-pairs) with a broadcast label join, decontamination
broadcasts the benchmark shingles, and packing shuffles once on the
shard key. No stage collects to the driver.

The reference has no curation surface (it emits articles one by one;
`crawler.py` dedups by exact URL only) — this is the 100 TB
generalization the training pipeline needs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import (
    contamination_flags,
    dedup_survivors,
    exact_dedup,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    pack_by_budget,
    repetition_score,
    split_assign,
)
from ..operators.adaptive import is_cheap_rescan
from ..operators.dedup import shingle_relation

BOUNDARIES = ("gated", "deduped", "ccnet", "shingles", "survivors", "final")

# A boundary hook: (stage name, builder of the stage) -> the relation
# downstream stages read. The runner calls the builder or, for a stage
# it can read back instead, need not.
Boundary = Callable[[str, Callable[[], DataFrame]], Optional[DataFrame]]


def decontaminate(
    survivors: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    contamination_k: int = 8,
    broadcast_max_rows: int = 10_000_000,
) -> DataFrame:
    """Anti-join out benchmark-contaminated docs, with the same
    broadcast guard + shuffle fallback every other potentially
    unbounded broadcast in the chain carries.

    The flagged-id set is usually tiny, but the exact scenario
    decontamination exists for — benchmark text mirrored across
    millions of crawled pages — makes it unbounded at 100 TB, so it is
    broadcast only under ``broadcast_max_rows``; above that the
    left_anti join runs as a plain shuffle join (same result, one
    extra exchange). The flagged relation is eagerly checkpointed
    first so the guard count and the join read one materialization,
    not two evaluations of the contamination pipeline.
    """
    flagged = contamination_flags(
        survivors, benchmark, text_col=text_col, id_col=id_col, k=contamination_k
    )
    ids = flagged.select(F.col("doc_id").alias(id_col)).localCheckpoint(eager=True)
    side = F.broadcast(ids) if ids.count() <= broadcast_max_rows else ids
    return survivors.join(side, id_col, "left_anti")


@dataclass(frozen=True, eq=False)
class CurateChain:
    """The curation chain's parameters — the one place they are
    defined; every runner takes them as keyword options — and its
    stages, one method per boundary in :data:`BOUNDARIES`.

    ``hash_mode="xxhash64"`` swaps the LSH shingle hash for the ~3-4x
    cheaper native hash at 100 TB (md5 default keeps the DuckDB oracle
    exact — same twin-mode contract as the minhash operators).
    ``lsh_bucket_cap`` bounds the band join's per-bucket quadratic
    term against near-identical template floods (star pairs above the
    cap — see :func:`operators.dedup.lsh_candidate_pairs`); ``None``
    opts out and gives the exact uncapped band join.

    The optional stages below default off, which keeps the chain
    byte-identical to prior releases (and to the driver oracle):

    * ``repair_mojibake`` runs :func:`operators.fix_mojibake` before
      EVERYTHING — including line dedup — so a mis-decoded copy of a
      clean page repairs to the same bytes and actually deduplicates.
    * ``line_dedup_min_occ`` is the MassiveText/RefinedWeb
      boilerplate-line removal: lines recurring corpus-wide >= that
      many times are stripped before the quality gate and dedup, so
      template chrome neither inflates near-dup similarity nor
      survives into packed training text.
    * ``quality_model`` is the TRAINED quality filter (GPT-3/LLaMA
      classifier family): a fitted model from
      :func:`operators.quality_classifier_fit` (or a quantized weight
      sequence); docs scored below ``quality_threshold`` are dropped
      before any shingling. Use the ``quality_salt`` /
      ``quality_feature_mode`` the model was fitted with.
    * ``ccnet_target`` is CCNet perplexity tiering (Wenzek et al.
      2020): an add-one bigram LM trains on the passed clean corpus,
      every doc is scored under it, and docs in ``ccnet_drop_tiers``
      (default: the tail third) are dropped. Docs without a single
      bigram cannot be scored and are dropped with the tail.
      ``ccnet_sample_mod`` selects the sampled-cutoff regime (no
      corpus-wide sort) at scale.
    """

    text_col: str = "text"
    id_col: str = "doc_id"
    min_chars: int = 20
    max_dup_gram_frac: float = 0.9
    jaccard_threshold: float = 0.8
    contamination_k: int = 8
    split_weights: Sequence[Tuple[str, float]] = (("train", 0.9), ("val", 0.05), ("test", 0.05))
    split_salt: str = "split"
    pack_budget: int = 4096
    shard_col: str = "source"
    lsh_perm: int = 8
    lsh_bands: int = 4
    shingle_k: int = 4
    hash_mode: str = "md5"
    lsh_bucket_cap: Optional[int] = 1024
    broadcast_max_rows: int = 10_000_000
    line_dedup_min_occ: Optional[int] = None
    quality_model: Optional[DataFrame] = None
    quality_threshold: float = 0.5
    quality_salt: str = "qcls"
    quality_feature_mode: str = "binary"
    repair_mojibake: bool = False
    ccnet_target: Optional[DataFrame] = None
    ccnet_drop_tiers: Sequence[str] = ("tail",)
    ccnet_n_buckets: int = 3
    ccnet_sample_mod: Optional[int] = None

    def run(self, docs: DataFrame, benchmark: Optional[DataFrame], boundary: Boundary) -> DataFrame:
        """The chain in boundary order; ``boundary`` is the runner."""
        gated = boundary("gated", lambda: self.gated(docs))
        deduped = boundary("deduped", lambda: self.deduped(gated))
        # CCNet after exact dedup: the paper's dedup-then-LM order, and
        # it shrinks both the join-heavy LM scoring and the LSH stages
        kept = deduped if self.ccnet_target is None else boundary("ccnet", lambda: self.ccnet(deduped))
        shingles = boundary("shingles", lambda: self.shingles(kept))
        survivors = boundary("survivors", lambda: self.survivors(kept, shingles))
        return boundary("final", lambda: self.final(survivors, benchmark))

    def gated(self, docs: DataFrame) -> DataFrame:
        text_col, id_col = self.text_col, self.id_col
        if self.repair_mojibake:
            # a pure per-row projection — no corpus-wide aggregation,
            # so no join-back is needed
            from ..operators.textclean import fix_mojibake_col

            docs = docs.withColumn(text_col, fix_mojibake_col(F.col(text_col)))
        if self.line_dedup_min_occ is not None:
            from ..operators import line_dedup

            cleaned = line_dedup(
                docs, min_occurrences=self.line_dedup_min_occ,
                text_col=text_col, id_col=id_col,
                broadcast_max_rows=self.broadcast_max_rows,
            ).select(F.col("doc_id").alias(id_col), F.col("kept_text"))
            docs = docs.drop(text_col).join(cleaned, id_col).withColumnRenamed(
                "kept_text", text_col
            )
        gated = docs.where(F.length(F.trim(F.col(text_col))) >= self.min_chars)
        rep = repetition_score(gated, text_col=text_col, id_col=id_col, n=2).where(
            F.col("dup_gram_frac") <= self.max_dup_gram_frac
        )
        # repetition_score / contamination_flags emit their id as "doc_id";
        # alias back so a caller's id_col keeps working end to end
        gated = gated.join(rep.select(F.col("doc_id").alias(id_col)), id_col)
        if self.quality_model is not None:
            from ..operators import quality_classifier_score

            kept = quality_classifier_score(
                gated, self.quality_model, text_col=text_col, id_col=id_col,
                salt=self.quality_salt, threshold=self.quality_threshold,
                feature_mode=self.quality_feature_mode,
            ).where(F.col("predicted")).select(F.col("doc_id").alias(id_col))
            gated = gated.join(kept, id_col, "left_semi")
        return gated

    def deduped(self, gated: DataFrame) -> DataFrame:
        keep_ids = exact_dedup(gated, text_col=self.text_col, id_col=self.id_col).select(
            F.col("keep_id").alias(self.id_col)
        )
        return gated.join(keep_ids, self.id_col, "left_semi")

    def ccnet(self, docs: DataFrame, cutoffs: Optional[DataFrame] = None) -> DataFrame:
        """Drop docs in ``ccnet_drop_tiers``; tier cutoffs come from
        ``docs`` itself unless a persisted ``cutoffs`` relation is
        passed (the append path's frozen cutoffs)."""
        from ..operators.textstats import ccnet_perplexity_buckets

        # fail fast on a drop-tier label n_buckets can never produce:
        # with n_buckets != 3 the labels are b<k>, so ("tail",) would
        # silently match nothing and the stage become a quiet no-op
        n = self.ccnet_n_buckets
        producible = {"head", "middle", "tail"} if n == 3 else {f"b{k}" for k in range(1, n + 1)}
        bad = [t for t in self.ccnet_drop_tiers if t not in producible]
        if bad:
            raise ValueError(
                f"ccnet_drop_tiers {bad} can never match a tier produced with "
                f"ccnet_n_buckets={n} (producible: {sorted(producible)})"
            )
        tiers = ccnet_perplexity_buckets(
            docs, self.ccnet_target, text_col=self.text_col, id_col=self.id_col,
            n_buckets=n, cutoff_sample_mod=self.ccnet_sample_mod, cutoffs=cutoffs,
        )
        kept = tiers.where(~F.col("tier").isin(*self.ccnet_drop_tiers)).select(
            F.col("doc_id").alias(self.id_col)
        )
        return docs.join(kept, self.id_col, "left_semi")

    def shingles(self, docs: DataFrame) -> DataFrame:
        return shingle_relation(docs, text_col=self.text_col, id_col=self.id_col, k=self.shingle_k).distinct()

    def survivors(self, docs: DataFrame, shingles: DataFrame) -> DataFrame:
        text_col, id_col = self.text_col, self.id_col
        cands = lsh_candidate_pairs(
            docs, text_col=text_col, id_col=id_col, n_perm=self.lsh_perm, bands=self.lsh_bands,
            k=self.shingle_k, shingles=shingles, hash_mode=self.hash_mode, bucket_cap=self.lsh_bucket_cap,
        )
        pairs = ngram_jaccard_pairs(
            docs, text_col=text_col, id_col=id_col, k=self.shingle_k,
            threshold=self.jaccard_threshold, candidates=cands, shingles=shingles,
        )
        return dedup_survivors(docs, pairs, id_col=id_col)

    def final(self, survivors: DataFrame, benchmark: Optional[DataFrame]) -> DataFrame:
        if benchmark is not None:
            survivors = decontaminate(
                survivors, benchmark, text_col=self.text_col, id_col=self.id_col,
                contamination_k=self.contamination_k, broadcast_max_rows=self.broadcast_max_rows,
            )
        assigned = split_assign(survivors, weights=self.split_weights, salt=self.split_salt, id_col=self.id_col)
        toks = F.size(F.split(F.trim(F.col(self.text_col)), r"\s+"))
        return pack_by_budget(
            assigned.withColumn("n_tokens", toks.cast("long")), budget=self.pack_budget,
            token_col="n_tokens", part_col=self.shard_col, order_col=self.id_col,
        )


# The in-session runners materialize the boundaries read by more than
# one consumer: the deduped/ccnet relation feeds the LSH shingles, the
# Jaccard sizes, the survivor join and the contamination shingles;
# the distinct shingles feed BOTH the banding and the verify phase
# (Catalyst does not reuse the explode+distinct exchange across them);
# survivors feed decontamination's flags and its anti-join. The
# durable runner (plans.curate_job) writes deduped and survivors to
# the lake instead.
_CHECKPOINTED = frozenset({"deduped", "ccnet", "shingles", "survivors"})


def _in_session(name: str, build: Callable[[], DataFrame]) -> DataFrame:
    df = build()
    return df.localCheckpoint(eager=True) if name in _CHECKPOINTED else df


def curate_corpus(docs: DataFrame, benchmark: Optional[DataFrame] = None, **options) -> DataFrame:
    """Returns the training-ready corpus: quality-gated, exact- and
    near-dup-deduplicated, decontaminated against ``benchmark`` (if
    given), with ``split``, ``n_tokens`` and ``pack_offset``/``pack_bin``
    columns. ``options`` are the fields of :class:`CurateChain`.
    Deterministic end to end — every stage is reproducible from
    (input, parameters) alone, so reruns and incremental jobs agree.

    Incremental contract: the quality gate, exact dedup, split, and
    packing decisions are pure per-row functions of (row, parameters),
    so they never flip when the corpus grows. Near-dup survivorship is
    corpus-dependent by nature; with monotonically increasing doc ids
    it is stable as long as new documents do not MERGE previously
    separate clusters — a new doc joining one existing cluster can
    never displace its survivor (the canonical doc is the cluster
    minimum, and the new id is larger). The one exception: a new
    document that bridges two previously separate clusters merges
    them, and the merged cluster keeps only the smaller of the two old
    minima — demoting at most one prior survivor per merge. An
    append-only incremental run that must never demote survivors
    should freeze prior cluster labels and assign new docs to them
    (:func:`curate_increment`) instead of re-clustering. CCNet tiers
    are corpus-distribution-dependent too, so batch-derived cutoffs
    belong to this full-rerun chain only."""
    return CurateChain(**options).run(docs, benchmark, _in_session)


# options whose decision depends on the whole batch (line counts, tier
# cutoffs) or that the frozen corpus never went through
_FULL_RUN_ONLY = frozenset({"repair_mojibake", "line_dedup_min_occ", "ccnet_sample_mod"})


def curate_increment(
    new_docs: DataFrame,
    frozen_docs: DataFrame,
    benchmark: Optional[DataFrame] = None,
    *,
    frozen_fps: Optional[DataFrame] = None,
    frozen_bands: Optional[DataFrame] = None,
    ccnet_cutoffs: Optional[DataFrame] = None,
    **options,
) -> DataFrame:
    """The daily-increment twin of :func:`curate_corpus`: curate a NEW
    batch against a FROZEN, already-curated corpus without touching it.
    A 100 TB pipeline runs this shape on every append instead of
    re-clustering the world — the frozen partition is immutable, so
    prior survivorship, splits, and packed bins never change (the
    guarantee the full-rerun chain cannot give; see the incremental
    contract on :func:`curate_corpus`). ``options`` are the fields of
    :class:`CurateChain` except the full-run-only mojibake repair, line
    dedup and sampled CCNet cutoffs.

    Stages:

    1. the chain's ``gated`` stage (length + Gopher repetition, plus
       the trained classifier when ``quality_model`` is passed — SAME
       model and salt as the full runs, so the pure per-row keep
       decision agrees with any past or future run) — new batch only;
    2. the chain's CCNet filter, only with FROZEN cutoffs: pass BOTH
       ``ccnet_target`` and ``ccnet_cutoffs`` (a persisted
       :func:`operators.ccnet_cutoffs` relation) — cutoffs computed
       from the batch would shift with every append;
    3. exact dedup — first-wins WITHIN the batch, then drop batch docs
       whose normalized-text fingerprint already exists in the frozen
       corpus (pass ``frozen_fps`` = the stored ``exact_dedup`` fp
       relation to skip rereading frozen text);
    4. near-dup: :func:`operators.dedup.incremental_assign` — banded
       probe of the frozen corpus (pass ``frozen_bands`` = the stored
       :func:`band_relation`), exact verify, freeze-respecting cluster
       adoption; only batch docs that survive stay;
    5. the chain's ``final`` stage: decontamination vs ``benchmark``,
       split assignment with the SAME salt as the full runs, and
       per-shard sequence packing of the increment. Pack offsets/bins
       are namespaced to THIS increment (an appending consumer offsets
       them by its stored per-shard high-water mark — bins are a
       physical layout, not a semantic identity).

    Pass BOTH frozen relations from :mod:`plans.frozen_store` at scale:
    the store writes them as bucketed tables hashed on their join keys
    (``fp`` / ``(band, key)``), so when a batch is too large to
    broadcast and the probe joins fall back to sort-merge, the frozen
    side reads its buckets in place — the shuffled volume stays
    O(batch) instead of O(corpus) (pinned by
    ``tests/test_frozen_store.py``'s differential Exchange counts).

    Returns the curated increment with ``cluster_id``, ``split``,
    ``n_tokens``, ``pack_offset``, ``pack_bin``.
    """
    from ..operators import incremental_assign

    full_run_only = sorted(_FULL_RUN_ONLY & options.keys())
    if full_run_only:
        raise TypeError(f"curate_increment() does not take the full-run options {full_run_only}")
    chain = CurateChain(**options)
    text_col, id_col = chain.text_col, chain.id_col

    gated = chain.gated(new_docs)
    if chain.ccnet_target is not None or ccnet_cutoffs is not None:
        if chain.ccnet_target is None or ccnet_cutoffs is None:
            raise ValueError(
                "increment-path CCNet tiering needs BOTH ccnet_target and "
                "ccnet_cutoffs (a persisted operators.ccnet_cutoffs relation); "
                "batch-derived cutoffs would shift across appends"
            )
        gated = chain.ccnet(gated, cutoffs=ccnet_cutoffs)

    def drop_frozen_fingerprints() -> DataFrame:
        fps = frozen_fps
        if fps is None:
            # materialize the default-constructed relation ONCE: the
            # guard count and the left_anti join would otherwise each
            # run the frozen-corpus exact-dedup job
            fps = exact_dedup(frozen_docs, text_col=text_col, id_col=id_col).select("fp").localCheckpoint(eager=True)
        elif not is_cheap_rescan(fps):
            # a caller-supplied lineage gets the same protection — but
            # a stored parquet fp relation (the documented 100 TB
            # contract) counts from metadata and is not copied
            fps = fps.localCheckpoint(eager=True)
        # one md5 row PER FROZEN DOC — billions at the append-only
        # shape, so broadcast only under the cap; above it the
        # left_anti join runs as a plain shuffle join
        fps_rel = fps.select(F.col("fp").alias("_fp"))
        if fps.count() <= chain.broadcast_max_rows:
            fps_rel = F.broadcast(fps_rel)
        normalized = F.md5(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
        return chain.deduped(gated).withColumn("_fp", normalized).join(fps_rel, "_fp", "left_anti").drop("_fp")

    deduped = _in_session("deduped", drop_frozen_fingerprints)

    def adopt_near_dups() -> DataFrame:
        assigned = incremental_assign(
            deduped, frozen_docs, text_col=text_col, id_col=id_col,
            n_perm=chain.lsh_perm, bands=chain.lsh_bands, k=chain.shingle_k,
            threshold=chain.jaccard_threshold, hash_mode=chain.hash_mode,
            frozen_bands=frozen_bands, broadcast_max_rows=chain.broadcast_max_rows,
            bucket_cap=chain.lsh_bucket_cap,
        )
        return deduped.join(
            assigned.where(F.col("survives")).select(F.col("doc_id").alias(id_col), "cluster_id"), id_col
        )

    survivors = _in_session("survivors", adopt_near_dups)
    return chain.final(survivors, benchmark)
