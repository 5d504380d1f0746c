"""Stage-checkpointed resumable curation job (`plans/curate_job.py`):
each stage writes to the lake and commits to a manifest; a re-submit
reads committed stages back instead of recomputing. Determinism means
a resumed run yields the identical corpus.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fundus_spark.plans import curate_corpus, run_curate_job


def _docs(spark):
    rows = [
        (i, "s%d" % (i % 3), " ".join("w%d_%d" % (i % 6, j) for j in range(25)))
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_job_matches_inline_chain_and_resumes(spark, tmp_path):
    docs = _docs(spark)
    bench = docs.where("source = 's0'")
    corpus = docs.where("source <> 's0'")
    wd = str(tmp_path / "curate_wd")

    r1 = run_curate_job(spark, corpus, wd, benchmark=bench, jaccard_threshold=0.2)
    assert r1.stages_run == ["gated", "deduped", "survivors", "final"]
    assert r1.stages_resumed == []

    inline = curate_corpus(corpus, benchmark=bench, jaccard_threshold=0.2)
    got = {
        (r.doc_id, r.split, r.pack_offset, r.pack_bin)
        for r in spark.read.parquet(os.path.join(wd, "final")).collect()
    }
    want = {(r.doc_id, r.split, r.pack_offset, r.pack_bin) for r in inline.collect()}
    assert got == want and r1.rows_out == len(want)

    # full resume: nothing recomputed
    r2 = run_curate_job(spark, corpus, wd, benchmark=bench, jaccard_threshold=0.2)
    assert r2.stages_run == [] and r2.stages_resumed == ["gated", "deduped", "survivors", "final"]
    assert r2.rows_out == r1.rows_out


def test_job_resumes_from_last_committed_stage(spark, tmp_path):
    docs = _docs(spark)
    corpus = docs.where("source <> 's0'")
    wd = str(tmp_path / "curate_wd2")
    run_curate_job(spark, corpus, wd, jaccard_threshold=0.2)

    # simulate a crash after 'deduped' committed: drop the last two
    # manifest commits (their stage dirs may exist — retry overwrites)
    manifest = os.path.join(wd, "_curate_manifest.json")
    lines = [l for l in open(manifest) if json.loads(l)["stage"] in ("gated", "deduped")]
    open(manifest, "w").writelines(lines)

    r = run_curate_job(spark, corpus, wd, jaccard_threshold=0.2)
    assert r.stages_resumed == ["gated", "deduped"]
    assert r.stages_run == ["survivors", "final"]
    assert r.rows_out > 0


def _mojibake_twins(docs):
    """Accented texts; ids >= 15 carry the mis-decoded copy, so only the
    repair makes them exact dups of their clean twins."""
    from fundus_spark.operators import make_mojibake

    text = F.regexp_replace("text", "w", "é")
    return docs.withColumn("text", F.when(F.col("doc_id") >= 15, make_mojibake(text)).otherwise(text))


def _fitted_quality_model(docs):
    from fundus_spark.operators import quality_classifier_fit

    labeled = docs.withColumn("y", (F.col("doc_id") % 6 != 0).cast("int"))
    model = quality_classifier_fit(labeled, n_features=32, n_iter=8, lr=0.0625, salt="t")
    return {"quality_model": model, "quality_salt": "t"}


# case -> (input transform, options built from the transformed input)
EQUIVALENCE_CASES = {
    "renamed_columns": (
        lambda d: d.withColumnRenamed("text", "body").withColumnRenamed("doc_id", "id"),
        lambda d: {"text_col": "body", "id_col": "id"},
    ),
    "repair_mojibake": (_mojibake_twins, lambda d: {"repair_mojibake": True}),
    "line_dedup_min_occ": (
        lambda d: d.withColumn("text", F.concat("text", F.lit("\nshared footer on every page"))),
        lambda d: {"line_dedup_min_occ": 10},
    ),
    "quality_model": (lambda d: d, _fitted_quality_model),
    "ccnet": (lambda d: d, lambda d: {"ccnet_target": d.where("doc_id % 6 < 3"), "ccnet_n_buckets": 3}),
    "no_bucket_cap": (lambda d: d, lambda d: {"lsh_bucket_cap": None}),
}


@pytest.mark.parametrize("case", sorted(EQUIVALENCE_CASES))
def test_durable_job_equals_in_session_chain(spark, tmp_path, case):
    """run_curate_job and curate_corpus run one chain definition, so
    every option gives the same corpus durably and in session."""
    prepare, options = EQUIVALENCE_CASES[case]
    docs = prepare(_docs(spark))
    opts = {"jaccard_threshold": 0.2, **options(docs)}
    id_col = opts.get("id_col", "doc_id")
    wd = str(tmp_path / "wd")
    run_curate_job(spark, docs, wd, **opts)
    key = lambda r: (r[id_col], r.split, r.n_tokens, r.pack_offset, r.pack_bin)  # noqa: E731
    got = {key(r) for r in spark.read.parquet(os.path.join(wd, "final")).collect()}
    want = {key(r) for r in curate_corpus(docs, **opts).collect()}
    assert got == want and got


# ---------------------------------------------------------------------------
# curate_increment (round 4): the daily-increment twin of curate_corpus
# ---------------------------------------------------------------------------


def test_increment_with_empty_frozen_equals_full_curate(spark):
    """With nothing frozen, the increment IS a full curation run: same
    survivors, splits, token counts, and pack layout."""
    from fundus_spark.plans import curate_increment

    docs = _docs(spark)
    empty = spark.createDataFrame([], "doc_id long, source string, text string")
    inc = curate_increment(docs, empty, jaccard_threshold=0.2)
    full = curate_corpus(docs, jaccard_threshold=0.2)
    got = {(r.doc_id, r.split, r.n_tokens, r.pack_offset, r.pack_bin) for r in inc.collect()}
    want = {(r.doc_id, r.split, r.n_tokens, r.pack_offset, r.pack_bin) for r in full.collect()}
    assert got == want and got


def test_increment_rejects_full_run_only_options(spark):
    """Line dedup, mojibake repair and sampled CCNet cutoffs depend on
    the whole batch or were never applied to the frozen corpus."""
    from fundus_spark.plans import curate_increment

    docs = _docs(spark)
    for option in ({"repair_mojibake": True}, {"line_dedup_min_occ": 3}, {"ccnet_sample_mod": 4}):
        with pytest.raises(TypeError, match="full-run options"):
            curate_increment(docs, docs, **option)


def test_increment_of_already_curated_batch_is_empty(spark):
    """Idempotence: re-appending content that already exists in the
    frozen corpus yields zero new survivors (exact fps drop them)."""
    from fundus_spark.plans import curate_increment

    frozen = _docs(spark)
    rebatch = frozen.selectExpr("doc_id + 1000 as doc_id", "source", "text")
    out = curate_increment(rebatch, frozen, jaccard_threshold=0.2)
    assert out.count() == 0


def test_increment_adopts_near_dups_and_keeps_fresh_content(spark):
    """A new near-dup of a frozen doc is absorbed into its cluster (no
    survival); genuinely fresh content survives with its own cluster —
    and the frozen partition is never part of the output."""
    from fundus_spark.plans import curate_increment

    # distinct tokens throughout: must pass the repetition gate so the
    # drop (if any) is attributable to cluster adoption, not the gate
    base = " ".join("alpha%d beta%d gamma%d" % (j, j, j) for j in range(12))
    fresh = " ".join("fresh%d novel%d material%d" % (j, j, j) for j in range(12))
    frozen = spark.createDataFrame(
        [(1, "s1", base), (2, "s1", " ".join("other%d frozen%d words%d" % (j, j, j) for j in range(12)))],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [
            (100, "s2", base.replace("alpha3", "changed3")),  # near dup of frozen 1
            (101, "s2", fresh),
        ],
        "doc_id long, source string, text string",
    )
    out = {r.doc_id: r for r in curate_increment(new, frozen, jaccard_threshold=0.2).collect()}
    assert 100 not in out  # absorbed into frozen cluster 1
    assert 101 in out and out[101].cluster_id == 101
    assert set(out) <= {100, 101}  # frozen rows never reappear


def test_increment_shuffle_fallback_matches_broadcast_path(spark):
    """broadcast_max_rows=0 forces every size-guarded broadcast in the
    increment chain (frozen fingerprints, new-batch components/seeds)
    onto the plain shuffle-join fallback — the 100 TB bulk-backfill
    shape — and the results must be identical to the broadcast path."""
    from fundus_spark.plans import curate_increment

    base = " ".join("alpha%d beta%d gamma%d" % (j, j, j) for j in range(12))
    fresh = " ".join("fresh%d novel%d material%d" % (j, j, j) for j in range(12))
    twin = fresh.replace("novel3", "changed3")  # new-new near-dup pair
    frozen = spark.createDataFrame(
        [(1, "s1", base)], "doc_id long, source string, text string"
    )
    new = spark.createDataFrame(
        [(100, "s2", base), (101, "s2", fresh), (102, "s2", twin)],
        "doc_id long, source string, text string",
    )
    key = lambda r: (r.doc_id, r.cluster_id, r.split)  # noqa: E731
    bcast = curate_increment(new, frozen, jaccard_threshold=0.2)
    shuf = curate_increment(new, frozen, jaccard_threshold=0.2, broadcast_max_rows=0)
    got_b = {key(r) for r in bcast.collect()}
    got_s = {key(r) for r in shuf.collect()}
    assert got_b == got_s
    # 100 is an exact dup of frozen 1 (dropped by the fp stage); the
    # 101/102 near-dup pair keeps only the min-id survivor
    assert {d for d, _, _ in got_s} == {101}


def test_increment_trained_quality_stage_agrees_with_full_chain(spark):
    """The increment applies the SAME fitted quality model as the full
    chain: with an empty frozen corpus the two paths keep the same
    survivors, and the classifier-rejected docs appear in neither."""
    from pyspark.sql import functions as F

    from fundus_spark.operators import quality_classifier_fit
    from fundus_spark.plans import curate_increment

    rows = [
        (i, "s%d" % (i % 2),
         (" ".join("junk%d_%d spamtok" % (i, j) for j in range(15))
          if i % 3 == 0
          else " ".join("prose%d_%d word" % (i, j) for j in range(15))))
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    labeled = docs.withColumn(
        "y", (~F.array_contains(F.split(F.col("text"), " "), "spamtok")).cast("int")
    )
    model = quality_classifier_fit(labeled, n_features=32, n_iter=32, lr=0.0625, salt="t")

    empty = spark.createDataFrame([], "doc_id long, source string, text string")
    inc = curate_increment(
        docs, empty, jaccard_threshold=0.2, quality_model=model, quality_salt="t"
    )
    full = curate_corpus(
        docs, jaccard_threshold=0.2, quality_model=model, quality_salt="t"
    )
    got = {(r.doc_id, r.split, r.n_tokens) for r in inc.collect()}
    want = {(r.doc_id, r.split, r.n_tokens) for r in full.collect()}
    assert got == want
    assert {r[0] for r in got} == {i for i in range(12) if i % 3 != 0}
