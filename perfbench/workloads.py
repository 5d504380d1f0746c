"""The two workloads: what one pass is, how its output is checked, and
the extra per-layer measurements of the traced run.

Each workload object is built once per run from the seed. ``run_pass``
is one closed-loop call into the program's public entry point (the next
pass starts only after the previous one returned), ``check_pass`` reads
a pass's output back outside the timed window, and ``layers`` runs the
traced-only measurements.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import statistics
import time
from collections import Counter
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from tracing import Tracer, accum, jobs_under, job_totals, task_skew

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
CURATE_KW = dict(hash_mode="xxhash64", jaccard_threshold=0.8)
LSH_KW = dict(n_perm=8, bands=4, k=4, hash_mode="xxhash64")  # curate_corpus defaults + hash_mode


def _digest(items) -> str:
    h = hashlib.sha256()
    for item in sorted(items):
        h.update(repr(item).encode())
    return h.hexdigest()


def _median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0


class ExtractJob:
    """``plans.run_extraction_job`` over a transcripts table."""

    name = "extract_job"
    CHECK_SAMPLE = 40
    KERNEL_SAMPLE = {"plain": 40, "small": 40, "page": 16}

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        rows = inputs.transcripts(seed)
        self.kinds = {(r["conv_id"], r["turn_idx"]): r["kind"] for r in rows}
        self.rows = rows
        self.items = len(rows)
        self.path = os.path.join(work, "input", "transcripts.parquet")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
                            ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])
        table = pa.Table.from_pylist([{k: r[k] for k in schema.names} for r in rows], schema=schema)
        pq.write_table(table, self.path)
        self.results: Dict[str, object] = {}

    def prepare(self, spark) -> None:
        self.df = spark.read.parquet(self.path)

    def _dirs(self, tag: str) -> Tuple[str, str, str]:
        base = os.path.join(self.work, "passes", tag)
        return tuple(os.path.join(base, d) for d in ("out", "metrics", "manifest"))

    def run_pass(self, spark, tag: str) -> None:
        from fundus_spark.plans import run_extraction_job

        out, metrics, manifest = self._dirs(tag)
        self.results[tag] = run_extraction_job(spark, self.df, out, metrics, manifest, run_id=tag)

    # -- correctness ------------------------------------------------------
    def check_pass(self, spark, tag: str) -> Tuple[int, str, List[str]]:
        """(failed items, output digest, problems) for one pass."""
        from pyspark.sql import functions as F

        out = spark.read.parquet(self._dirs(tag)[0])
        cols = sorted(c for c in out.columns if c not in ("bucket", "_partition_id"))
        got = out.select(
            "conv_id", "turn_idx", "parse_ok", F.sha2(F.to_json(F.struct(*cols)), 256).alias("h")
        ).collect()
        seen = Counter((r.conv_id, r.turn_idx) for r in got)
        bad = {k for k, n in seen.items() if n != 1 or k not in self.kinds}
        bad |= set(self.kinds) - set(seen)
        bad |= {(r.conv_id, r.turn_idx) for r in got if not r.parse_ok}
        problems = [f"{len(bad)} turns missing, duplicated, unknown or parse_ok=false"] if bad else []
        res = self.results[tag]
        off = abs(res.input_turns - self.items) + abs(res.output_turns - self.items)
        if off:
            problems.append(f"manifest totals {res.input_turns} in / {res.output_turns} out != {self.items} turns")
        return len(bad) + off, _digest((r.conv_id, r.turn_idx, r.h) for r in got), problems

    def check_kernel_sample(self, spark, tag: str) -> Tuple[int, List[str]]:
        """A seeded sample of turns must equal the no-Spark kernel output
        field for field."""
        from pyspark.sql import functions as F

        rng = random.Random(self.seed + 1)
        sample = rng.sample(self.rows, self.CHECK_SAMPLE)
        out = spark.read.parquet(self._dirs(tag)[0])
        convs = sorted({r["conv_id"] for r in sample})
        got = {(r.conv_id, r.turn_idx): r for r in out.where(F.col("conv_id").isin(convs)).collect()}
        problems = []
        for row in sample:
            want = kernel_fields(row)
            have = got.get((row["conv_id"], row["turn_idx"]))
            if have is None:
                problems.append(f"{row['conv_id']}/{row['turn_idx']}: missing")
                continue
            have_fields = {
                "publisher": have.publisher,
                "parser_version": have.parser_version,
                "title": have.title,
                "body": json.loads(have.body_json) if have.body_json is not None else None,
                "plaintext": have.plaintext,
                "authors": list(have.authors or []),
                "topics": list(have.topics or []),
                "publishing_date": have.publishing_date,
                "free_access": have.free_access,
                "images": json.loads(have.images_json) if have.images_json is not None else None,
                "error": have.error,
            }
            diff = [k for k in want if want[k] != have_fields[k]]
            if diff:
                problems.append(f"{row['conv_id']}/{row['turn_idx']}: {diff} differ from the kernel")
        return len(problems), problems

    # -- traced-only layers ----------------------------------------------
    def layers(self, spark, tracer: Tracer, cores: int) -> Dict[str, float]:
        from fundus_spark.plans import extract_articles

        kernel = kernel_probe(self.rows, self.seed, tracer, self.KERNEL_SAMPLE)
        counts = Counter(self.kinds.values())
        busy_s = sum(kernel["ms"][kind] * n for kind, n in counts.items()) / 1000.0
        stage_passes = []
        for i in range(3):
            with tracer.span("extract_stage", k=i) as span:
                extract_articles(self.df).count()
            stage_passes.append(span)
        self.stage_spans = stage_passes
        self.kernel_busy_s = busy_s
        return {
            "kernel.extract_ms_per_doc": kernel["ms"]["all"],
            "kernel.extract_ms_per_doc.small": kernel["ms"]["small"],
            "kernel.extract_ms_per_doc.page": kernel["ms"]["page"],
            "kernel.parse_ms_per_doc": kernel["parse"],
            "kernel.meta_ms_per_doc": kernel["meta"],
            "kernel.ld_ms_per_doc": kernel["ld"],
            "kernel.plaintext_ms_per_doc": kernel["plaintext"],
            "kernel.attr_failures": float(kernel["attr_failures"]),
        }

    def layers_from_log(self, tracer: Tracer, jobs: List[Dict], passes: List[Dict], cores: int) -> Dict[str, float]:
        stage_s = _median([s["end"] - s["start"] for s in self.stage_spans])
        stage_jobs = [jobs_under(tracer, s, jobs) for s in self.stage_spans]
        pass_jobs = [jobs_under(tracer, s, jobs) for s in passes]
        pass_s = _median([s["end"] - s["start"] for s in passes])
        return {
            "extract_stage.pass_s": stage_s,
            "extract_stage.boundary_s": stage_s - self.kernel_busy_s / cores,
            "extract_stage.py_bytes_sent": _median([accum(j, PY_SENT) for j in stage_jobs]),
            "extract_stage.py_bytes_returned": _median([accum(j, PY_RETURNED) for j in stage_jobs]),
            "extract_stage.task_skew": _median([task_skew(j, PY_SENT) for j in stage_jobs]),
            "job.commit_s": pass_s - stage_s,
            "job.spark_jobs": _median([len(j) for j in pass_jobs]),
            "job.bytes_written": _median([job_totals(j)["written"] for j in pass_jobs]),
        }


def kernel_fields(row: Dict) -> Dict:
    """The kernel's output for one turn, in the extraction table's terms
    (``plans.extract_stage`` maps it the same way)."""
    from fundus_spark.kernel import body_to_plaintext, run_extraction
    from fundus_spark.rules import resolve

    ts = row["ts"].replace(tzinfo=datetime.timezone.utc)
    spec = resolve(row["tool"])
    failures: List[str] = []
    ext = run_extraction(spec, row["text"] or "", ts, error_handling="suppress", failures=failures)
    body = ext.get("body")
    date = ext.get("publishing_date")
    images = ext.get("images")
    return {
        "publisher": spec.key,
        "parser_version": spec.version_for(ts).name,
        "title": ext.get("title"),
        "body": json.loads(json.dumps(body)) if body is not None else None,
        "plaintext": body_to_plaintext(body) if body is not None else None,
        "authors": list(ext.get("authors") or []),
        "topics": list(ext.get("topics") or []),
        "publishing_date": str(date) if date is not None else None,
        "free_access": ext.get("free_access"),
        "images": json.loads(json.dumps(images)) if images is not None else None,
        "error": "; ".join(failures) or None,
    }


def kernel_probe(rows: List[Dict], seed: int, tracer: Tracer, per_kind: Dict[str, int]) -> Dict:
    """No-Spark timing of the kernel's public calls on a seeded,
    size-stratified sample of turns (after one untimed warm-up call per
    document)."""
    from fundus_spark.kernel import body_to_plaintext, extract_linked_data, harvest_meta, parse_html, run_extraction
    from fundus_spark.rules import resolve

    rng = random.Random(seed + 2)
    sample = []
    for kind, n in per_kind.items():
        pool = [r for r in rows if r["kind"] == kind]
        sample += rng.sample(pool, min(n, len(pool)))
    prepared = [(r["kind"], resolve(r["tool"]), r["text"] or "", r["ts"].replace(tzinfo=datetime.timezone.utc)) for r in sample]
    failures: List[str] = []
    bodies = []
    for _, spec, html, ts in prepared:  # warm-up (imports, selector caches)
        bodies.append(run_extraction(spec, html, ts, error_handling="suppress", failures=failures).get("body"))
    ms: Dict[str, List[float]] = {}
    with tracer.span("kernel.extract"):
        for kind, spec, html, ts in prepared:
            t = time.perf_counter()
            run_extraction(resolve(spec.key), html, ts, error_handling="suppress")
            ms.setdefault(kind, []).append((time.perf_counter() - t) * 1000)

    def per_doc(name: str, fn, args: List) -> float:
        with tracer.span(name):
            t = time.perf_counter()
            for a in args:
                fn(a)
            return (time.perf_counter() - t) * 1000 / len(args)

    htmls = [p[2] for p in prepared]
    roots = [parse_html(h) for h in htmls]
    out = {
        "ms": {kind: statistics.fmean(v) for kind, v in ms.items()},
        "parse": per_doc("kernel.parse", parse_html, htmls),
        "meta": per_doc("kernel.meta", harvest_meta, roots),
        "ld": per_doc("kernel.ld", extract_linked_data, roots),
        "plaintext": per_doc("kernel.plaintext", body_to_plaintext, [b for b in bodies if b is not None] or [{"summary": [], "sections": []}]),
        "attr_failures": len(failures),
    }
    # population-weighted mean over the whole input, not the stratified sample
    counts = Counter(r["kind"] for r in rows)
    out["ms"]["all"] = sum(out["ms"][k] * n for k, n in counts.items()) / sum(counts.values())
    return out


class CurateBatch:
    """``plans.curate_corpus`` (production settings) plus the output write."""

    name = "curate_batch"

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        data = inputs.corpus(seed)
        self.docs, self.eval, self.planted = data["docs"], data["eval"], data["planted"]
        self.items = len(self.docs)
        schema = pa.schema([("doc_id", pa.int64()), ("source", pa.string()), ("text", pa.string())])
        self.paths = {}
        for name, rows in (("docs", self.docs), ("eval", self.eval)):
            path = os.path.join(work, "input", f"{name}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
            self.paths[name] = path
        self.eval_grams = {g for d in self.eval for g in _grams(d["text"], 8)}
        self.last_tag, self.last_survivors = None, set()

    def prepare(self, spark) -> None:
        self.df = spark.read.parquet(self.paths["docs"])
        self.eval_df = spark.read.parquet(self.paths["eval"])

    def _out(self, tag: str) -> str:
        return os.path.join(self.work, "passes", tag, "out")

    def run_pass(self, spark, tag: str) -> None:
        from fundus_spark.plans import curate_corpus

        curate_corpus(self.df, self.eval_df, **CURATE_KW).write.parquet(self._out(tag))

    def check_pass(self, spark, tag: str) -> Tuple[int, str, List[str]]:
        rows = spark.read.parquet(self._out(tag)).select(
            "doc_id", "source", "text", "split", "n_tokens", "pack_offset", "pack_bin"
        ).collect()
        failed, problems = check_corpus_rows(rows, {d["doc_id"] for d in self.docs}, self.eval_grams)
        self.last_tag, self.last_survivors = tag, {r.doc_id for r in rows}
        digest = _digest(
            (r.doc_id, r.source, r.split, r.n_tokens, r.pack_offset, r.pack_bin, hashlib.md5(r.text.encode()).hexdigest())
            for r in rows
        )
        return failed, digest, problems

    def check_kernel_sample(self, spark, tag: str) -> Tuple[int, List[str]]:
        return 0, []

    # -- traced-only layers ----------------------------------------------
    def layers(self, spark, tracer: Tracer, cores: int) -> Dict[str, float]:
        out = self._staged(spark, tracer)
        out.update(self._append(spark, tracer))
        near = self.planted["near"]
        out["curate.near_dup_recall"] = sum(1 for d in near if d not in self.last_survivors) / max(len(near), 1)
        return out

    def _staged(self, spark, tracer: Tracer) -> Dict[str, float]:
        """The chain's public stage calls, each on its materialized input
        (the stage boundaries ``plans.run_curate_job`` commits)."""
        from pyspark.sql import functions as F

        from fundus_spark.operators import (
            dedup_survivors, exact_dedup, lsh_candidate_pairs, ngram_jaccard_pairs,
            pack_by_budget, repetition_score, split_assign,
        )
        from fundus_spark.operators.dedup import shingle_relation
        from fundus_spark.plans.curate import decontaminate

        times: Dict[str, float] = {}

        def stage(name: str, build):
            with tracer.span(f"curate.{name}") as span:
                df = build().localCheckpoint(eager=True)
            times[name] = span["end"] - span["start"]
            return df

        with tracer.span("curate.staged"):
            def gate():
                base = self.df.where(F.length(F.trim(F.col("text"))) >= 20)
                rep = repetition_score(base, n=2).where(F.col("dup_gram_frac") <= 0.9)
                return base.join(rep.select("doc_id"), "doc_id")

            gated = stage("gate", gate)
            deduped = stage("exact_dedup", lambda: gated.join(
                exact_dedup(gated).select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"))
            holder = {}

            def lsh():
                holder["shingles"] = shingle_relation(deduped, k=4).distinct().localCheckpoint(eager=True)
                return lsh_candidate_pairs(deduped, shingles=holder["shingles"], **LSH_KW)

            cands = stage("lsh", lsh)
            pairs = stage("verify", lambda: ngram_jaccard_pairs(
                deduped, k=4, threshold=0.8, candidates=cands, shingles=holder["shingles"]))
            survivors = stage("components", lambda: dedup_survivors(deduped, pairs))
            clean = stage("decontam", lambda: decontaminate(survivors, self.eval_df, contamination_k=8))

            def split_pack():
                assigned = split_assign(clean).withColumn(
                    "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long"))
                return pack_by_budget(assigned, budget=4096, token_col="n_tokens", part_col="source", order_col="doc_id")

            stage("split_pack", split_pack)
        n_cands, n_pairs = float(cands.count()), float(pairs.count())
        out = {f"curate.{k}_s": v for k, v in times.items()}
        out.update({
            "curate.candidate_pairs": n_cands,
            "curate.verified_pairs": n_pairs,
            "curate.verify_yield": n_pairs / n_cands if n_cands else 0.0,
        })
        return out

    def _append(self, spark, tracer: Tracer) -> Dict[str, float]:
        """``streaming.continuous_curation`` (availableNow, one batch file
        per trigger, frozen store on) against the last pass's curated
        corpus, bootstrapped into a corpus part and the stream store."""
        from fundus_spark.plans import append_frozen_parts
        from fundus_spark.streaming import continuous_curation, read_corpus
        from fundus_spark.streaming.curate_stream import CORPUS_SCHEMA

        base = os.path.join(self.work, "append")
        corpus, store, feed = (os.path.join(base, d) for d in ("corpus", "store", "in"))
        seed_part = os.path.join(corpus, "seed")
        with tracer.span("append.bootstrap"):
            spark.read.parquet(self._out(self.last_tag)).select("doc_id", "source", "text").write.parquet(seed_part)
            append_frozen_parts(spark, store, {"seed": spark.read.schema(CORPUS_SCHEMA).parquet(seed_part)}, **LSH_KW)
        schema = pa.schema([("doc_id", pa.int64()), ("source", pa.string()), ("text", pa.string())])
        os.makedirs(feed)
        batches = inputs.append_batches(self.seed, self.docs)
        for i, batch in enumerate(batches):
            path = os.path.join(feed, f"batch-{i:03d}.parquet")
            pq.write_table(pa.Table.from_pylist(batch, schema=schema), path)
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))  # file-source order
        with tracer.span("append") as span:
            query = continuous_curation(spark, feed, corpus, os.path.join(base, "ckpt"), benchmark=self.eval_df,
                                        frozen_store_path=store, **CURATE_KW)
            query.awaitTermination(150)
        if query.isActive or query.exception() is not None:
            query.stop()
            raise RuntimeError(f"append stream did not finish cleanly: {query.exception()}")
        progress = [p for p in query.recentProgress if p["numInputRows"]]
        self.triggers = []
        for p in progress:
            start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            d = p["durationMs"]
            self.triggers.append(tracer.add(
                "append.trigger", start, start + d["triggerExecution"] / 1000.0, span["id"],
                batch_id=str(p["batchId"]), add_batch_s=d.get("addBatch", 0) / 1000.0,
                trigger_s=d["triggerExecution"] / 1000.0))
        rows = read_corpus(spark, corpus).collect()
        all_ids = self.last_survivors | {d["doc_id"] for b in batches for d in b}
        failed, problems = check_corpus_rows(rows, all_ids, self.eval_grams)
        if len(self.triggers) != len(batches) or failed:
            raise RuntimeError(f"append segment: {len(self.triggers)} triggers for {len(batches)} batches; {problems}")
        trig = [t["trigger_s"] for t in self.triggers]
        half = len(trig) // 2
        return {
            "append.add_batch_s": _median([t["add_batch_s"] for t in self.triggers]),
            "append.trigger_overhead_s": _median([t["trigger_s"] - t["add_batch_s"] for t in self.triggers]),
            "append.late_vs_early": _median(trig[-half:]) / _median(trig[:half]) if half else 1.0,
        }

    def layers_from_log(self, tracer: Tracer, jobs: List[Dict], passes: List[Dict], cores: int) -> Dict[str, float]:
        per_trigger = [sum(1 for j in jobs if j.get("span") == t["id"]) for t in self.triggers]
        return {"append.spark_jobs_per_trigger": _median(per_trigger)}


def _grams(text: str, k: int) -> set:
    toks = text.split()
    return {" ".join(toks[i: i + k]) for i in range(len(toks) - k + 1)} if len(toks) >= k else {" ".join(toks)}


def check_corpus_rows(rows, input_ids: set, eval_grams: set) -> Tuple[int, List[str]]:
    """Curation invariants: survivor ids are unique and come from the
    input, no two survivors share an exact (whitespace-normalized) text
    fingerprint, and no survivor shares a word 8-gram with the eval set.
    Returns (failed survivors, problems)."""
    bad = set()
    ids = Counter(r.doc_id for r in rows)
    bad |= {i for i, n in ids.items() if n > 1 or i not in input_ids}
    by_fp: Dict[str, List[int]] = {}
    for r in rows:
        by_fp.setdefault(" ".join(r.text.split()), []).append(r.doc_id)
    dup_fp = [i for group in by_fp.values() if len(group) > 1 for i in group]
    contaminated = [r.doc_id for r in rows if _grams(r.text, 8) & eval_grams]
    bad |= set(dup_fp) | set(contaminated)
    problems = []
    if bad:
        problems.append(f"{len(bad)} survivors break an invariant ({len(dup_fp)} share a fingerprint, "
                        f"{len(contaminated)} contaminated, {sum(1 for i in ids if i not in input_ids)} unknown ids)")
    return len(bad), problems


WORKLOADS = {w.name: w for w in (ExtractJob, CurateBatch)}
