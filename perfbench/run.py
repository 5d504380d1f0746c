"""One benchmark run: ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`` from the root of a checkout.

The run generates its inputs from the seed (``inputs.py``), builds the
program's own session (``plans.build_session`` on ``local[nproc]``,
conf unchanged), makes two untimed warm passes (the JVM is still
compiling through them), then runs closed-loop passes (the next starts
when the previous returned) for ``--seconds``.
Every pass's output is checked outside the timed window; a failed check
prints ``"correct": false`` and exits 1.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` enables Spark's event log by session conf, records spans
around every call into a layer (``tracing.py``), runs the traced-only
layer measurements and prints the per-layer metrics; a layer the
workload does not exercise reports 0. It also prints the layer-sum
report (pass wall time against driver, kernel and executor time, with
the residual) and the tracing overhead against earlier untraced runs of
the same workload and seed on the same core count in this checkout
(reported as missing when there are none).

The last stdout line is the JSON result; the run record (host, inputs,
every metric) is appended to ``.perfbench_work/runs.jsonl`` and the
spans of a traced run go to ``.perfbench_work/spans/``.
"""

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PINNED = os.path.join(HERE, "pinned.json")
# the JVM is still compiling through the first passes: per-pass CPU falls
# by about a quarter from the 2nd pass to the 3rd, then by under a tenth
# a pass on both workloads
WARM_PASSES = 2
# every end-to-end number a run prints (error_rate is the result's
# failed / attempted)
E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "pass_p50_s": "s", "cpu_ms_per_item": "ms", "peak_rss_mb": "MB"}


def _env(run_dir: str) -> None:
    """Keep every file the run (driver, JVM, workers) writes inside the
    checkout, and let the Python workers import the program."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    jvm_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = " ".join(p for p in (os.environ.get(var), jvm_opts) if p)
    sys.path.insert(0, ROOT)


def _session(cores: int, event_log: str = None):
    from fundus_spark.plans import build_session

    extra = None
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_log,
                 "spark.eventLog.compress": "false"}
    spark = build_session(cores=cores, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, sorted(extra or {})


def _shutdown(spark) -> None:
    """Stop Spark, close the JVM and wait until it and every worker it
    started have exited."""
    from pyspark import SparkContext

    from tracing import process_children

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while process_children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _timed(spark, wl, seconds: float, tracer, prefix: str):
    """Closed-loop passes for ``seconds``, and at least two: the first
    timed pass is still the slower one, so a run that ended after it
    alone would read slow. Returns (tags, wall seconds, CPU seconds of
    the process tree, spans), one entry per pass."""
    from tracing import tree_cpu_s

    tags, walls, cpus, spans = [], [], [], []
    start = time.perf_counter()
    while len(walls) < 2 or time.perf_counter() - start < seconds:
        tag = f"{prefix}{len(walls):03d}"
        with tracer.span("pass", tag=tag) as span:
            c, t = tree_cpu_s(os.getpid()), time.perf_counter()
            wl.run_pass(spark, tag)
            walls.append(time.perf_counter() - t)
            cpus.append(tree_cpu_s(os.getpid()) - c)
        tags.append(tag)
        spans.append(span)
    return tags, walls, cpus, spans


def _untraced_reference(workload: str, seed: int, cores: int):
    """(median ``pass_p50_s``, count) of the untraced runs of ``workload``
    with ``seed`` on this core count recorded in this checkout, or
    (None, 0)."""
    path = os.path.join(WORK, "runs.jsonl")
    if not os.path.exists(path):
        return None, 0
    with open(path) as fh:
        recs = [json.loads(line) for line in fh if line.strip()]
    p50 = [r["e2e"]["pass_p50_s"] for r in recs
           if not r["trace"] and r["workload"] == workload and r["seed"] == seed and r["host"]["nproc"] == cores]
    return (statistics.median(p50), len(p50)) if p50 else (None, 0)


def _trace_report(tracer, wl, jobs, walls, cpus, pass_spans, cores: int, layers: dict) -> dict:
    """Adds the event-log metrics to ``layers``; returns the layer-sum
    report: mean pass wall time against the time no Spark job ran
    (driver), kernel busy time / cores, the rest of executor run time /
    cores, and the residual (cores idle while jobs ran)."""
    from tracing import attach_jobs, busy_union, job_totals, jobs_under

    attach_jobs(tracer, jobs, {t["batch_id"]: t["id"] for t in getattr(wl, "triggers", [])})
    layers.update(wl.layers_from_log(tracer, jobs, pass_spans, cores))
    per_pass = [jobs_under(tracer, s, jobs) for s in pass_spans]
    totals = [job_totals(j) for j in per_pass]
    driver = [w - busy_union(j, s["start"], s["end"]) for w, j, s in zip(walls, per_pass, pass_spans)]
    run_s = sum(t["run_s"] for t in totals)

    def med(key):
        return statistics.median(t[key] for t in totals)

    layers.update({
        "spark.jobs": med("jobs"),
        "spark.stages": med("stages"),
        "spark.shuffle_write_bytes": med("shuffle_write"),
        "spark.spill_bytes": med("spill"),
        "spark.executor_cpu_s": med("cpu_s"),
        "spark.gc_s": med("gc_s"),
        "spark.core_util": run_s / (sum(walls) * cores),
        "spark.driver_s": statistics.median(driver),
    })
    n = len(walls)
    kernel_cpu_s = getattr(wl, "kernel_busy_s", 0.0)
    layers["kernel.cpu_share"] = kernel_cpu_s / statistics.median(cpus)
    kernel_s = kernel_cpu_s / cores
    layer_sum = {
        "wall_s": sum(walls) / n,
        "driver_s": sum(driver) / n,
        "kernel_s": kernel_s,
        "executor_other_s": run_s / n / cores - kernel_s,
    }
    layer_sum["residual_s"] = layer_sum["wall_s"] - sum(v for k, v in layer_sum.items() if k != "wall_s")
    staged = sum(v for k, v in layers.items() if k.startswith("curate.") and k.endswith("_s"))
    if staged:  # the chain's stages run one by one on materialized inputs
        layer_sum["curate_staged_sum_s"] = staged
        layer_sum["curate_staged_residual_s"] = statistics.median(walls) - staged
    layers["layers.residual_share"] = layer_sum["residual_s"] / layer_sum["wall_s"]
    return layer_sum


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    _env(run_dir)
    import fundus_spark.plans  # noqa: F401  (fails fast outside a checkout of the program)
    import pyspark

    from tracing import RssSampler, Tracer, read_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)

    t_gen = time.time()
    wl = WORKLOADS[args.workload](run_dir, args.seed)
    gen_s = time.time() - t_gen

    rss = RssSampler()
    rss.start()
    event_log = os.path.join(run_dir, "eventlog")
    tracer = Tracer(enabled=trace)
    spark, extra_conf = _session(cores, event_log if trace else None)
    try:
        wl.prepare(spark)
        tracer.bind(spark.sparkContext)
        for i in range(WARM_PASSES):  # untimed: JIT, Python workers, codegen
            with tracer.span("warm"):
                wl.run_pass(spark, f"warm{i}")
        setup_s = time.time() - T0 - gen_s
        tags, walls, cpus, pass_spans = _timed(spark, wl, args.seconds, tracer, "p")
        rss.stop()

        # ---- correctness, outside the timed window ---------------------
        attempted = wl.items * len(tags)
        failed, digests, problems = 0, set(), []
        for tag in tags:
            n_bad, digest, why = wl.check_pass(spark, tag)
            failed += n_bad
            digests.add(digest)
            problems += [f"{tag}: {p}" for p in why]
        n_bad, why = wl.check_kernel_sample(spark, tags[-1])
        failed += n_bad
        problems += why
        if len(digests) != 1:
            problems.append(f"passes disagree: {len(digests)} distinct output digests")
        with open(PINNED) as fh:
            pinned = json.load(fh).get(args.workload, {}).get(str(args.seed))
        digest = sorted(digests)[0]
        if pinned is not None and digest != pinned:
            problems.append(f"output digest {digest[:16]} != pinned {pinned[:16]} for seed {args.seed}")
        correct = not problems and failed == 0

        layers = wl.layers(spark, tracer, cores) if trace else {}
        version = spark.version
        conf = {k: spark.conf.get(k) for k in ("spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory")}
    finally:
        _shutdown(spark)  # also finalizes the event log

    host = {
        "nproc": cores,
        "spark": version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "session_conf": "plans.build_session defaults" + (f" + {extra_conf}" if extra_conf else " (unchanged)"),
        **conf,
    }
    e2e = {
        "setup_s": setup_s,
        "items_per_s": wl.items * len(walls) / sum(walls),
        "pass_p50_s": statistics.median(walls),
        "cpu_ms_per_item": statistics.median(cpus) * 1000 / wl.items,
        "peak_rss_mb": rss.peak_mb,
    }
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host,
              "passes": walls, "pass_cpu_s": cpus, "digest": digest, "correct": correct, "attempted": attempted,
              "failed": failed, "problems": problems, "e2e": e2e}

    overhead = None
    if trace:
        layer_sum = _trace_report(tracer, wl, read_event_log(event_log), walls, cpus, pass_spans, cores, layers)
        reference, n_ref = _untraced_reference(args.workload, args.seed, cores)
        if reference:
            overhead = {"value": e2e["pass_p50_s"] / reference - 1.0, "untraced_runs": n_ref}
        record.update(layer_sum=layer_sum, layers=layers, trace_overhead=overhead)
        tracer.write(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json"),
                     {"workload": args.workload, "seed": args.seed, "host": host, "layer_sum": layer_sum})
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")

    # ---- report ----------------------------------------------------------
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = {**e2e, **layers}
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} passes={len(walls)} host={json.dumps(host)}")
    shown = {**{k: (v, E2E_UNITS[k]) for k, v in e2e.items()}, **{k: (m["value"], m["unit"]) for k, m in metrics.items()}}
    for name, (value, unit) in shown.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} error_rate = {failed / attempted:.6g} ratio ({failed} of {attempted} items failed)")
    if trace:
        if overhead:
            print(f"{args.workload} trace.overhead = {overhead['value']:.4f} ratio "
                  f"(traced pass_p50_s against {overhead['untraced_runs']} untraced runs of seed {args.seed})")
        else:
            print(f"{args.workload} trace.overhead = missing (no untraced run of seed {args.seed} "
                  f"on {cores} cores in this checkout)")
        for key, value in record["layer_sum"].items():
            print(f"{args.workload} layer_sum.{key} = {value:.4f} s")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
