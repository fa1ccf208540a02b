"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the checkout root at ``local[4]``. Set-up (session start, seeded
input generation, warm-up passes of the job) is timed apart from the
measurement; then operations repeat until ``--seconds`` have passed and
at least ``MIN_SAMPLES`` were attempted; medians are reported. Each
operation's outputs are checked; a raise or a failed check counts in
``failed``. Every sample line carries the host calibration taken with it
(busy loop before and after, load average, CPU steal share).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
traced run: Spark's event log is on, spans wrap every call into a layer,
every workload's operation (``curation_mix`` included) and the per-layer
probes run once under them, and the per-layer metrics are reported. The
tracing overhead is the median time of the chosen workload's traced
first pass (the part ``job_s`` times) minus that of untraced ones,
alternated in the same process (span bookkeeping and job tagging; the
event log is on for both), with the spread of the pair differences beside
it. The spans go to ``.bench_out/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"
#: Input generation repeats this many times in set-up; its median counts.
SETUP_PASSES = 3
#: A run attempts at least this many operations, however long they take;
#: their median stays put when one sample is slow.
MIN_SAMPLES = 3
#: Untraced/traced first-pass pairs, alternated, for the tracing overhead.
OVERHEAD_PAIRS = 2


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Run:
    """One benchmark process: work directory, session, samples, failures."""

    def __init__(self, args) -> None:
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(self.work)
        self.out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(self.out_dir, exist_ok=True)
        self.attempted = 0
        self.failed = 0
        self.samples: list = []
        self._n_dirs = 0

    def new_dir(self, tag: str) -> str:
        self._n_dirs += 1
        path = os.path.join(self.work, f"{tag}{self._n_dirs}")
        os.makedirs(path)
        return path

    def attempt(self, ctx, workload, inp, label: str):
        """One checked operation with host calibration around it. Returns
        the OpResult, or None when it raised."""
        from perfbench.host import busy_loop_seconds, cpu_ticks, loadavg, steal_share

        self.attempted += 1
        busy_before = busy_loop_seconds()
        ticks = cpu_ticks()
        out = self.new_dir("op")
        try:
            res = workload.operation(ctx, inp, out)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            print(f"{label}: operation raised", flush=True)
            return None
        steal = steal_share(ticks, cpu_ticks())
        busy_after = busy_loop_seconds()
        res.out = out
        if res.failures:
            self.failed += 1
        sample = {
            "label": label,
            "job_s": res.job_s,
            "resume_s": res.resume_s,
            "busy_loop_s": [busy_before, busy_after],
            "loadavg": loadavg(),
            "steal_share": steal,
            "failures": res.failures,
        }
        self.samples.append(sample)
        print(json.dumps(sample), flush=True)
        return res

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def _setup(run: Run, ctx, workload) -> tuple:
    """Input generation SETUP_PASSES times (median counts, first pass's
    inputs are used), then a warm-up: a first pass, its resume pass and a
    second first pass, unchecked. After a single warm-up pass the next
    three samples still got faster in turn (the JVM compiles through the
    first few jobs of a fresh session). After these three the samples
    still drift down by up to a tenth over a run, which the median of
    the run's samples absorbs. Returns (inputs, seconds)."""
    gens, inp = [], None
    for _ in range(SETUP_PASSES):
        t0 = time.perf_counter()
        generated = workload.generate(ctx, run.new_dir("inputs"))
        gens.append(time.perf_counter() - t0)
        inp = inp or generated
    t0 = time.perf_counter()
    first = run.new_dir("warmup")
    warm_jobs = [
        workload.job(ctx, inp, first),
        workload.job(ctx, inp, first),  # same sinks, all committed: a resume pass
        workload.job(ctx, inp, run.new_dir("warmup")),
    ]
    warm = time.perf_counter() - t0
    print(json.dumps({"label": "setup", "generate_s": gens, "warmup_job_s": warm_jobs,
                      "warmup_s": warm}), flush=True)
    return inp, statistics.median(gens) + warm


def measure(run: Run) -> dict:
    from perfbench.sparkenv import start_session, stop_session
    from perfbench.workloads import Ctx

    t0 = time.perf_counter()
    spark = start_session(run.work, MASTER)
    session_s = time.perf_counter() - t0
    print(json.dumps({"label": "session", "session_s": session_s}), flush=True)
    try:
        ctx = Ctx(spark=spark, seed=run.args.seed)
        inp, setup_rest = _setup(run, ctx, run.workload)
        results = []
        deadline = time.perf_counter() + run.args.seconds
        while time.perf_counter() < deadline or len(results) < MIN_SAMPLES:
            results.append(run.attempt(ctx, run.workload, inp, f"sample{len(results)}"))
        measured = [r for r in results if r is not None]
    finally:
        stop_session(spark)
    if not measured:
        raise RuntimeError("no operation completed")
    job_s = statistics.median(r.job_s for r in measured)
    resume_s = statistics.median(r.resume_s for r in measured)
    n = run.workload.n_inputs(inp)
    setup_s = session_s + setup_rest
    busy = [b for s in run.samples for b in s["busy_loop_s"]]
    print(
        f"{run.workload.name}: setup_s={setup_s:.3f} s  job_s={job_s:.3f} s "
        f"(median of {len(measured)})  docs_per_s={n / job_s:.1f} 1/s  "
        f"resume_s={resume_s:.3f} s  error_frac={run.failed / run.attempted:.3f} "
        f"({run.failed}/{run.attempted})  host busy_loop_s={statistics.median(busy):.4f} "
        f"loadavg={run.samples[-1]['loadavg'] if run.samples else -1:.2f} "
        f"steal_share={max((s['steal_share'] for s in run.samples), default=0):.3f}",
        flush=True,
    )
    return {
        "setup_s": _metric(setup_s, "s"),
        "job_s": _metric(job_s, "s"),
        "docs_per_s": _metric(n / job_s, "1/s"),
        "resume_s": _metric(resume_s, "s"),
    }


def trace(run: Run) -> dict:
    from perfbench import layers
    from perfbench.host import RssSampler, busy_loop_seconds, loadavg
    from perfbench.sparkenv import start_session, stop_session
    from perfbench.trace import Tracer, event_log_conf, job_count, read_event_log
    from perfbench.trace import shuffle_stage_count, spark_metrics
    from perfbench.workloads import CURATION, WORKLOADS, Ctx

    log_dir = os.path.join(run.work, "eventlog")
    os.makedirs(log_dir)
    rss = RssSampler().start()
    spark = start_session(run.work, MASTER, event_log_conf(log_dir))
    tracer = Tracer(spark)
    traced = Ctx(spark=spark, seed=run.args.seed, tracer=tracer)
    untraced = Ctx(spark=spark, seed=run.args.seed)
    chosen = run.workload
    metrics: dict = {}

    def traced_op(workload, label):
        with tracer.span(f"{workload.name}.op") as span:
            res = run.attempt(traced, workload, inp[workload.name], label)
        if res is None:
            raise RuntimeError(f"{workload.name} raised in the traced run")
        return res, span

    try:
        with tracer.span("setup"):
            inp = {
                w.name: w.generate(traced, run.new_dir(f"inputs-{w.name}-"))
                for w in (*WORKLOADS.values(), CURATION)
            }
            idx = layers.build_indexes(spark, tracer, run.new_dir("index"), run.args.seed)
        with tracer.span("warmup"):
            chosen.job(traced, inp[chosen.name], run.new_dir("warmup"))
        untraced_jobs, traced_jobs = [], []
        for _ in range(OVERHEAD_PAIRS):
            untraced_jobs.append(chosen.job(untraced, inp[chosen.name], run.new_dir("pair")))
            with tracer.span(f"{chosen.name}.pair"):
                traced_jobs.append(chosen.job(traced, inp[chosen.name], run.new_dir("pair")))
        print(json.dumps({"label": "overhead", "untraced_job_s": untraced_jobs,
                          "traced_job_s": traced_jobs}), flush=True)
        ops = {name: traced_op(w, name) for name, w in WORKLOADS.items()}
        ops[CURATION.name] = traced_op(CURATION, CURATION.name)
        job_s = {name: res.job_s for name, (res, _) in ops.items()}
        traced_job = statistics.median(traced_jobs)
        untraced_job = statistics.median(untraced_jobs)

        corpus, ex_out = inp["extract_job"]["corpus"], ops["extract_job"][0].out
        metrics.update(layers.extract_layers(
            spark, tracer, corpus, job_s["extract_job"], run.new_dir("prefix")))
        metrics.update(layers.core_layers(
            spark, tracer, corpus, f"{ex_out}/lineage", run.args.seed, run.new_dir("core")))
        metrics["extract.convert_s"] = metrics["extract.python_s"] - metrics.pop("core.fold_wall_s")
        metrics.update(layers.source_layers(
            spark, tracer, inp["file_ingest"]["files"], f"{ops['file_ingest'][0].out}/output"))
        metrics.update(layers.training_prep_layers(
            spark, tracer, f"{inp[CURATION.name]['dir']}/corpus", job_s[CURATION.name]))
        index_metrics, index_failures = layers.index_layers(spark, tracer, idx)
        metrics.update(index_metrics)
        run.attempted += 1
        if index_failures:
            run.failed += 1
            print(json.dumps({"label": "index", "failures": index_failures}), flush=True)
    finally:
        stop_session(spark)
        tracer.detach()
        rss.stop()

    log = read_event_log(log_dir)

    def under(span, child: str) -> set:
        return tracer.descendants(_child(tracer, span, child).id)

    metrics.update(spark_metrics(log, under(ops[chosen.name][1], f"{chosen.name}.job")))
    metrics["pipeline.spark_jobs"] = job_count(log, under(ops["extract_job"][1], "extract_job.job"))
    metrics["pipeline.resume_spark_jobs"] = job_count(
        log, under(ops["extract_job"][1], "extract_job.resume"))
    metrics["training_prep.shuffle_stages"] = shuffle_stage_count(
        log, under(ops[CURATION.name][1], f"{CURATION.name}.job"))

    with tracer.span("extract.scaling_local1"):
        job_1 = layers.scaling_probe(ROOT, corpus, os.path.join(run.work, "scaling"), dict(os.environ))
    # docs/s at local[4] / (4 x docs/s at local[1]) on the same corpus
    metrics["extract.scaling_eff_1to4"] = job_1 / (4 * job_s["extract_job"])
    metrics["trace.job_s"] = traced_job
    metrics["trace.untraced_job_s"] = untraced_job
    metrics["trace.overhead_s"] = traced_job - untraced_job
    diffs = [t - u for t, u in zip(traced_jobs, untraced_jobs)]
    metrics["trace.overhead_spread_s"] = max(diffs) - min(diffs)
    metrics["trace.spans"] = len(tracer.spans)
    busy = [b for s in run.samples for b in s["busy_loop_s"]] + [busy_loop_seconds()]
    metrics["host.busy_loop_s"] = statistics.median(busy)
    metrics["host.peak_rss_mb"] = rss.peak_mb
    metrics["host.loadavg"] = loadavg()

    trace_path = os.path.join(run.out_dir, f"trace_{chosen.name}_seed{run.args.seed}.json")
    tracer.dump(trace_path)
    print(f"{chosen.name}: traced run, {len(tracer.spans)} spans -> {trace_path}; "
          f"tracing overhead {metrics['trace.overhead_s']:+.3f} s "
          f"(pair differences spread {metrics['trace.overhead_spread_s']:.3f} s) "
          f"on job_s {untraced_job:.3f} s", flush=True)
    units = _per_layer_units()
    if set(metrics) != set(units):
        raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
    return {name: _metric(value, units[name]) for name, value in sorted(metrics.items())}


def _child(tracer, span, name: str):
    return next(s for s in tracer.spans if s.parent == span.id and s.name == name)


def _per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    args = _parse(argv if argv is not None else sys.argv[1:])
    sys.path.insert(0, ROOT)
    from perfbench.sparkenv import worker_env  # fails outside a checkout of the engine

    run = Run(args)
    os.environ.update(worker_env(ROOT, run.work))
    try:
        metrics = trace(run) if args.trace else measure(run)
    finally:
        run.close()
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
