#!/usr/bin/env python3
"""Extraction benchmark: end-to-end throughput, CPU cost, memory and
set-up time per workload, with a correctness gate on every run, and a
separate traced run for per-layer numbers.

    python3 perfbench/run.py --workload dense_extract --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
lines before it are a readable summary. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones and writes the
run's spans to ``.perfbench_work/trace/``. ``--workload all`` runs
every workload in one process. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(WORK, "trace")

#: end-to-end metric → unit (printed with ``--trace 0``)
END_TO_END = {
    "pages_per_s": "pages/s",
    "cpu_s_per_kpage": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

#: per-layer metric → unit (printed with ``--trace 1``)
PER_LAYER = {
    "failed_share": "ratio",
    "trace.pages_per_s": "pages/s",
    "trace.untraced_pages_per_s": "pages/s",
    "trace.overhead_share": "ratio",
    "trace.raw_pages_per_s": "pages/s",
    "trace.steal_share": "ratio",
    "enginelib.parse_ms_per_page": "ms",
    "enginelib.align_ms_per_page": "ms",
    "enginelib.boiler_ms_per_page": "ms",
    "enginelib.nodes_per_page": "count",
    "operators.extract.python_run_s": "s",
    "operators.extract.python_start_s": "s",
    "operators.extract.python_init_s": "s",
    "operators.extract.to_python_mb": "MB",
    "operators.extract.from_python_mb": "MB",
    "operators.extract.body_share": "ratio",
    "operators.extract.rescued_share": "ratio",
    "operators.textstats.quality_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.near_dup_yield": "ratio",
    "plans.build_s": "s",
    "plans.jobs": "count",
    "plans.tasks": "count",
    "plans.shuffle_write_mb": "MB",
    "plans.spill_mb": "MB",
    "plans.resume_skip_share": "ratio",
    "plans.sink_write_s": "s",
    "plans.sink_mb": "MB",
    "plans.metrics_s": "s",
    "plans.leaked_persists": "count",
    "plans.session.start_s": "s",
    "sources.scan_s": "s",
    "sources.read_mb": "MB",
    "sources.files_read": "count",
}

#: Spark runs local[k] with k ≤ nproc. Each task keeps a JVM feed
#: thread and a Python worker busy, so on the 4-vCPU box the workloads
#: were tuned on local[4] oversubscribes the cores: there, 14
#: dense_extract reps ranged 283-409 pages/s at local[4] and 167-190
#: at local[2], and incremental_sink ran faster at local[2]
CORES = min(2, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
#: JVM flags that keep reps steady on a small shared box.
#: - C1 only. Every run_pipeline rep generates two fresh Janino classes,
#:   and C2 kept compiling for 40+ reps: 0.9-2.1 CPU-s of C2 compilation
#:   per ~2.5 s incremental_sink rep, so rep wall and CPU swung ±15% and
#:   trended up the whole run. With C1 the JIT costs ~0.3 CPU-s a rep
#:   and reps are flat after the warm-up. JVM-side operator code runs at
#:   C1 quality, so the JVM's share of a rep reads somewhat larger.
#: - A fixed heap (-Xms = -Xmx). With a growable heap, G1 shrank it after
#:   the full GC between reps, and some runs then stayed small for the
#:   whole run: 10-11 young GCs and 4.5 JVM CPU-s a rep instead of 7 and
#:   3.0, i.e. +60% cpu_s_per_kpage at -10% peak RSS, in about one run
#:   of six. The heap is touched at start-up: otherwise the JVM's RSS
#:   is however much of it a run's allocations have reached yet, and
#:   peak RSS spread 12% over ten runs instead of 4%
JVM_OPTS = (f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEMORY}"
            " -XX:+AlwaysPreTouch")
SAMPLE_INTERVAL_S = 0.05
#: a run keeps measuring past --seconds until it has this many reps
MIN_REPS = 5


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def clock() -> tuple[float, tuple[float, float]]:
    """A start reading for ``elapsed``."""
    from proctree import host_cpu_s
    return time.perf_counter(), host_cpu_s()


def elapsed(start) -> tuple[float, float, float]:
    """(wall s, steal share, unstolen s) since ``start = clock()``.

    On a shared VM the hypervisor runs other guests on the cores this
    one's virtual CPUs want: on the 4-vCPU VM the benchmark was tuned
    on, the stolen share of a rep was under 3% for minutes, then 10-35%
    for minutes, and incremental_sink's rep wall rose by up to 75% with
    it while its CPU time rose by a quarter. Every timed figure is
    therefore the unstolen wall, ``wall × (1 − steal share)``, with the
    share taken over the machine's CPUs during the interval; it is the
    wall itself where nothing is stolen. The raw figures are printed
    and traced beside it."""
    from proctree import host_cpu_s, steal_share
    wall = time.perf_counter() - start[0]
    share = steal_share(start[1], host_cpu_s())
    return wall, share, wall * (1 - share)


def start_spark(work: str):
    from weakscraper_spark.plans.session import get_spark
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the environment variable wins over spark.local.dir in local mode
    os.environ["SPARK_LOCAL_DIRS"] = local
    return get_spark("perfbench", master=f"local[{CORES}]", extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JVM_OPTS}",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stops the context and the JVM pyspark launched, and waits for
    the JVM to exit."""
    import subprocess

    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _sink_layers(executions: list[dict]) -> dict[str, float]:
    """Sink and run-record writes of one rep, by the output path (or
    noop format) in each execution's physical plan."""
    sink_s = sink_mb = metrics_s = 0.0
    for e in executions:
        plan = e["plan"]
        if "/sink/metrics" in plan:
            metrics_s += e["wall_s"]
        elif ("/sink/pages_out" in plan
              # a noop sink write plans as a V2 overwrite
              or plan.startswith("== Physical Plan ==\nOverwriteByExpression")):
            sink_s += e["wall_s"]
            sink_mb += e["metrics"].get("written output", 0.0)
    return {"plans.sink_write_s": sink_s, "plans.sink_mb": sink_mb,
            "plans.metrics_s": metrics_s}


def run_workload(spark, wl, seed: int, seconds: float, trace: bool,
                 scale: float, session_start_s: float, work: str,
                 min_reps: int = MIN_REPS, log=print) -> dict:
    """Set-up, timed reps, correctness gate and, with ``trace``, the
    per-layer probes of one workload; ``scale`` sizes the corpus.
    Returns ``{attempted, failed, metrics}`` with ``metrics`` name →
    (value, unit)."""
    from layers import (SparkStats, Tracer, probe_corpus_ops,
                        probe_enginelib, sql_layer_metrics)
    from proctree import TreeSampler
    from workloads import Ctx

    pid = os.getpid()
    tracer = Tracer(f"{wl.name}-seed{seed}")
    stats = SparkStats(spark)

    # ---- set-up (everything outside the timed region) ----------------
    with tracer.span("setup", workload=wl.name):
        ctx = Ctx(spark, work, seed, scale)
        with tracer.span("setup.data") as sp:
            start = clock()
            wl.setup_data(ctx)
            data_s = elapsed(start)[2]
            sp["attrs"]["offered"] = ctx.offered
        with tracer.span("setup.warmup"):
            start = clock()
            got = wl.warm_up(ctx, stats)
            stats.reset_between_reps()
            for _ in range(wl.warmup_reps):
                wl.rep(ctx)
                stats.reset_between_reps()
            warmup_s = elapsed(start)[2]
    setup_s = session_start_s + data_s + warmup_s

    # ---- timed reps --------------------------------------------------
    reps: list[dict] = []
    with TreeSampler(pid, SAMPLE_INTERVAL_S) as tree:
        deadline = time.perf_counter() + seconds
        if trace:
            # alternate untraced and traced reps, at least two of each
            min_reps = max(min_reps, 4)
        while time.perf_counter() < deadline or len(reps) < min_reps:
            traced = trace and len(reps) % 2 == 1
            rec: dict = {"traced": traced}
            cpu0 = tree.cpu_s()
            tree.start_peak()
            start = clock()
            if traced:
                group = f"rep{len(reps)}"
                with tracer.span("rep", index=len(reps)) as sp:
                    stats.mark()
                    spark.sparkContext.setJobGroup(group, group)
                    with tracer.span("rep.action"):
                        rec.update(wl.rep(ctx))
                    with tracer.span("rep.harvest"):
                        execs = stats.executions()
                        rec.update(sql_layer_metrics(execs))
                        rec.update(_sink_layers(execs))
                        jobs, tasks = stats.job_counts(group)
                        rec["plans.jobs"], rec["plans.tasks"] = jobs, tasks
                        rec["plans.leaked_persists"] = stats.persisted_rdds()
                        if hasattr(wl, "build_s"):
                            rec["build_s"] = wl.build_s(ctx)
                    spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", None)
                    sp["attrs"].update(
                        {k: v for k, v in rec.items()
                         if isinstance(v, (int, float))})
            else:
                rec.update(wl.rep(ctx))
            wall, share, unstolen = elapsed(start)
            cpu = tree.cpu_s() - cpu0
            tree.active.clear()
            rec["peak_rss_mb"] = tree.peak_bytes / 1e6
            stats.reset_between_reps()
            rec["wall_s"] = wall
            rec["steal_share"] = share
            rec["raw_pages_per_s"] = ctx.offered / wall
            rec["pages_per_s"] = ctx.offered / unstolen
            rec["cpu_s_per_kpage"] = cpu * 1000 / ctx.offered
            reps.append(rec)

    untraced = [r for r in reps if not r["traced"]]
    traced_reps = [r for r in reps if r["traced"]]

    # ---- correctness gate (untimed) ----------------------------------
    with tracer.span("gate"):
        if got is None:
            got = wl.collect(ctx, stats)
            stats.reset_between_reps()
        truth = ctx.truth()
        attempted = truth["url"].nunique()
        failed = wl.failures(truth, got)
    failed_share = len(failed) / attempted

    metrics = {
        "pages_per_s": _median([r["pages_per_s"] for r in untraced]),
        "cpu_s_per_kpage": _median([r["cpu_s_per_kpage"] for r in untraced]),
        "peak_rss_mb": _median([r["peak_rss_mb"] for r in untraced]),
        "setup_s": setup_s,
    }
    log(f"{wl.name} seed={seed} reps={len(untraced)} untraced"
        f"{f' + {len(traced_reps)} traced' if trace else ''}"
        f" of {ctx.offered} page rows, local[{CORES}],"
        f" process tree sampled every {SAMPLE_INTERVAL_S} s"
        f" ({tree.samples} samples in reps)")
    for name, unit in END_TO_END.items():
        log(f"  {name} = {metrics[name]:.4f} {unit}"
            f"{' (median of reps)' if name != 'setup_s' else ''}")
    raw = _median([r["raw_pages_per_s"] for r in untraced])
    steal = _median([r["steal_share"] for r in untraced])
    log(f"  raw pages_per_s = {raw:.4f} pages/s, steal share"
        f" {steal:.4f} (medians of reps; timed figures are unstolen wall)")
    log(f"  failed_share = {failed_share:.6f} ratio"
        f" ({len(failed)} of {attempted} urls)")
    log(f"  setup: session {session_start_s:.2f} s + data {data_s:.2f} s"
        f" + warm-up {warmup_s:.2f} s")
    log("  reps: " + ", ".join(
        f"{r['pages_per_s']:.1f} pages/s {r['cpu_s_per_kpage']:.3f} s/kpage"
        f" {r['steal_share']:.0%} stolen"
        f"{' (traced)' if r['traced'] else ''}" for r in reps))

    result = {"attempted": attempted, "failed": len(failed),
              "metrics": {n: (metrics[n], END_TO_END[n])
                          for n in END_TO_END}}
    if not trace:
        return result

    # ---- per-layer record ---------------------------------------------
    from weakscraper_spark.operators.extract import OK_STATUSES
    from weakscraper_spark.plans.pipeline import (attach_template,
                                                  prepare_pages)

    def med(key: str) -> float:
        return _median([r[key] for r in traced_reps])

    layer = {"failed_share": failed_share,
             "trace.pages_per_s": med("pages_per_s"),
             "trace.untraced_pages_per_s": metrics["pages_per_s"]}
    layer["trace.overhead_share"] = (
        1 - layer["trace.pages_per_s"] / layer["trace.untraced_pages_per_s"])
    layer["trace.raw_pages_per_s"] = raw
    layer["trace.steal_share"] = steal
    for key in ("operators.extract.python_run_s",
                "operators.extract.python_start_s",
                "operators.extract.python_init_s",
                "operators.extract.to_python_mb",
                "operators.extract.from_python_mb",
                "plans.jobs", "plans.tasks", "plans.shuffle_write_mb",
                "plans.spill_mb", "plans.sink_write_s", "plans.sink_mb",
                "plans.metrics_s", "plans.leaked_persists",
                "sources.scan_s", "sources.read_mb", "sources.files_read"):
        layer[key] = med(key)
    layer["plans.build_s"] = med("build_s")
    layer["plans.session.start_s"] = session_start_s

    out = got["out"]
    run_s = (got["python_run_s"] if got["python_run_s"] is not None
             else med("operators.extract.python_run_s"))
    layer["operators.extract.body_share"] = (
        out["parse_ms"].sum() / 1e3 / run_s if run_s else 0.0)
    template_failed = (out["status"] != "ok").sum()
    layer["operators.extract.rescued_share"] = (
        (out["status"] == "ok_heuristic").sum() / template_failed
        if template_failed else 0.0)
    layer["plans.resume_skip_share"] = (
        wl.resume_skip_share(ctx) if hasattr(wl, "resume_skip_share")
        else 0.0)

    with tracer.span("probe.enginelib", pages=wl.sample_pages):
        sample = (attach_template(prepare_pages(ctx.pages()), ctx.templates)
                  .select("url", "warc_ts", "html", "template_id")
                  .orderBy("url", "warc_ts").limit(wl.sample_pages)
                  .toPandas())
        layer.update(probe_enginelib(sample, ctx.specs))
    with tracer.span("probe.corpus_ops"):
        docs = out[out["status"].isin(OK_STATUSES)]
        docs = docs.sort_values("warc_ts").drop_duplicates("url", keep="last")
        layer.update(probe_corpus_ops(spark, docs))

    os.makedirs(TRACE_DIR, exist_ok=True)
    trace_path = os.path.join(TRACE_DIR, f"{tracer.trace_id}.json")
    tracer.write(trace_path, workload=wl.name, seed=seed,
                 sample_interval_s=SAMPLE_INTERVAL_S,
                 reps=reps,
                 per_layer=layer)
    log(f"  traced: {len(traced_reps)} reps, spans in {trace_path}")
    for name, unit in PER_LAYER.items():
        log(f"  {name} = {layer[name]:.6g} {unit}")
    result["metrics"] = {n: (layer[n], PER_LAYER[n]) for n in PER_LAYER}
    return result


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": u}
                    for n, (v, u) in metrics.items()}})


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "weakscraper_spark",
                                       "__init__.py")):
        print(f"weakscraper_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python workers import the package from the checkout; every
    # process writes its temporary files inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)} or all", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    results = {}
    spark = None
    try:
        start = clock()
        spark = start_spark(work)
        session_start_s = elapsed(start)[2]
        for name in names:
            results[name] = run_workload(
                spark, WORKLOADS[name], args.seed, args.seconds,
                bool(args.trace), 1.0, session_start_s, work)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if len(names) == 1:
        metrics = results[names[0]]["metrics"]
    else:
        metrics = {f"{n}.{m}": v for n, r in results.items()
                   for m, v in r["metrics"].items()}
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(result_line(failed == 0, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
