"""The three workloads. Each synthesizes its corpus from the run's seed
with ``sources.synth.synth_pages`` into parquet during set-up, so the
timed reps scan files like a real run does, and each has its own
correctness gate.

- ``dense_extract``: tag-dense ~25 KB pages through ``prepare_pages →
  attach_template → extract_pages`` into a ``noop`` sink. Map-only;
  ``html.parser`` tokenization dominates.
- ``incremental_sink``: small ~0.5 KB pages through ``run_pipeline``
  with the heuristic fallback into a parquet sink that set-up seeded
  with an earlier run over three quarters of the same urls. Per-row
  and per-batch overhead, the resume anti-join, the ``dedup_latest``
  shuffle and the sink and metrics writes dominate.
- ``corpus_build``: ``build_corpus_plan`` over small pages, verdict
  into a ``noop`` sink. The JVM-side shuffles and joins of the
  quality gate, exact dedup and MinHash-LSH dominate.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

import gate
from layers import sql_layer_metrics

#: tag-dense, CC-realistic page shape (~25 KB per page)
DENSE_SHAPE = dict(min_words=150, rng_words=150, junk_words=3500,
                   junk_markup=True)
#: the run_id every timed rep of ``incremental_sink`` re-runs; the
#: per-run overwrite of ``run_pipeline`` makes the reps identical
REP_RUN_ID = "bench"


class Ctx:
    """Per-run state shared by set-up, reps and the gate."""

    def __init__(self, spark, work: str, seed: int, scale: float) -> None:
        from weakscraper_spark.sources.synth import (compiled_specs,
                                                     synth_templates)
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.specs = compiled_specs()
        self.templates = synth_templates(spark)
        self.offered = 0  # page rows one rep offers to the plan

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def synth(self, n_pages: int, **shape) -> int:
        """Writes ``synth_pages(seed=<run seed>)`` of ``n_pages`` ×
        scale pages to the corpus parquet; returns the row count (pages
        × snapshots).

        The corpus is one file per core, each with the same number of
        pages, so a scan runs one task per core and the tasks are about
        equally long. With ``synth_pages``' default of eight files, the
        scan packed them into two partitions whose sizes depended on the
        seed (up to 264 against 218 dense pages), and the longer task
        set the rep's wall time."""
        from weakscraper_spark.sources.synth import synth_pages
        path = self.path("corpus")
        n_pages = max(1, int(n_pages * self.scale))
        cores = self.spark.sparkContext.defaultParallelism
        (synth_pages(self.spark, n_pages, seed=self.seed,
                     partitions=cores, **shape)
         .write.mode("overwrite").parquet(path))
        return self.spark.read.parquet(path).count()

    def pages(self):
        """The workload's corpus, as every rep scans it."""
        return self.spark.read.parquet(self.path("corpus"))

    def truth(self) -> pd.DataFrame:
        """The generator's ground truth ``(url, warc_ts, text)``."""
        return self.pages().select("url", "warc_ts", "text").toPandas()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect_extracted(ctx: Ctx, stats, plan) -> dict:
    """Runs an extraction plan to pandas; ``python_run_s`` is that
    action's Python-worker run time, the base of ``body_share``."""
    stats.mark()
    out = plan.select("url", "warc_ts", "status", "text",
                      "parse_ms").toPandas()
    return {"out": out, "python_run_s": sql_layer_metrics(
        stats.executions())["operators.extract.python_run_s"]}


class DenseExtract:
    name = "dense_extract"
    n_pages = 400
    sample_pages = 60
    #: untimed reps after the warm-up collect; with the C1-only JVM
    #: (see run.JVM_OPTS) the collect leaves the reps flat
    warmup_reps = 0

    def setup_data(self, ctx: Ctx) -> None:
        ctx.offered = ctx.synth(self.n_pages, **DENSE_SHAPE)

    def plan(self, ctx: Ctx):
        from weakscraper_spark.operators.extract import extract_pages
        from weakscraper_spark.plans.pipeline import (attach_template,
                                                      prepare_pages)
        return extract_pages(
            attach_template(prepare_pages(ctx.pages()), ctx.templates),
            ctx.specs)

    def rep(self, ctx: Ctx) -> dict:
        t0 = time.perf_counter()
        plan = self.plan(ctx)
        build_s = time.perf_counter() - t0
        _noop(plan)
        return {"build_s": build_s}

    def collect(self, ctx: Ctx, stats) -> dict:
        """The gate's run of the timed plan, collected instead of sunk;
        it is also the warm-up."""
        return _collect_extracted(ctx, stats, self.plan(ctx))

    warm_up = collect

    def failures(self, truth: pd.DataFrame, got: dict) -> set[str]:
        return gate.extraction_failures(truth, got["out"])


class IncrementalSink:
    name = "incremental_sink"
    n_pages = 3000
    sample_pages = 300
    #: with the C1-only JVM (see run.JVM_OPTS) the first rep after the
    #: sink seeding is ~15% slow and the next ones are flat
    warmup_reps = 1

    def setup_data(self, ctx: Ctx) -> None:
        from weakscraper_spark.plans.pipeline import run_pipeline
        ctx.offered = ctx.synth(self.n_pages)
        # the earlier crawl: a fixed quarter of the urls had not been
        # seen yet, every snapshot of the rest had
        earlier = ctx.pages().filter(
            F.pmod(F.xxhash64("url"), F.lit(4)) != 0)
        shutil.rmtree(ctx.path("sink"), ignore_errors=True)
        run_pipeline(ctx.spark, earlier, ctx.templates, ctx.specs,
                     ctx.path("sink"), run_id="seed", fallback="heuristic")

    def rep(self, ctx: Ctx) -> dict:
        from weakscraper_spark.plans.pipeline import run_pipeline
        run_pipeline(ctx.spark, ctx.pages(), ctx.templates, ctx.specs,
                     ctx.path("sink"), run_id=REP_RUN_ID,
                     fallback="heuristic")
        return {}

    def warm_up(self, ctx: Ctx, stats) -> None:
        """The warm-up reps are all this workload needs."""

    def done_set(self, ctx: Ctx):
        """The resume done-set ``run_pipeline`` builds, left lazy."""
        return (ctx.spark.read.parquet(ctx.path("sink/pages_out"))
                .filter(F.col("run_id") != REP_RUN_ID)
                .groupBy("url").agg(F.max("warc_ts").alias("done_ts")))

    def build_s(self, ctx: Ctx) -> float:
        from weakscraper_spark.plans.pipeline import build_extract_plan
        t0 = time.perf_counter()
        build_extract_plan(ctx.pages(), ctx.templates, ctx.specs,
                           done_urls=self.done_set(ctx),
                           fallback="heuristic")
        return time.perf_counter() - t0

    def resume_skip_share(self, ctx: Ctx) -> float:
        from weakscraper_spark.plans.pipeline import (prepare_pages,
                                                      resume_filter)
        kept = resume_filter(prepare_pages(ctx.pages()),
                             self.done_set(ctx)).count()
        return (ctx.offered - kept) / ctx.offered

    def collect(self, ctx: Ctx, stats) -> dict:
        """The whole sink as the last timed rep left it; ``out`` is the
        increment those reps wrote."""
        sink = ctx.spark.read.parquet(ctx.path("sink/pages_out")).select(
            "url", "warc_ts", "status", "text", "parse_ms",
            "run_id").toPandas()
        return {"sink": sink, "out": sink[sink["run_id"] == REP_RUN_ID],
                "python_run_s": None}

    def failures(self, truth: pd.DataFrame, got: dict) -> set[str]:
        return gate.extraction_failures(truth, got["sink"])


class CorpusBuild:
    name = "corpus_build"
    n_pages = 1500
    sample_pages = 300
    warmup_reps = 1

    def setup_data(self, ctx: Ctx) -> None:
        ctx.offered = ctx.synth(self.n_pages)

    def rep(self, ctx: Ctx) -> dict:
        from weakscraper_spark.plans.corpus_pipeline import build_corpus_plan
        t0 = time.perf_counter()
        _cleaned, verdict = build_corpus_plan(ctx.pages(), ctx.templates,
                                              ctx.specs)
        build_s = time.perf_counter() - t0
        _noop(verdict)
        return {"build_s": build_s}

    def collect(self, ctx: Ctx, stats) -> dict:
        """The extracted docs and the verdict, collected; it is also
        the warm-up."""
        from weakscraper_spark.plans.corpus_pipeline import build_corpus_plan
        from weakscraper_spark.plans.pipeline import build_extract_plan
        got = _collect_extracted(ctx, stats, build_extract_plan(
            ctx.pages(), ctx.templates, ctx.specs, fallback="heuristic"))
        _cleaned, verdict = build_corpus_plan(ctx.pages(), ctx.templates,
                                              ctx.specs)
        got["verdict"] = verdict.toPandas()
        return got

    warm_up = collect

    def failures(self, truth: pd.DataFrame, got: dict) -> set[str]:
        from weakscraper_spark.operators.extract import OK_STATUSES
        out = got["out"]
        docs = out[out["status"].isin(OK_STATUSES)]
        return (gate.extraction_failures(truth, out)
                | gate.verdict_failures(got["verdict"], docs))


WORKLOADS = {w.name: w for w in (DenseExtract(), IncrementalSink(),
                                 CorpusBuild())}
