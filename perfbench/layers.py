"""Per-layer measurement for the traced run, taken from outside the
program: spans around the benchmark's own calls into each module,
Spark's SQL status store and status tracker, and timed calls to the
public functions of ``enginelib``, ``operators.textstats`` and
``operators.dedup``.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from typing import Iterator

import pandas as pd


class Tracer:
    """Spans kept in memory and written once, when the run ends. A span
    is ``(id, trace_id, name, parent, start, end, attrs)``; times are
    ``perf_counter`` seconds since the tracer was made."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {"id": len(self.spans), "trace_id": self.trace_id,
               "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str, **header) -> None:
        with open(path, "w") as f:
            json.dump({**header, "trace_id": self.trace_id,
                       "spans": self.spans}, f, indent=1, default=str)


# --------------------------------------------------------------------------
# Spark's own metrics
# --------------------------------------------------------------------------

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
          "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

#: SQL metric name → the per-layer metric it is summed into over a
#: rep's executions; timings become seconds, sizes MB
SQL_METRICS = {
    "time to run Python workers": "operators.extract.python_run_s",
    "time to start Python workers": "operators.extract.python_start_s",
    "time to initialize Python workers": "operators.extract.python_init_s",
    "data sent to Python workers": "operators.extract.to_python_mb",
    "data returned from Python workers": "operators.extract.from_python_mb",
    "shuffle bytes written": "plans.shuffle_write_mb",
    "spill size": "plans.spill_mb",
    "scan time": "sources.scan_s",
    "size of files read": "sources.read_mb",
    "number of files read": "sources.files_read",
}


def parse_sql_metric(text: str) -> float:
    """A status-store metric string as a number: ``'3,940'`` → 3940,
    ``'2.1 s'`` → 2.1 (seconds), ``'32.6 MiB'`` → 34.18 (MB). Task-
    aggregated metrics read ``'total (min, med, max ...)\\n<total> (...)'``;
    the total is used."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS[m.group(2)] if m.group(2) else value


class SparkStats:
    """Reads the SQL executions and jobs that ran since ``mark()``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._mark = self._store.executionsCount()

    def mark(self) -> None:
        self._bus.waitUntilEmpty()
        self._mark = self._store.executionsCount()

    def executions(self) -> list[dict]:
        """``{id, plan, wall_s, metrics}`` per execution since mark();
        ``metrics`` maps SQL metric name → summed value over the plan's
        nodes, each accumulator counted once. Each Scala collection
        crosses py4j as one string, not one call per element."""
        # the status store is fed by the asynchronous listener bus, and
        # an execution's final metrics are aggregated asynchronously
        # after its end event
        self._bus.waitUntilEmpty()
        deadline = time.perf_counter() + 30
        while True:
            n = self._store.executionsCount()
            seq = self._store.executionsList(self._mark, n - self._mark)
            execs = [seq.apply(i) for i in range(seq.size())]
            if (all(e.completionTime().isDefined() for e in execs)
                    or time.perf_counter() > deadline):
                break
            time.sleep(0.02)
        out = []
        for e in execs:
            values = {}
            for kv in self._store.executionMetrics(
                    e.executionId()).mkString("\x01").split("\x01"):
                if kv:
                    acc, _, text = kv.partition(" -> ")
                    values[int(acc)] = text
            sums: dict[str, float] = {}
            # SQLPlanMetric(<name>,<accumulatorId>,<metricType>)
            for m in set(e.metrics().mkString("\x01").split("\x01")):
                if not m:
                    continue
                name, acc, _kind = m[len("SQLPlanMetric("):-1].rsplit(",", 2)
                if int(acc) in values:
                    sums[name] = sums.get(name, 0.0) + \
                        parse_sql_metric(values[int(acc)])
            end = e.completionTime()
            wall = ((end.get().getTime() - e.submissionTime()) / 1e3
                    if end.isDefined() else 0.0)
            out.append({"id": e.executionId(),
                        "plan": e.physicalPlanDescription(),
                        "wall_s": wall, "metrics": sums})
        return out

    def job_counts(self, group: str) -> tuple[int, int]:
        """(jobs, tasks) run under job group ``group``."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return len(jobs), tasks

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def reset_between_reps(self) -> None:
        """Drop every cached DataFrame and persisted RDD (the
        ``localCheckpoint`` of a resume done-set included), so no rep
        is sped up or slowed down by what an earlier one left, then
        collect the JVM heap, so no rep pays for an earlier one's
        garbage."""
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        self.sc._jvm.System.gc()


def sql_layer_metrics(executions: list[dict]) -> dict[str, float]:
    """The SQL_METRICS of a rep, summed over its executions."""
    out = {name: 0.0 for name in SQL_METRICS.values()}
    for e in executions:
        for sql_name, value in e["metrics"].items():
            if sql_name in SQL_METRICS:
                out[SQL_METRICS[sql_name]] += value
    return out


# --------------------------------------------------------------------------
# enginelib, timed in-process on a sample of the workload's own pages
# --------------------------------------------------------------------------

def probe_enginelib(sample: pd.DataFrame, specs_by_tid: dict,
                    passes: int = 3) -> dict[str, float]:
    """Times ``dom.parse_html_counted``, ``match.align_children`` on the
    parsed tree, and ``boiler.main_text`` on the pages whose template
    alignment fails, over ``sample`` rows ``(html, template_id)``.
    Each figure is the median over ``passes`` passes of the sample."""
    from weakscraper_spark.enginelib.boiler import main_text
    from weakscraper_spark.enginelib.dom import parse_html_counted
    from weakscraper_spark.enginelib.errors import CompareError
    from weakscraper_spark.enginelib.match import align_children
    from weakscraper_spark.enginelib.spec import spec_from_json

    specs = {tid: spec_from_json(s) for tid, s in specs_by_tid.items()}
    pages = [(bytes(h).decode("utf-8", errors="replace"), specs.get(t))
             for h, t in zip(sample["html"], sample["template_id"])]
    runs = []
    for _ in range(passes):
        parse = align = boiler = 0.0
        nodes = failed = 0
        for html, spec in pages:
            t0 = time.perf_counter()
            root, n = parse_html_counted(html)
            t1 = time.perf_counter()
            ok = spec is not None
            if ok:
                try:
                    align_children(spec["children"], root["children"], {},
                                   {}, ())
                except (CompareError, RecursionError):
                    ok = False
            t2 = time.perf_counter()
            parse += t1 - t0
            align += t2 - t1
            nodes += n
            if not ok:
                failed += 1
                main_text(html, mode="largest")
                boiler += time.perf_counter() - t2
        runs.append((parse, align, boiler, nodes, failed))
    n = len(pages)
    med = [statistics.median(r[i] for r in runs) for i in range(3)]
    failed = runs[0][4]
    return {
        "enginelib.parse_ms_per_page": med[0] * 1e3 / n,
        "enginelib.align_ms_per_page": med[1] * 1e3 / n,
        "enginelib.boiler_ms_per_page": (med[2] * 1e3 / failed
                                         if failed else 0.0),
        "enginelib.nodes_per_page": runs[0][3] / n,
    }


# --------------------------------------------------------------------------
# operators.textstats / operators.dedup, timed public calls on the
# workload's extracted documents
# --------------------------------------------------------------------------

def probe_corpus_ops(spark, docs: pd.DataFrame) -> dict[str, float]:
    from pyspark.sql import functions as F

    from weakscraper_spark.operators.dedup import minhash_lsh_pairs
    from weakscraper_spark.operators.textstats import with_quality_score

    df = spark.createDataFrame(docs[["url", "text"]]).cache()
    df.count()
    try:
        t0 = time.perf_counter()
        (with_quality_score(df, "text").write.format("noop")
         .mode("overwrite").save())
        quality_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        row = (minhash_lsh_pairs(df, id_col="url", col="text")
               .agg(F.count("*").alias("pairs"),
                    F.countDistinct("doc_b").alias("near"))
               .collect()[0])
        minhash_s = time.perf_counter() - t0
    finally:
        spark.catalog.clearCache()
    return {
        "operators.textstats.quality_s": quality_s,
        "operators.dedup.minhash_s": minhash_s,
        "operators.dedup.candidate_pairs": float(row["pairs"]),
        "operators.dedup.near_dup_yield": (row["near"] / row["pairs"]
                                           if row["pairs"] else 0.0),
    }
