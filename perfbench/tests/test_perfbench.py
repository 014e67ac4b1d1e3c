"""The benchmark's own tests: the metric names and units it prints are
the ones BENCHMARK.json declares, the correctness gate catches one
flipped output byte, and the traced run's per-layer record has a fixed
schema."""

import json
import math
import os

import pandas as pd
import pytest

import gate
import proctree
import run
from workloads import WORKLOADS

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def test_declared_metrics_are_the_printed_ones():
    assert {m["name"]: m["unit"] for m in DECLARED["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in DECLARED["per_layer"]} \
        == run.PER_LAYER
    assert {w["name"] for w in DECLARED["workloads"]} <= set(WORKLOADS)


def test_result_line_carries_every_metric_with_its_unit():
    line = run.result_line(True, 3, 0, {
        n: (1.5, u) for n, u in run.END_TO_END.items()})
    got = json.loads(line)
    assert set(got) == {"correct", "attempted", "failed", "metrics"}
    assert got["metrics"] == {
        n: {"value": 1.5, "unit": u} for n, u in run.END_TO_END.items()}


def test_steal_share_is_the_stolen_part_of_wanted_cpu_time():
    assert proctree.steal_share((10.0, 1.0), (13.0, 2.0)) == 0.25
    assert proctree.steal_share((5.0, 0.5), (5.0, 0.5)) == 0.0
    busy, stolen = proctree.host_cpu_s()
    assert busy > 0 and stolen >= 0


def _extracted_sample(n: int = 60, seed: int = 3):
    """Generator rows for ``n`` page indices and their extraction by
    the engine, without Spark."""
    from weakscraper_spark.enginelib.match import extract
    from weakscraper_spark.enginelib.spec import spec_from_json
    from weakscraper_spark.sources.synth import (TEMPLATE_IDS,
                                                 compiled_specs,
                                                 rows_for_index)
    specs = {t: spec_from_json(s) for t, s in compiled_specs().items()}
    truth, out = [], []
    for i in range(n):
        for url, ts, html, text, _lang in rows_for_index(i, 50, 0.30, seed):
            # synth_templates maps host NN to TEMPLATE_IDS[NN % 3]
            hidx = int(url.split("//host")[1][:2])
            row = extract(specs[TEMPLATE_IDS[hidx % len(TEMPLATE_IDS)]],
                          html.decode("utf-8"))
            truth.append((url, ts, text))
            out.append((url, ts, row["status"], row["text"]))
    return (pd.DataFrame(truth, columns=["url", "warc_ts", "text"]),
            pd.DataFrame(out, columns=["url", "warc_ts", "status", "text"]))


def test_gate_passes_engine_output_and_catches_one_flipped_byte():
    truth, out = _extracted_sample()
    assert gate.extraction_failures(truth, out) == set()
    assert (truth["text"] == "").any()  # alien/malformed pages present

    latest = gate.latest_per_url(out)
    j = latest.index[latest["status"] == "ok"][0]
    url = out.at[j, "url"]
    text = out.at[j, "text"].encode("utf-8")
    flipped = out.copy()
    flipped.at[j, "text"] = (bytes([text[0] ^ 1]) + text[1:]).decode("utf-8")
    failed = gate.extraction_failures(truth, flipped)
    assert failed == {url}
    assert len(failed) / truth["url"].nunique() > 0


def test_gate_fails_alien_ok_and_missing_urls():
    truth, out = _extracted_sample()
    latest = gate.latest_per_url(out)
    alien = latest.index[latest["status"] != "ok"][0]
    bad = out.copy()
    bad.at[alien, "status"] = "ok"
    assert gate.extraction_failures(truth, bad) == {out.at[alien, "url"]}
    gone = out["url"].iloc[0]
    assert gate.extraction_failures(truth, out[out["url"] != gone]) == {gone}


def test_verdict_gate_compares_with_the_duckdb_twin():
    docs = pd.DataFrame({"url": [f"u{i}" for i in range(4)],
                         "text": [" ".join(f"w{i}_{k}" for k in range(80))
                                  for i in range(3)] + ["short"]})
    verdict = pd.DataFrame({"url": docs["url"],
                            "keep": [True, True, True, False],
                            "reason": ["kept", "kept", "kept", "quality"]})
    assert gate.verdict_failures(verdict, docs) == set()
    verdict.loc[0, ["keep", "reason"]] = [False, "near_dup"]
    assert gate.verdict_failures(verdict, docs) == {"u0"}


SPAN_KEYS = {"id", "trace_id", "name", "parent", "start", "end", "attrs"}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_record_schema_on_a_tiny_corpus(spark, name, tmp_path,
                                               monkeypatch):
    monkeypatch.setattr(run, "TRACE_DIR", str(tmp_path))
    res = run.run_workload(spark, WORKLOADS[name], seed=1, seconds=0,
                           trace=True, scale=0.02, session_start_s=1.0,
                           work=str(tmp_path / "work"), min_reps=1,
                           log=lambda *_: None)
    assert res["failed"] == 0 and res["attempted"] > 0
    assert {n: u for n, (_v, u) in res["metrics"].items()} == run.PER_LAYER
    for n, (v, _u) in res["metrics"].items():
        assert isinstance(v, (int, float)) and math.isfinite(v), n

    with open(tmp_path / f"{name}-seed1.json") as f:
        trace = json.load(f)
    assert trace["per_layer"].keys() == run.PER_LAYER.keys()
    assert trace["sample_interval_s"] == run.SAMPLE_INTERVAL_S
    names = set()
    for span in trace["spans"]:
        assert set(span) == SPAN_KEYS
        assert span["end"] >= span["start"]
        assert span["trace_id"] == trace["trace_id"]
        names.add(span["name"])
    assert {"setup", "setup.data", "setup.warmup", "rep", "rep.action",
            "rep.harvest", "gate", "probe.enginelib",
            "probe.corpus_ops"} <= names


def test_untraced_run_reports_the_end_to_end_metrics(spark, tmp_path):
    res = run.run_workload(spark, WORKLOADS["dense_extract"], seed=2,
                           seconds=0, trace=False, scale=0.02,
                           session_start_s=1.0, work=str(tmp_path),
                           min_reps=1, log=lambda *_: None)
    assert res["failed"] == 0
    assert {n: u for n, (_v, u) in res["metrics"].items()} == run.END_TO_END
    assert all(v > 0 for v, _u in res["metrics"].values())
