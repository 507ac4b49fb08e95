"""BENCHMARK.json stays within the benchmark contract and in step with
the code that emits its metrics."""

import json
import os
import re

from perfbench import run
from perfbench.workloads import JOBS

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert spec["command"][1] == "perfbench/run.py"
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in JOBS and w["name"] in run.WORKLOADS
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in spec["end_to_end"] if m["name"] == "setup_s").items()
    assert 1 <= len(spec["per_layer"]) <= 128
    names = [x["name"] for x in spec["workloads"] + spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    assert len(json.dumps(spec)) <= 64 * 1024


def test_declared_metrics_match_what_runs_report(monkeypatch):
    from perfbench import eventlog, micro
    from perfbench.tracing import Tracer, ancestors, self_times

    assert set(run.declared(0)) == {"job_s", "pages_per_s", "setup_s"}
    for name, small in (("HTML_PAGES", 4), ("HTML_LONG_PAGES", 1), ("RASTER_PAGES", 2),
                        ("TEXT_BATCH", 4), ("OCR_BATCH", 2), ("REPEATS", 1)):
        monkeypatch.setattr(micro, name, small)
    tr = Tracer(enabled=True)
    with tr.run("html_text") as root:
        pass
    row = run.layer_row(eventlog.EventLog(), tr.spans, self_times(tr.spans),
                        ancestors(tr.spans), root, 0.0)
    emitted = set(row) | set(run.dedup_probes(tr, None)) | set(micro.run_all(1)) | {
        "functions.dedup.cluster_jobs", "session.start_s", "session.peak_rss_mb",
        "trace.overhead_share", "scaling.eff"}
    assert emitted == set(run.declared(1))
