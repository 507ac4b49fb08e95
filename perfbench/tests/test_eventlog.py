"""The event-log parser against a tiny traced Spark run."""

import glob
import os

import pytest

from perfbench import eventlog as EL
from perfbench.tracing import Tracer


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("evlog")
    ev_dir = tmp / "events"
    ev_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{ev_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.local.dir", str(tmp / "local"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )

    def double(batches):
        import pyarrow.compute as pc

        for b in batches:
            yield b.set_column(0, "id", pc.multiply(b.column(0), 2))

    tr = Tracer(spark, enabled=True)
    out = str(tmp / "out")
    try:
        spark.range(0, 1000, numPartitions=4).count()  # untagged
        with tr.run("job") as root:
            with tr.span("build"):
                df = spark.range(0, 1000, numPartitions=4).mapInArrow(double, "id long")
            with tr.span("sink.write") as sink:
                df.write.mode("overwrite").parquet(out)
    finally:
        spark.stop()
    (log_path,) = glob.glob(str(ev_dir / "*"))
    return EL.parse(log_path), tr, root, sink, out


def test_jobs_are_attributed_to_spans(traced_run):
    log, tr, root, sink, _ = traced_run
    assert log.untagged_jobs >= 1
    assert EL.job_count(log, {sink["id"]}) >= 1
    assert EL.job_count(log, {s["id"] for s in tr.spans}) == EL.job_count(log, {sink["id"]})


def test_task_and_boundary_metrics(traced_run):
    log, _, _, sink, _ = traced_run
    spans = {sink["id"]}
    tt = EL.task_totals(log, spans)
    assert tt["tasks"] == 4
    assert tt["task_s"] >= 0 and tt["cpu_s"] > 0
    assert tt["shuffle_write_mb"] == 0
    py = ("MapInArrow",)
    assert EL.sql_total(log, spans, py, "number of output rows") == 1000
    assert EL.sql_total(log, spans, py, "data sent to Python workers") > 8000
    assert EL.sql_total(log, spans, py, "data returned from Python workers") > 8000
    assert EL.task_skew(log, spans) >= 1.0


def test_write_command_metrics_match_disk(traced_run):
    log, _, _, sink, out = traced_run
    spans = {sink["id"]}
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert EL.sql_total(log, spans, ("Execute",), "number of written files") == len(files) == 4
    on_disk = sum(os.path.getsize(f) for f in files)
    assert EL.sql_total(log, spans, ("Execute",), "written output") == on_disk
    assert EL.sql_total(log, spans, ("Execute",), "number of output rows") == 1000
