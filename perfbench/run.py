#!/usr/bin/env python3
"""Page-text benchmark: four workloads over seeded page tables.

Run from the repository root::

    python3 perfbench/run.py --workload html_text --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer ones (Spark event log, spans, in-process kernel
timings).  The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
carries ``wrong_pages``, ``failed_share``, the run walls and the load
context.  The exit code is non-zero when any page is wrong or failed.

Spark runs as one driver process with ``nproc`` task slots.  Only the
single-slot leg of ``scaling.eff`` (traced runs) uses one slot, on a
hash-gated 1/nproc subset of the pages.  Everything the run writes goes
under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("html_text", "html_words", "raster_ocr", "curate_dedup")
SETUP_REPS = 3
MIN_RUNS = 2  # counted runs, after the settle runs
# Full-size runs before counting: a run after the small warm-up is still
# 10-25% slow, the next one 5-15% (the JVM compiles the full-size paths;
# curate_dedup's first run also warms its whole chain).
SETTLE_RUNS = 2
MIN_TRACE_RUNS = 1
# --trace 1 splits --seconds between the single-slot, untraced and
# traced legs
TRACE_SHARES = (0.3, 0.3, 0.4)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(cores: int, eventlog_dir: str | None = None):
    from tesseract_rs_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                # zstd is the default codec and its module is absent
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    got = spark.sparkContext.defaultParallelism
    if got != cores:
        raise RuntimeError(f"session has {got} task slots, wanted {cores}")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit, so no
    process of the run outlives it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# measured legs
# ---------------------------------------------------------------------------


class Leg:
    """Repeated runs of one job on one input until ``seconds`` of job
    time are spent.  Outputs of the first and last run are checked
    against the golden rows in full; every other run must write the
    same number of rows as the first, or it is checked in full too.
    The first ``settle`` runs are full-size warm-up: checked and
    reported, but left out of ``job_s``."""

    def __init__(self, workload, spark, tr, src, golden, pages, name, settle: int = 0):
        self.workload, self.spark, self.tr, self.settle = workload, spark, tr, settle
        self.src, self.golden, self.pages, self.name = src, golden, pages, name
        self.walls = []
        self.attempted = self.failed = self.wrong = 0
        self.digests, self.notes = set(), {}
        self.dst = os.path.join(WORK, "out", f"{workload}-{name}")

    def _check(self):
        from perfbench.check import check

        v = check(self.workload, self.dst, self.golden)
        self.wrong += v.wrong
        self.failed += v.failed
        self.digests.add(v.digest)
        self.notes.update(v.notes)
        return v

    def run(self, seconds: float, post=None, min_runs: int = MIN_TRACE_RUNS) -> "Leg":
        from perfbench.check import output_rows
        from perfbench.workloads import JOBS

        first_rows = None
        spent, i = 0.0, 0
        while spent < seconds or i < min_runs + self.settle:
            scratch = os.path.join(WORK, "scratch", f"{self.name}-{i}")
            shutil.rmtree(scratch, ignore_errors=True)
            os.makedirs(scratch)
            self.attempted += self.pages
            try:
                with self.tr.run(self.workload) as root:
                    info = JOBS[self.workload](self.spark, self.tr, self.src, self.dst, scratch)
            except Exception:
                log(f"{self.name} run {i} raised:\n{traceback.format_exc()}")
                self.failed += self.pages
                spent += time.perf_counter() - root["start"]
                i += 1
                continue
            wall = root["end"] - root["start"]
            self.walls.append(wall)
            if i >= self.settle:
                spent += wall
            if post is not None:
                post(root, info)
            rows = output_rows(self.dst)
            if first_rows is None:
                first_rows = rows
                self._check()
            elif rows != first_rows:
                log(f"{self.name} run {i}: {rows} rows, first run wrote {first_rows}")
                self._check()
            i += 1
            if spent < seconds:
                shutil.rmtree(scratch, ignore_errors=True)
        if self.walls and len(self.walls) > 1:
            self._check()
        if len(self.digests) > 1:
            log(f"{self.name}: output digest differs between runs")
            self.wrong += self.pages
        return self

    @property
    def job_s(self) -> float:
        counted = self.walls[self.settle:]
        return statistics.median(counted) if counted else float("nan")


def warm_up(workload, spark, tr_off, inp: str, full: bool = False) -> None:
    """The warm-up run of a set-up: the workload's job on the small warm
    input.  curate_dedup warms up with its first stage only (extraction
    to parquet) unless ``full``: its whole chain costs ~10 s of fixed
    Spark job overhead at any input size, so an untraced run warms the
    chain with its settle run instead."""
    from perfbench.workloads import JOBS

    scratch = os.path.join(WORK, "scratch", "warm")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    job = "html_text" if workload == "curate_dedup" and not full else workload
    with tr_off.run(workload):
        JOBS[job](spark, tr_off, os.path.join(inp, "warm"),
                  os.path.join(WORK, "out", f"{workload}-warm"), scratch, warm=True)
    shutil.rmtree(scratch, ignore_errors=True)


def check_cross_run_digest(inp: str, leg: Leg) -> None:
    """The output digest of a seed must match the one recorded by the
    first run of that seed (curate_dedup's survivor set, every other
    workload's text)."""
    if len(leg.digests) != 1:
        return
    path = os.path.join(inp, f"digest-{leg.workload}-{leg.name}.txt")
    digest = next(iter(leg.digests))
    if os.path.exists(path):
        with open(path) as f:
            if f.read().strip() != digest:
                log(f"{leg.name}: digest differs from an earlier run of this seed")
                leg.wrong += leg.pages
    else:
        with open(path, "w") as f:
            f.write(digest)


# ---------------------------------------------------------------------------
# context
# ---------------------------------------------------------------------------


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "tesseract_rs_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def cpu_probe_s() -> float:
    """Wall of a fixed single-core Python loop: how fast this box runs
    right now, independent of the program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def cpu_times() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def context(args, load_before, cpu_before, probe_before) -> dict:
    import pyarrow
    import pyspark

    cpu = [b - a for a, b in zip(cpu_before, cpu_times())]
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "loadavg_before": list(load_before),
        "loadavg_after": list(os.getloadavg()),
        # share of CPU time the hypervisor gave to other guests
        "cpu_steal_share": cpu[7] / sum(cpu) if len(cpu) > 7 and sum(cpu) else None,
        "cpu_probe_s_before": probe_before,
        "cpu_probe_s_after": cpu_probe_s(),
        "git_sha": git_sha(),
        "source_digest": source_digest(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


# ---------------------------------------------------------------------------
# end-to-end run (--trace 0)
# ---------------------------------------------------------------------------


def run_untraced(args, inp, manifest):
    """Three set-ups (session + warm-up; the first also launches the
    JVM), then the measured runs at nproc slots."""
    from perfbench.tracing import Tracer

    off = Tracer(enabled=False)
    wl = args.workload
    spark, setup = None, []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(nproc())
        warm_up(wl, spark, off, inp)
        setup.append(time.perf_counter() - t0)
    log(f"set-ups: {[round(x, 3) for x in setup]}")
    main = Leg(wl, spark, off, os.path.join(inp, "main"),
               os.path.join(inp, "golden.parquet"), manifest["main"]["pages"], "main",
               settle=SETTLE_RUNS)
    main.run(args.seconds, min_runs=MIN_RUNS)
    spark.stop()
    check_cross_run_digest(inp, main)
    metrics = {
        "job_s": main.job_s,
        "pages_per_s": main.pages / main.job_s,
        "setup_s": statistics.median(setup),
    }
    return metrics, {"main": main}


# ---------------------------------------------------------------------------
# traced run (--trace 1)
# ---------------------------------------------------------------------------


def run_traced(args, inp, manifest):
    from perfbench import eventlog as EL
    from perfbench import micro
    from perfbench.tracing import RssSampler, Tracer, ancestors, self_times

    cores = nproc()
    wl = args.workload
    golden = os.path.join(inp, "golden.parquet")
    pages = manifest["main"]["pages"]
    off = Tracer(enabled=False)
    with RssSampler() as rss:
        # single-slot leg first, on the hash-gated 1/nproc subset; its
        # session launches the JVM
        t0 = time.perf_counter()
        spark = start_session(1)
        session_start = time.perf_counter() - t0
        # legs here take one run at least, so the whole job is warmed once
        warm_up(wl, spark, off, inp, full=True)
        one = Leg(wl, spark, off, os.path.join(inp, "subset"),
                  os.path.join(inp, "golden_subset.parquet"), manifest["subset"]["pages"],
                  "one").run(args.seconds * TRACE_SHARES[0], min_runs=1)
        log(f"single-slot leg: {one.walls}")
        spark.stop()
        spark = start_session(cores)
        warm_up(wl, spark, off, inp)
        # both legs settle first, as the untraced run does, so that the
        # overhead share compares like with like
        plain = Leg(wl, spark, off, os.path.join(inp, "main"), golden, pages,
                    "main", settle=1).run(args.seconds * TRACE_SHARES[1])
        spark.stop()

        ev_dir = os.path.join(WORK, "eventlog", f"{wl}-{os.getpid()}-{time.time_ns()}")
        spark = start_session(cores, ev_dir)
        warm_up(wl, spark, off, inp)
        tr = Tracer(spark, enabled=True)
        group_s: dict = {}  # run id -> sum of checkpoint group walls
        last: list = [None]  # the last run's DataFrames, for the probes

        def post(root, info):
            if "ckpt" in info:
                from tesseract_rs_spark.plans.checkpoint import read_lineage

                lineage = read_lineage(info["ckpt"])
                group_s[root["id"]] = sum(r["wall_s_group"] / r["group_size"] for r in lineage)
                last[0] = info

        traced = Leg(wl, spark, tr, os.path.join(inp, "main"), golden, pages,
                     "traced", settle=1).run(args.seconds * TRACE_SHARES[2], post)
        probes = dedup_probes(tr, last[0])
        spark.stop()
    legs = {"one": one, "plain": plain, "traced": traced}
    events = EL.parse(next(os.path.join(ev_dir, f) for f in os.listdir(ev_dir)))
    shutil.rmtree(ev_dir, ignore_errors=True)
    if events.untagged_jobs:
        log(f"{events.untagged_jobs} Spark jobs outside any span (warm-up and probes)")

    spans = tr.spans
    tr.write(os.path.join(WORK, f"spans-{wl}.jsonl"))
    selfs = self_times(spans)
    anc = ancestors(spans)
    roots = [s for s in spans if s["parent"] is None and s["name"] == wl]
    rows = [
        layer_row(events, spans, selfs, anc, root, group_s.get(root["id"], 0.0))
        for root in roots[traced.settle:]
    ]
    metrics = {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
    metrics.update(probes)
    metrics["functions.dedup.cluster_jobs"] = EL.job_count(events, {
        s["id"] for s in spans if s["name"] == "functions.dedup.dup_clusters"
        and spans[s["parent"]]["name"] == "probe"})
    metrics["session.start_s"] = session_start
    metrics["session.peak_rss_mb"] = rss.peak
    metrics["trace.overhead_share"] = traced.job_s / plain.job_s - 1
    metrics["scaling.eff"] = (plain.pages / plain.job_s) / (one.pages / one.job_s) / cores
    log("span self times (median over runs): " + json.dumps(self_time_table(spans, selfs)))
    t0 = time.perf_counter()
    metrics.update(micro.run_all(args.seed))
    log(f"kernel timings took {time.perf_counter() - t0:.1f}s")
    return metrics, legs


def layer_row(events, spans, selfs, anc, root, group_s: float) -> dict:
    """Per-layer figures of one traced run (root span ``root``)."""
    from perfbench import eventlog as EL

    rid = root["id"]
    mine = {s["id"] for s in spans if s["run"] == rid}
    self_sum = sum(selfs[s] for s in mine)
    job = root["end"] - root["start"]
    if abs(self_sum - job) > 1e-6 * max(1.0, job):
        raise AssertionError(f"span self times sum to {self_sum}, job took {job}")

    def within(name):
        return {s for s in mine if any(spans[a]["name"] == name for a in anc[s])}

    def dur(name):
        return sum(spans[s]["end"] - spans[s]["start"] for s in mine if spans[s]["name"] == name)

    def sql(span_ids, nodes, metric):
        return EL.sql_total(events, span_ids, nodes, metric)

    tt = EL.task_totals(events, mine)
    py = ("MapInPandas", "MapInArrow")
    sink = within("sink.write")
    ck = within("plans.checkpoint.run_checkpointed")
    mb = 2**20
    run_s = dur("plans.checkpoint.run_checkpointed")
    return {
        "trace.job_s": job,
        "trace.self_sum_s": self_sum,
        "scan.read_mb": sql(mine, ("Scan",), "size of files read") / mb,
        "scan.s": sql(mine, ("Scan",), "scan time"),
        "boundary.sent_mb": sql(mine, py, "data sent to Python workers") / mb,
        "boundary.returned_mb": sql(mine, py, "data returned from Python workers") / mb,
        "boundary.python_s": sql(mine, py, "time to run Python workers"),
        "boundary.worker_init_s": sql(mine, py, "time to start Python workers")
        + sql(mine, py, "time to initialize Python workers"),
        "spark.task_s": tt["task_s"],
        "spark.cpu_s": tt["cpu_s"],
        "spark.gc_s": tt["gc_s"],
        "spark.tasks": tt["tasks"],
        "spark.jobs": EL.job_count(events, mine),
        "spark.task_skew": EL.task_skew(events, mine),
        "spark.shuffle_write_mb": tt["shuffle_write_mb"],
        "spark.shuffle_read_mb": tt["shuffle_read_mb"],
        "spark.spill_mb": tt["spill_mb"],
        "sink.written_mb": sql(sink, ("Execute",), "written output") / mb,
        "sink.files": sql(sink, ("Execute",), "number of written files"),
        "sink.commit_s": sql(sink, ("Execute",), "task commit time")
        + sql(sink, ("Execute",), "job commit time"),
        "functions.cleaning.curate_s": dur("functions.cleaning.curate"),
        "plans.checkpoint.run_s": run_s,
        "plans.checkpoint.group_s": group_s,
        "plans.checkpoint.overhead_s": run_s - group_s,
        "plans.checkpoint.written_mb": sql(ck, ("Execute",), "written output") / mb,
    }


def self_time_table(spans, selfs) -> dict:
    by_name: dict = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(selfs[s["id"]])
    return {k: round(statistics.median(v), 4) for k, v in by_name.items()}


def dedup_probes(tr, info) -> dict:
    """Layer figures of the last traced curate_dedup run, measured after
    it on its curated set as separate actions, each in a span of a
    ``probe`` root: rows kept by curation, LSH candidate and verified
    pairs, and the MinHash and clustering walls.  Inside the job the two
    dedup layers cannot be told apart, because ``dup_clusters`` computes
    the lazy pairs in its first round."""
    from perfbench.workloads import FUZZY
    from tesseract_rs_spark.functions.dedup import (
        dup_clusters,
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
    )

    out = {"functions.cleaning.kept_share": 0.0, "functions.dedup.lsh_candidates": 0,
           "functions.dedup.verified_pairs": 0, "functions.dedup.verify_yield": 0.0,
           "functions.dedup.minhash_s": 0.0, "functions.dedup.clusters_s": 0.0}
    if info is None:
        return out
    curated = info["curated"]
    flat = info["flat"].count()
    kept = curated.count()
    cands = lsh_candidate_pairs(minhash_signatures(curated, "url"), id_col="url").count()
    with tr.run("probe"):
        with tr.span("functions.dedup.minhash_dedup_pairs") as mh:
            pairs = minhash_dedup_pairs(curated, threshold=FUZZY, id_col="url")
            pairs = pairs.select("id_a", "id_b").localCheckpoint()
        with tr.span("functions.dedup.dup_clusters") as cl:
            dup_clusters(pairs).filter("doc_id != cluster_id").count()
    verified = pairs.count()
    out.update({
        "functions.cleaning.kept_share": kept / flat if flat else 0.0,
        "functions.dedup.lsh_candidates": cands,
        "functions.dedup.verified_pairs": verified,
        "functions.dedup.verify_yield": verified / cands if cands else 0.0,
        "functions.dedup.minhash_s": mh["end"] - mh["start"],
        "functions.dedup.clusters_s": cl["end"] - cl["start"],
    })
    return out


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------


def declared(trace: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_one(args) -> int:
    import tesseract_rs_spark  # noqa: F401  (fail before any output without the package)
    from perfbench import inputs

    units = declared(args.trace)
    for d in ("scratch", "out"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    load_before, cpu_before, probe_before = os.getloadavg(), cpu_times(), cpu_probe_s()
    t0 = time.perf_counter()
    inp, manifest = inputs.ensure(args.workload, args.seed, os.path.join(WORK, "inputs"), nproc())
    log(f"inputs ready in {time.perf_counter() - t0:.1f}s: {json.dumps(manifest)}")
    try:
        metrics, legs = (run_traced if args.trace else run_untraced)(args, inp, manifest)
    finally:
        shutdown_jvm()
    attempted = sum(l.attempted for l in legs.values())
    failed = sum(l.failed for l in legs.values())
    wrong = sum(l.wrong for l in legs.values())
    missing = set(units) - set(metrics)
    extra = set(metrics) - set(units)
    if missing or extra:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}")
    report = {
        "wrong_pages": wrong,
        "failed_share": failed / attempted if attempted else 1.0,
        "runs": {k: [round(w, 4) for w in l.walls] for k, l in legs.items()},
        "notes": {k: l.notes for k, l in legs.items() if l.notes},
        "inputs": manifest,
        "context": context(args, load_before, cpu_before, probe_before),
    }
    print(json.dumps({"perfbench_report": report}))
    result = {
        "correct": wrong == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed + wrong,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def run_all(args) -> int:
    """Every workload in its own process; prints one table and exits
    non-zero if any workload did."""
    worst = 0
    rows = []
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        worst = max(worst, p.returncode)
        lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
        report = next((x["perfbench_report"] for x in lines if "perfbench_report" in x), {})
        result = next((x for x in lines if "metrics" in x), None)
        rows.append({"workload": wl, "exit": p.returncode,
                     "wrong_pages": report.get("wrong_pages"),
                     "failed_share": report.get("failed_share"),
                     "metrics": result and {k: [round(v["value"], 4), v["unit"]]
                                            for k, v in result["metrics"].items()}})
        print(json.dumps(rows[-1]), flush=True)
    ok = worst == 0
    print(json.dumps({"correct": ok, "workloads": rows}))
    return worst


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + os.environ["PYTHONPATH"]
                                       if os.environ.get("PYTHONPATH") else "")
    if args.workload == "all":
        return run_all(args)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
