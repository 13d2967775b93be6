#!/usr/bin/env python3
"""graft benchmark: the sync path on embedded Derby and a pinned catalog
slice, one workload per run.

    python3 perfbench/run.py --workload sync --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. The first run compiles the program and
the harness (``perfbench/build.sbt``) into ``$CARGO_TARGET_DIR`` (default
``.bench_build``); later runs reuse that build while the sources are
unchanged. Inputs are generated from ``--seed`` before any timing. With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of the traced run. ``README.md``
next to this file defines every metric.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from datetime import date, timedelta
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("sync", "catalog")

# Sizes per scale. "full" is the benchmark; "smoke" is the self-test's.
SCALES = {
    "full": {"sync_sf": 0.05, "days_per_op": 2, "range_days": 120,
             "csv_rows": 5_000, "catalog_sf": 0.01,
             "setup_reps": 3, "heap": "3g"},
    "smoke": {"sync_sf": 0.001, "days_per_op": 2, "range_days": 30,
              "csv_rows": 1_000, "catalog_sf": 0.001,
              "setup_reps": 2, "heap": "2g"},
}

# The pinned catalog slice, in a fixed order: small driver-bound queries
# from the bench headline set (aggregation, windows, joins, JSON, dedup,
# similarity, text, CDC), one streaming twin, and one query from the
# optimized statistics tail.
CATALOG_QUERIES = [
    "q_agg_pricing", "q_rollup", "q_window_running", "q_sessionize",
    "q_join_star", "q_date_slice", "q_json_extract", "q_dedup_exact",
    "q_sim_topk", "q_lang_id", "q_cdc_apply", "q_stream_windows",
    "q_wasserstein",
]
SMOKE_QUERIES = ["q_agg_pricing", "q_date_slice", "q_stream_windows"]
CATALOG_COPIES = 5  # one for the warm-up, one per pass of a traced run

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# --------------------------------------------------------------- build --

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """Compile program + harness with sbt; return the runtime classpath."""
    cp_file, stamp_file = build_dir / "classpath.txt", build_dir / "stamp"
    stamp = source_stamp()
    if (cp_file.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log("building program and harness with sbt ...")
    t0 = time.time()
    with open(build_dir / "build.log", "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("build timed out")
    lines = (build_dir / "build.log").read_text().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cp:
        die(f"build failed (see {build_dir / 'build.log'})")
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp[-1]


# -------------------------------------------------------------- inputs --

def make_inputs(workload, seed, scale, inputs):
    """Generate this run's inputs; returns the JVM's workload arguments
    and what the checks need."""
    rng = random.Random(seed)
    inputs.mkdir(parents=True)
    if workload == "sync":
        gen.orders(inputs, scale["sync_sf"], seed)
        gen.fake_orders_csv(inputs / "orders.csv", scale["csv_rows"], seed)
        # the catch-up start: any day in 1995-02 .. 2001-06, leaving room
        # for the operations after it; the backfill window anywhere in the
        # orders' date range
        start = date(1995, 2, 1) + timedelta(days=rng.randrange(0, 2340))
        r0 = gen.ORDER_DAY0 + timedelta(
            days=rng.randrange(0, gen.ORDER_DAYS - scale["range_days"]))
        r1 = r0 + timedelta(days=scale["range_days"] - 1)
        return ["--sf-dir", str(inputs), "--csv", str(inputs / "orders.csv"),
                "--start", start.isoformat(),
                "--days-per-op", str(scale["days_per_op"]),
                "--range-start", r0.isoformat(), "--range-end", r1.isoformat()
                ], {
            "range": (r0.isoformat(), r1.isoformat())}
    base = inputs / "base"
    base.mkdir()
    gen.tables(base, scale["catalog_sf"], seed)
    dirs = []
    for i in range(CATALOG_COPIES):
        d = inputs / f"copy{i}"
        shutil.copytree(base, d)
        dirs.append(str(d))
    queries = SMOKE_QUERIES if scale is SCALES["smoke"] else CATALOG_QUERIES
    return ["--queries", ",".join(queries), "--dirs", ",".join(dirs)], {
        "base": str(base)}


# ----------------------------------------------------------------- jvm --

def run_jvm(cp, workload, jargs, work, seconds, trace, scale, run_id):
    nproc = len(os.sched_getaffinity(0))
    cmd = ["java"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xmx{scale['heap']}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.stream.error.file={work / 'derby.log'}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--work", str(work),
            "--seconds", str(seconds), "--trace", str(trace),
            "--run-id", run_id, "--setup-reps", str(scale["setup_reps"])]
    cmd += jargs
    (work / "tmp").mkdir()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{workload} did not finish within {JVM_TIMEOUT_S} s "
                f"(log: {work / 'jvm.log'})")
    res = work / "result.json"
    if code != 0 or not res.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-2000:]
        die(f"{workload} JVM exited with {code}:\n{tail}")
    return json.loads(res.read_text()), nproc


# ------------------------------------------------------------- metrics --

def tail_value(values):
    """The highest percentile with at least 10 samples beyond it (the
    maximum when there are fewer than 11 samples), with its percentile."""
    v = sorted(values)
    if len(v) >= 11:
        return v[len(v) - 11], 100.0 * (len(v) - 10) / len(v)
    return v[-1], 100.0


def check_outputs(workload, res, extra, inputs):
    """(attempted, failures as (what, why), result rows per op index)."""
    units = []  # (what was checked, why it failed or None)
    rows_by_op = {}
    if workload == "sync":
        for op in res["ops"]:
            for c in op["calls"]:
                units.append((f"op {op['index']} {c['name']}", c["error"] or (
                    f"{c['mismatches']} reconcile mismatches"
                    if c["mismatches"] else None)))
        orders = inputs / "orders.parquet"
        done, side = check.expected_sync(orders, res["daily_from"],
                                         res["daily_to"])
        expected = {
            "orders": (check.ORDERS_TARGET, done),
            "incomplete_orders": (check.ORDERS_TARGET, side),
            "seed": (check.SEED_TARGET,
                     check.expected_seed(inputs / "orders.csv")),
            "range": (check.ORDERS_TARGET,
                      check.expected_sync(orders, *extra["range"])[0]),
        }
        for d in res["dumps"]:
            cols, exp = expected[d["kind"]]
            units.append((f"table {Path(d['path']).name}",
                          check.compare_table(d["path"], cols, exp)))
    else:
        oracle = check.Oracle(str(ROOT), extra["base"],
                              res["work"] + "/oracle_sql.json")
        passes = [("warm", res["warmup_calls"], None)] + [
            (f"p{op['index']}", op["calls"], op["index"]) for op in res["ops"]]
        for tag, calls, idx in passes:
            total = 0
            for c in calls:
                if c["error"]:
                    units.append((f"{tag} {c['name']}", c["error"]))
                    continue
                n, why = oracle.compare(
                    c["name"], Path(res["work"]) / "out" / tag / c["name"])
                total += n
                units.append((f"{tag} {c['name']}", why))
            if idx is not None:
                rows_by_op[idx] = total
    failed = [(k, why) for k, why in units if why]
    return len(units), failed, rows_by_op


def end_to_end(workload, res, rows_by_op):
    """The gated end-to-end metrics, and further figures that are only
    printed."""
    ops = [o for o in res["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops]

    def calls(name=None):
        return [c["wall_s"] for o in ops for c in o["calls"]
                if name in (None, c["name"])]
    if workload == "catalog":
        rows = sum(rows_by_op.get(o["index"], 0) for o in ops)
        primary = calls()
        shown = {}
    else:
        rows = sum(c["rows"] for o in ops for c in o["calls"])
        primary = calls("DailySync")
        shown = {f"{n}_s": (statistics.median(calls(n)), "s (median call)")
                 for n in ("CsvSeed", "DailySync", "RangeSync")}
    tail, pct = tail_value(primary)
    shown.update({
        "rows_per_s": (rows / sum(walls), "1/s"),
        "call_tail_s": (tail, f"s (p{pct:.0f} of {len(primary)} calls)"),
        "setup_cpu_s": (statistics.median(res["setup_reps_cpu_s"])
                        + res["warmup_cpu_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "ops": (len(walls), "count"),
    })
    return {
        "setup_s": (statistics.median(res["setup_reps_s"])
                    + res["warmup_s"], "s"),
        "cpu_s": (statistics.median(o["cpu_s"] for o in ops), "s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
    }, dict({"wall_s": (statistics.median(walls), "s"),
             "call_p50_s": (statistics.median(primary), "s")}, **shown)


def self_times(spans):
    """Per layer (the span-name prefix): span time not covered by its
    children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = (child.get(s["parent"], 0.0)
                                  + s["end_s"] - s["start_s"])
    out = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        own = s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
        out[layer] = out.get(layer, 0.0) + own
    return out


def per_layer(res, nproc, names):
    tr = res["trace"]
    spans, cnt = tr["spans"], tr["counters"]

    def total(name):
        return sum(s["end_s"] - s["start_s"] for s in spans
                   if s["name"] == name)

    def c(k):
        return float(cnt.get(k, 0.0))
    # operation 2 of 0..3 is the traced one; the overhead is its wall time
    # against the mean of the untraced operations on either side
    walls = [o["wall_s"] for o in res["ops"]]
    traced_wall = walls[2]
    days = [s["end_s"] - s["start_s"] for s in spans if s["name"] == "run.day"]
    sinks = [s for s in spans if s["name"] in ("io.merge", "io.refresh")]
    sink_s = sum(s["end_s"] - s["start_s"] for s in sinks)
    rows = sum(s["attrs"].get("rows", 0.0) for s in sinks)
    writes = len(sinks) + sum(1 for s in spans
                              if s["name"] == "catalog.execute")
    driver_ms = (c("spark.analysis_ms") + c("spark.optimization_ms")
                 + c("spark.planning_ms"))
    selfs = self_times(spans)
    m = {
        "op.csv_seed_s": (total("op.csv_seed"), "s"),
        "op.daily_sync_s": (total("op.daily_sync"), "s"),
        "op.range_sync_s": (total("op.range_sync"), "s"),
        "run.extract_s": (total("run.extract"), "s"),
        "run.session_s": (total("run.session"), "s"),
        "run.day_p50_s": (statistics.median(days) if days else 0.0, "s"),
        "run.day_tail_s": (tail_value(days)[0] if days else 0.0, "s"),
        "io.refresh_s": (total("io.refresh"), "s"),
        "io.stage_load_s": (tr["merge_job_s"], "s"),
        "io.merge_stmt_s": (max(0.0, total("io.merge") - tr["merge_job_s"]),
                            "s"),
        "io.count_back_s": (total("io.count_back"), "s"),
        "io.rows_written": (rows, "count"),
        "io.write_rows_per_s": (rows / sink_s if sink_s else 0.0, "1/s"),
        "core.csv_transform_s": (total("core.csv_transform"), "s"),
        "catalog.build_s": (total("catalog.build"), "s"),
        "catalog.execute_s": (total("catalog.execute"), "s"),
        "self.run_s": (selfs.get("run", 0.0), "s"),
        "self.io_s": (selfs.get("io", 0.0), "s"),
        "self.core_s": (selfs.get("core", 0.0), "s"),
        "self.catalog_s": (selfs.get("catalog", 0.0), "s"),
        "spark.actions": (c("spark.actions"), "count"),
        "spark.source_scans": (c("spark.source_scans"), "count"),
        "spark.scans_per_write": (
            c("spark.source_scans") / writes if writes else 0.0, "ratio"),
        "spark.jobs": (c("spark.jobs"), "count"),
        "spark.stages": (c("spark.stages"), "count"),
        "spark.tasks": (c("spark.tasks"), "count"),
        "spark.analysis_ms": (c("spark.analysis_ms"), "ms"),
        "spark.optimization_ms": (c("spark.optimization_ms"), "ms"),
        "spark.planning_ms": (c("spark.planning_ms"), "ms"),
        "spark.driver_share": (
            driver_ms / 1e3 / traced_wall if traced_wall else 0.0, "ratio"),
        "spark.task_cpu_s": (c("spark.task_cpu_s"), "s"),
        "spark.task_run_s": (c("spark.task_run_s"), "s"),
        "spark.scheduler_delay_s": (c("spark.scheduler_delay_s"), "s"),
        "spark.cpu_busy_ratio": (
            c("spark.task_cpu_s") / (traced_wall * nproc)
            if traced_wall else 0.0, "ratio"),
        "spark.shuffle_write_mb": (c("spark.shuffle_write_mb"), "MB"),
        "spark.spill_mb": (c("spark.spill_mb"), "MB"),
        "spark.task_gc_s": (c("spark.task_gc_s"), "s"),
        "streaming.batches": (c("streaming.batches"), "count"),
        "streaming.add_batch_ms": (c("streaming.addBatch_ms"), "ms"),
        "streaming.query_planning_ms": (c("streaming.queryPlanning_ms"),
                                        "ms"),
        "streaming.wal_commit_ms": (c("streaming.walCommit_ms"), "ms"),
        "streaming.latest_offset_ms": (c("streaming.latestOffset_ms"), "ms"),
        "jvm.gc_s": (c("jvm.gc_s"), "s"),
        "host.busy_ratio": (res["host"]["busy_ratio"], "ratio"),
        "host.steal_ratio": (res["host"]["steal_ratio"], "ratio"),
        "trace.overhead_s": (walls[2] - (walls[1] + walls[3]) / 2, "s"),
    }
    for q in names:
        per = [s["end_s"] - s["start_s"] for s in spans
               if s["name"] == f"query.{q}"]
        m[f"query.{q}_s"] = (statistics.median(per) if per else 0.0, "s")
    return m


# ---------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    a = ap.parse_args()
    if not (ROOT / "build.sbt").exists() or not (
            ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no graft sources under {ROOT}: run from a repository checkout")
    scale = SCALES[a.scale]
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    cp = build(build_dir)

    run_id = f"{a.workload}_s{a.seed}_t{a.trace}_{os.getpid()}"
    work = ROOT / ".bench_out" / run_id
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    inputs = work / "inputs"
    t0 = time.time()
    jargs, extra = make_inputs(a.workload, a.seed, scale, inputs)
    log(f"inputs generated in {time.time() - t0:.1f} s")
    res, nproc = run_jvm(cp, a.workload, jargs, work, a.seconds, a.trace,
                         scale, run_id)
    res["work"] = str(work)
    t1 = time.time()
    attempted, failed, rows_by_op = check_outputs(a.workload, res, extra,
                                                  inputs)
    log(f"jvm {t1 - t0:.1f} s (incl. inputs), checks {time.time() - t1:.1f} s")
    for k, why in failed[:10]:
        log(f"FAILED {k}: {why}")
    e2e, extra_metrics = end_to_end(a.workload, res, rows_by_op)
    host = res["host"]
    print(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace} "
          f"nproc={nproc} task_threads={host['task_threads']} "
          f"heap_max_mb={host['heap_max_mb']:.0f} "
          f"host_busy={host['busy_ratio']:.3f} "
          f"host_steal={host['steal_ratio']:.4f}")
    # a traced run's untraced operations are not the untraced run's
    # single one (the first is cold, the rest warm): no end-to-end figures
    shown = {} if a.trace else dict(e2e, **extra_metrics)
    shown["fail_ratio"] = (len(failed) / attempted, "ratio")
    for k, (v, unit) in shown.items():
        print(f"[perfbench] {k} = {v:.6g} {unit}")
    if a.trace:
        metrics = per_layer(res, nproc, CATALOG_QUERIES)
        for k, (v, unit) in metrics.items():
            print(f"[perfbench] {k} = {v:.6g} {unit}")
    else:
        metrics = e2e
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in shown.items()},
                "failed": failed, "raw": res}
    (ROOT / ".bench_out" / f"{run_id}.json").write_text(json.dumps(artifact))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
