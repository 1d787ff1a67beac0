#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <etl_daily|iterative_heavy>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the
benchmark's JVM side from source (cached under ``.bench_build/``),
generates the workload's inputs, runs one pass of the workload
closed-loop with one client on ``local[<all cores>]``, checks every
result, and prints a summary followed by one JSON line:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` a Spark listener attributes every
job to the operation that caused it and the metrics are the per-layer
ones. The full per-layer record goes to its own file under
``.bench_build/perfbench/layers/``. ``--seconds`` is accepted and
ignored: a run is always one pass, so what is measured never depends on
a time budget. See ``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import stats    # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("etl_daily", "iterative_heavy")
GEN_REPEATS = 3          # input generation is repeated; setup reports the median
RUN_LIMIT_S = 170        # a run must end well inside three minutes
BUILD_LIMIT_S = 800
PERCENTILE = 90          # op latency percentile reported next to the median
CORES = os.cpu_count() or 4   # Spark runs local[CORES]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

PER_LAYER = [
    "queries.construct_ms", "queries.plan_ms", "queries.action_ms",
    "spark.jobs", "spark.jobs_per_op", "spark.stages", "spark.tasks", "spark.driver_idle_ms",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.executor_cpu_s", "spark.gc_s", "spark.cores_busy",
    "pipeline.land_s", "pipeline.transform_s", "pipeline.warehouse_load_s",
    "pipeline.star_schema_s", "pipeline.noop_transform_s", "pipeline.retried", "ledger.skipped",
    "sources.read_ms", "quality.check_ms", "tablestore.files_written",
    "tablestore.bytes_written_mb", "tablestore.write_amp",
    "etl.rows_per_s", "etl.incremental_s", "etl.noop_rerun_s",
    "calib.drift", "trace.unattributed_jobs"]
HEAVY_ROWS = ["q142_pagerank", "q248_hits", "q291_label_propagation", "q246_dbscan",
              "q106_dedup_keep_best", "q221_entity_resolution"]
PER_LAYER += [f"op.{r}.{m}" for r in HEAVY_ROWS for m in ("wall_ms", "jobs")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def _stamp():
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
              os.path.join(ROOT, "build.sbt")]
    for base in inputs:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark once per source state; return
    the runtime classpath and the stamp of the sources it was built from."""
    stamp = _stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
            opts.append("-Dsbt.override.build.repos=true")
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            out = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
        log.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        fail(f"build failed; see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


# ------------------------------------------------------------------- inputs

def generate(workload, seed, data_dir):
    """Generate the inputs GEN_REPEATS times; return (median seconds,
    expected file, manifest)."""
    times, manifest = [], None
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "etl_daily":
            manifest = gen.etl_sources(data_dir, seed)
        else:
            manifest = {"input_bytes": gen.registry_tables(data_dir)}
        times.append(time.perf_counter() - t0)
    if workload == "etl_daily":
        expected = os.path.join(data_dir, "expected.tsv")
        gen.write_expected_tsv(expected, manifest)
    else:
        expected = os.path.join(HERE, "expected", "query_hashes.tsv")
    return stats.median(times), expected, manifest


def rows_file(workload):
    return os.path.join(HERE, "workloads", f"{workload}.txt")


# ----------------------------------------------------------------- the JVM

def run_jvm(cp, args, work, log_path, deadline):
    java = shutil.which("java")
    if java is None:
        fail("java is not on PATH")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap: no resizing in the middle of a measurement
        # no perf-data file outside the checkout
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
        "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp,
        "-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit; see {log_path}")
    if p.returncode != 0:
        fail(f"JVM exited with {p.returncode}; see {log_path}")


# ----------------------------------------------------------------- metrics

def end_to_end(res, ok_ops, setup_s):
    """The gated metrics. Operation-latency percentiles are printed in the
    summary only: a pass is 4 or 6 fixed operations, so a percentile is
    the time of whichever operation ranks there and flips between runs
    (see perfbench/README.md)."""
    info = res["info"]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(o["wall_ms"] for o in ok_ops) / 1000.0, "s"),
        "ops_per_s": (len(ok_ops) / info["measure_s"], "1/s"),
        "peak_rss_mb": (info["vmhwm_kb"] / 1024.0, "MB"),
    }


def etl_extras(ok_ops, manifest):
    """Metrics only the pipeline workload has."""
    def med_s(name):
        v = [o["wall_ms"] for o in ok_ops if o["name"] == name]
        return stats.median(v) / 1000.0 if v else 0.0
    full = med_s("pipeline.full")
    return {"etl.rows_per_s": manifest["full_source_rows"] / full if full else 0.0,
            "etl.incremental_s": med_s("pipeline.incremental"),
            "etl.noop_rerun_s": med_s("pipeline.noop")}


def per_layer(res, ok_ops, workload, manifest):
    ops = res["ops"]

    def med(key, sel=ok_ops):
        v = [o[key] for o in sel if key in o]
        return stats.median(v) if v else 0.0

    def total(key):
        return sum(o.get(key, 0.0) for o in ops)

    m = {
        "queries.construct_ms": med("construct_ms"),
        "queries.plan_ms": med("plan_ms"),
        "queries.action_ms": med("action_ms"),
        "spark.jobs": total("jobs"),
        "spark.jobs_per_op": total("jobs") / max(1, len(ops)),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.driver_idle_ms": total("idle_ms"),
        "spark.shuffle_read_mb": total("shuffle_read_bytes") / 2**20,
        "spark.shuffle_write_mb": total("shuffle_write_bytes") / 2**20,
        "spark.spill_mb": total("spill_bytes") / 2**20,
        "spark.executor_cpu_s": total("cpu_ms") / 1000.0,
        "spark.gc_s": total("gc_ms") / 1000.0,
        "spark.cores_busy": total("run_ms") / max(1e-9, total("wall_ms")),
        "calib.drift": stats.median(res["calib_end_ms"]) / stats.median(res["calib_start_ms"]),
        "trace.unattributed_jobs": float(res["span_jobs"].get("unattributed", 0)),
    }
    pipes = [o for o in ok_ops if o["name"].startswith("pipeline.")]
    noop = [o for o in pipes if o["name"] == "pipeline.noop"]
    checks = [o for o in ok_ops if o["name"].startswith("quality.")]
    written = sum(o.get("bytes_written", 0.0) for o in pipes)
    m.update({
        "pipeline.land_s": sum(o["land_s"] for o in pipes),
        "pipeline.transform_s": sum(o["transform_s"] for o in pipes),
        "pipeline.warehouse_load_s": sum(o["warehouse_load_s"] for o in pipes),
        "pipeline.star_schema_s": sum(o["star_schema_s"] for o in pipes),
        "pipeline.noop_transform_s": med("transform_s", noop),
        "pipeline.retried": sum(o["retried"] for o in pipes),
        "ledger.skipped": sum(o["land_skipped"] + o["load_skipped"] for o in pipes),
        "sources.read_ms": sum(o["read_ms"] for o in pipes),
        "quality.check_ms": med("check_ms_median", checks),
        "tablestore.files_written": sum(o.get("files_written", 0.0) for o in pipes),
        "tablestore.bytes_written_mb": written / 2**20,
        "tablestore.write_amp": written / manifest["input_bytes"] if pipes else 0.0,
    })
    m.update(etl_extras(ok_ops, manifest) if workload == "etl_daily" else
             {k: 0.0 for k in ("etl.rows_per_s", "etl.incremental_s", "etl.noop_rerun_s")})
    for r in HEAVY_ROWS:
        sel = [o for o in ok_ops if o["name"] == r]
        m[f"op.{r}.wall_ms"] = med("wall_ms", sel)
        m[f"op.{r}.jobs"] = med("jobs", sel)
    return m


def attribution(res):
    """The trace's own consistency checks (reported, and asserted by the
    self-tests). Spark numbers a context's jobs 0, 1, 2, ..., and the
    listener is registered before the first, so ``job_ids_total`` (the
    highest job id + 1) counts every job whether or not the listener saw
    its start: the jobs in named spans and the listener's own count must
    both equal it, and every job an operation's span claims must have run
    inside that operation's wall-clock window."""
    named = {k: v for k, v in res["span_jobs"].items() if k != "unattributed"}
    return {"job_ids_total": int(res["info"].get("trace_max_job_id", -1)) + 1,
            "listener_jobs_total": int(res["info"].get("trace_total_jobs", 0)),
            "named_span_jobs_total": sum(named.values()),
            "op_jobs_total": int(sum(o.get("jobs", 0) for o in res["ops"])),
            "unattributed_jobs": res["span_jobs"].get("unattributed", 0),
            "jobs_outside_op": int(sum(o.get("jobs_outside_op", 0) for o in res["ops"]))}


def overhead_share(history, workload, stamp, traced_wall_s):
    """Traced ``wall_s`` ÷ the median ``wall_s`` of the untraced runs of
    the same build in this checkout, − 1; None when there are none."""
    if not os.path.exists(history):
        return None, 0
    with open(history) as f:
        base = [r["wall_s"] for r in map(json.loads, f)
                if r["workload"] == workload and r.get("stamp") == stamp]
    return (traced_wall_s / stats.median(base) - 1.0 if base else None), len(base)


# -------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted and ignored: a run is always one pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the root of a checkout of the engine (no src/main/scala here)")

    cp, stamp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    gen_s, expected, manifest = generate(a.workload, a.seed, data)
    out = os.path.join(work, "result.json")
    args = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "data": data,
            "work": work, "out": out, "cores": CORES, "expected": expected}
    if a.workload != "etl_daily":
        args["list"] = rows_file(a.workload)
    run_jvm(cp, args, work, os.path.join(BUILD, f"jvm-{a.workload}.log"), deadline)
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    ok_ops = [o for o in ops if o["ok"]]
    attempted, failed = len(ops), len(ops) - len(ok_ops)
    listed = ({o["name"] for o in ops} if a.workload == "etl_daily" else
              {l.strip() for l in open(rows_file(a.workload)) if l.strip() and not l.startswith("#")})
    correct = failed == 0 and listed <= {o["name"] for o in ok_ops}
    for o in ops:
        if not o["ok"]:
            print(f"FAILED {o['name']}: {o['error']}")

    info = res["info"]
    setup_s = gen_s + info["session_start_s"] + info["warmup_s"]
    e2e = end_to_end(res, ok_ops, setup_s) if ok_ops else {}
    history = os.path.join(BUILD, "history.jsonl")
    if a.trace == 0 and e2e:
        with open(history, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "stamp": stamp,
                                "wall_s": e2e["wall_s"][0]}) + "\n")

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cores {CORES}  "
          f"measured {info['measure_s']:.1f} s (one pass; --seconds ignored)")
    print(f"  failed_share {failed / max(1, attempted):.4f} ({failed} of {attempted} operations)")
    walls = [o["wall_ms"] for o in ok_ops]
    if walls:
        s = stats.summary(walls, PERCENTILE)
        print(f"  op latency over n={s['n']} operations: p50 {s['p50']:.1f} ms, "
              f"p{PERCENTILE} {s[f'p{PERCENTILE}']:.1f} ms ({s['beyond']} samples beyond)")
    for k, (v, unit) in e2e.items():
        print(f"  {k:<16} {v:14.4f} {unit}")
    if a.workload == "etl_daily" and ok_ops:
        for k, v in etl_extras(ok_ops, manifest).items():
            print(f"  {k:<16} {v:14.4f} {'rows/s' if k.endswith('per_s') else 's'}")
    c0, c1 = stats.median(res["calib_start_ms"]), stats.median(res["calib_end_ms"])
    print(f"  calib.drift      {c1 / c0:14.4f} (calibration job {c0:.1f} ms at start, {c1:.1f} ms at end)")

    if a.trace == 1:
        overhead, n_base = (overhead_share(history, a.workload, stamp, e2e["wall_s"][0])
                            if e2e else (None, 0))
        if overhead is None:
            print("  trace.overhead_share   absent (no untraced run of this build in this checkout)")
        else:
            print(f"  trace.overhead_share {overhead:10.4f} (against {n_base} untraced runs)")
        layers = per_layer(res, ok_ops, a.workload, manifest) if ok_ops else {}
        record = {"workload": a.workload, "seed": a.seed, "cores": CORES, "stamp": stamp,
                  "end_to_end_traced": {k: v for k, (v, _) in e2e.items()},
                  "per_layer": layers, "attribution": attribution(res),
                  "trace.overhead_share": overhead, "untraced_runs_of_this_build": n_base,
                  "ops": ops}
        layer_dir = os.path.join(BUILD, "layers")
        os.makedirs(layer_dir, exist_ok=True)
        path = os.path.join(layer_dir, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1)
        print(f"  per-layer record: {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": bool(correct and ok_ops), "attempted": max(1, attempted),
                      "failed": failed if attempted else 1, "metrics": metrics}))
    return 0


def unit_of(name):
    tail = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if tail.endswith(suffix):
            return unit
    if tail in ("drift", "write_amp", "cores_busy"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
