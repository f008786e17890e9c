#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measuring window.

Usage (from the repository root):
  python3 perfbench/run.py --workload <iterative|dml|dedup_text>
      --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per source state),
generates the input tables from the seed, runs one harness JVM on
local[nproc] with a single client thread, checks results against the
DuckDB oracle and prints one line per metric, then a JSON summary as the
last line. A run measures round(seconds / nominal pass length) whole
passes of the workload after two untimed warm-up passes. `--trace 0`
reports the end-to-end metrics; `--trace 1` registers the listeners and
reports the per-layer split. Full per-statement records go to
perfbench/out/records/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)
import workloads  # noqa: E402

SF = 0.01            # input scale: 60k lineitem rows
JVM_TIMEOUT_S = 150
ENGINE_KNOBS = ["SPARK_GRAFT_AQE_MIN_PARTITION", "SPARK_GRAFT_SCHED",
                "SPARK_GRAFT_CPUS"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
DML_KINDS = ["ctas"] + [kind for kind, _ in workloads.DML_MIX]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---- build ---------------------------------------------------------------

def source_files():
    files = []
    for pattern in ("src/main/**/*", "perfbench/src/**/*", "perfbench/build.sbt",
                    "perfbench/project/build.properties"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    return sorted(files)


def source_hash():
    h = hashlib.sha256(ROOT.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    stamp_dir = os.path.join(OUT, "build")
    os.makedirs(stamp_dir, exist_ok=True)
    stamp, cp_file = os.path.join(stamp_dir, "stamp"), os.path.join(stamp_dir, "classpath")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as f:
                    return f.read()
    log("building engine and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "/classes" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(want)
    return lines[-1].strip()


# ---- one harness run -----------------------------------------------------

def run_harness(classpath, run_dir, plan_doc):
    """Starts the harness JVM; returns (harness output, spawn epoch s)."""
    for d in ("tmp", "local", "warehouse", "work", "dml", "out"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan_doc, f)
    env = {k: v for k, v in os.environ.items() if k not in ENGINE_KNOBS}
    env["SPARK_GRAFT_CPUS"] = str(plan_doc["nproc"])
    env["SPARK_LOCAL_DIRS"] = plan_doc["spark_local_dir"]
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}/work",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Harness", plan_path]
    logf = open(os.path.join(run_dir, "harness.log"), "w")
    spawned = time.time()
    proc = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "work"), env=env,
                            stdout=logf, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    logf.close()
    if rc != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {rc}")
    with open(os.path.join(plan_doc["out_dir"], "harness.json")) as f:
        return json.load(f), spawned


def execute(workload, seed, seconds, trace, statements=None, oracle_override=None):
    """Runs one workload and returns the full record (metrics included).

    `statements` replaces the workload's statements, and `oracle_override`
    maps a statement name to a function of its oracle text (both used by
    the self-test to inject failures)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found: run from a full checkout")
    import datagen
    import oracle

    load_start = loadavg()
    classpath = build()
    n = nproc()
    run_dir = os.path.join(OUT, "runs", f"{workload}-{seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    t0 = time.time()
    datagen.write(data_dir, seed, SF)
    log(f"inputs generated in {time.time() - t0:.1f} s")
    if statements is None:
        stmts, orders = workloads.plan(workload, seed, int(1_500_000 * SF),
                                       workloads.passes(workload, seconds))
    else:
        stmts, orders = statements, [list(range(len(statements)))] * (
            workloads.WARMUP_PASSES + 1)
    plan_doc = {
        "workload": workload, "seed": seed, "trace": bool(trace), "nproc": n,
        "warmup_passes": workloads.WARMUP_PASSES,
        "data_dir": data_dir, "out_dir": os.path.join(run_dir, "out"),
        "dml_dir": os.path.join(run_dir, "dml"),
        "spark_local_dir": os.path.join(run_dir, "local"),
        "warehouse_dir": os.path.join(run_dir, "warehouse"),
        "statements": stmts, "orders": orders}
    try:
        t0 = time.time()
        h, spawned = run_harness(classpath, run_dir, plan_doc)
        log(f"harness ran in {time.time() - t0:.1f} s")
        t0 = time.time()
        failures = check_results(workload, seed, stmts, h, data_dir,
                                 os.path.join(run_dir, "out", "results"),
                                 oracle, oracle_override or {})
        log(f"results checked in {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rec = {
        "meta": {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": bool(trace), "sf": SF, "nproc": n,
            "commit": commit(), "source_hash": source_hash()[:16],
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "jvm": h["jvm"], "spark_version": h["spark_version"],
            "spark_conf": h["spark_conf"],
            "engine_env_knobs_unset": {k: os.environ.get(k) for k in ENGINE_KNOBS},
        },
        "setup": dict(h["setup"], spawn_to_first_timed_s=
                      h["first_timed_epoch_us"] / 1e6 - spawned),
        "oracle": h.get("oracle", {}),
        "warmup": h["warmup"], "timed": h["timed"], "failures": failures,
        "passes": h["passes"], "timed_s": h["timed_s"],
        "driver_gc_s": h["driver_gc_s"], "live_heap_mb": h["live_heap_mb"],
    }
    rec["metrics"] = metrics(rec, trace)
    return rec


def check_results(workload, seed, stmts, h, data_dir, results_dir, oracle, override):
    """Marks each timed record failed (with its reason) when it threw or its
    result mismatched the oracle. Returns {statement name: reason}."""
    if workload == "dml":
        recs = h["warmup"] + h["timed"]
        reasons = oracle.check_dml(data_dir, stmts, recs)
        for r, why in zip(recs, reasons):
            r["failed"] = why
        return {f"{r['pass']}:{r['name']}": r["failed"]
                for r in recs if r["failed"]}
    oracles = dict(h.get("oracle", {}))
    for name, change in override.items():
        oracles[name] = change(oracles.get(name))
    warm_fail = {r["name"]: r.get("error") for r in h["warmup"] if not r["ok"]}
    con = oracle.connect(data_dir)
    data_key = f"{seed}:{SF}:{datagen_hash()}"
    verdict = oracle.check_named(
        con, results_dir,
        {s["name"]: oracles.get(s["name"]) for s in stmts
         if s["name"] not in warm_fail},
        os.path.join(OUT, "oracle-cache"), data_key)
    con.close()
    verdict.update(warm_fail)
    for r in h["timed"]:
        r["failed"] = r.get("error") if not r["ok"] else verdict.get(r["name"])
    failed = {k: v for k, v in verdict.items() if v}
    failed.update((r["name"], r["failed"]) for r in h["timed"] if r["failed"])
    return failed


def datagen_hash():
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def commit():
    """HEAD of the checkout when it is a git work tree, else None (the
    source hash in the record still identifies the code)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- metrics -------------------------------------------------------------

def tail(samples):
    """Nearest-rank 90th percentile. A run holds 4 to 28 samples, too few
    for a percentile with ten samples beyond it, so the tail is the p90
    of the run."""
    s = sorted(samples)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


def metrics(rec, trace):
    """{name: (value, unit, sample count)} for the run's mode."""
    timed = rec["timed"]
    ok = [r for r in timed if not r["failed"]]
    walls = [r["wall_s"] for r in ok]
    total_wall = sum(r["wall_s"] for r in timed)
    spm = 60.0 * len(ok) / total_wall if total_wall else 0.0
    m = {}
    if not trace:
        m["setup_s"] = (rec["setup"]["spawn_to_first_timed_s"], "s", 1)
        m["stmts_per_min"] = (spm, "1/min", len(timed))
        m["stmt_p50_s"] = (statistics.median(walls) if walls else 0.0, "s", len(walls))
        m["stmt_tail_s"] = (tail(walls) if walls else 0.0, "s", len(walls))
        m["failed_frac"] = (sum(1 for r in timed if r["failed"]) / max(1, len(timed)),
                            "ratio", len(timed))
        m["live_heap_mb"] = (rec["live_heap_mb"], "MB", 1)
        return m
    n = max(1, len(timed))
    mean = lambda key: sum(r[key] for r in timed) / n
    su = rec["setup"]
    m["session.start_s"] = (su["session_start_s"], "s", 1)
    m["tables.register_s"] = (su["tables_register_s"], "s", 1)
    m["queries.prepare_s"] = (su["queries_prepare_s"], "s", 1)
    m["warmup_s"] = (su["warmup_s"], "s", 1)
    gaps = [b["start_us"] - a["end_us"] for a, b in zip(timed, timed[1:])]
    m["harness.gap_s"] = (sum(gaps) / 1e6 / max(1, len(gaps)), "s", len(gaps))
    m["queries.build_s"] = (mean("build_s"), "s", n)
    m["queries.build_jobs"] = (mean("build_jobs"), "count", n)
    m["catalyst.executions"] = (mean("catalyst_executions"), "count", n)
    m["catalyst.analysis_s"] = (mean("catalyst_analysis_s"), "s", n)
    m["catalyst.optimization_s"] = (mean("catalyst_optimization_s"), "s", n)
    m["catalyst.planning_s"] = (mean("catalyst_planning_s"), "s", n)
    m["catalyst.plan_nodes"] = (mean("catalyst_plan_nodes"), "count", n)
    jobs = sum(r["jobs"] for r in timed)
    job_s = sum(r["job_s"] for r in timed)
    m["scheduler.jobs"] = (jobs / n, "count", n)
    m["scheduler.stages"] = (mean("stages"), "count", n)
    m["scheduler.tasks"] = (mean("tasks"), "count", n)
    m["scheduler.job_s"] = (job_s / n, "s", n)
    driver_gap = sum(max(0.0, r["wall_s"] - r["job_s"]) for r in timed)
    m["scheduler.driver_gap_s"] = (driver_gap / n, "s", n)
    m["scheduler.driver_gap_frac"] = (driver_gap / max(1e-9, total_wall), "ratio", n)
    m["scheduler.ms_per_job"] = (1000.0 * total_wall / max(1, jobs), "ms", jobs)
    for key in ("task_run_s", "task_cpu_s", "task_gc_s"):
        m[f"exec.{key}"] = (mean(key), "s", n)
    m["exec.core_util"] = (sum(r["task_run_s"] for r in timed) /
                           max(1e-9, job_s * rec["meta"]["nproc"]), "ratio", n)
    for key in ("input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                "output_mb"):
        m[f"exec.{key}"] = (mean(key), "MB", n)
    for kind in DML_KINDS:
        rs = [r for r in timed if r["kind"] == kind]
        k = max(1, len(rs))
        m[f"sql.execute_s.{kind}"] = (sum(r["build_s"] for r in rs) / k, "s", len(rs))
        m[f"sql.jobs.{kind}"] = (sum(r["jobs"] for r in rs) / k, "count", len(rs))
    m["driver.gc_s"] = (rec["driver_gc_s"] / n, "s", n)
    m["trace.stmts_per_min"] = (spm, "1/min", len(timed))
    return m


# ---- output --------------------------------------------------------------

def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    names = declared(a.trace)
    rec = execute(a.workload, a.seed, a.seconds, a.trace)
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    with open(os.path.join(OUT, "records",
                           f"{a.workload}_seed{a.seed}_trace{a.trace}.json"), "w") as f:
        json.dump(rec, f)
    for name, why in sorted(rec["failures"].items()):
        print(f"failed {a.workload} {name}: {str(why)[:300]}")
    m = rec["metrics"]
    for name, (v, unit, n) in m.items():
        extra = " percentile=90" if name == "stmt_tail_s" else ""
        print(f"metric {a.workload} {name} {v!r} {unit} n={n}{extra}")
    timed = rec["timed"]
    summary = {
        "correct": not rec["failures"],
        "attempted": len(timed),
        "failed": sum(1 for r in timed if r["failed"]),
        "metrics": {k: {"value": m[k][0], "unit": m[k][1]} for k in names},
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
