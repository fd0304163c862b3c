#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the benchmark program
(perfbench/build.sbt) when their sources are newer than the last build,
then starts one JVM with graft's session at local[nproc] and runs the
workload's queries as a closed loop with one client: a first pass in the
fresh JVM, three unmeasured warm-up passes, then at least four warm passes,
more until --seconds have been measured, each query's full result written
to the `noop` sink. Every
query's output is then checked against DuckDB (graft.Verify +
tools/check.py).

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 its
per-layer metrics from a traced run, which also checks every native kernel
against its HOF oracle and writes one JSON record per query per traced
pass to perfbench/out/. The last stdout line is the result as one JSON
object. The tables are the fixed sf0.1 set of TESTDATA.md
(SPARK_GRAFT_SF_DIR overrides). See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)
import stats  # noqa: E402

SETUP_SAMPLES = 3          # the main JVM plus two that only set up
KERNEL_ROWS = 10000
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    """The benchmark itself could not run (as opposed to a failed query)."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def data_dir():
    """The sf0.1 tables: SPARK_GRAFT_SF_DIR, else the sf 0.1 row of
    TESTDATA.md, which documents where the fixed test tables live."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                m = re.match(r"\|\s*0\.1\s*\|\s*`([^`]+)`", line)
                if m:
                    return m.group(1).rstrip("/")
    except OSError:
        pass
    raise BenchError("no sf0.1 tables: set SPARK_GRAFT_SF_DIR")


def cores():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def build_inputs():
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def build(data, tmp):
    """Compile and package engine and benchmark program when their sources changed,
    then record the class-data-sharing archive of a set-up. Returns the
    runtime classpath and the archive."""
    target = os.path.join(HERE, "target")
    archive = os.path.join(target, "setup.jsa")
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
                 os.path.join(ROOT, "tools", "check.py")):
        if not os.path.exists(need):
            raise BenchError(f"not a graft checkout: {need} is missing")
    newest = max(os.path.getmtime(p) for p in build_inputs())
    if not os.path.exists(archive) or os.path.getmtime(archive) < newest:
        log("building engine and benchmark program (sbt)")
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                    "-Dsbt.override.build.repos=true",
                                    "-Dsbt.server.autostart=false", "-Xmx2g"])
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if r.returncode != 0:
            raise BenchError("build failed")
        if os.path.exists(archive):
            os.remove(archive)
        with open(os.path.join(target, "classpath.txt")) as f:
            classpath = f.read().strip()
        java(classpath, tmp, [f"-XX:ArchiveClassesAtExit={archive}"],
             ["setup", "--cores", str(cores()), "--data", data], 300)
        if not os.path.exists(archive):
            raise BenchError("no class-data-sharing archive was written")
    with open(os.path.join(target, "classpath.txt")) as f:
        return f.read().strip(), archive


# ---------------------------------------------------------------- JVMs

def java(classpath, tmp, cds, args, timeout):
    """Run the benchmark JVM to completion; returns (launch time, stdout).

    Every JVM maps the class-data-sharing archive of a set-up (`cds`): it
    halves set-up on a small machine, which is what makes several set-ups
    per run affordable. -Xshare:on fails the run rather than measure an
    unmapped one."""
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + cds + [
        f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graft.perfbench.Main"] + args
    errlog = open(os.path.join(os.path.dirname(tmp), "jvm.log"), "ab")
    launched = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=errlog)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError(f"benchmark JVM timed out after {timeout} s")
    finally:
        errlog.close()
    if proc.returncode != 0:
        raise BenchError(f"benchmark JVM exited {proc.returncode}; see {errlog.name}")
    log(f"jvm {args[0]} done in {time.time() - launched:.1f} s")
    return launched, out.decode()


# ---------------------------------------------------------------- checks

def check_outputs(dump, data, names):
    """Compare each dumped result with its DuckDB oracle (tools/check.py).
    Every registered query has one; a query without one fails. Returns the
    names that failed and the row count of each result that passed."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), dump, data]
                       + names, cwd=ROOT, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=120)
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            log(line)
    rows = {m.group(1): int(m.group(2))
            for m in re.finditer(r"^PASS (\S+) \((\d+) rows\)", r.stdout, re.M)}
    return set(names) - set(rows), rows


# ---------------------------------------------------------------- metrics

def pass_sum(p, key="wall_s"):
    return sum(q[key] for q in p["queries"])


def end_to_end(record, setup):
    first = [p for p in record["passes"] if p["kind"] == "first"][0]
    warm = [p for p in record["passes"] if p["kind"] == "warm" and not p["traced"]]
    samples = [q["wall_s"] for p in warm for q in p["queries"]]
    # each pass's p90, median over the passes: a single slow sample in a
    # run of a few passes would otherwise set the run's figure
    tails = [stats.tail_percentile([q["wall_s"] for q in p["queries"]], 0.90) for p in warm]
    p90, beyond = statistics.median(t for t, _ in tails), tails[0][1]
    return {
        "setup_s": statistics.median(setup),
        "first_pass_s": pass_sum(first),
        "pass_s": statistics.median([pass_sum(p) for p in warm]),
        "query_p50_s": statistics.median(samples),
        "query_p90_s": p90,
        "cpu_s": statistics.median([pass_sum(p, "cpu_s") for p in warm]),
    }, len(samples), beyond


def layer_record(q, output_rows):
    """The per-layer fields of one traced query execution."""
    jobs = [(a / 1e3, b / 1e3) for a, b in q["jobs"]]
    gap, overlap, busy = stats.job_split(q["wall_s"], jobs)
    plans = q["analysis_s"] + q["optimization_s"] + q["planning_s"]
    # the noop write's SQL execution span contains its own planning phases
    exec_s = max(0.0, q["write_exec_s"] - plans)
    return {
        "queries.build_s": q["build_s"],
        "queries.build_jobs": q["build_jobs"],
        "plans.analysis_s": q["analysis_s"],
        "plans.optimization_s": q["optimization_s"],
        "plans.planning_s": q["planning_s"],
        "plans.codegen_compile_s": q["codegen_compile_s"],
        "plans.codegen_compiles": q["codegen_compiles"],
        "exec.s": exec_s,
        "exec.jobs": q["exec_jobs"],
        "exec.stages": q["stages"],
        "exec.tasks": q["tasks"],
        "exec.task_s": q["task_s"],
        "exec.task_cpu_s": q["task_cpu_s"],
        "exec.gc_s": q["gc_s"],
        "exec.shuffle_write_mb": q["shuffle_write_mb"],
        "exec.shuffle_read_mb": q["shuffle_read_mb"],
        "exec.spill_mb": q["spill_mb"],
        "exec.output_rows": output_rows.get(q["name"], 0),
        "driver.gap_s": gap,
        "driver.job_busy_s": busy,
        "driver.job_overlap": overlap,
        "operators.persisted_rdds": q["persisted_rdds"],
        "operators.cached_mb": q["cached_mb"],
        "operators.leaked_caches": q["leaked_caches"],
        "jvm.heap_after_gc_mb": q["heap_after_gc_mb"],
        "trace.wall_s": q["wall_s"],
        "trace.unattributed_s": q["wall_s"] - q["build_s"] - plans - exec_s,
    }


PEAKS = ("operators.cached_mb", "jvm.heap_after_gc_mb")


def per_layer(record, output_rows):
    """Per-layer metrics: per-query fields summed over a traced pass (peaks
    take the maximum), median over the traced warm passes."""
    by_pass = {}
    for q in record["trace"]:
        by_pass.setdefault((q["pass"], q["pass_index"]), []).append(layer_record(q, output_rows))

    def summed(rows):
        out = {k: (max if k in PEAKS else sum)(r[k] for r in rows) for k in rows[0]}
        out["driver.job_overlap"] = (sum(r["driver.job_overlap"] * r["driver.job_busy_s"] for r in rows)
                                     / max(1e-9, out["driver.job_busy_s"]))
        return out

    warm = [summed(rows) for (kind, _), rows in by_pass.items() if kind == "warm"]
    first = [summed(rows) for (kind, _), rows in by_pass.items() if kind == "first"][0]
    metrics = {k: statistics.median([w[k] for w in warm]) for k in warm[0] if k != "driver.job_busy_s"}
    metrics["first.plans.codegen_compile_s"] = first["plans.codegen_compile_s"]
    metrics["first.plans.codegen_compiles"] = first["plans.codegen_compiles"]
    metrics["first.trace.wall_s"] = first["trace.wall_s"]

    untraced = [pass_sum(p) for p in record["passes"] if p["kind"] == "warm" and not p["traced"]]
    metrics["trace.overhead_s"] = metrics["trace.wall_s"] - statistics.median(untraced)
    count = [p for p in record["passes"] if p["kind"] == "count"][0]
    metrics["bridge.count_pass_s"] = pass_sum(count)
    metrics["bridge.noop_pass_s"] = statistics.median(untraced)
    for t, v in record["tables"].items():
        metrics[f"tables.scan_s.{t}"] = v
    for k in record["kernels"]:
        metrics[f"kernels.{k['name']}.ns_per_row"] = k["ns_per_row"]
        metrics[f"kernels.{k['name']}.hof_ns_per_row"] = k["hof_ns_per_row"]
    return metrics


# ---------------------------------------------------------------- main

def run(args):
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    workloads = load_json(os.path.join(HERE, "workloads.json"))
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload}; have {', '.join(workloads)}")
    names = workloads[args.workload]
    data = data_dir()
    if not os.path.isdir(data):
        raise BenchError(f"no tables at {data}")
    work = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    classpath, archive = build(data, tmp)
    cds = ["-Xshare:on", f"-XX:SharedArchiveFile={archive}"]
    order_file = os.path.join(work, "order.txt")
    with open(order_file, "w") as f:
        f.write("\n".join(stats.query_order(names, args.seed)) + "\n")
    n = str(cores())

    setup = []
    for _ in range(SETUP_SAMPLES - 1):
        launched, out = java(classpath, tmp, cds, ["setup", "--cores", n, "--data", data], 120)
        setup.append(json.loads(out.strip().splitlines()[-1])["setup_done_ms"] / 1e3 - launched)
    record_file = os.path.join(work, "record.json")
    dump = os.path.join(work, "verify")
    launched, _ = java(classpath, tmp, cds, [
        "run", "--cores", n, "--data", data, "--order", order_file,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--kernel-rows", str(KERNEL_ROWS),
        "--seed", str(args.seed), "--out", record_file, "--verify", dump], 170)
    with open(record_file) as f:
        record = json.load(f)
    setup.append(record["setup_done_ms"] / 1e3 - launched)

    t0 = time.time()
    bad_outputs, output_rows = check_outputs(dump, data, names)
    log(f"outputs checked in {time.time() - t0:.1f} s")
    executions = [q for p in record["passes"] for q in p["queries"]]
    threw = [q["name"] for q in executions if q.get("error")]
    for q in executions:
        if q.get("error"):
            log(f"{q['name']} threw: {q['error']}")
    kernels = record.get("kernels", [])
    bad_kernels = [k["name"] for k in kernels if k["mismatches"]]
    for k in bad_kernels:
        log(f"kernel {k} differs from its HOF oracle")
    attempted = len(executions) + len(names) + len(kernels)
    failed = len(threw) + len(bad_outputs) + len(bad_kernels)
    shutil.rmtree(dump, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    e2e, warm_samples, beyond_p90 = end_to_end(record, setup)
    summary = {"workload": args.workload, "seed": args.seed, "cores": record["cores"],
               "queries": len(names), "warm_samples": warm_samples, "beyond_p90": beyond_p90,
               "setup_samples": setup, "failed_frac": failed / attempted}
    if args.trace:
        metrics = per_layer(record, output_rows)
        with open(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.jsonl"), "w") as f:
            for q in record["trace"]:
                rec = {"workload": args.workload, "seed": args.seed, "cores": record["cores"],
                       "query": q["name"], "pass": q["pass"], "pass_index": q["pass_index"],
                       "error": q["error"]}
                rec.update(layer_record(q, output_rows))
                f.write(json.dumps(rec) + "\n")
    else:
        metrics = e2e
    # every end-to-end metric by name and unit, failed_frac included
    # (it is 0 on a healthy run, so it travels as `failed`/`attempted`)
    print(" ".join([f"{args.workload}:"]
                   + [f"{m['name']}={e2e[m['name']]:.4f} {m['unit']}" for m in spec["end_to_end"]]
                   + [f"failed_frac={summary['failed_frac']:.4f} ratio"]))
    print(json.dumps(summary))
    listed = spec["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                                  for m in listed}}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        run(args)
    except (BenchError, OSError, subprocess.SubprocessError, KeyError, ValueError) as e:
        log(f"error: {e}")
        sys.exit(1)


if __name__ == "__main__":
    main()
