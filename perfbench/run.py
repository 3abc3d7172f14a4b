#!/usr/bin/env python3
"""Benchmark of the engine's batch, ingest and query planes, run from the
repository root:

    python3 perfbench/run.py --workload catalog|serve --seed N
                             --seconds S --trace 0|1

It builds the engine and the benchmark from source (once per source
state), generates `serve`'s inputs from the seed (`catalog` runs on the
fixed tables in perfbench/data), runs the workload in one JVM at
local[nproc], checks every output, and prints one JSON line: the
end-to-end metrics (--trace 0) or the per-layer metrics of a traced run
(--trace 1). A traced run also writes the module-named layer breakdown
and the tracing overhead to perfbench/out/. See METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ("catalog", "serve")
# the engine's TPC-H-like test tables at scale factor 0.01
TABLES = os.path.join(HERE, "data", "sf0.01")
HEAP = "3g"
# the same module openings the engine's build passes to forked JVMs
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
END_TO_END = ["setup_s", "heap_retained_mb", "op_median_gmean_ms",
              "throughput_per_s"]
PER_LAYER = ["spark.jobs_per_op", "spark.stages_per_op",
             "spark.tasks_per_op", "spark.job_ms_per_op",
             "spark.exec_run_ms_per_op", "spark.exec_cpu_ms_per_op",
             "spark.scan_kb_per_op", "spark.shuffle_write_kb_per_op",
             "sql.plan_ms_per_action", "driver.self_ms_per_op",
             "jvm.gc_ms_per_op"]
# settings that silently change the engine's plans
REFUSED_ENV = ("SPARK_GRAFT_SORTCACHE", "SPARK_GRAFT_EXTRA_CONF")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(deadline):
    """Compile engine + benchmark with sbt when the sources changed;
    returns the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "bench-classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp_file):
        stamp = json.load(open(stamp_file))
        if stamp["digest"] == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true",
          f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else []))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=max(60, deadline - time.time()))
    lines = [ln for ln in p.stdout.splitlines()
             if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    json.dump({"digest": digest, "classpath": cp}, open(stamp_file, "w"))
    return cp


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_jvm(cp, args, work, deadline):
    log = open(f"{work}/jvm.log", "w")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] +
           ADD_OPENS + ["-cp", cp, "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"workload timed out; see {work}/jvm.log")
    finally:
        log.close()
    if p.returncode != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        die(f"workload JVM exited with {p.returncode}")
    return json.load(open(f"{work}/result.json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found next to perfbench/; "
            "run from a checkout of the repository")
    if not os.path.isdir(TABLES):
        die(f"catalog tables not found at {TABLES}")
    for v in REFUSED_ENV:
        if os.environ.get(v):
            die(f"{v} is set; it changes the engine's plans — unset it")

    cp = classpath(t_start + 840)
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "serve":
        gen.social_inputs(work, a.seed)
    cpu0 = cpu_times()
    res = run_jvm(cp, ["--workload", a.workload, "--work", work,
                       "--tables", TABLES,
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--out", f"{work}/result.json"],
                  work, time.time() + 160)
    # share of CPU time taken by the hypervisor from this machine
    dcpu = [b - a for a, b in zip(cpu0, cpu_times())]
    steal = 100.0 * dcpu[7] / max(1, sum(dcpu)) if len(dcpu) > 7 else 0.0
    t_check = time.time()

    d = res["detail"]
    if a.workload == "catalog":
        bad = check.catalog(TABLES, f"{work}/results",
                            sorted(d["query_ms"]) + sorted(d["errors"]),
                            json.load(open(f"{work}/oracle_sql.json")))
        bad += [f"{n}: {e}" for n, e in d["errors"].items()]
    else:
        bad = check.serve(work) + check.serve_store(work)
    for m in bad[:20]:
        print(f"MISMATCH {m}", file=sys.stderr)
    check_s = time.time() - t_check

    env = res["env"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={env['nproc']}"
          f" heap_mb={env['heap_max_mb']:.0f} load_start=[{env['load_start']}]"
          f" load_end=[{env['load_end']}] samples={d.get('samples')}"
          f" op_p50_ms={res['metrics']['op_p50_ms']['value']:.1f}"
          f" tail_percentile={d.get('tail_percentile')}"
          f" op_tail_ms={res['metrics']['op_tail_ms']['value']:.1f}"
          f" cpu_steal_pct={steal:.1f} check_s={check_s:.1f}")
    if a.trace:
        metrics = {k: res["layers"][k] for k in PER_LAYER}
        write_trace_report(a, res)
    else:
        metrics = {k: res["metrics"][k] for k in END_TO_END}
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        json.dump(res, open(os.path.join(
            HERE, "out", f"untraced-{a.workload}-{a.seed}.json"), "w"))
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(1 if bad else 0)


def write_trace_report(a, res):
    """Module-named per-layer numbers plus the tracing overhead: each
    end-to-end metric of this traced run minus the untraced run of the
    same workload and seed, when one was made in this checkout."""
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    base = os.path.join(out, f"untraced-{a.workload}-{a.seed}.json")
    overhead = None
    if os.path.exists(base):
        u = json.load(open(base))["metrics"]
        overhead = {k: res["metrics"][k]["value"] - u[k]["value"]
                    for k in END_TO_END if k in u and k in res["metrics"]}
    json.dump({"workload": a.workload, "seed": a.seed,
               "layers": res["detail"].get("layers", {}),
               "per_op": res["layers"], "detail": res["detail"],
               "tracing_overhead": overhead, "env": res["env"]},
              open(os.path.join(out, f"trace-{a.workload}-{a.seed}.json"),
                   "w"), indent=1)


if __name__ == "__main__":
    main()
