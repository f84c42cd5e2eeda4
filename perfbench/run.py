#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 perfbench/run.py --workload <dashboard|pipeline>
        --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. The first run in a checkout builds graft and
the benchmark code from source (sbt, offline; Spark's jars are taken from
SPARK_HOME, or from the spark-submit on PATH) and generates the dataset;
later runs reuse both from `.bench_build/`. Each run generates its inputs
from the seed, starts one JVM with `java -cp` (stdout stays raw, with no
sbt logger in between), checks every output, and prints each metric on its
own line, then one JSON object as the last line. With --trace 0 that
object carries the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics. The full artifact, with its environment stamp, is
written to .bench_build/runs/<workload>-seed<n>-trace<t>/result.json.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import inputs  # noqa: E402

DATA_SCALE = 0.02
DATA_SEED = 42
JVM_TIMEOUT_S = 170
WORKLOADS = ("dashboard", "pipeline")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compiles graft + the benchmark code once per source digest; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("graft sources (src/main/scala) not found; run from the root of "
            "a graft checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got, cp = f.read().split("\n", 1)
        if got == digest:
            return digest, cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    r = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=800)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(r.stdout + r.stderr)
    cps = [l for l in r.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not cps:
        die("build failed; see .bench_build/build.log", 1)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cps[-1].strip())
    return digest, cps[-1].strip()


def ensure_data():
    """Generates the dataset once per generator version: the directory name
    carries a digest of gen_data.py, so the data and the oracle answers
    cached per data directory are never those of an older generator."""
    with open(gen_data.__file__, "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, f"data-sf{DATA_SCALE}-seed{DATA_SEED}-{gen}")
    if not os.path.exists(os.path.join(d, ".complete")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, DATA_SCALE, DATA_SEED)
        open(os.path.join(d, ".complete"), "w").close()
    return d


def jdk_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr.splitlines() or ["unknown"])[0]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_jvm(cp, workload, data, run_dir, seconds, trace):
    cmd = (["java"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
            "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
            "--workload", workload, "--data", data,
            "--inputs", os.path.join(run_dir, "inputs.json"),
            "--seconds", str(seconds), "--trace", str(trace),
            "--out", run_dir])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; see {run_dir}/jvm.log", 1)
    lines = [l for l in r.stdout.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if r.returncode != 0 or not lines:
        die(f"benchmark JVM failed (exit {r.returncode}); see {run_dir}/jvm.log", 1)
    return json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    load_before = os.getloadavg()[0]
    digest, cp = build()
    data = ensure_data()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.workload == "dashboard":
        inp = inputs.dashboard(a.seed, a.seconds)
    else:
        inp = inputs.pipeline(a.seed, a.seconds, data, run_dir)
    with open(os.path.join(run_dir, "inputs.json"), "w") as f:
        json.dump(inp, f)

    t_jvm = time.time()
    res = run_jvm(cp, a.workload, data, run_dir, a.seconds, a.trace)
    res["info"]["jvm_wall_s"] = time.time() - t_jvm
    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "pipeline":
        import oracle
        t_oracle = time.time()
        bad = oracle.check(os.path.join(run_dir, "oracle"), data, inp["ops"],
                           os.path.join(BUILD, "oracle-cache"))
        attempted += len(inp["ops"])
        failed += len(bad)
        failures += [f"pipeline {op}: oracle disagrees: {why}" for op, why in bad.items()]
        res["info"]["oracle_check_s"] = time.time() - t_oracle
    for d in ("rollup", "oracle", "spark-local"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    for f in os.listdir(run_dir):
        if f.startswith("batch_"):
            os.remove(os.path.join(run_dir, f))

    got = res["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = got[m["name"]]
        elif a.trace:  # a layer this workload never calls
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            die(f"workload {a.workload} did not report {m['name']}", 1)
    extras = {k: v for k, v in got.items() if k not in metrics}
    failed_ratio = failed / attempted if attempted else 1.0

    stamp = {"nproc": os.cpu_count(), "load1_before": load_before,
             "load1_after": os.getloadavg()[0], "jdk": jdk_version(),
             "spark": res["info"].get("spark_version"),
             "python": platform.python_version(), "data_dir": data,
             "data_scale": DATA_SCALE, "workload": a.workload, "seed": a.seed,
             "seconds": a.seconds, "trace": a.trace,
             "git_commit": git_commit(), "source_digest": digest}
    artifact = {"stamp": stamp, "metrics": metrics, "extra_metrics": extras,
                "failed_ratio": failed_ratio, "attempted": attempted,
                "failed": failed, "failures": failures, "info": res["info"]}
    if a.trace:
        plain = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace0",
                             "result.json")
        if os.path.exists(plain) and "work_s" in got:
            with open(plain) as f:
                base = json.load(f)
            same = ("seconds", "source_digest", "data_dir")
            if all(base["stamp"][k] == stamp[k] for k in same):
                artifact["tracing_overhead_ratio"] = (
                    got["work_s"]["value"] / base["metrics"]["work_s"]["value"] - 1)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(artifact, f, indent=1)

    print("stamp " + json.dumps(stamp))
    for name, m in list(metrics.items()) + list(extras.items()):
        print(f"metric {name} {m['value']!r} {m['unit']}")
    print(f"metric failed_ratio {failed_ratio!r} ratio")
    for k, v in res["info"].items():
        print(f"info {k} {json.dumps(v)}")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
