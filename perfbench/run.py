#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (once per source state), generates the seeded inputs (once per
seed), runs the workload in one JVM on `local[<cores>]` with the engine
session's defaults, checks the outputs, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end
metrics, or with `--trace 1` the per-layer metrics of a traced run.
Workloads, metrics and checks are described in perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import runpy
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no caches next to the imported sources

WORKLOADS = ("interactive_sf0.1", "store_rw_sf0.1")
JVM_TIMEOUT_S = 160


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src/main", "build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    return env


def build():
    """Compile engine + harness; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest:
            return b["classpath"]
    log("building engine and harness")
    t = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = out.stdout.strip().splitlines()[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t:.1f} s")
    return classpath


def inputs(workload, seed):
    """Generate (or reuse) the seed's corpus; returns its directory."""
    import gen
    top = os.path.join(WORK, "data")
    d = os.path.join(top, str(seed))
    os.makedirs(d, exist_ok=True)
    os.utime(d)
    # keep the three most recently used seeds
    for _, s in sorted((os.path.getmtime(os.path.join(top, s)), s) for s in os.listdir(top))[:-3]:
        shutil.rmtree(os.path.join(top, s), ignore_errors=True)
    data = os.path.join(d, "sf0.1")
    gen.ensure(data, seed)
    if workload.startswith("store"):
        gen.store_split(data, seed, 50, 50)
    return data


def java_cmd(classpath, args, run_dir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"] + args


def run_jvm(cmd, run_dir):
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)  # the engine session's defaults, unchanged
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")


def oracle_check(data, out, dumps, oracle):
    """Hash each op output dumped under `out` against its DuckDB oracle
    over `data` with tools/check.py (run in-process, unedited). Returns
    the ops that failed."""
    if not dumps:
        return set()
    with open(os.path.join(out, "oracle_sql.json"), "w") as f:
        json.dump({k: v for k, v in oracle.items() if k in dumps}, f)
    buf = io.StringIO()
    argv, cwd = sys.argv, os.getcwd()
    sys.argv = ["check.py", data, out]
    os.chdir(out)  # DuckDB spills into the working directory
    try:
        with contextlib.redirect_stdout(buf):
            runpy.run_path(os.path.join(ROOT, "tools", "check.py"), run_name="__main__")
    except SystemExit:
        pass
    finally:
        sys.argv = argv
        os.chdir(cwd)
    report = buf.getvalue()
    ok = {line.split()[0] for line in report.splitlines()
          if line.split()[1:2] == ["OK"] or " rows-only " in line and "EMPTY" not in line}
    bad = set(dumps) - ok
    for line in report.splitlines():
        if line.split()[:1] and line.split()[0] in bad:
            log(f"check: {line.strip()}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("src/main/scala/graft", "tools/check.py", "build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a graft checkout: {need} is missing")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    t = time.time()
    data = inputs(a.workload, a.seed)
    gen_s = time.time() - t
    log(f"inputs ready in {gen_s:.1f} s: {data}")

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    res_path = os.path.join(run_dir, "result.json")
    run_jvm(java_cmd(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", run_dir,
        "--out", res_path], run_dir), run_dir)
    with open(res_path) as f:
        res = json.load(f)

    t = time.time()
    bad = oracle_check(data, os.path.join(run_dir, "dumps"), res["dumps"], res["oracle"])
    log(f"oracle check of {len(res['dumps'])} outputs in {time.time() - t:.1f} s")
    per_op = {}
    for s in res["samples"]:
        per_op.setdefault(s["op"], []).append(s["ms"])
    log("op medians (ms): " + ", ".join(
        f"{k} {sorted(v)[len(v) // 2]:.0f}" for k, v in sorted(per_op.items())))
    # an op whose checked output differs from its oracle fails with
    # every timed repeat of it
    failed = res["failed"] + len(bad) + sum(1 for x in res["samples"] if x["ok"] and x["op"] in bad)
    attempted = res["attempted"] + len(res["dumps"])
    for e in res["errors"][:20]:
        log(f"error: {e}")
    if a.trace:
        metrics = res["per_layer"]
        metrics["bench.gen_s"] = {"value": gen_s, "unit": "s"}
        trace = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        shutil.copy(os.path.join(run_dir, "trace.json"), trace)
        log(f"trace written to {trace}")
    else:
        metrics = res["end_to_end"]
    log(f"{len(res['samples'])} timed ops in {len(res['passes'])} passes; "
        f"input generation {gen_s:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
