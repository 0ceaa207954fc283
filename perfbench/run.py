#!/usr/bin/env python3
"""Benchmark of the graft engine: one checked, seeded workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--perturb]

Run from the root of a checkout of the repository. The first run compiles
the engine from `src/main/scala` together with the harness in
`perfbench/src` (sbt, offline) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. The JVM runs the workload at
local[4] and prints its measurements; this script adds the host state
(nproc, CPU steal over the run, load average) next to them, appends the
record to `.bench_build/runs.jsonl` and prints the result as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

`--trace 0` reports every end-to-end metric of BENCHMARK.json, `--trace 1`
every per-layer metric (a layer the workload does not use reports 0).
`--perturb` corrupts each workload's output before its check; the run then
reports correct=false with the corrupted operations counted in `failed`.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def build():
    """Compiles engine + harness once per source fingerprint; returns the classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the root of a checkout of the repository")
    digest = hashlib.sha256()
    for p in sources():
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            prev = json.load(f)
        if prev.get("digest") == digest.hexdigest():
            return prev["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        homes = [os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
                 for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            fail("SPARK_HOME is unset and no Spark install with jars/ is on PATH")
        env["SPARK_HOME"] = homes[0]
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    log = proc.stdout.strip().splitlines()
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(proc.stdout)
    if proc.returncode != 0 or not log:
        print("\n".join(log[-30:]), file=sys.stderr)
        fail("build failed")
    classpath = log[-1].strip()
    print(f"[build] compiled in {time.time() - t0:.0f}s", flush=True)
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    t0 = time.time()
    work = os.path.join(BUILD, "run", "preload")
    proc = subprocess.run(jvm(classpath, [f"-XX:ArchiveClassesAtExit={archive}"]) +
                          ["perfbench.Preload", work], cwd=ROOT, env=jvm_env(),
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if proc.returncode != 0 or not os.path.exists(archive):
        print(proc.stdout[-3000:], file=sys.stderr)
        fail("recording the class-data-sharing archive failed")
    print(f"[build] class archive recorded in {time.time() - t0:.0f}s", flush=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest.hexdigest(), "classpath": classpath}, f)
    return classpath


def jvm_env():
    local = os.path.join(BUILD, "run", "spark-local")
    os.makedirs(local, exist_ok=True)
    # the flagship crop keeps more candidates than this, so its kNN runs the
    # distributed supercell cogroup rather than the broadcast index
    return dict(os.environ, SPARK_LOCAL_DIRS=local, GRAFT_KNN_BROADCAST_LIMIT="16384")


def jvm(classpath, extra=()):
    """The java command line every benchmark JVM shares."""
    tmp = os.path.join(BUILD, "run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", *extra]
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)  # steal, total jiffies


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    classpath = build()

    work = os.path.join(BUILD, "run", f"work-{os.getpid()}")
    cmd = jvm(classpath, [f"-XX:SharedArchiveFile={os.path.join(BUILD, 'classes.jsa')}",
                          f"-Dperfbench.launchMs={int(time.time() * 1000)}"])
    cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--spans", os.path.join(BUILD, "spans")]
    if a.perturb:
        cmd.append("--perturb")

    steal0, total0 = cpu_times()
    load0 = os.getloadavg()[0]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(), stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    killer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    killer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            elif line.startswith("[") or "Exception" in line:
                print(line.rstrip(), flush=True)
    finally:
        killer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    steal1, total1 = cpu_times()
    if proc.returncode != 0 or result is None:
        fail(f"workload run failed (exit code {proc.returncode})")

    host = {"nproc": len(os.sched_getaffinity(0)),
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "loadavg_1m_before": load0, "loadavg_1m_after": os.getloadavg()[0],
            "probe_mrows_per_s_before": result["probe_mrows_per_s_before"],
            "probe_mrows_per_s_after": result["probe_mrows_per_s_after"]}
    got = result["metrics"]
    unknown = sorted(set(got) - {m["name"] for m in wanted})
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    for k, v in metrics.items():
        print(f"{k:40s} {v['value']:>16.6g} {v['unit']}")
    print(f"[host] {json.dumps(host)}")
    out = {"correct": result["failed"] == 0, "attempted": result["attempted"],
           "failed": result["failed"], "metrics": metrics}
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "seconds": a.seconds, "perturb": a.perturb, "host": host,
                            **out}) + "\n")
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
