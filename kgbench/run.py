#!/usr/bin/env python3
"""Run the layered KG-engine benchmark.

    python3 kgbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. The first run builds the
engine sources and the benchmark with sbt (offline, from the toolchain's
caches) into kgbench/target; later runs reuse the build while no source
changed. Each workload then runs in one JVM; the last line printed is the
result JSON (see kgbench/README.md). Run data stays under .bench_build/;
the build writes kgbench/target/ and kgbench/project/{target,project}/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "kgbench")
OUT = os.path.join(ROOT, ".bench_build", "kgbench")
WORKLOADS = ["kg_build", "kg_maintain"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A run must end within 180 s; the longest (a traced kg_maintain run)
# takes about 105 s on a shared 4-core host, so this leaves it 1.6x.
RUN_TIMEOUT_S = 172


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + benchmark if any source changed; returns the classpath."""
    stamp = os.path.join(BENCH, "target", "kgbench-build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("digest") == digest:
            return got["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    print(f"kgbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def run_one(classpath, workload, seed, seconds, trace):
    """Runs one workload in its own JVM; returns the parsed result line."""
    work = os.path.join(OUT, f"work-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=4",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "kgbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", work,
              "--spans", os.path.join(OUT, f"spans-{workload}-{seed}.json")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} timed out after {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"{workload} exited with code {proc.returncode}")
    return lines[:-1], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout that holds the engine sources (src/main/scala/graft)")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    classpath = build()
    os.makedirs(OUT, exist_ok=True)
    results = []
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        human, res = run_one(classpath, w, a.seed, a.seconds, a.trace)
        if sorted(res["metrics"]) != sorted(want):
            fail(f"{w}: reported metrics do not match BENCHMARK.json")
        print("\n".join(human), flush=True)
        results.append(res)
    if len(results) == 1:
        print(json.dumps(results[0]), flush=True)
    else:
        merged = {"correct": all(r["correct"] for r in results),
                  "attempted": sum(r["attempted"] for r in results),
                  "failed": sum(r["failed"] for r in results),
                  "metrics": {f"{w}.{k}": v for w, r in zip(WORKLOADS, results)
                              for k, v in r["metrics"].items()}}
        print(json.dumps(merged), flush=True)


if __name__ == "__main__":
    main()
