"""Benchmark of the PRIDE indexing commands, driven through graft.Cli.

    python3 perfbench/run.py --workload small_projects --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed before the
JVM starts (gen.py). The JVM runs the workload and checks every output
against the generator's ground truth. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Each run is a fixed amount of work: every generated project is timed once,
never repeated. The workloads are sized so that this takes at least
--seconds (15) on a 4-core machine; --seconds is recorded with the result
and does not stop the run, so that the statistics do not depend on the
program's speed.

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of the traced run. The line before it records the steadiness
inputs (threads, heap, nproc, load average, GC and JIT seconds).
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

THREADS = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build engine + harness when the sources changed; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Cli.scala")):
        fail("engine sources (src/main/scala) not found; run from the root of a checkout")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        proc = subprocess.run(
            ["sbt", "-batch", "compile", "export Compile/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_TIMEOUT_S)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {os.path.join(BUILD, 'sbt.log')}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def inputs(workload, seed):
    """Generated inputs for (workload, seed); earlier inputs are removed."""
    root = os.path.join(WORK, "inputs")
    out = os.path.join(root, f"{workload}-{seed}")
    if os.path.isdir(root):
        shutil.rmtree(root)
    gen.generate(workload, seed, out)
    return out


def run_jvm(cp, data, trace, tag):
    outputs = os.path.join(WORK, "out")
    local = os.path.join(WORK, "spark-local")
    for d in (outputs, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={local}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--inputs", os.path.join(data, "inputs"), "--warm", os.path.join(data, "warm"),
            "--work", outputs, "--trace", str(trace),
            "--spans", os.path.join(WORK, f"spans-{tag}.jsonl")]
    env = dict(os.environ, SPARK_MASTER=f"local[{THREADS}]", SPARK_GRAFT_CPUS=str(THREADS),
               SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(WORK, f"jvm-{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        fail(f"harness exit {proc.returncode}; see {log_path}")
    shutil.rmtree(outputs, ignore_errors=True)
    shutil.rmtree(local, ignore_errors=True)
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_names(result, trace):
    """The result must carry exactly the metrics BENCHMARK.json declares for
    this kind of run, each with the declared unit. A run without failed
    operations must give every metric a value; one with failures may leave
    values null and is reported as it is."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, "
             f"units {sorted(k for k in want if k in got and got[k] != want[k])}")
    bad = [k for k, v in result["metrics"].items()
           if not isinstance(v["value"], (int, float)) or v["value"] != v["value"]]
    if bad and result["failed"] == 0:
        fail(f"metrics without a finite value: {bad}")


def main():
    ap = argparse.ArgumentParser(description="PRIDE indexing benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    t0 = time.time()
    data = inputs(a.workload, a.seed)
    gen_s = time.time() - t0
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    steadiness, result = run_jvm(cp, data, a.trace, tag)
    check_names(result, a.trace)
    steadiness["steadiness"].update(seed=a.seed, trace=a.trace, heap=HEAP, generate_s=gen_s,
                                    seconds=a.seconds)
    print(json.dumps(steadiness, sort_keys=True))
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
