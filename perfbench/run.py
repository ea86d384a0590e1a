#!/usr/bin/env python3
"""Benchmark entry point for the entity-resolution pipeline and the query
surface.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt when the
sources changed since the last build, generates the workload's inputs
from the seed (once per seed), makes the DuckDB oracle results for the
surface workloads, then runs one JVM (perfbench.BenchMain) with one Spark
session at local[min(4, nproc)] and one client thread: a warm-up round on
a small input, then a closed loop of whole rounds on the measured input
for S seconds (at least the workload's minimum of rounds). The last line of standard output is the result JSON;
everything else goes to standard error.

Exit codes: 0 on a run whose checks pass, 1 when a check fails, 2 when
the program cannot be built or run here.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
RUN_LIMIT_S = 170
KEEP_INPUTS = 3  # generated input sets kept per workload

# Input sizes per workload: the measured input, and the small input of
# the warm-up round that loads the classes and compiles the code paths a
# round takes before the measured rounds. The seed changes content, never
# sizes.
WORKLOADS = {
    # AMiner dumps far larger than the slice the year/venue filter keeps,
    # then the exhaustive and blocked matches over the kept sides.
    "aminer_pipeline": {"kind": "aminer", "measured": {"records": 24000, "kept": 1200},
                        "warmup": {"records": 4000, "kept": 300}},
    # Relational tables at sf0.01 and a small document set.
    "query_surface": {"kind": "tables", "measured": {"sf": 0.01, "docs": 150},
                      "warmup": {"sf": 0.001, "docs": 50}},
}
# The warm-up input is drawn from another seed than the measured one, so
# the two never hold the same records even at the same size.
WARMUP_SEED_OFFSET = 1000003
INPUT_FILES = ["gen_aminer.py", "gen_tables.py", "oracle.py"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_checked(cmd, cwd, timeout, env=None):
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])}")
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"exit code {proc.returncode}: {' '.join(cmd[:3])}")
    return out


def build():
    """Compile the program and the benchmark (sbt), record the runtime
    classpath and dump the oracle SQL. Skipped when the sources are
    unchanged since the last build."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the program")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    out = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                       "compile", "export Runtime/fullClasspath"], BENCH, 840)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("sbt printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    run_checked(java_cmd(cp, ["perfbench.OracleSql", os.path.join(BUILD, "oracle_sql.json")],
                         os.path.join(BUILD, "tmp")), BENCH, 120)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def cpus():
    return max(1, min(4, os.cpu_count() or 1))


def java_cmd(cp, main_args, tmp):
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx2g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", "-cp", cp] + main_args)


def prune(workload_dir, keep):
    dirs = sorted(glob.glob(os.path.join(workload_dir, "seed-*")), key=os.path.getmtime)
    for d in dirs[:-keep] if len(dirs) > keep else []:
        shutil.rmtree(d, ignore_errors=True)


def inputs_key():
    """Hash of everything the inputs and oracle results are made from
    besides the seed: the generators, the oracle command, the sizes, the
    warm-up seed offset and the oracle statements of this build."""
    h = hashlib.sha256(json.dumps([WORKLOADS, WARMUP_SEED_OFFSET], sort_keys=True).encode())
    for f in INPUT_FILES + [os.path.join(".build", "oracle_sql.json")]:
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def generate(name, size, seed, out, surface_queries):
    spec = WORKLOADS[name]
    py = sys.executable or "python3"
    if spec["kind"] == "aminer":
        run_checked([py, os.path.join(BENCH, "gen_aminer.py"), "--seed", str(seed), "--out", out,
                     "--records", str(size["records"]), "--kept", str(size["kept"])], ROOT, 120)
    else:
        run_checked([py, os.path.join(BENCH, "gen_tables.py"), "--seed", str(seed), "--out", out,
                     "--sf", str(size["sf"]), "--docs", str(size["docs"])], ROOT, 120)
        if surface_queries:
            run_checked([py, os.path.join(BENCH, "oracle.py"), "--tables", out,
                         "--sql", os.path.join(BUILD, "oracle_sql.json"),
                         "--out", os.path.join(out, "oracle.json")] + surface_queries, ROOT, 150)


def make_inputs(name, seed, surface_queries):
    """Generate the workload's measured and warm-up inputs for this seed,
    once per seed and inputs key. The oracle results are made for the
    measured input only; the warm-up round is not checked."""
    wdir = os.path.join(WORK, name)
    out = os.path.join(wdir, f"seed-{seed}-{inputs_key()}")
    done = os.path.join(out, "done")
    if os.path.exists(done):
        os.utime(out)
        return out
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    for part, part_seed in (("measured", seed), ("warmup", seed + WARMUP_SEED_OFFSET)):
        os.makedirs(os.path.join(out, part))
        generate(name, WORKLOADS[name][part], part_seed, os.path.join(out, part),
                 surface_queries if part == "measured" else None)
    open(done, "w").close()
    log(f"inputs for {name} seed {seed} made in {time.time() - t0:.1f} s")
    prune(wdir, KEEP_INPUTS)
    return out


def expected_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is there."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    spec = json.load(open(path))
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to {os.path.basename(BENCH)}/ (build.sbt, src/main/scala)")
    cp = build()
    meta = json.load(open(os.path.join(BUILD, "oracle_sql.json")))
    inputs = make_inputs(a.workload, a.seed, meta["queries"])

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    out_file = os.path.join(run_dir, "result.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=tmp)
    cmd = java_cmd(cp, ["perfbench.BenchMain", "--workload", a.workload,
                        "--input", os.path.join(inputs, "measured"),
                        "--warmup", os.path.join(inputs, "warmup"), "--work", run_dir, "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--out", out_file], tmp)
    budget = RUN_LIMIT_S - (time.time() - t_start)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(budget, 10))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(out_file):
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"benchmark JVM exited with code {code}")
    result = json.load(open(out_file))
    shutil.rmtree(run_dir, ignore_errors=True)

    want = expected_metrics(a.trace)
    if want is not None and sorted(want) != sorted(result["metrics"]):
        fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
