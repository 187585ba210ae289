#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, into
perfbench/target; later runs reuse the build while the sources are
unchanged), then runs the harness in a fresh JVM with local[nproc] and a
private warehouse, java.io.tmpdir and SPARK_LOCAL_DIRS under .bench_build/.
The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. A digest mismatch or a failed query exits with code 1
after printing it. The run's full artifact (passes, steal, spans, per-query
layer sums) stays in .bench_build/perfbench/artifacts/.

Extra options for manual runs: --full 1 runs every query of the workload
instead of its probe set; --passes N runs exactly N passes; --record PATH
writes the digests instead of checking them.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(HERE, "expected", "sf0.1.tsv")
# The read-only sf0.1 fixture (TESTDATA.md); PERFBENCH_SF_DIR overrides it.
DATA = os.environ.get("PERFBENCH_SF_DIR") or os.path.join(
    os.path.expanduser("~"), "testdata", "sf0.1")

WORKLOADS = ("olap", "text_vectors", "lsm_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# the JVM options the Spark jars need, shared with build.sbt's tests
with open(os.path.join(HERE, "conf", "add-opens.txt")) as _f:
    ADD_OPENS = [l.strip() for l in _f if l.strip()]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
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
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt unless the last build matches."""
    stamp, cp_file = source_stamp(), os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    t0 = time.time()
    with open(log, "w") as f:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=f, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and " " not in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); log in {log}")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_child(cmd, cwd, stdout, timeout, env=None):
    """Run a child in its own process group; kill the group on timeout and
    always wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {cmd[0]} timed out after {timeout} s", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def jvm_cmd(cp, work_dir, heap):
    """The java command of a harness or engine JVM with local[nproc] and its
    own warehouse, java.io.tmpdir and SPARK_LOCAL_DIRS under work_dir (see
    child_env); the caller appends the main class and its arguments."""
    for d in ("warehouse", "tmp", "local"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}", f"-Xmx{heap}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-DSPARK_GRAFT_CPUS={len(os.sched_getaffinity(0))}",
        f"-Dgraft.warehouse={os.path.join(work_dir, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}",
        "-cp", cp]


def child_env(work_dir):
    """The environment of a JVM made by jvm_cmd for the same work_dir."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work_dir, "local"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", type=int, choices=(0, 1), default=0)
    ap.add_argument("--passes", type=int)
    ap.add_argument("--record")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")) \
            and not os.path.isdir(os.path.join(DATA, "lineitem.parquet")):
        fail(f"no sf0.1 data at {DATA}; set PERFBENCH_SF_DIR")
    if shutil.which("sbt") is None or not os.environ.get("SPARK_HOME"):
        fail("sbt and SPARK_HOME are needed to build the harness")
    cp = build()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(OUT, "runs", f"{tag}-{os.getpid()}")
    art_dir = os.path.join(OUT, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    artifact = os.path.join(art_dir, f"{tag}.json")
    if os.path.exists(artifact):
        os.remove(artifact)

    cmd = jvm_cmd(cp, run_dir, "4g") + [
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf-dir", DATA, "--out", artifact, "--full", str(args.full),
    ]
    if args.passes is not None:
        cmd += ["--passes", str(args.passes)]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    else:
        cmd += ["--expected", EXPECTED]
    env = child_env(run_dir)
    timeout = RUN_TIMEOUT_S if not (args.full or args.passes) else 3600
    try:
        rc = run_child(cmd, cwd=ROOT, stdout=sys.stderr, timeout=timeout, env=env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(artifact):
        fail(f"harness failed (rc={rc})")
    with open(artifact) as f:
        a = json.load(f)
    # the result carries exactly the metrics BENCHMARK.json names for
    # this kind of run; the artifact keeps the rest
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"]
                 for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    names = list(units)
    section = a["per_layer" if args.trace else "end_to_end"]
    missing = [n for n in names if n not in section]
    if missing:
        fail(f"harness reported no {', '.join(missing)}")
    wrong = [f"{n} in {section[n]['unit']} (not {units[n]})"
             for n in names if section[n]["unit"] != units[n]]
    if wrong:
        fail(f"harness reported {', '.join(wrong)}")
    result = {k: a[k] for k in ("correct", "attempted", "failed")}
    result["metrics"] = {n: section[n] for n in names}
    if not a["correct"]:
        for x in a["failures"]:
            print(f"perfbench: FAILED {x['query']} (pass {x['pass']}): {x['error']}",
                  file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if a["correct"] else 1)


if __name__ == "__main__":
    main()
