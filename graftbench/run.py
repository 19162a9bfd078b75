#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 graftbench/run.py --workload curation|stream \
        --seed N --seconds S --trace 0|1 [--smoke] [--record]

Run it from the root of a graft checkout (a clone, or a copy holding the
files git tracks). It

1. builds the engine and the harness from source with sbt, offline
   (the graftbench/ sbt package depends on the checkout's own build);
   the classpath is cached under graftbench/.work/ and rebuilt when any
   source or build file changes;
2. generates the input tables (graftbench/gen_data.py) once per scale
   factor under graftbench/.work/data/;
3. starts one JVM at local[nproc] with the warehouse, java.io.tmpdir,
   Spark local dirs and stream checkpoints under one temporary directory
   graftbench/.work/run-*, removed when the run ends;
4. prints a run record line, then, as the last line, the result:
   {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
   --trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
   the per-layer metrics, and writes the run's spans, with self times, to
   graftbench/.work/spans-<workload>-<seed>.json.

--smoke runs one set-up and one timed pass at sf 0.001 (the benchmark's
own test, see smoke_test.py). --record rewrites the expected output
fingerprints in graftbench/expected/ instead of checking them.

Exits non-zero, without a result line, when the checkout cannot be built
or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SF = "0.005"
SMOKE_SF = "0.001"
RUN_TIMEOUT_S = 165  # for the JVM; building comes before it
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]



def sbt_opts():
    """The offline sbt settings of the repository's own test command."""
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    return os.environ.get("SBT_OPTS", opts)


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's sources and build, and the
    harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Returns the runtime classpath, building it when the sources changed."""
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=sbt_opts())
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=BUILD_TIMEOUT_S)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def data_dir(sf):
    """The tables at `sf`, generated on first use by this gen_data.py."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(WORK, "data", f"sf{sf}-{version}")
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), sf, out], check=True, timeout=300)
        open(os.path.join(out, ".done"), "w").close()
    return out


def spans_file(workload, seed):
    """Where a traced run writes its spans."""
    return os.path.join(WORK, f"spans-{workload}-{seed}.json")


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                              timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def load_1m():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times():
    """The machine's cumulative CPU times (user nice system idle iowait irq
    softirq steal ...), from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt or src/main)")
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    stamp = tree_hash()
    classpath = build(stamp)
    sf = SMOKE_SF if args.smoke else SF
    data = data_dir(sf)
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=WORK)
    load_start, cpu_start = load_1m(), cpu_times()
    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(3)))
    try:
        for d in ("java", "local", "warehouse", "checkpoints"):
            os.makedirs(os.path.join(tmp, d))
        cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
            "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}/java", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--tmp", tmp, "--cpus", str(cpus),
            "--expected", os.path.join(HERE, "expected", f"sf{sf}.txt"),
            "--spans", spans_file(args.workload, args.seed),
        ] + (["--smoke"] if args.smoke else []) + (["--record"] if args.record else [])
        with open(os.path.join(tmp, "jvm.log"), "w") as err:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=err, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop()
                fail("run timed out")
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or len(lines) < 2:
            with open(os.path.join(tmp, "jvm.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"the JVM exited with {proc.returncode}")
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        cpu_end = cpu_times()
        if sorted(result["metrics"]) != sorted(wanted):
            fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(wanted)}")
        record["record"].update({
            "nproc": os.cpu_count(), "commit": commit() or f"tree-sha256:{stamp}", "sf": sf,
            "load_1m_start": load_start, "load_1m_end": load_1m(),
            # time the hypervisor gave other guests while this run wanted the CPU
            "cpu_steal_pct": round(100.0 * (cpu_end[7] - cpu_start[7]) / max(1, sum(cpu_end) - sum(cpu_start)), 2),
        })
        print(json.dumps(record))
        print(json.dumps(result))
    finally:
        stop()


if __name__ == "__main__":
    main()
