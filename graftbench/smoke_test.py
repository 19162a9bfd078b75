#!/usr/bin/env python3
"""The benchmark's own test.

    python3 graftbench/smoke_test.py

1. Runs the harness's unit tests (graftbench/src/test: the output
   fingerprint ignores row order and shuffle-partition count, and changes
   when one value changes) with sbt, offline.
2. Runs every workload once in smoke mode (one set-up and one timed pass
   at sf 0.001), untraced and traced, and checks that each run exits 0,
   checks its outputs with no failed operation, and reports exactly the
   metrics BENCHMARK.json lists and, when traced, writes its spans.
3. Runs every workload in smoke mode with --record, and checks that the
   fingerprints it records are the ones in graftbench/expected/ (the file
   is restored afterwards).

Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark's runner: sbt settings)


def main():
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=run.sbt_opts())
    tests = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"], cwd=HERE, env=env,
                           capture_output=True, text=True, timeout=1200)
    print("\n".join(l for l in tests.stdout.splitlines() if "Tests:" in l or "FAILED" in l or "error" in l))
    if tests.returncode != 0:
        sys.exit("graftbench unit tests failed")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace in (0, 1):
            spans = run.spans_file(w, 1)
            if os.path.exists(spans):
                os.remove(spans)
            record, result = smoke_run(w, trace)
            wanted = sorted(m["name"] for m in spec["per_layer" if trace else "end_to_end"])
            ok = (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
                  and sorted(result["metrics"]) == wanted)
            print(f"{w} trace={trace}: attempted {result['attempted']} failed {result['failed']}"
                  f" problems {record['record']['problems']}")
            if not ok:
                sys.exit(f"{w} trace={trace}: unexpected result {json.dumps(result)}")
            if trace:
                with open(spans) as fh:
                    rows = json.load(fh)
                print(f"{w} spans: {len(rows)}, kinds {sorted({r['kind'] for r in rows})}")
                if not rows or any("self_ms" not in r for r in rows):
                    sys.exit(f"{w}: no spans with self times in {spans}")

    expected = os.path.join(HERE, "expected", f"sf{run.SMOKE_SF}.txt")
    with open(expected, "rb") as fh:
        committed = fh.read()
    try:
        for w in workloads:
            smoke_run(w, 0, "--record")
            with open(expected, "rb") as fh:
                if fh.read() != committed:
                    sys.exit(f"{w}: --record wrote fingerprints that differ from {expected}")
            print(f"{w} --record: fingerprints reproduced")
    finally:
        with open(expected, "wb") as fh:
            fh.write(committed)
    print("smoke test passed")


def smoke_run(workload, trace, *extra):
    """One smoke run; returns its run record and result."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
                        "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace} {' '.join(extra)}: exit {p.returncode}\n{p.stderr[-3000:]}")
    record, result = (json.loads(l) for l in p.stdout.strip().splitlines()[-2:])
    return record, result


if __name__ == "__main__":
    main()
