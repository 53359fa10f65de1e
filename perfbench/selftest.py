#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [--seed N] [--skip-runs]

  1. BENCHMARK.json names exactly the metrics run.py prints;
  2. the generator writes byte-identical files for one seed, and
     different files for another;
  3. for backfill and parse, the traced and the untraced run leave
     outputs with equal content hashes;
  4. the traced backfill has an io.readback span tagged with every
     StageResult name RunAll returned in the untraced run.

Steps 3 and 4 run the benchmark (about six minutes on 4 cores);
--skip-runs leaves them out. Exits 1 if any test fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

failures = []


def check(name, ok, detail=""):
    print(f"{'PASS' if ok else 'FAIL'} {name} {detail}".rstrip(), flush=True)
    if not ok:
        failures.append(name)


def tree_digest(path):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_benchmark_json():
    b = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    check("benchmark.json end_to_end", [(m["name"], m["unit"]) for m in b["end_to_end"]]
          == run.END_TO_END)
    check("benchmark.json per_layer", [(m["name"], m["unit"]) for m in b["per_layer"]]
          == run.per_layer_names(), f"({len(b['per_layer'])} metrics)")


def test_generator(seed):
    base = os.path.join(WORK, "selftest-gen")
    shutil.rmtree(base, ignore_errors=True)
    digests = []
    for i, s in enumerate((seed, seed, seed + 1)):
        out = os.path.join(base, str(i))
        gen.generate(s, out, "ncaa_1", 2024, 60, files=4)
        digests.append(tree_digest(out))
    check("generator deterministic", digests[0] == digests[1])
    check("generator seed-sensitive", digests[0] != digests[2])
    shutil.rmtree(base, ignore_errors=True)


def bench(workload, seed, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    ok = p.returncode == 0 and json.loads(last).get("correct") is True
    tag = "traced" if trace else "plain"
    with open(os.path.join(WORK, "reports", f"{workload}-{seed}-{tag}.json")) as f:
        return ok, json.load(f)


def test_traced_runs(seed):
    for workload in ("parse", "backfill"):
        ok0, plain = bench(workload, seed, 0)
        ok1, traced = bench(workload, seed, 1)
        check(f"{workload} runs correct", ok0 and ok1)
        h0, h1 = plain["output_hashes"], traced["output_hashes"]
        check(f"{workload} traced == untraced outputs", h0 == h1 and len(h0) > 0,
              f"({len(h0)} tables)")
        if workload == "backfill":
            spans = json.load(open(os.path.join(WORK, "reports",
                                                f"backfill-{seed}-traced.spans.json")))
            tagged = {s["stage"] for s in spans if s["name"] == "io.readback"}
            names = {n.split("/", 2)[2] for n, _ in plain["stages"]}
            missing = sorted(names - tagged)
            check("traced backfill spans every StageResult", not missing and len(names) > 0,
                  f"({len(names)} stages{', missing ' + str(missing) if missing else ''})")
        print(f"  {workload}: wall_s untraced {plain['end_to_end']['wall_s']:.2f} "
              f"traced {traced['end_to_end']['wall_s']:.2f}, uncovered share "
              f"{traced['per_layer']['trace.uncovered_share']:.4f}", flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--skip-runs", action="store_true")
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    test_benchmark_json()
    test_generator(a.seed)
    if not a.skip_runs:
        test_traced_runs(a.seed)
    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
