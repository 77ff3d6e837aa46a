"""Self-test of the benchmark (about six minutes on 4 cores).

    python3 perfbench/selftest.py

1. Plans: another seed changes the generated statements but not the share of
   each operation type.
2. Short runs of every workload named in BENCHMARK.json, untraced and traced,
   print every metric BENCHMARK.json names, with its unit, and check correct.
3. Two runs on the same seed report identical load-invariant counts (jobs,
   tasks, wire requests, rows read, files written). The counts come from
   the warm-up cycle, which one client runs alone.
"""
import collections
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)


def plans(seed):
    return {"frontdoor_mixed": workloads.frontdoor(seed, 2, 6, "/w", "/f"),
            "federated_wire": workloads.federated(seed, 1, 6)}


def shares(plan):
    return [sorted(collections.Counter(s["op"] for s in stream).items())
            for stream in plan["streams"]]


def statements(plan):
    return [[s["sql"] for s in stream] for stream in plan["streams"]]


def run(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "3", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    assert p.returncode == 0, f"{' '.join(cmd)} failed:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    a, b = plans(1), plans(2)
    for w in a:
        assert statements(a[w]) != statements(b[w]), f"{w}: seed does not change statements"
        assert shares(a[w]) == shares(b[w]), f"{w}: seed changes the operation shares"
        assert plans(1)[w] == a[w], f"{w}: same seed, different plan"
    print("plans: ok")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            detail, res = run(w, 3, trace)
            assert res["correct"] and res["failed"] == 0, (w, trace, detail["failures"])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w, trace, set(got) ^ set(want))
            print(f"{w} trace={trace}: {len(got)} metrics, all correct")
        counts = [run(w, 5, 0)[0]["counts"] for _ in range(2)]
        assert counts[0] == counts[1], (w, counts)
        print(f"{w}: warm-up counts repeat exactly: {counts[0]}")


if __name__ == "__main__":
    main()
