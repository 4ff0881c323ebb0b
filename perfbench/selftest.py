"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. generator and checks: one seed lands an identical table twice, another
   seed plants different members, every check passes on right outputs and
   fails on one corrupted row (graft.perfbench.SelfTest);
2. a run whose outputs get one corrupted row (--corrupt 1) reports the
   failure in `failed`, prints "correct": false and exits non-zero;
3. two traced runs of one seed give identical count metrics, and every run
   prints exactly the metrics BENCHMARK.json declares;
4. in a directory holding only BENCHMARK.json and perfbench/, the command
   exits non-zero without printing a result.
Takes a few minutes; exits non-zero if any check fails."""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

ROOT = build.ROOT
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def bench(workload, seed, trace, corrupt="0", cwd=ROOT):
    p = subprocess.run(SPEC["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--corrupt", corrupt],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=200)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return p.returncode, None


def main():
    scratch = os.path.join(build.BUILD, "selftest")
    p = subprocess.run(run.java_cmd("graft.perfbench.SelfTest", [scratch]),
                       stderr=subprocess.DEVNULL, text=True, stdout=subprocess.PIPE)
    print(p.stdout, end="")
    expect(p.returncode == 0, "generator and check self-test")

    e2e = {m["name"] for m in SPEC["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    counts = [n for n, u in per_layer.items() if u == "count"]
    for w in [x["name"] for x in SPEC["workloads"]]:
        rc, res = bench(w, 1, 0, corrupt="1")
        expect(rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: a corrupted output row fails the run (failed={res and res['failed']})")
        expect(res is not None and set(res["metrics"]) == e2e,
               f"{w}: the untraced run prints exactly the end-to-end metrics")
        traced = [bench(w, 2, 1) for _ in range(2)]
        expect(all(rc == 0 and r and r["correct"] for rc, r in traced), f"{w}: traced runs pass")
        if all(r for _, r in traced):
            (_, a), (_, b) = traced
            expect(set(a["metrics"]) == set(per_layer),
                   f"{w}: the traced run prints exactly the per-layer metrics")
            diff = [n for n in counts if a["metrics"][n]["value"] != b["metrics"][n]["value"]]
            expect(not diff, f"{w}: count metrics repeat across two traced runs {diff}")

    bare = os.path.join(build.BUILD, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path))
    rc, res = bench(SPEC["workloads"][0]["name"], 1, 0, cwd=bare)
    expect(rc != 0 and res is None, "without the engine sources the command fails cleanly")
    shutil.rmtree(bare, ignore_errors=True)

    print("selftest: " + ("all passed" if not failures else f"{len(failures)} failed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
