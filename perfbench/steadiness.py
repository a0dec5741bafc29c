"""Measures how steady the end-to-end metrics are.

  python3 perfbench/steadiness.py run <out.jsonl> [--runs 10] [--first-seed 1]
  python3 perfbench/steadiness.py summary <set.jsonl> [<set2.jsonl>]

`run` makes --runs untraced runs of every workload, each with its own
seed, interleaving the workloads, and appends one JSON line per run,
with the run's wall time from launch to exit.
`summary` prints, per workload and end-to-end metric, the median and the
spread: the distance between the first and third quartiles
(statistics.quantiles(n=4)) as a share of the median. It flags spreads
above a third of the metric's bound. Given two sets, it also prints how
far the second median moved from the first, as a share of the first.
Two extra rows show, for reference, the median pass wall time and the
median process CPU per pass (JIT included) from each run's detail line.
"""
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(out, runs, first_seed):
    b = bench()
    for i in range(runs):
        for w in (x["name"] for x in b["workloads"]):
            seed = first_seed + i
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(b["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": w, "seed": seed, "rc": p.returncode, "wall_s": time.monotonic() - t0,
                   "result": json.loads(lines[-1]) if p.returncode == 0 else None,
                   "detail": json.loads(lines[-2])["detail"] if len(lines) > 1 else None}
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")


def load(path):
    by = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            by.setdefault(r["workload"], []).append(r)
    return by


def summary(paths):
    b = bench()
    sets = [load(p) for p in paths]
    for w in (x["name"] for x in b["workloads"]):
        print(f"## {w}")
        for i, s in enumerate(sets):
            rs = s.get(w, [])
            ok = sum(1 for r in rs if r["rc"] == 0 and r["result"]["correct"])
            print(f"set {i + 1}: {len(rs)} runs, {ok} correct")
        print("| metric | bound | " + " | ".join(f"set {i + 1} median | set {i + 1} spread"
                                              for i in range(len(sets))) + " | median move |")
        print("| --- | --- |" + " --- | --- |" * len(sets) + " --- |")
        rows = [(m["name"], m["bound"], lambda r, n=m["name"]: r["result"]["metrics"][n]["value"])
                for m in b["end_to_end"]]
        rows.append(("pass_s (wall)", None,
                     lambda r: statistics.median(r["detail"]["pass_s_all"])))
        rows.append(("process CPU", None,
                     lambda r: statistics.median(r["detail"]["process_cpu_s_all"])))
        for name, bound, get in rows:
            cells, meds = [], []
            for s in sets:
                vals = [get(r) for r in s.get(w, []) if r["rc"] == 0]
                med = statistics.median(vals)
                q = statistics.quantiles(vals, n=4)
                spread = (q[2] - q[0]) / med
                flag = "" if bound is None or spread <= bound / 3 else " (over a third of the bound)"
                cells += [f"{med:.4g}", f"{spread:.3f}{flag}"]
                meds.append(med)
            move = f"{(meds[1] - meds[0]) / meds[0]:+.3f}" if len(meds) > 1 else ""
            print(f"| `{name}` | {bound if bound is not None else '—'} | " + " | ".join(cells)
                  + f" | {move} |")
        print()


if __name__ == "__main__":
    if sys.argv[1] == "run":
        args = dict(zip(sys.argv[3::2], sys.argv[4::2]))
        run(sys.argv[2], int(args.get("--runs", 10)), int(args.get("--first-seed", 1)))
    else:
        summary(sys.argv[2:])
