"""Runs one traced run per workload and prints the per-layer table in
Markdown: every per-layer metric, each span layer's self time, the
driver's share of a pass and the tracing overhead.

Usage: python3 perfbench/layers.py [--seed N] [--seconds S]
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def traced(workload, seed, seconds):
    subprocess.run([sys.executable, os.path.join(build.ROOT, "perfbench", "run.py"),
                    "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                    "--trace", "1"], check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(build.BUILD, "traces", f"{workload}-seed{seed}.jsonl.summary.json")
    with open(path) as f:
        return json.load(f)


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    a = p.parse_args()
    runs = {w: traced(w, a.seed, a.seconds) for w in run.WORKLOADS}
    ws = list(runs)
    print("| metric | unit | " + " | ".join(ws) + " |")
    print("| --- | --- |" + " --- |" * len(ws))
    for name, m in runs[ws[0]]["metrics"].items():
        vals = [fmt(runs[w]["metrics"][name]["value"]) for w in ws]
        print(f"| `{name}` | {m['unit']} | " + " | ".join(vals) + " |")
    layers = sorted({k for r in runs.values() for k in r["self_s"]})
    for layer in layers:
        vals = [fmt(runs[w]["self_s"].get(layer, 0.0)) for w in ws]
        print(f"| self time `{layer}` | s | " + " | ".join(vals) + " |")
    rows = [
        ("traced pass", "s", lambda r: r["traced_pass_s"]),
        ("untraced pass", "s", lambda r: r["untraced_pass_s"]),
        ("`driver.plan_s` share of traced pass", "%",
         lambda r: 100 * r["metrics"]["driver.plan_s"]["value"] / r["traced_pass_s"]),
        ("`driver.build_s` share of traced pass", "%",
         lambda r: 100 * r["metrics"]["driver.build_s"]["value"] / r["traced_pass_s"]),
        ("`driver.gap_s` share of traced pass", "%",
         lambda r: 100 * r["metrics"]["driver.gap_s"]["value"] / r["traced_pass_s"]),
        ("op samples (traced)", "count", lambda r: r["op_samples"]),
        ("`op_tail_s` percentile", "%", lambda r: r["op_tail_percentile"]),
        ("SQL actions seen by the listener", "count", lambda r: r["sql_actions"]),
        ("streaming batches", "count", lambda r: r["streaming_batches"]),
    ]
    for label, unit, f in rows:
        print(f"| {label} | {unit} | " + " | ".join(fmt(f(runs[w])) for w in ws) + " |")
    m = runs[ws[0]]["machine"]
    print(f"\nMachine: {m['nproc']} cores, MemTotal {m['mem_total_kb']} kB, {m['jvm']}, "
          f"Spark {m['spark']}, -Xmx{m['xmx']}, {m['master']}; seed {a.seed}, "
          f"--seconds {fmt(a.seconds)}.")


if __name__ == "__main__":
    main()
