#!/usr/bin/env python3
"""Renders the "where the time goes" ledger from traced benchmark runs.

    python3 perfbench/ledger.py [--seed N] > perfbench/LEDGER.md

Reads perfbench/.work/results/<workload>-seed<N>-trace1.json and its
.calls.jsonl (written by `run.py --trace 1`) for every workload that has
one, and prints per workload: the self time of each layer over the traced
pass (they sum to the pass's wall time), the top calls by Catalyst
planning time, by Spark jobs and by shuffle bytes, the loop-operator job
counts, and the plans kernel microbench.
"""
import argparse
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(HERE, ".work", "results")
WORKLOADS = ("interactive", "iterative")
LAYERS = [("catalyst", "Catalyst analysis, optimization and planning outside jobs"),
          ("core", "graft API calls building the DataFrame, outside jobs and planning"),
          ("exec", "Spark jobs (union of job intervals)"),
          ("driver", "rest of the call: action bookkeeping, AQE re-planning, results"),
          ("bench", "benchmark harness between calls (listener drain, leak check)")]
TOP = 5


def table(rows, header):
    out = ["| " + " | ".join(header) + " |", "|" + "---|" * len(header)]
    out += ["| " + " | ".join(str(c) for c in r) + " |" for r in rows]
    return "\n".join(out)


def render(workload, seed):
    base = os.path.join(RESULTS, f"{workload}-seed{seed}-trace1")
    if not os.path.exists(base + ".json"):
        return None
    rec = json.load(open(base + ".json"))
    m = {k: v["value"] for k, v in rec["metrics"].items()}
    calls = [json.loads(l) for l in open(base + ".calls.jsonl") if l.strip()]
    wall = m["trace.wall_s"]
    self_s = {layer: sum(c["self_ms"][layer] for c in calls) / 1000.0
              for layer, _ in LAYERS if layer != "bench"}
    self_s["bench"] = m["self.bench_s"]
    lines = [f"## {workload}",
             "",
             f"Seed {seed}, commit `{rec['commit'] or rec['source_digest'][:12]}`, "
             f"{rec['nproc']} cores, load {rec['loadavg_1m_at_start']:.2f} at start. "
             f"Traced pass: {len(calls)} calls, {wall:.2f} s; the untraced pass "
             f"before it took {rec['passes'][0]['wall_s']:.2f} s "
             f"(trace overhead {m['trace.overhead_frac']:+.1%}).",
             "",
             "### Self time per layer",
             "",
             table([(layer, f"{self_s[layer]:.3f}", f"{self_s[layer] / wall:.1%}", what)
                    for layer, what in LAYERS] +
                   [("**total**", f"{sum(self_s.values()):.3f}",
                     f"{sum(self_s.values()) / wall:.1%}", "traced pass wall time")],
                   ["layer", "self s", "share", "what"]),
             ""]
    for c in calls:
        c["shuffle_mb"] = c["exec.shuffle_read_mb"] + c["exec.shuffle_write_mb"]
    for key, label in (("catalyst.planning_ms", "Catalyst planning ms"),
                       ("exec.jobs", "Spark jobs"),
                       ("shuffle_mb", "shuffle MB (read + write)")):
        top = sorted(calls, key=lambda c: -c[key])[:TOP]
        lines += [f"### Top calls by {label}", "",
                  table([(c["name"], c["wall_ms"], c["catalyst.planning_ms"], c["exec.jobs"],
                          f"{c['shuffle_mb']:.2f}") for c in top],
                        ["call", "wall ms", "planning ms", "jobs", "shuffle MB"]),
                  ""]
    graph = [(k.split(".")[-1], int(v)) for k, v in m.items()
             if k.startswith("operators.graph.jobs.") and v]
    if graph:
        lines += ["### Loop operators: Spark jobs per call", "",
                  table(graph, ["call", "jobs"]), ""]
    kernels = sorted({k.split(".")[1] for k in m if k.endswith(".ns_per_row")})
    kernels.remove("passthrough")
    lines += ["### plans kernels (projection of replicated `documents` text into a "
              f"noop sink, best of 2; a bare projection costs "
              f"{m['plans.passthrough.ns_per_row']:.0f} ns/row)", "",
              table([(k, int(m[f"plans.{k}.rows"]), f"{m[f'plans.{k}.ns_per_row']:.0f}",
                      f"{m[f'plans.{k}.vs_builtin']:.2f}") for k in kernels],
                    ["kernel", "rows", "ns/row", "time vs Spark equivalent"]), ""]
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    parts = [render(w, a.seed) for w in WORKLOADS]
    print("# Where the time goes\n")
    print("Generated by `perfbench/ledger.py` from `run.py --trace 1` runs. "
          "Layer self times split each call's wall time by priority "
          "exec > catalyst > core > driver, so they sum to the traced pass.\n")
    print("\n".join(p for p in parts if p))


if __name__ == "__main__":
    main()
