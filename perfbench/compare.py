#!/usr/bin/env python3
"""Collect sets of benchmark runs and compare two of them.

  compare.py collect --checkout DIR --out runs.jsonl
                     [--checkout DIR2 --out runs2.jsonl]
                     [--workloads a,b] [--seeds 1-10] [--trace 0|1]
      Run the benchmark once per workload and seed in each checkout (a
      repository root), at BENCHMARK.json's run_seconds, and append one
      JSON line per run to that checkout's --out: workload, seed, wall
      time and the run's result line. With two checkouts (parent and
      change) the runs alternate per seed, the first side flipping from
      seed to seed.

  compare.py spread runs.jsonl
      Per workload and end-to-end metric: median, quartiles and the
      quartile spread as a share of the median, against the metric's bound.

  compare.py compare parent.jsonl change.jsonl
      Per workload and metric: both sides' medians and quartiles, the share
      of seed-matched pairs the change wins, and a verdict. "better" needs
      the change to win at least 9 in 10 pairs (ties count for neither) and
      the medians to differ by more than the parent's quartile spread;
      "worse" means the change's median is worse than the parent's by more
      than the metric's bound; where either side's spread exceeds the bound
      the verdict is "unresolved" unless every change run beats every
      parent run; otherwise "same".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def spec():
    with open(BENCH) as f:
        return json.load(f)


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def load(path):
    out = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            out.setdefault(r["workload"], []).append(r)
    return out


def values(runs, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if metric in r["result"].get("metrics", {})]


def seeds(arg):
    lo, _, hi = arg.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(s, cwd, workload, seed, trace):
    """One run of the benchmark in checkout `cwd`, at BENCHMARK.json's
    run length; returns its record."""
    t0 = time.time()
    p = subprocess.run(
        s["command"] + ["--workload", workload, "--seed", str(seed),
                        "--seconds", str(s["run_seconds"]),
                        "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "error": f"exit {p.returncode}"}
    print(f"{cwd} {workload} seed {seed}: {wall:.1f}s exit {p.returncode} "
          f"correct {result.get('correct')}", file=sys.stderr)
    return {"workload": workload, "seed": seed, "trace": trace,
            "wall_s": round(wall, 2), "exit": p.returncode, "result": result}


def collect(a):
    """Runs every workload and seed in each checkout. With two checkouts
    the runs alternate per seed, and which one goes first flips from seed
    to seed, so a slow spell of the host hits both sides alike."""
    s = spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    if len(a.checkout) != len(a.out):
        raise SystemExit("give one --out per --checkout")
    outs = [open(path, "a") for path in a.out]
    try:
        for w in workloads:
            for i, seed in enumerate(seeds(a.seeds)):
                order = list(range(len(a.checkout)))
                if i % 2:
                    order.reverse()
                for k in order:
                    rec = run_once(s, a.checkout[k], w, seed, a.trace)
                    outs[k].write(json.dumps(rec) + "\n")
                    outs[k].flush()
    finally:
        for f in outs:
            f.close()


def spread(a):
    s = spec()
    runs = load(a.runs)
    print(f"{'workload':<15}{'metric':<14}{'n':>3}{'q1':>12}{'median':>12}"
          f"{'q3':>12}{'spread':>8}{'bound':>7}  wall_s")
    for w, rs in runs.items():
        wall = statistics.median(r["wall_s"] for r in rs)
        for m in s["end_to_end"]:
            xs = values(rs, m["name"])
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            sp = (q3 - q1) / med if med else float("inf")
            flag = "" if sp < m["bound"] / 3 else (" <bound" if sp <= m["bound"] else " OVER")
            print(f"{w:<15}{m['name']:<14}{len(xs):>3}{q1:>12.4g}{med:>12.4g}"
                  f"{q3:>12.4g}{sp:>8.3f}{m['bound']:>7.2f}  {wall:.1f}{flag}")
        bad = sum(not r["result"].get("correct") for r in rs)
        if bad:
            print(f"{w:<15}{bad} run(s) incorrect or failed")


def verdict(p, c, better, bound):
    sign = 1 if better == "higher" else -1
    pq1, pm, pq3 = quartiles(p)
    cq1, cm, cq3 = quartiles(c)
    pairs = list(zip(p, c))
    wins = sum(sign * (y - x) > 0 for x, y in pairs)
    share = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (pm - cm) / pm if pm else 0.0
    all_better = all(sign * (y - x) > 0 for x in p for y in c)
    unresolved = pm and cm and max((pq3 - pq1) / pm, (cq3 - cq1) / cm) > bound
    if all_better or (share >= 0.9 and abs(cm - pm) > pq3 - pq1):
        v = "better"
    elif unresolved:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "same"
    return (pq1, pm, pq3), (cq1, cm, cq3), share, v


def compare(a):
    s = spec()
    bounds = {m["name"]: m for m in s["end_to_end"]}
    base, change = load(a.parent), load(a.change)
    print(f"{'workload':<15}{'metric':<14}{'parent q1/med/q3':>30}"
          f"{'change q1/med/q3':>30}{'won':>6}  verdict")
    def by_seed(runs, name):
        return [x for _, x in sorted((r["seed"], values([r], name)[0])
                                     for r in runs if values([r], name))]
    for w in base:
        for name, m in bounds.items():
            p, c = by_seed(base[w], name), by_seed(change.get(w, []), name)
            if not p or not c:
                continue
            pq, cq, share, v = verdict(p, c, m["better"], m["bound"])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{w:<15}{name:<14}{fmt(pq):>30}{fmt(cq):>30}"
                  f"{share:>6.2f}  {v}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--checkout", action="append", required=True)
    c.add_argument("--out", action="append", required=True)
    c.add_argument("--workloads", default="")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", type=int, default=0)
    sp = sub.add_parser("spread")
    sp.add_argument("runs")
    cp = sub.add_parser("compare")
    cp.add_argument("parent")
    cp.add_argument("change")
    a = ap.parse_args()
    {"collect": collect, "spread": spread, "compare": compare}[a.cmd](a)


if __name__ == "__main__":
    main()
