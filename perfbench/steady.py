#!/usr/bin/env python3
"""Steadiness, A/A and comparison for the repo benchmark.

Steadiness: run every workload K times, each with another seed (1..K),
untraced, keep each run's full result as DIR/<workload>-seed<N>.json, and
print the summary.

  python3 perfbench/steady.py run --runs 10 --out DIR
  python3 perfbench/steady.py summary DIR

The summary prints, for each (workload, end-to-end metric), the median,
the quartiles, the quartile spread as a share of the median against the
metric's bound, and the metric's rank correlation with two gauges of the
machine taken in every run: the machine-speed probe (the CPU time of a
fixed single-thread job before and after the run) and the CPU share other
tenants took during the passes (`external_cpu_share`; on a VM this is
mostly steal time, which the probe's CPU time cannot see). A high
correlation says the spread follows the machine, not the program. Then
the median per-pass series by pass index (wall time, JIT and GC
milliseconds), which sets the warm-up/measured split.

A/A: two interleaved sets of the same build, A on seeds 1..K (DIR/a) and
B on seeds 101..100+K (DIR/b), alternating which set runs first. For each
(workload, metric) it prints both medians, the gap between them, both
quartile spreads, the bound, and pass/fail: pass when the gap and both
spreads are within the bound. Runs already in DIR
are kept, so an interrupted A/A resumes and a finished one reprints.

  python3 perfbench/steady.py aa --runs 10 --out DIR

Comparison (choosing-metrics section 8): for two result sets of the same
benchmark, parent and change, pair the runs by seed and print one row per
(workload, metric): pairs the change won, both medians, the parent's
quartile spread, and a verdict. "better"/"worse" needs 9 of 10 pairs and a
median gap wider than the parent's spread; "worse" also when the change's
median is worse than the parent's by more than the bound; "unresolved"
when the parent's spread exceeds the bound (unless every change run beats
every parent run); "same" otherwise.

  python3 perfbench/steady.py compare PARENT_DIR CHANGE_DIR
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

B_SEEDS_FROM = 101


def load_spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def quartiles(values: list) -> tuple:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread(values: list) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def ranks(xs: list) -> list:
    order = sorted(range(len(xs)), key=lambda i: xs[i])
    r = [0.0] * len(xs)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and xs[order[j + 1]] == xs[order[i]]:
            j += 1
        for k in range(i, j + 1):
            r[order[k]] = (i + j) / 2
        i = j + 1
    return r


def spearman(xs: list, ys: list) -> float:
    rx, ry = ranks(xs), ranks(ys)
    mx, my = statistics.fmean(rx), statistics.fmean(ry)
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    var = (sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)) ** 0.5
    return cov / var if var else 0.0


def load_runs(d: str) -> dict:
    """{workload: {seed: full result record}} from DIR/<workload>-seed<N>.json."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(d, "*-seed*.json"))):
        workload, seed = os.path.basename(path)[:-len(".json")].rsplit("-seed", 1)
        with open(path) as f:
            runs.setdefault(workload, {})[int(seed)] = json.load(f)
    return runs


def values(by_seed: dict, metric: str) -> list:
    return [r["metrics"][metric]["value"] for _, r in sorted(by_seed.items())
            if metric in r["metrics"]]


def machine_speed(record: dict) -> float:
    c = record["context"]
    return (c["probe_before_s"] + c["probe_after_s"]) / 2


def external_share(record: dict) -> float:
    return float(record["context"]["external_cpu_share"])


def run_one(workload: str, seed: int, out: str, spec: dict) -> None:
    """One untraced run of the benchmark, its full result kept in `out`."""
    dest = os.path.join(out, f"{workload}-seed{seed}.json")
    if os.path.exists(dest):
        return
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
         "--trace", "0"],
        cwd=run.ROOT, capture_output=True, text=True)
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    print(f"{os.path.basename(out)} {workload} seed {seed}: exit "
          f"{proc.returncode} {last}", flush=True)
    if proc.returncode != 0:
        print(proc.stdout[-2000:] + proc.stderr[-2000:])
        return
    os.makedirs(out, exist_ok=True)
    shutil.copy(os.path.join(run.RESULTS, f"{workload}-seed{seed}-trace0.json"), dest)


def workloads(spec: dict) -> list:
    return [w["name"] for w in spec["workloads"]]


def cmd_run(a) -> None:
    spec = load_spec()
    for w in workloads(spec):
        for seed in range(1, a.runs + 1):
            run_one(w, seed, a.out, spec)
    summarize(load_runs(a.out), spec)


def summarize(runs: dict, spec: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"{'workload':16s} {'metric':18s} {'n':>3s} {'q1':>10s} "
          f"{'median':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s} "
          f"{'probe rho':>9s} {'ext rho':>7s}")
    for w, by_seed in sorted(runs.items()):
        speed = [machine_speed(r) for _, r in sorted(by_seed.items())]
        ext = [external_share(r) for _, r in sorted(by_seed.items())]
        for m, b in bounds.items():
            vals = values(by_seed, m)
            if len(vals) < 2:
                continue
            q1, med, q3 = quartiles(vals)
            s = spread(vals)
            flag = "" if s <= b / 3 else ("  >bound/3" if s <= b else "  >BOUND")
            print(f"{w:16s} {m:18s} {len(vals):3d} {q1:10.4f} {med:10.4f} "
                  f"{q3:10.4f} {s:7.3f} {b:6.2f} {spearman(vals, speed):9.2f} "
                  f"{spearman(vals, ext):7.2f}{flag}")
    print("\nexternal_cpu_share by run: " + "; ".join(
        f"{w} " + " ".join(f"{external_share(r):.2f}" for _, r in sorted(by_seed.items()))
        for w, by_seed in sorted(runs.items())))
    print("\nmedian per-pass series (pass 0 is cold)")
    for w, by_seed in sorted(runs.items()):
        recs = list(by_seed.values())
        n = min(len(r["passes"]) for r in recs)
        first = recs[0]["warmup"] + 1
        print(f"{w}: {len(recs)} runs; measured from pass {first}")
        print(f"  {'pass':>4s} {'wall_s':>7s} {'jit_ms':>7s} {'gc_ms':>6s}")
        for i in range(n):
            col = {k: statistics.median(r["passes"][i][k] for r in recs)
                   for k in ("wall_s", "jit_ms", "gc_ms")}
            print(f"  {i:4d} {col['wall_s']:7.2f} {col['jit_ms']:7.0f} "
                  f"{col['gc_ms']:6.0f}{'  *' if i >= first else ''}")


def cmd_aa(a) -> None:
    spec = load_spec()
    sets = {"a": os.path.join(a.out, "a"), "b": os.path.join(a.out, "b")}
    for i in range(a.runs):
        order = ["a", "b"] if i % 2 == 0 else ["b", "a"]
        for w in workloads(spec):
            for s in order:
                seed = 1 + i if s == "a" else B_SEEDS_FROM + i
                run_one(w, seed, sets[s], spec)
    A, B = load_runs(sets["a"]), load_runs(sets["b"])
    print(f"{'workload':16s} {'metric':18s} {'n':>5s} {'median A':>10s} "
          f"{'median B':>10s} {'gap':>7s} {'sprd A':>7s} {'sprd B':>7s} "
          f"{'bound':>6s} result")
    for w in workloads(spec):
        for m in spec["end_to_end"]:
            va, vb = values(A.get(w, {}), m["name"]), values(B.get(w, {}), m["name"])
            if len(va) < 2 or len(vb) < 2:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            gap = (mb - ma) / ma
            sa, sb = spread(va), spread(vb)
            ok = abs(gap) <= m["bound"] and max(sa, sb) <= m["bound"]
            print(f"{w:16s} {m['name']:18s} {len(va):2d}/{len(vb):<2d} "
                  f"{ma:10.4f} {mb:10.4f} {gap:+7.3f} {sa:7.3f} {sb:7.3f} "
                  f"{m['bound']:6.2f} {'pass' if ok else 'FAIL'}")
    print()
    summarize({f"{w} ({s})": r for s, d in sets.items()
               for w, r in load_runs(d).items()}, spec)


def cmd_compare(a) -> None:
    spec = load_spec()
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load_runs(a.parent), load_runs(a.change)
    print(f"{'workload':16s} {'metric':28s} {'won':>7s} {'parent':>11s} "
          f"{'change':>11s} {'p.spread':>8s} verdict")
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        for m in sorted(meta):
            pv = [parent[w][s]["metrics"][m]["value"] for s in seeds
                  if m in parent[w][s]["metrics"]]
            cv = [change[w][s]["metrics"][m]["value"] for s in seeds
                  if m in change[w][s]["metrics"]]
            if len(pv) < 2 or len(pv) != len(cv):
                continue
            lower = meta[m]["better"] == "lower"
            won = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
            lost = sum((c > p) if lower else (c < p) for p, c in zip(pv, cv))
            pmed, cmed = statistics.median(pv), statistics.median(cv)
            q1, _, q3 = quartiles(pv)
            gap = (pmed - cmed) if lower else (cmed - pmed)
            bound = meta[m].get("bound")
            worse_share = -gap / pmed if pmed else 0.0
            all_better = (max(cv) < min(pv)) if lower else (min(cv) > max(pv))
            if won >= 0.9 * len(pv) and gap > q3 - q1:
                verdict = "better"
            elif bound is not None and worse_share > bound:
                verdict = "worse"
            elif lost >= 0.9 * len(pv) and -gap > q3 - q1:
                verdict = "worse"
            elif bound is not None and spread(pv) > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "same"
            print(f"{w:16s} {m:28s} {won:3d}/{len(pv):<3d} {pmed:11.4f} "
                  f"{cmed:11.4f} {spread(pv):8.3f} {verdict}")


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--out", required=True)
    r.set_defaults(fn=cmd_run)
    s = sub.add_parser("summary")
    s.add_argument("dir")
    s.set_defaults(fn=lambda a: summarize(load_runs(a.dir), load_spec()))
    aa = sub.add_parser("aa")
    aa.add_argument("--runs", type=int, default=10)
    aa.add_argument("--out", required=True)
    aa.set_defaults(fn=cmd_aa)
    c = sub.add_parser("compare")
    c.add_argument("parent")
    c.add_argument("change")
    c.set_defaults(fn=cmd_compare)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
