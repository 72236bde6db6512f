#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: a base revision against the working tree.

    python3 tools/ab_pairs.py --workload dispatch --pairs 10 --seed 101
    python3 tools/ab_pairs.py --base HEAD~1 --workload batch_round
    python3 tools/ab_pairs.py --workload batch_round --traced 3

Run from the repository root. The base revision (default HEAD, so the
uncommitted change is what is measured) is checked out into a temporary
`git worktree` under /tmp, removed at the end; `--base-dir` names an
existing checkout of the base to use instead (it keeps its build between
invocations). Each pair runs `perfbench/run.py` once on each side with the
same seed (pair i uses seed + i), alternating which side goes first. Both
sides get the run length from BENCHMARK.json unless `--seconds` is given.
Each run's line shows how many units (rounds, drains) its window held, and
the summary each side's median unit count: a median over few units moves
when one more unit fits the window.

For every end-to-end metric of BENCHMARK.json this prints each side's
median and quartiles, how many pairs the change won (ties count for
neither) and three verdicts: `gain` when the change won at least 9/10 of
the pairs and the medians differ, in the better direction, by more than the
base's interquartile range; `over bound` when the change's median is worse
than the base's by more than the metric's bound; `unresolved` when the
base's interquartile range, relative to its median, is wider than the
metric's bound, so the runs cannot tell a change within the bound from
none, unless every change run reads better than every base run.

With `--traced N` (N defaults to 1), after the pairs of a workload it runs
N pairs of `--trace 1` runs at the first N seeds, alternating which side
goes first, and prints the median of every per-layer metric of
BENCHMARK.json per side as base -> change, with each side's range, so the
same command shows in which layer a saving landed; one traced run cannot
tell a saving from run-to-run noise. `plans.ckpt_bytes` sums over the
units of a run, so it is also printed divided by each run's unit count
(`plans.ckpt_bytes/unit`). It changes nothing under perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout, workload, seed, seconds, trace=0):
    """The result line of one benchmark run, or None if it failed. Its
    `units` is the number of units the run measured, from the `units` field
    of the report line before it (None when that line is missing)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    result = json.loads(lines[-1])
    report = json.loads(lines[-2]).get("report", {}) if len(lines) > 1 else {}
    result["units"] = report.get("units")
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(workload, runs, metrics):
    """Per-metric table rows over the pairs where both sides ran."""
    pairs = [(b, c) for b, c in runs if b is not None and c is not None]
    failed = {side: sum(1 for r in runs if r[i] is None or not r[i]["correct"])
              for i, side in enumerate(("base", "change"))}
    print(f"\n{workload}: {len(pairs)} complete pairs of {len(runs)}; "
          f"failed or incorrect runs: base {failed['base']}, change {failed['change']}")
    units = {side: [r[i]["units"] for r in pairs if r[i]["units"] is not None]
             for i, side in enumerate(("base", "change"))}
    print("median units per run: " + ", ".join(
        f"{side} {statistics.median(u) if u else 'n/a'}" for side, u in units.items()))
    print(f"{'metric':<14}{'base med [q1, q3]':>30}{'change med [q1, q3]':>30}"
          f"{'wins':>8}  verdict")
    for m in metrics:
        if not pairs:
            break
        name, lower = m["name"], m["better"] == "lower"
        b = [r["metrics"][name]["value"] for r, _ in pairs]
        c = [r["metrics"][name]["value"] for _, r in pairs]
        bq1, bmed, bq3 = quartiles(b)
        cq1, cmed, cq3 = quartiles(c)
        wins = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
        gain = (cmed < bmed if lower else cmed > bmed) and abs(cmed - bmed) > bq3 - bq1
        verdicts = []
        if wins >= 0.9 * len(pairs) and gain:
            verdicts.append("gain")
        worse = (cmed - bmed if lower else bmed - cmed) / abs(bmed) if bmed else 0.0
        if worse > m["bound"]:
            verdicts.append(f"over bound ({worse:+.1%} > {m['bound']:.0%})")
        spread = (bq3 - bq1) / abs(bmed) if bmed else 0.0
        all_better = max(c) < min(b) if lower else min(c) > max(b)
        if spread > m["bound"] and not all_better:
            verdicts.append(f"unresolved (base IQR {spread:.1%} > {m['bound']:.0%})")
        print(f"{name:<14}{f'{bmed:.4g} [{bq1:.4g}, {bq3:.4g}]':>30}"
              f"{f'{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]':>30}"
              f"{f'{wins}/{len(pairs)}':>8}  {', '.join(verdicts) or '-'}")


def traced(workload, runs, metrics):
    """Per-layer metrics of the traced pairs: each side's median, base ->
    change, and each side's range over its runs."""
    print(f"\n{workload} traced, {len(runs)} pairs, median base -> change [base range; change range]:")
    for i, pair in enumerate(runs):
        for side, r in zip(("base", "change"), pair):
            if r is None or not r["correct"]:
                print(f"  pair {i + 1} {side} traced run {'failed' if r is None else 'NOT correct'}")
    done = [(b, c) for b, c in runs if b is not None and c is not None]
    if not done:
        return

    def row(name, unit, b, c):
        if not b or not c:
            return
        bm, cm = statistics.median(b), statistics.median(c)
        rel = f"{(cm - bm) / abs(bm):+.1%}" if bm else ""
        print(f"  {name:<32}{bm:>12.4g} -> {cm:<12.4g}{rel:>8}  {unit:<6}"
              f"[{min(b):.4g}, {max(b):.4g}; {min(c):.4g}, {max(c):.4g}]")

    for m in metrics:
        name = m["name"]
        row(name, m["unit"], [r["metrics"][name]["value"] for r, _ in done if name in r["metrics"]],
            [r["metrics"][name]["value"] for _, r in done if name in r["metrics"]])
        if name == "plans.ckpt_bytes":
            # the snapshot bytes of a run add up over its units, so a run
            # that fits one more unit reads bigger; per unit they compare
            row(name + "/unit", m["unit"],
                *[[r["metrics"][name]["value"] / r["units"] for r in side
                   if name in r["metrics"] and r["units"]] for side in zip(*done)])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD", help="revision to compare against")
    ap.add_argument("--base-dir", help="existing checkout of the base, used as is")
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]],
                    help="repeatable; default every workload of BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--traced", type=int, nargs="?", const=1, default=0, metavar="N",
                    help="then N pairs of traced runs at the first N seeds (default 1)")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]

    worktree = None
    base_dir = a.base_dir
    if base_dir is None:
        worktree = tempfile.mkdtemp(prefix="ab_pairs-", dir="/tmp")
        subprocess.run(["git", "worktree", "add", "--detach", worktree, a.base],
                       cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
        base_dir = worktree
    try:
        for w in workloads:
            runs = []
            for i in range(a.pairs):
                seed = a.seed + i
                order = [("base", base_dir), ("change", ROOT)]
                if i % 2:
                    order.reverse()
                got = {}
                for side, checkout in order:
                    got[side] = run_once(checkout, w, seed, a.seconds)
                    r = got[side]
                    shown = ({k: round(v["value"], 4) for k, v in r["metrics"].items()}
                             if r else "run failed")
                    print(f"{w} pair {i + 1} seed {seed} {side}: "
                          f"{'correct' if r and r['correct'] else 'NOT correct'} "
                          f"units {r['units'] if r else '-'} {shown}", flush=True)
                runs.append((got["base"], got["change"]))
            summarize(w, runs, bench["end_to_end"])
            if a.traced:
                pairs = []
                for i in range(a.traced):
                    order = [base_dir, ROOT] if i % 2 == 0 else [ROOT, base_dir]
                    got = {c: run_once(c, w, a.seed + i, a.seconds, trace=1) for c in order}
                    pairs.append((got[base_dir], got[ROOT]))
                traced(w, pairs, bench["per_layer"])
    finally:
        if worktree:
            subprocess.run(["git", "worktree", "remove", "--force", worktree], cwd=ROOT)


if __name__ == "__main__":
    main()
