#!/usr/bin/env python3
"""Alternating A/B of two checkouts on one perfbench workload.

    python3 bench/perfbench_ab.py --base ../parent --change . \\
        --workload crawl_checkpointed --seeds 501-512

For each seed it runs `perfbench/run.py` once in each checkout, in
alternating order (even pairs base first, odd pairs change first), so slow
drift of the host hits both sides alike. Each run uses its own checkout's
perfbench and engine sources. It then prints, for every end-to-end metric of
the base checkout's BENCHMARK.json: each side's median and quartiles, how
many pairs the change won, whether the median gap exceeds the base's
interquartile range, whether every change run read better than every
base run, and the regression verdict against the metric's `bound` (a
fraction of the base median): "within" when the change's median is worse
than the base's by at most the bound, "exceeded" when by more, and
"unresolved" when the base's own interquartile range is wider than the
bound, unless every change run read better than every base run. A run that
fails its oracle checks is reported and
leaves its pair out. Nothing under perfbench/ is written except the build
and work directories perfbench itself uses.

With --trace 1 the runs report per-layer metrics instead; name the ones to
summarize the same way with --layer (repeatable), e.g.

    python3 bench/perfbench_ab.py --base ../parent --change . \\
        --workload crawl_checkpointed --seeds 1,3 --trace 1 \\
        --layer spark.jobs --layer memory.heap_growth_mb_per_op
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns (metrics dict or None, wall s, error)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        tail = (p.stdout + p.stderr).strip().splitlines()[-3:]
        return None, wall, f"exit {p.returncode}: {' | '.join(tail)}"
    res = json.loads(lines[-1])
    if not res.get("correct"):
        return None, wall, f"{res.get('failed')} of {res.get('attempted')} checks failed"
    return {k: v["value"] for k, v in res["metrics"].items()}, wall, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def regression(e, bq, cq, apart):
    """The regression verdict of one end-to-end metric: its change median
    against the base median, within BENCHMARK.json's relative `bound`."""
    bound = e["bound"]
    worse = (cq[1] - bq[1]) / bq[1] if e["better"] == "lower" else (bq[1] - cq[1]) / bq[1]
    spread = (bq[2] - bq[0]) / bq[1]
    if spread > bound and not apart:
        verdict = "unresolved"
    else:
        verdict = "within" if worse <= bound else "exceeded"
    return (f"{verdict}: change median {abs(worse):.1%} {'worse' if worse > 0 else 'better'} "
            f"than the base's, bound {bound:.0%}, base IQR {spread:.1%} of its median")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout with the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 501-510 or 1,2,7")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--layer", action="append", default=[], metavar="METRIC",
                    help="per-layer metric to summarize (needs --trace 1; repeatable)")
    ap.add_argument("--json", help="write every run's metrics to this file")
    a = ap.parse_args()

    base, change = os.path.abspath(a.base), os.path.abspath(a.change)
    with open(os.path.join(base, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.layer and not a.trace:
        ap.error("--layer needs --trace 1 (untraced runs report end-to-end metrics only)")
    per_layer = {m["name"]: m for m in bench["per_layer"]}
    unknown = [n for n in a.layer if n not in per_layer]
    if unknown:
        ap.error(f"not a per-layer metric of BENCHMARK.json: {', '.join(unknown)}")
    # a traced run reports per-layer metrics only, so its summary is the
    # named layers; an untraced one reports the end-to-end metrics
    shown_specs = [per_layer[n] for n in a.layer] if a.trace else bench["end_to_end"]
    sides = {"base": base, "change": change}
    pairs, log = [], []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        got = {}
        for side in order:
            m, wall, err = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            got[side] = m
            log.append({"seed": seed, "side": side, "wall_s": wall, "error": err, "metrics": m})
            if err:
                print(f"seed {seed} {side}: FAILED ({err})", flush=True)
        if got["base"] is None or got["change"] is None:
            continue
        pairs.append((seed, got["base"], got["change"]))
        shown = " ".join(f"{e['name']} {got['base'][e['name']]:.4g} -> "
                         f"{got['change'][e['name']]:.4g}" for e in shown_specs
                         if e["name"] in got["base"] and e["name"] in got["change"])
        print(f"seed {seed} ({order[0]} first): {shown}", flush=True)

    if a.json:
        with open(a.json, "w") as fh:
            json.dump(log, fh, indent=1)
    if not pairs:
        print("no complete pair")
        return 1
    print(f"\n{a.workload}: {len(pairs)} pairs")
    for e in shown_specs:
        name, lower = e["name"], e["better"] == "lower"
        if not all(name in b and name in c for _, b, c in pairs):
            continue
        b = [p[1][name] for p in pairs]
        c = [p[2][name] for p in pairs]
        bq, cq = quartiles(b), quartiles(c)
        wins = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
        gap = bq[1] - cq[1] if lower else cq[1] - bq[1]
        iqr = bq[2] - bq[0]
        # every change run better than every base run: the criterion that
        # still decides when the base's own spread is wider than the gap
        apart = max(c) < min(b) if lower else min(c) > max(b)
        print(f"  {name} ({e['unit']}, {'lower' if lower else 'higher'} is better)")
        print(f"    base   median {bq[1]:.4g}  [Q1 {bq[0]:.4g}, Q3 {bq[2]:.4g}]")
        print(f"    change median {cq[1]:.4g}  [Q1 {cq[0]:.4g}, Q3 {cq[2]:.4g}]  "
              f"({(cq[1] - bq[1]) / bq[1]:+.1%})")
        print(f"    change won {wins} of {len(pairs)}; median gap {gap:+.4g} vs base IQR "
              f"{iqr:.4g}: {'exceeds' if gap > iqr else 'does not exceed'}")
        print(f"    every change run better than every base run: {'yes' if apart else 'no'}")
        if "bound" in e:
            print(f"    regression bound: {regression(e, bq, cq, apart)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
