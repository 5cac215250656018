#!/usr/bin/env python3
"""A/B runner: alternating parent/change runs of the benchmark.

    python3 perfbench/ab.py --parent REV --change REV [--pairs 10] [--seconds S]

Run from the root of a git checkout. Each side (a git revision, or a
directory holding a checkout) is exported to `.bench_build/ab/<side>/`
and given this checkout's `perfbench/` and `BENCHMARK.json`, so both sides
run identical benchmark code. Both sides are built once, before any timed
run, into their own class snapshots; nothing compiles while runs are in
progress. Then, for each pair, both sides run every workload with the same
seed, alternating which side goes first.

A run whose output check failed (or that did not finish) counts as failed
for its side and is left out of the figures, together with its pair. For
every workload it prints each side's failed runs and failed queries, and
for every end-to-end metric each side's median and quartiles, the change's
win fraction over the pairs (ties count for neither side), and a verdict:
`gain` when at least 10 pairs ran, the change won at least 9 in 10 of them,
the medians differ by more than the parent's own quartile spread and the
change failed no more queries than the parent; `regression` when the
change's median is worse than the parent's by more than the metric's
bound; otherwise `no change` or `unresolved` (the parent's spread is wider
than the bound).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
SEED_BASE = 1000


def export(side, spec, root):
    dest = os.path.join(root, BUILD, "ab", side)
    shutil.rmtree(dest, ignore_errors=True)
    if os.path.isdir(spec):
        shutil.copytree(spec, dest, ignore=shutil.ignore_patterns(".git", BUILD, "target"))
    else:
        os.makedirs(dest)
        arch = subprocess.run(["git", "archive", spec], cwd=root, check=True,
                              stdout=subprocess.PIPE).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=arch, check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), dest)
    return dest


def share_corpus(src, dst):
    """Hard-links the corpora generated for one side into the other."""
    a = os.path.join(src, BUILD, "corpus")
    b = os.path.join(dst, BUILD, "corpus")
    for name in os.listdir(a) if os.path.isdir(a) else []:
        if not os.path.exists(os.path.join(b, name)):
            shutil.copytree(os.path.join(a, name), os.path.join(b, name),
                            copy_function=os.link)


def run(side_dir, workload, seed, seconds):
    """One run: (metrics, or None when it failed; queries failed)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    if seconds:
        cmd += ["--seconds", str(seconds)]
    r = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
    try:
        res = json.loads(last)
    except json.JSONDecodeError:
        res = {}
    if r.returncode != 0 or not res.get("correct"):
        print(f"  {os.path.basename(side_dir)} {workload} seed {seed}: "
              f"run failed (exit {r.returncode}, {res.get('failed', '?')} queries failed)",
              flush=True)
        return None, res.get("failed", 1)
    return {k: v["value"] for k, v in res["metrics"].items()}, 0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=None)
    a = ap.parse_args()

    root = os.getcwd()
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    workloads = [w["name"] for w in bench["workloads"]]
    sides = {"parent": export("parent", a.parent, root),
             "change": export("change", a.change, root)}
    for w in workloads:
        for name, d in sides.items():
            if name == "change":
                share_corpus(sides["parent"], d)
            subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                            "--build-only"], cwd=d, check=True)

    got = {(s, w): [] for s in sides for w in workloads}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            for s in order:
                got[(s, w)].append(run(sides[s], w, SEED_BASE + i, a.seconds))
        print(f"pair {i + 1}/{a.pairs} done", flush=True)

    print(f"\n{'workload':16s} {'metric':14s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'wins':>6s}  verdict")
    for w in workloads:
        fails = {s: (sum(m is None for m, _ in got[(s, w)]), sum(n for _, n in got[(s, w)]))
                 for s in sides}
        more_failed = fails["change"][1] > fails["parent"][1]
        print(f"{w:16s} failed runs/queries: parent {fails['parent'][0]}/{fails['parent'][1]}, "
              f"change {fails['change'][0]}/{fails['change'][1]}")
        for m in bench["end_to_end"]:
            k, lower = m["name"], m["better"] == "lower"
            pairs = [(p[k], c[k]) for (p, _), (c, _) in zip(got[("parent", w)], got[("change", w)])
                     if p is not None and c is not None and k in p and k in c]
            if not pairs:
                continue
            ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
            pq, cq = quartiles(ps), quartiles(cs)
            wins = sum((c < p) if lower else (c > p) for p, c in pairs)
            spread = pq[2] - pq[0]
            diff = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
            worse = -diff / pq[1] if pq[1] else 0.0
            if (len(pairs) >= 10 and wins >= 0.9 * len(pairs) and diff > spread
                    and not more_failed):
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif spread / pq[1] > m["bound"] if pq[1] else False:
                verdict = "unresolved"
            else:
                verdict = "no change"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{w:16s} {k:14s} {fmt(pq):>30s} {fmt(cq):>30s} "
                  f"{wins:>2d}/{len(pairs):<3d}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
