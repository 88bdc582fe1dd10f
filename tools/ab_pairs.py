#!/usr/bin/env python3
"""Interleaved benchmark pairs of two commits, judged per end-to-end metric.

    python3 tools/ab_pairs.py PARENT CHANGE --workload W --pairs N --seed S [--work DIR]

Exports each ref with `git archive` into DIR/<commit> (default: `ab_pairs`
under the system temp directory; an existing export is reused) and builds
each once with `python3 perfbench/build.py`. Then runs N pairs of
`python3 perfbench/run.py --workload W --seed S+i --seconds <run_seconds>
--trace 0` in the two exports, the parent first in even pairs and the
change first in odd ones. Each run's result prints as one JSON line; each
JVM's log goes to DIR/<commit>-<workload>-<seed>.log.

Then one line per end-to-end metric of BENCHMARK.json: both medians, the
parent's interquartile range (IQR), the bound, and a verdict:
  worse       the change's median is worse than the parent's by more than
              the bound (a share of the parent's median);
  unresolved  not worse, but the parent's IQR is wider than the bound and
              not every run of the change reads better than every run of
              the parent, so the runs cannot tell;
  ok          otherwise.
A last line gives each side's failed share (failed / attempted, over the
runs that finished) and the runs that did not finish. Exits 1 when a
metric is worse or the change fails a larger share than the parent.

Reads only BENCHMARK.json and perfbench/ of the exported commits.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def export(ref, work):
    """The directory holding `ref`'s committed files, built."""
    sha = git("rev-parse", "--verify", f"{ref}^{{commit}}")
    d = os.path.join(work, sha[:12])
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"ab_pairs: git archive {ref} failed")
        os.rename(tmp, d)
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=d, check=True,
                   stdout=subprocess.DEVNULL)
    return d


def run(d, workload, seed, seconds, log):
    """The result line of one run, or None when the run did not finish."""
    with open(log, "w") as err:
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=d, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]) if r.returncode == 0 and lines else None


def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3


def verdict(parent, change, better, bound):
    p_med, c_med = statistics.median(parent), statistics.median(change)
    q1, _, q3 = quartiles(parent)
    sign = 1 if better == "lower" else -1
    if sign * (c_med - p_med) > bound * abs(p_med):
        return "worse"
    all_better = (max(change) < min(parent)) if sign > 0 else (min(change) > max(parent))
    if q3 - q1 > bound * abs(p_med) and not all_better:
        return "unresolved"
    return "ok"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", default=os.path.join(tempfile.gettempdir(), "ab_pairs"))
    a = ap.parse_args()

    os.makedirs(a.work, exist_ok=True)
    sides = {"parent": export(a.parent, a.work), "change": export(a.change, a.work)}
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = {s: [] for s in sides}
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            log = os.path.join(a.work, f"{os.path.basename(sides[side])}-{a.workload}-{seed}.log")
            res = run(sides[side], a.workload, seed, spec["run_seconds"], log)
            results[side].append(res)
            print(json.dumps({"pair": i, "side": side, "seed": seed, "result": res}), flush=True)

    done = {s: [r for r in rs if r] for s, rs in results.items()}
    bad = False
    for m in spec["end_to_end"]:
        vals = {s: [r["metrics"][m["name"]]["value"] for r in rs] for s, rs in done.items()}
        if not vals["parent"] or not vals["change"]:
            print(f"{a.workload} {m['name']}: no finished run on one side")
            bad = True
            continue
        q1, _, q3 = quartiles(vals["parent"])
        v = verdict(vals["parent"], vals["change"], m["better"], m["bound"])
        bad |= v == "worse"
        print(f"{a.workload} {m['name']} ({m['unit']}, {m['better']} is better): "
              f"parent {statistics.median(vals['parent']):.4g} -> change "
              f"{statistics.median(vals['change']):.4g}, parent IQR {q3 - q1:.4g}, "
              f"bound {m['bound']}: {v}")
    share = {s: sum(r["failed"] for r in rs) / max(1, sum(r["attempted"] for r in rs))
             for s, rs in done.items()}
    unfinished = {s: sum(r is None for r in rs) for s, rs in results.items()}
    bad |= share["change"] > share["parent"] or unfinished["change"] > unfinished["parent"]
    print(f"{a.workload} failed share: parent {share['parent']:.4f} -> change "
          f"{share['change']:.4f}; unfinished runs: parent {unfinished['parent']} -> "
          f"change {unfinished['change']}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
