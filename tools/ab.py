#!/usr/bin/env python3
"""Interleaved A/B of two revisions on the repository's benchmark.

    python3 tools/ab.py --parent HEAD~1 --change HEAD --workload score-stream \\
        --seeds 7-16 --seconds 15 --scratch /tmp/ab
    python3 tools/ab.py --parent HEAD --change WORKTREE --workload corpus-maintain \\
        --seeds 1-5 --scratch /tmp/ab --trace

Each side is exported with `git archive` into its own directory under
`--scratch` (`WORKTREE` exports the working tree, untracked files included,
through a throwaway index; the real index is not touched) and built once;
a directory that already holds the same tree is reused with its build.
Then `perfbench/run.py`, unchanged, runs every seed on both sides; even
seeds run the parent first, odd seeds the change first, so host drift lands
on both sides alike.  A failed or unparsable run counts as no value for that
seed on that side, and the pair is left out.

Per metric it prints both medians, the median paired delta (change minus
parent, as a share of the parent), the parent's interquartile range, how
many pairs the change won and lost (by the metric's `better` direction in
`BENCHMARK.json`), and the metric's bound.  Per-seed results go to
`<scratch>/ab-<workload>.jsonl` as they land, so an interrupted run keeps
what it measured.  `--trace` runs the traced form instead and compares the
per-layer metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def tree_of(rev):
    """The tree hash to export: the revision's, or the working tree's."""
    with tempfile.TemporaryDirectory() as d:
        env = dict(os.environ, GIT_INDEX_FILE=os.path.join(d, "index"))
        git = lambda *a: subprocess.run(["git", *a], cwd=ROOT, env=env, check=True,
                                        stdout=subprocess.PIPE, text=True).stdout.strip()
        if rev != "WORKTREE":
            return git("rev-parse", f"{rev}^{{tree}}")
        git("read-tree", "HEAD")
        git("add", "-A")
        return git("write-tree")


def export(rev, dest):
    """`git archive` the tree into `dest`, unless `dest` already holds it
    (then its build cache is kept too)."""
    tree = tree_of(rev)
    stamp = os.path.join(dest, ".ab-tree")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read() == tree:
                return
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", tree], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")
    with open(stamp, "w") as fh:
        fh.write(tree)


def build(side):
    """Compile once through run.py's own build step (its classpath cache)."""
    code = ("import sys; sys.path.insert(0, 'perfbench'); import run; "
            "run.build(run.fingerprint())")
    subprocess.run([sys.executable, "-c", code], cwd=side, check=True)


def run(side, workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1" if trace else "0"],
        cwd=side, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"exit": proc.returncode, "metrics": {}}
    res["exit"] = proc.returncode
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(rows, bench, trace):
    defs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    names = [m["name"] for m in (bench["per_layer"] if trace else bench["end_to_end"])]
    print(f"{'metric':<32} {'parent':>12} {'change':>12} {'delta':>8} "
          f"{'par IQR':>10} {'won':>4} {'lost':>4} {'n':>3} {'bound':>6}")
    for name in names:
        pairs = [(r["parent"]["metrics"][name]["value"], r["change"]["metrics"][name]["value"])
                 for r in rows
                 if name in r["parent"]["metrics"] and name in r["change"]["metrics"]]
        if not pairs:
            continue
        par = [p for p, _ in pairs]
        chg = [c for _, c in pairs]
        lower = defs[name]["better"] == "lower"
        won = sum(1 for p, c in pairs if (c < p if lower else c > p))
        lost = sum(1 for p, c in pairs if (c > p if lower else c < p))
        deltas = [(c - p) / p for p, c in pairs if p]
        q1, q3 = quartiles(par)
        bound = defs[name].get("bound")
        print(f"{name:<32} {statistics.median(par):>12.6g} {statistics.median(chg):>12.6g} "
              f"{(statistics.median(deltas) * 100 if deltas else 0.0):>7.1f}% "
              f"{q3 - q1:>10.4g} {won:>4} {lost:>4} {len(pairs):>3} "
              f"{'' if bound is None else bound:>6}")
    for r in rows:
        for side in ("parent", "change"):
            res = r[side]
            if res["exit"] != 0 or not res.get("correct", False):
                print(f"seed {r['seed']} {side}: exit {res['exit']}, "
                      f"correct {res.get('correct')}, failed {res.get('failed')}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision (or WORKTREE)")
    ap.add_argument("--change", required=True, help="git revision (or WORKTREE)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 7-16 or 1,3,5")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--scratch", required=True, help="directory for the two exports")
    ap.add_argument("--trace", action="store_true", help="compare the per-layer metrics")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench.get("run_seconds", 15)
    os.makedirs(a.scratch, exist_ok=True)
    results = os.path.join(a.scratch, f"ab-{a.workload}{'-trace' if a.trace else ''}.jsonl")
    sides = {"parent": os.path.join(a.scratch, "parent"),
             "change": os.path.join(a.scratch, "change")}

    for name, rev in (("parent", a.parent), ("change", a.change)):
        log(f"exporting {name} ({rev}) and building it")
        export(rev, sides[name])
        build(sides[name])
    rows = []
    with open(results, "w") as out:
        for s in seeds(a.seeds):
            order = ["parent", "change"] if s % 2 == 0 else ["change", "parent"]
            row = {"seed": s, "order": order}
            for name in order:
                row[name] = run(sides[name], a.workload, s, seconds, a.trace)
                log(f"seed {s} {name}: exit {row[name]['exit']}")
            out.write(json.dumps(row) + "\n")
            out.flush()
            rows.append(row)
    print(f"{a.workload}: {len(rows)} seed pairs, {seconds} s runs, "
          f"{'traced' if a.trace else 'untraced'}; parent {a.parent}, change {a.change}")
    report(rows, bench, a.trace)


if __name__ == "__main__":
    main()
