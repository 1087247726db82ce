"""A/B of the perfbench end-to-end metrics: a parent revision against the working tree.

Exports the parent revision into a scratch directory with `git archive` (the
repository's own .git gains no worktree entry, so an interrupted run leaves
nothing behind in it), builds both trees, runs one discarded warm-up per side
(the first run after a build writes the JVM class-data archive), then
alternates untraced `perfbench/run.py --workload W --seed N --seconds S` runs
of the parent and of the working tree for N = 1..pairs, S being BENCHMARK.json's
`run_seconds` (the same on both sides); which side goes first alternates per
pair. Prints every run's metrics, the median per side, the
change/parent ratio of each metric's median, the parent's IQR / median, and
for each lower-is-better (higher-is-better) metric the number of pairs in
which the change was better, and a verdict per metric: BETTER or WORSE when
the change's median moved it by more than its BENCHMARK.json `bound`, else
`within` (the bound test of the acceptance gate).

    python3 tools/perfbench_ab.py --parent HEAD~1 --workload ingest_serve --pairs 10
    python3 tools/perfbench_ab.py --parent d87e4b5 --workload incr_build \\
        --out plans/x/ab_incr_build.txt

Each run takes about a minute on a 4-core host; the default 10 pairs take
about 25 minutes. The last stdout line of run.py is its result JSON; `--out` also
keeps every result line, so the report holds the raw runs.
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def export(rev: str, dest: Path) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def run(tree: Path, workload: str, seed: int) -> dict:
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
                        "--trace", "0"],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        return {"correct": False, "failed": -1, "metrics": {}, "exit": r.returncode}
    return json.loads(lines[-1])


def verdict(change: float, parent: float, metric: str) -> str:
    """BETTER or WORSE when the change's median moved the metric's `better` way or
    the other by more than its BENCHMARK.json `bound` (a fraction of the parent's
    median), else `within`."""
    spec = next(m for m in BENCH["end_to_end"] if m["name"] == metric)
    if not parent or parent != parent or change != change:
        return "n/a"
    worse = change / parent - 1 if spec["better"] == "lower" else 1 - change / parent
    return "WORSE" if worse > spec["bound"] else "BETTER" if -worse > spec["bound"] else "within"


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[2]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True, choices=["incr_build", "ingest_serve"])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workdir", help="where the parent is exported (default: a new temp dir)")
    ap.add_argument("--out", help="also write the report, with the raw result lines, here")
    a = ap.parse_args()

    work = Path(a.workdir or tempfile.mkdtemp(prefix="perfbench_ab_"))
    parent_tree = work / "parent"
    rev = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--short", a.parent],
                         check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    export(rev, parent_tree)
    sides = {"parent": parent_tree, "change": ROOT}
    metrics = [(m["name"], m["better"]) for m in BENCH["end_to_end"]]

    for side, tree in sides.items():
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=tree, check=True,
                       stdout=subprocess.DEVNULL)
        run(tree, a.workload, 0)  # warm-up, discarded

    rows = []  # (seed, side, result)
    for seed in range(1, a.pairs + 1):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for side in order:
            res = run(sides[side], a.workload, seed)
            rows.append((seed, side, res))
            print(f"# seed {seed} {side}: correct={res.get('correct')}", file=sys.stderr)

    def val(res, m):
        return res.get("metrics", {}).get(m, {}).get("value", float("nan"))

    out = [f"# tools/perfbench_ab.py --parent {rev} --workload {a.workload} --pairs {a.pairs}: "
           f"untraced {BENCH['run_seconds']} s runs, parent vs working tree, alternating", "",
           a.workload,
           "  seed side    correct failed " + "".join(f"{m:>13}" for m, _ in metrics)]
    for seed, side, res in rows:
        out.append(f"  {seed:4d} {side:7s} {str(res.get('correct')):7s} {res.get('failed', -1):6d} "
                   + "".join(f"{val(res, m):13.4f}" for m, _ in metrics))
    med = {}
    for side in sides:
        med[side] = {m: statistics.median([val(r, m) for _, s, r in rows if s == side])
                     for m, _ in metrics}
        out.append(f"  median {side:30s}" + "".join(f"{med[side][m]:13.4f}" for m, _ in metrics))
    out.append("  change/parent (medians)       " +
               "".join(f"{med['change'][m] / med['parent'][m]:13.3f}" for m, _ in metrics))
    iqr = []
    for m, _ in metrics:
        lo, hi = quartiles([val(r, m) for _, s, r in rows if s == "parent"])
        iqr.append((hi - lo) / med["parent"][m])
    out.append("  parent IQR / median           " + "".join(f"{x:13.3f}" for x in iqr))
    wins = []
    for m, better in metrics:
        per = {(seed, side): val(r, m) for seed, side, r in rows}
        n = sum(1 for seed in range(1, a.pairs + 1)
                if (per[(seed, "change")] < per[(seed, "parent")]) == (better == "lower")
                and per[(seed, "change")] != per[(seed, "parent")])
        wins.append(f"{n}/{a.pairs}")
    out.append("  pairs where change is better  " + "".join(f"{w:>13}" for w in wins))
    out.append("  verdict (median vs bound)     " + "".join(
        f"{verdict(med['change'][m], med['parent'][m], m):>13}" for m, _ in metrics))
    report = "\n".join(out) + "\n"
    print(report)
    if a.out:
        raw = "\n# raw result lines (seed side json)\n" + "".join(
            f"{seed} {side} {json.dumps(res)}\n" for seed, side, res in rows)
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(report + raw)
    return 0 if all(r.get("correct") for _, _, r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
