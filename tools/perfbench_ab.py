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
which the change was better, a verdict per metric and a claim per metric.

- A run that failed (not `"correct": true`, or no result) has no metrics: the
  medians and quartiles skip it, its pair counts as not better, and the report
  lists the failed pairs.
- verdict: BETTER or WORSE when the change's median moved the metric by more
  than its BENCHMARK.json `bound`, else `within` (the bound test of the
  acceptance gate), or `unresolved` when the parent's IQR / median exceeds the
  bound, so the runs spread too widely to tell `within` from a regression.
- claim: `yes` when the change won at least nine tenths of the pairs and its
  median is better than the parent's by more than the parent's IQR (the rule
  for claiming a gain), else `no`, or `unresolved` as above.

    python3 tools/perfbench_ab.py --parent HEAD~1 --workload ingest_serve --pairs 10
    python3 tools/perfbench_ab.py --parent d87e4b5 --workload incr_build \\
        --out plans/x/ab_incr_build.txt
    python3 tools/perfbench_ab.py --workload incr_build --from plans/x/ab_incr_build.txt

`--from FILE` runs nothing: it reads the `seed side json` result lines of an
earlier `--out` report (after its `# raw result lines` header, or every line of
a file holding only such lines) and prints the report of those runs.

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


NAN = float("nan")


def quartiles(xs):
    xs = [x for x in xs if x == x]
    if not xs:
        return NAN, NAN
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[2]


def val(res: dict, m: str) -> float:
    """The metric's value in a correct run, NaN in a failed one."""
    if not res.get("correct"):
        return NAN
    return res.get("metrics", {}).get(m, {}).get("value", NAN)


def median(xs):
    xs = [x for x in xs if x == x]
    return statistics.median(xs) if xs else NAN


def read_rows(path: Path):
    """The (seed, side, result) rows of a `--out` report's raw result lines."""
    lines = path.read_text().splitlines()
    mark = "# raw result lines (seed side json)"
    if mark in lines:
        lines = lines[lines.index(mark) + 1:]
    rows = []
    for line in lines:
        if line.strip() and not line.startswith("#"):
            seed, side, res = line.split(" ", 2)
            rows.append((int(seed), side, json.loads(res)))
    return rows


def report(header: str, workload: str, rows) -> str:
    """The report of the (seed, side, result) rows: per-run metrics, medians,
    ratios, the parent's IQR / median, pairs won, failed pairs, verdict and claim."""
    metrics = [(m["name"], m["better"], m["bound"]) for m in BENCH["end_to_end"]]
    seeds = sorted({seed for seed, _, _ in rows})
    out = [header, "", workload,
           "  seed side    correct failed " + "".join(f"{m:>13}" for m, _, _ in metrics)]
    for seed, side, res in rows:
        out.append(f"  {seed:4d} {side:7s} {str(res.get('correct')):7s} {res.get('failed', -1):6d} "
                   + "".join(f"{val(res, m):13.4f}" for m, _, _ in metrics))
    med = {}
    for side in ("parent", "change"):
        med[side] = {m: median([val(r, m) for _, s, r in rows if s == side])
                     for m, _, _ in metrics}
        out.append(f"  median {side:30s}" + "".join(f"{med[side][m]:13.4f}" for m, _, _ in metrics))
    out.append("  change/parent (medians)       " +
               "".join(f"{med['change'][m] / med['parent'][m]:13.3f}" for m, _, _ in metrics))
    iqr = {}
    for m, _, _ in metrics:
        lo, hi = quartiles([val(r, m) for _, s, r in rows if s == "parent"])
        iqr[m] = hi - lo
    spread = {m: iqr[m] / med["parent"][m] for m, _, _ in metrics}
    out.append("  parent IQR / median           " + "".join(f"{spread[m]:13.3f}" for m, _, _ in metrics))
    per = {(seed, side): res for seed, side, res in rows}
    failed = [seed for seed in seeds
              if not all(per.get((seed, side), {}).get("correct") for side in ("parent", "change"))]
    wins = {}
    for m, better, _ in metrics:
        # a pair with a failed run is not better: NaN compares false both ways
        diff = [val(per.get((seed, "parent"), {}), m) - val(per.get((seed, "change"), {}), m)
                for seed in seeds]
        wins[m] = sum(1 for d in diff if (d > 0 if better == "lower" else d < 0))
    out.append("  pairs where change is better  " + "".join(
        f"{wins[m]}/{len(seeds)}".rjust(13) for m, _, _ in metrics))

    def verdict(m, better, bound):
        c, p = med["change"][m], med["parent"][m]
        if not p or p != p or c != c:
            return "n/a"
        worse = c / p - 1 if better == "lower" else 1 - c / p
        if worse > bound:
            return "WORSE"
        if -worse > bound:
            return "BETTER"
        return "unresolved" if spread[m] > bound else "within"

    def claim(m, better, bound):
        gap = med["parent"][m] - med["change"][m]
        if better != "lower":
            gap = -gap
        if wins[m] >= 0.9 * len(seeds) and gap > iqr[m]:
            return "yes"
        return "unresolved" if not spread[m] <= bound else "no"

    out.append("  verdict (median vs bound)     " + "".join(
        f"{verdict(*x):>13}" for x in metrics))
    out.append("  claim (>= 9/10 won, gap > IQR)" + "".join(
        f"{claim(*x):>13}" for x in metrics))
    out.append("  failed pairs: " + (", ".join(
        f"seed {seed} (" + " ".join(side for side in ("parent", "change")
                                    if not per.get((seed, side), {}).get("correct")) + ")"
        for seed in failed) or "none"))
    return "\n".join(out) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", help="git revision to compare against")
    ap.add_argument("--workload", required=True, choices=["incr_build", "ingest_serve"])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workdir", help="where the parent is exported (default: a new temp dir)")
    ap.add_argument("--out", help="also write the report, with the raw result lines, here")
    ap.add_argument("--from", dest="source", help="report the raw result lines of this file; run nothing")
    a = ap.parse_args()
    if (a.parent is None) == (a.source is None):
        ap.error("give exactly one of --parent and --from")

    if a.source:
        rows = read_rows(Path(a.source))
        header = f"# tools/perfbench_ab.py --workload {a.workload} --from {a.source}"
    else:
        work = Path(a.workdir or tempfile.mkdtemp(prefix="perfbench_ab_"))
        parent_tree = work / "parent"
        rev = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--short", a.parent],
                             check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
        export(rev, parent_tree)
        sides = {"parent": parent_tree, "change": ROOT}
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
        header = (f"# tools/perfbench_ab.py --parent {rev} --workload {a.workload} --pairs {a.pairs}: "
                  f"untraced {BENCH['run_seconds']} s runs, parent vs working tree, alternating")

    text = report(header, a.workload, rows)
    print(text)
    if a.out:
        raw = "\n# raw result lines (seed side json)\n" + "".join(
            f"{seed} {side} {json.dumps(res)}\n" for seed, side, res in rows)
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(text + raw)
    return 0 if all(r.get("correct") for _, _, r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
