"""Compare two sets of benchmark results.

    python3 perfbench/compare.py <parent results dir> <change results dir>
    python3 perfbench/compare.py --report <results dir>
    python3 perfbench/compare.py --spread <results dir>

A results directory holds the run records ``run.py`` writes to
``.bench_build/results`` (``<workload>-seed<n>-trace<t>.json``); copy it
aside after measuring each commit.  For every workload and end-to-end
metric the comparison prints both sides' median and quartiles, the share
of same-seed pairs the change won, and a verdict against the metric's
bound in BENCHMARK.json:

  improved    the change won at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more than
              the bound
  unresolved  neither, and the parent's spread is wider than the bound
              (unless every change run beats every parent run)
  no worse    otherwise

Per-layer metrics of traced runs follow, as parent, change and delta.

``--spread`` prints, per workload and end-to-end metric of one results
directory, the median of its untraced runs and their spread: the distance
between the first and third quartile as a share of the median, next to the
metric's bound and the spread of the raw (not steal-free) wall figures.

``--report`` prints, as markdown, every traced run in one results
directory: its run facts, the tracing overhead (traced rows/s minus the
median untraced rows/s of the same workload), its per-layer metrics and
the self time of its spans.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for p in glob.glob(os.path.join(d, "*-trace[01].json")):
        with open(p) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def better(a, b, higher):
    return a > b if higher else a < b


def verdict(par, chg, bound, higher, pairs):
    pq1, pmed, pq3 = quartiles(par)
    _, cmed, _ = quartiles(chg)
    won = sum(1 for p, c in pairs if better(c, p, higher))
    worse_by = (pmed - cmed) / pmed if higher else (cmed - pmed) / pmed
    if pairs and won >= 0.9 * len(pairs) and abs(cmed - pmed) > (pq3 - pq1) \
            and better(cmed, pmed, higher):
        return "improved", won
    if worse_by > bound:
        return "worse", won
    spread = (pq3 - pq1) / pmed if pmed else float("inf")
    all_better = all(better(c, p, higher) for c in chg for p in par)
    if spread > bound and not all_better:
        return "unresolved", won
    return "no worse", won


def compare(parent_dir, change_dir):
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    par, chg = load(parent_dir), load(change_dir)
    print(f"{'workload':16} {'metric':18} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
          f" {'won':>9}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        pr, cr = par.get((w, 0), []), chg.get((w, 0), [])
        if not pr or not cr:
            print(f"{w:16} (no untraced runs on one side)")
            continue
        pseed = {r["facts"]["seed"]: r for r in pr}
        cseed = {r["facts"]["seed"]: r for r in cr}
        common = sorted(set(pseed) & set(cseed))
        for m in bench["end_to_end"]:
            n, higher = m["name"], m["better"] == "higher"
            pv = [r["end_to_end"][n] for r in pr if r["correct"]]
            cv = [r["end_to_end"][n] for r in cr if r["correct"]]
            if not pv or not cv:
                print(f"{w:16} {n:18} (no correct runs on one side)")
                continue
            pairs = [(pseed[s]["end_to_end"][n], cseed[s]["end_to_end"][n]) for s in common]
            v, won = verdict(pv, cv, m["bound"], higher, pairs)
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))  # noqa: E731
            print(f"{w:16} {n:18} {fmt(pv):>30} {fmt(cv):>30} {won:>3}/{len(pairs):<3}"
                  f"  {v} (bound {m['bound']:g}, {m['unit']})")
    print()
    print(f"{'workload':16} {'per-layer metric':36} {'parent':>14} {'change':>14} {'delta':>8}")
    for w in [x["name"] for x in bench["workloads"]]:
        pt, ct = par.get((w, 1), []), chg.get((w, 1), [])
        if not pt or not ct:
            continue
        for m in bench["per_layer"]:
            n = m["name"]
            a = statistics.median(r["per_layer"].get(n, 0.0) for r in pt)
            b = statistics.median(r["per_layer"].get(n, 0.0) for r in ct)
            if a == 0 and b == 0:
                continue
            d = f"{(b - a) / a:+.1%}" if a else "new"
            print(f"{w:16} {n:36} {a:>14.6g} {b:>14.6g} {d:>8}  {m['unit']}")


def spread(d):
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = load(d)
    print("| workload | metric | runs | median | spread | bound | raw wall spread |\n"
          "|---|---|---:|---:|---:|---:|---:|")
    for w in [x["name"] for x in bench["workloads"]]:
        rs = runs.get((w, 0), [])
        if len(rs) < 2:
            continue
        for m in bench["end_to_end"]:
            q1, med, q3 = quartiles([r["end_to_end"][m["name"]] for r in rs])
            r1, rmed, r3 = quartiles([r["end_to_end_wall"][m["name"]] for r in rs])
            print(f"| {w} | {m['name']} | {len(rs)} | {med:.6g} {m['unit']} | "
                  f"{(q3 - q1) / med:.3f} | {m['bound']} | {(r3 - r1) / rmed:.3f} |")


def report(d):
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    runs = load(d)
    for (w, t), traced in sorted(runs.items()):
        if t != 1:
            continue
        r = traced[0]
        f = r["facts"]
        print(f"## {w}, traced, seed {f['seed']}\n")
        print(f"{f['master']}, shuffle partitions {f['shuffle_partitions']}, heap {f['heap']}, "
              f"Spark {f['spark']}, JDK {f['jdk']}, Scala {f['scala']}, git {f['git_sha']}; "
              f"{f['samples']} samples; output checks {'pass' if r['correct'] else 'FAIL'} "
              f"({r['failed']}/{r['attempted']} failed).\n")
        tr = r["end_to_end"]["rows_per_s"]
        base = [x["end_to_end"]["rows_per_s"] for x in runs.get((w, 0), []) if x["correct"]]
        if base:
            b = statistics.median(base)
            print(f"Tracing overhead: traced {tr:.1f} rows/s minus untraced median {b:.1f} rows/s "
                  f"({len(base)} runs) = {tr - b:+.1f} rows/s ({(tr - b) / b:+.1%}).\n")
        print("| per-layer metric | value | unit |\n|---|---:|---|")
        for n, u in units.items():
            v = r["per_layer"].get(n)
            if v is not None:
                print(f"| `{n}` | {v:.6g} | {u} |")
        print("\n| span | count | total s | self s |\n|---|---:|---:|---:|")
        for s in r["spans"]:
            print(f"| {s['span']} | {s['count']} | {s['total_s']:.3f} | {s['self_s']:.3f} |")
        print()


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--report":
        report(sys.argv[2])
    elif len(sys.argv) == 3 and sys.argv[1] == "--spread":
        spread(sys.argv[2])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
