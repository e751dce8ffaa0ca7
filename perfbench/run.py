"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the engine and the harness (cached in
``.bench_build``), generates the workload's inputs from the seed, computes
the expected outputs with DuckDB, runs the measured JVM, checks every
sample's output, and prints one line per metric followed, as the last line,
by the JSON result.  With ``--trace 0`` the result holds the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` its per-layer metrics.  The
full record of the run is kept in ``.bench_build/results``.
"""
import argparse
import bisect
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["migrate-batch", "migrate-stream", "curate", "neardup-stream"]
SETUPS = 3            # setups per run; setup_s is their median
HEAP = "4g"
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def tail(values):
    """The highest whole percentile (50 or above) with at least ten values
    beyond it; the max when there are too few values for p50."""
    n = len(values)
    p = int(100 * (1 - 10 / n)) if n >= 20 else None
    if p is None:
        return max(values), "max", n
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1], f"p{p}", n


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, workload, work, seconds, trace, rows):
    jars = build.spark_jars()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file the JVM writes stays in the run's work directory
    # (-XX:-UsePerfData: no hsperfdata file in the system temp directory)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness",
            workload, work, str(seconds), str(trace), str(int(time.time() * 1000)),
            str(cpus()), str(SETUPS), str(rows)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM failed: {code}")
    with open(os.path.join(work, "jvm.json")) as f:
        return json.load(f)


def ops_of(workload, sample):
    """The operations one sample hands the engine: tables, micro-batches or
    the pipeline run."""
    if workload == "migrate-batch":
        return [t["table"] for t in sample["extra"]["tables"]]
    if workload == "curate":
        return ["pipeline"]
    return [f"batch{i}" for i in range(len(sample["batches_ms"]))]


def unstolen(usage):
    """Share of an interval's runnable time that the process really ran:
    its CPU seconds over CPU seconds plus the host's steal (time the
    hypervisor ran other guests while this one had work to do)."""
    cpu, steal_ticks = usage
    steal = steal_ticks / os.sysconf("SC_CLK_TCK")
    return cpu / (cpu + steal) if cpu + steal > 0 else 1.0


def unstolen_between(series, t0, t1):
    """unstolen() over the interval [t0, t1] (epoch ms), read off the
    harness usage log (ms, process CPU ns, steal ticks) by linear
    interpolation."""
    def at(t):
        i = bisect.bisect_right(series, [t, float("inf"), float("inf")])
        if i == 0:
            return series[0][1:]
        if i == len(series):
            return series[-1][1:]
        (ta, ca, sa), (tb, cb, sb) = series[i - 1], series[i]
        w = (t - ta) / (tb - ta) if tb > ta else 0.0
        return ca + w * (cb - ca), sa + w * (sb - sa)
    (c0, s0), (c1, s1) = at(t0), at(t1)
    return unstolen(((c1 - c0) / 1e9, s1 - s0))


def summarize(workload, jvm, bad_by_sample, steal_free):
    """End-to-end metrics. rows_per_s is the median over samples of a
    sample's input rows over its wall time (0 for a sample whose output
    check fails); batch figures skip each stream sample's first micro-batch
    and a batch workload's first run. With `steal_free` every wall time is
    scaled by the unstolen share of its interval."""
    samples = jvm["samples"]
    streaming = workload in ("migrate-stream", "neardup-stream")
    f = [unstolen(s["usage"]) if steal_free else 1.0 for s in samples]
    f_setup = [unstolen(u) if steal_free else 1.0 for u in jvm["setup_usage"]]
    attempted = failed = 0
    batches, rates = [], []
    for i, (s, bad) in enumerate(zip(samples, bad_by_sample)):
        ops = ops_of(workload, s)
        attempted += len(ops)
        failed += len(ops) if streaming and bad else len(bad)
        rates.append(0.0 if bad else s["rows"] / (s["wall_s"] * f[i]))
        if streaming:
            starts = s["extra"]["batch_start_ms"]
            batches += [b * (unstolen_between(jvm["usage_series"], t, t + b) if steal_free else 1.0)
                        for b, t in list(zip(s["batches_ms"], starts))[1:]]
        elif i > 0 or len(samples) == 1:
            batches += [b * f[i] for b in s["batches_ms"]]
    tail_ms, tail_name, tail_n = tail(batches)
    metrics = {
        "setup_s": (statistics.median(s * x for s, x in zip(jvm["setups_s"], f_setup)), "s"),
        "rows_per_s": (statistics.median(rates), "rows/s"),
        "batch_p50_ms": (statistics.median(batches), "ms"),
        "batch_tail_ms": (tail_ms, "ms"),
        "retained_heap_mb": (jvm["retained_heap_mb"], "MiB"),
    }
    notes = {"batch_tail": f"{tail_name} of {tail_n} batches",
             "failed_share": failed / attempted if attempted else 1.0,
             "unstolen_share": [round(x, 4) for x in f]}
    return attempted, failed, metrics, notes


def per_layer_units():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classes = build.build()
    work = os.path.join(root, ".bench_build", "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(root, ".bench_build", "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    try:
        inputs = gen.generate(a.workload, a.seed, work)
        exp = oracle.expected(a.workload, work)
        jvm = run_jvm(classes, a.workload, work, a.seconds, a.trace, inputs["measured_rows"])
        bad = [oracle.check(a.workload, work, exp, s["out"]) for s in jvm["samples"]]
        if a.trace:
            shutil.move(os.path.join(work, "spans.json"), stem + "-spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed, metrics, notes = summarize(a.workload, jvm, bad, steal_free=True)
    raw = summarize(a.workload, jvm, bad, steal_free=False)[2]
    correct = failed == 0
    facts = dict(jvm["facts"], seed=a.seed, git_sha=git_sha(root), heap=HEAP, setups=SETUPS,
                 setups_s=jvm["setups_s"], samples=len(jvm["samples"]),
                 sample_wall_s=[round(s["wall_s"], 4) for s in jvm["samples"]],
                 sample_trend=jvm["samples"][-1]["wall_s"] / jvm["samples"][0]["wall_s"],
                 inputs=inputs, **notes)
    layers = dict(jvm["per_layer"], **{"trace.rows_per_s": metrics["rows_per_s"][0]})
    if a.trace:
        # metrics a workload does not exercise read 0
        out = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
               for n, u in per_layer_units().items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    record = {"workload": a.workload, "trace": a.trace, "correct": correct,
              "attempted": attempted, "failed": failed, "facts": facts,
              "end_to_end": {k: v for k, (v, _) in metrics.items()},
              "end_to_end_wall": {k: v for k, (v, _) in raw.items()},
              "per_layer": layers if a.trace else {}, "spans": jvm["spans"],
              "batches_ms": [s["batches_ms"] for s in jvm["samples"]],
              "failed_ops": [b for b in bad if b]}
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    print("facts " + json.dumps(facts, sort_keys=True))
    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"failed_share = {notes['failed_share']:.6g} ratio ({failed}/{attempted})")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
