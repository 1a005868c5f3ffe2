#!/usr/bin/env python3
"""The repository benchmark: one command per run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --steady <runs> [--seed <first>] [--seconds <s>]

Run from the checkout root. The first run builds the library and the
benchmark from source with sbt (into `target/` and `.bench_build/`).
A run generates the workload's inputs from the seed, starts one JVM
(one process, fresh session, `local[N]`, N = min(4, cores - 1)), sets up
(session start + a warm-up op on a throwaway input of the same shape:
`setup_s`), runs the timed section as a closed loop of ops (station_etl
and curate_corpus repeat it, see `repeats`), and checks the outputs.
The last line of stdout is the result JSON; the line before it carries
every detail figure.

`--trace 1` runs a second process on the same inputs with spans and
Spark listeners on, each running the workload once, and reports the
per-layer metrics of the traced run plus the tracing overhead (traced
over untraced run_s).

`--steady N` repeats the workload untraced over N seeds and prints,
for each end-to-end metric, the median, quartiles and spread against
the metric's bound in BENCHMARK.json; a spread above its bound is
marked unresolved.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

CORES = max(1, min(4, (os.cpu_count() or 2) - 1))
# A fixed-size heap with a fixed young generation: the RSS high-water
# mark then follows what the program retains, not the collector's
# heap-sizing decisions. The metaspace starts large enough for Spark's
# classes, so class loading triggers no full collections.
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:MetaspaceSize=256m"]
# Spark on JDK 17 outside spark-submit (the list spark-submit injects)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


# station_etl and curate_corpus repeat their timed work in one process,
# one repeat per this many seconds of `--seconds`; the others run once
SECONDS_PER_REPEAT = 5


def repeats(workload, seconds):
    if workload in ("station_etl", "curate_corpus"):
        return max(1, seconds // SECONDS_PER_REPEAT)
    return 1


def generate(workload, seed, seconds, out):
    """Inputs for one run. A repeat is a fixed amount of work: four
    nights for station_etl (the fourth with a backfill), the curation
    stages plus six probe calls for curate_corpus. `--seconds` sets the
    number of repeats (about `SECONDS_PER_REPEAT` s each on a 4-core box
    at the defining commit), so a faster program finishes the same work
    sooner. nightly_fold runs 0.3 ops per second of `--seconds`;
    registry_sweep runs its fixed line sample once."""
    if workload == "station_etl":
        gen.station_etl(out, seed, 4)
    elif workload == "curate_corpus":
        gen.curate_corpus(out, seed, 6)
    elif workload == "nightly_fold":
        gen.nightly_fold(out, seed, max(4, round(0.3 * seconds)))
    else:
        gen.registry_sweep(out, seed)


# ------------------------------------------------------------------ build

def _fingerprint():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no library sources beside the benchmark; "
                         "run it from a checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    fp = _fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=f, stderr=subprocess.STDOUT, timeout=840)
    lines = open(log).read().splitlines()
    cp = [x for x in lines if x.startswith("/") and ".jar" in x]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp[-1]


# -------------------------------------------------------------------- run

def run_jvm(cp, workload, inp, work, trace, reps, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temporary files stay in the run directory (no hsperfdata in the
    # system temp directory either)
    cmd = (["java", *JVM_MEMORY, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", workload, inp, work, "1" if trace else "0",
              str(CORES), str(reps)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                           timeout=max(1.0, deadline - time.time()))
    report = os.path.join(work, "report.json")
    if r.returncode != 0 or not os.path.exists(report):
        sys.stderr.write("".join(open(log).readlines()[-60:]))
        raise SystemExit(f"perfbench: {workload} run failed (see {log})")
    with open(report) as f:
        return json.load(f)


def spans_consistent(path):
    """Every span's self time plus its children's durations equals its
    duration (children of one span never overlap)."""
    with open(path) as f:
        spans = json.load(f)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["end_ns"] - s["start_ns"])
    return all(s["self_ns"] + sum(kids.get(s["id"], [])) == s["end_ns"] - s["start_ns"]
               for s in spans)


def measure(workload, seed, seconds, trace):
    """One run: (result line dict, detail dict). A traced run is two
    processes on the same inputs, untraced then traced, each running the
    workload once, so the gap between their run_s is the tracing
    overhead at equal warmth."""
    cp = build()
    # a run of a listed workload must end within 180 s (after the build)
    listed = workload in {w["name"] for w in load_spec()["workloads"]}
    deadline = time.time() + (165 if listed else 1800)
    # one directory per workload: the last run's inputs, outputs and logs
    work = os.path.join(BUILD, "runs", workload)
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    t0 = time.time()
    generate(workload, seed, seconds, inp)
    t1 = time.time()
    procs = ["untraced", "traced"] if trace else ["untraced"]
    n = 1 if trace else repeats(workload, seconds)
    reps = {p: run_jvm(cp, workload, inp, os.path.join(work, p), p == "traced", n, deadline)
            for p in procs}
    t2 = time.time()

    ok, detail = True, {"checks": {}}
    attempted = failed = 0
    for p, rep in reps.items():
        sec = rep["section"]
        res = check.section(workload, inp, sec, rep["checks"])
        detail["checks"][p] = res
        n = len(sec["op_s"])
        attempted += n
        failed += n if not res["ok"] else len(sec["errors"])
        ok = ok and res["ok"] and not sec["errors"]
        if sec["errors"]:
            detail.setdefault("errors", []).extend(sec["errors"][:5])
    detail["wall"] = {"gen_s": t1 - t0, "jvm_s": t2 - t1, "check_s": time.time() - t2}
    rep = reps["untraced"]
    untraced = rep["section"]
    lat = untraced["op_s"]
    tail_v, tail_pct, tail_beyond = stats.tail(lat)
    # medians over the repeats: of the repeat times (the section's
    # run_s), and of each repeat's median op latency
    run_s = untraced["run_s"]
    by_rep = {}
    for r, x in zip(untraced["op_rep"], lat):
        by_rep.setdefault(r, []).append(x)
    e2e = {
        "setup_s": rep["setup_s"],
        "run_s": run_s,
        "rows_per_s": int(check._plan(inp)["input_rows"]) / run_s,
        "op_p50_s": statistics.median(statistics.median(xs) for xs in by_rep.values()),
        "peak_rss_mb": rep["peak_rss_mb"],
    }
    detail.update({
        "workload": workload, "seed": seed, "ops": len(lat), "rep_s": untraced["rep_s"],
        "op_tail_s": tail_v, "op_tail_percentile": tail_pct, "op_tail_beyond": tail_beyond,
        "fail_ratio": failed / max(1, attempted), "e2e": e2e})
    detail.update(detail["checks"]["untraced"].get("e2e", {}))
    spec = load_spec()
    if trace:
        traced = reps["traced"]["section"]
        layers = dict(traced["layers"])
        layers.update(detail["checks"]["traced"].get("layers", {}))
        layers["trace.overhead_ratio"] = traced["run_s"] / untraced["run_s"] - 1.0
        # the untraced run's figures that only some workloads have
        layers["op_tail_s"] = tail_v
        layers.update(detail["checks"]["untraced"].get("e2e", {}))
        spans_ok = spans_consistent(os.path.join(traced["out"], "spans.json"))
        detail["spans_consistent"] = spans_ok
        ok = ok and spans_ok
        detail["layers"] = layers
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, detail


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def steady(workload, first_seed, runs, seconds):
    spec = load_spec()
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for i in range(runs):
        result, _ = measure(workload, first_seed + i, seconds, False)
        if not result["correct"]:
            raise SystemExit(f"perfbench: wrong output at seed {first_seed + i}")
        for k in values:
            values[k].append(result["metrics"][k]["value"])
        print(json.dumps({"seed": first_seed + i,
                          **{k: v["value"] for k, v in result["metrics"].items()}}),
              flush=True)
    for m in spec["end_to_end"]:
        med, q1, q3, sp = stats.spread(values[m["name"]])
        verdict = "steady" if sp <= m["bound"] / 3 else (
            "within-bound" if sp <= m["bound"] else "unresolved")
        print(f"{workload:15s} {m['name']:14s} median={med:.5g} q1={q1:.5g} q3={q3:.5g} "
              f"spread={sp:.4f} bound={m['bound']} {verdict}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["station_etl", "curate_corpus", "nightly_fold", "registry_sweep"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=load_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0)
    a = ap.parse_args()
    if a.steady:
        steady(a.workload, a.seed, a.steady, a.seconds)
        return
    t0 = time.time()
    result, detail = measure(a.workload, a.seed, a.seconds, a.trace == 1)
    detail["wall_s"] = time.time() - t0
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
