#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload <hub_backfill|hub_scan|corpus_ops>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`) when the sources changed,
generates the workload's inputs from the seed, runs the JVM side
(`perfbench.Main`) once, checks its outputs and prints as the last line of
stdout one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value": x, "unit": u}}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. The full record of the run (every metric with its
unit, the seed, the core count, the contention sentinel and the first
failures) is written to `<build>/records/`. The exit code is 0 only when
every operation succeeded and every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402

TASKS_JSON = os.path.join(ROOT, "src", "test", "resources", "integration", "data",
                          "flu-metrocast", "hub-config", "tasks.json")
CORPUS = os.path.join(HERE, "corpus")
DIGESTS = os.path.join(HERE, "corpus_digests.json")
# Input sizes. A gated run must take well under a minute on 4 cores, so a
# backfill repetition is 15 files plus an 8-event tail (eight repetitions,
# 64 events, per run). hub_scan is not gated (see README.md); its 20 queries
# per repetition keep a run inside the JVM time limit.
WORKLOADS = {
    "hub_backfill": dict(n_files=15, n_tail=8, rows_per_file=2000),
    "hub_scan": dict(n_files=60, n_tail=0, rows_per_file=2000, n_queries=20),
    "corpus_ops": None,
}
SETUPS = 5
JVM_TIMEOUT_S = 165


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def make_inputs(workload, seed, data):
    import hubgen
    p = dict(WORKLOADS[workload])
    n_queries = p.pop("n_queries", 0)
    manifest = hubgen.generate(data, seed, tasks_json=TASKS_JSON, **p)
    if n_queries:
        manifest["queries"] = hubgen.scan_queries(manifest, seed, n_queries)
        with open(os.path.join(data, "manifest.json"), "w") as f:
            json.dump(manifest, f)
    return manifest


def run_jvm(cp, args, log):
    # build.sbt runs the project with -Xmx8g and the default collector (G1);
    # here a 2 GiB heap and the parallel collector keep peak RSS and the
    # timings steady enough for the bounds, and the run short (measured
    # comparison in README.md)
    cmd = (["java"] + build.ADD_OPENS + [
        "-Xmx2g", "-XX:+UseParallelGC", "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={args['work']}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main"] + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=args["work"])
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def latency_ms(workload, record):
    """Latencies of the successful untraced operations the p50/p90 describe:
    on hub_backfill the events of every warm repetition (p90 needs their
    number), on corpus_ops every call."""
    untraced = [r for r in record["reps"] if not r["traced"]]
    if workload == "hub_backfill":
        ops = [o for r in untraced[1:] for o in r["tail"]]
    else:
        ops = [o for r in untraced for o in r["ops"]]
    return [o["ms"] for o in ops if o["ok"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    opt = ap.parse_args()
    # a terminated benchmark still stops the JVM it started (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = spec()
    if opt.workload not in WORKLOADS:
        sys.exit(f"unknown workload {opt.workload}; expected one of {sorted(WORKLOADS)}")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    try:
        cp = build.build(build_dir)
    except build.BuildError as e:
        sys.exit(f"build: {e}")

    if opt.workload == "corpus_ops":
        data, manifest = CORPUS, None  # fixed tables, committed with the benchmark
    else:
        data = os.path.join(build_dir, "data", opt.workload)
        manifest = make_inputs(opt.workload, opt.seed, data)
    work = os.path.join(build_dir, "work", opt.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{opt.workload}-{opt.seed}-t{opt.trace}")
    raw_path, log = stem + ".raw.json", stem + ".log"
    if os.path.exists(raw_path):
        os.remove(raw_path)
    nproc = len(os.sched_getaffinity(0))
    rc = run_jvm(cp, {"workload": opt.workload, "data": data, "work": work, "out": raw_path,
                      "seconds": opt.seconds, "trace": opt.trace, "nproc": nproc,
                      "setups": SETUPS}, log)
    if rc != 0 or not os.path.exists(raw_path):
        sys.exit(f"{opt.workload}: JVM {'timed out' if rc is None else f'exited {rc}'}; see {log}")
    with open(raw_path) as f:
        record = json.load(f)

    digests = {}
    if opt.workload == "hub_backfill":
        attempted, failed, problems = checks.hub_backfill(manifest, record)
    elif opt.workload == "hub_scan":
        attempted, failed, problems = checks.hub_scan(manifest, record)
    else:
        with open(DIGESTS) as f:
            attempted, failed, problems, digests = checks.corpus_ops(json.load(f), record)

    lat = latency_ms(opt.workload, record)
    values = dict(record["e2e"])
    values.update({
        "setup_s": record["setup_s"],
        "peak_rss_mb": record["peak_rss_mb"],
        "op_p50_ms": statistics.median(lat) if lat else 0.0,
        "op_p90_ms": statistics.quantiles(lat, n=10)[-1] if len(lat) >= 2 else 0.0,
    })
    layer = dict(record["layer"])
    layer["fail_share"] = failed / max(1, attempted)
    wanted = bench["per_layer"] if opt.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        if opt.trace:
            v = layer.get(m["name"], 0.0)
        elif m["name"] in values:
            v = values[m["name"]]
        else:
            sys.exit(f"{opt.workload}: metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}

    full = {"workload": opt.workload, "seed": opt.seed, "trace": opt.trace, "nproc": nproc,
            "seconds": opt.seconds, "env.sentinel_ms": layer.get("env.sentinel_ms"),
            "attempted": attempted, "failed": failed, "problems": problems,
            "op_samples": len(lat), "setup_runs_s": record["setup_runs_s"],
            "end_to_end": {k: values.get(k) for k in (m["name"] for m in bench["end_to_end"])},
            "per_layer": layer, "digests": {q: sorted(v) for q, v in digests.items()},
            "units": {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}}
    with open(stem + ".json", "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    for p in problems:
        print(f"FAILED {p}", file=sys.stderr)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
