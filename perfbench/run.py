#!/usr/bin/env python3
"""The graft benchmark.

    python3 perfbench/run.py --workload <query-mix|stream-mor|kv-serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness from
source (`build.py`, once per source state, under `.bench_build/`), generates
the workload's inputs from the seed, runs one JVM with Spark `local[nproc]`
that sets the workload up three times and then drives it for `--seconds`,
checks every output for correctness, and prints the metrics. The last line
of standard output is one JSON object: with `--trace 0` the end-to-end
metrics of BENCHMARK.json, with `--trace 1` the per-layer metrics of a
traced run. Workload parameters, the query-to-module mapping and the map
from each per-layer metric to the end-to-end metric it should move are in
`perfbench/definition.json`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from build import build, spark_jars  # noqa: E402

DEADLINE_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def _java(classes, work, knobs, share, budget_s):
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off", "-XX:+UseG1GC", "-XX:Tier3InvocationThreshold=50",
           "-XX:Tier3MinInvocationThreshold=20", "-XX:Tier3CompileThreshold=500",
           "-XX:Tier4InvocationThreshold=1000", "-XX:Tier4MinInvocationThreshold=200",
           "-XX:Tier4CompileThreshold=2000", share]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_jars()}/*", "graftbench.Main"] + [f"{k}={v}" for k, v in knobs.items()]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("the workload did not finish in time")
    if p.returncode != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"the workload's JVM exited with {p.returncode}")


def run_jvm(classes, work, knobs, deadline):
    """Runs the harness. Spark's classes come from a class-data archive of
    the build, made once per workload by a short untimed run over the same
    inputs, so that no measured run pays for loading them one by one.
    Lower JIT thresholds shorten the warm-up before compiled code runs."""
    archive = classes[:-len(".jar")] + f"-{knobs['workload']}.jsa"
    if not os.path.isfile(archive):
        train = f"{work}/train"
        os.makedirs(train)
        for name in os.listdir(work):
            if name != "train":
                os.symlink(f"{work}/{name}", f"{train}/{name}")
        t0 = time.monotonic()
        _java(classes, train, {**knobs, "work": train, "seconds": 0.1, "reps": 1, "trace": 0, "warm_epochs": 0,
                               "warm_seconds": 0.5},
              f"-XX:ArchiveClassesAtExit={archive}.{os.getpid()}", DEADLINE_S)
        os.replace(f"{archive}.{os.getpid()}", archive)
        os.sync()  # the archive's writeback must not overlap the measured run
        deadline += time.monotonic() - t0  # like the build, outside the run's own time
    _java(classes, work, knobs, f"-XX:SharedArchiveFile={archive}", deadline - time.monotonic())
    return checks.load_json(f"{work}/result.json")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "definition.json")) as f:
        definition = json.load(f)
    if args.workload not in definition["workloads"]:
        raise SystemExit(f"unknown workload {args.workload}")
    cfg = definition["workloads"][args.workload]
    classes = build()
    t_start = time.monotonic()
    work = os.path.join(os.path.dirname(HERE), ".bench_build", "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        knobs = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "work": work, "cores": len(os.sched_getaffinity(0))}
        t0 = time.monotonic()
        info = {}
        if args.workload == "query-mix":
            info["fixture_bytes"] = gen.fixtures(f"{work}/fixtures", args.seed, cfg["fixture_scale"])
            with open(f"{work}/queries.tsv", "w") as f:
                f.writelines(f"{q}\t{m}\t{w}\n" for q, m, w in cfg["queries"])
        elif args.workload == "stream-mor":
            gen.stream_inputs(f"{work}/stream", args.seed, cfg)
            knobs.update({k: cfg[k] for k in ("compact_every", "travel_back", "range_seconds", "initial_buckets", "warm_epochs")})
        else:
            # more requests than any run sends; the list wraps around if not
            n = int(2 * max(cfg["rates"]) * (args.seconds + cfg["warm_seconds"])) + 500
            gen.kv_inputs(f"{work}/kv", args.seed, cfg["collections"], cfg["keys"], n, cfg["put_frac"], cfg["zipf_s"])
            knobs.update({"rates": ",".join(map(str, cfg["rates"])),
                          **{k: cfg[k] for k in ("ref_rate", "ref_share", "burst_share", "flush_every",
                                                 "warm_seconds")}})
        info["fixtures_s"] = time.monotonic() - t0
        res = run_jvm(classes, work, knobs, t_start + DEADLINE_S)
        res["info"].update(info)
        t0 = time.monotonic()
        problems = metrics.check(args.workload, cfg, work, res, args.seed)
        res["info"]["oracle_s"] = time.monotonic() - t0
        spans = metrics.load_spans(f"{work}/spans.jsonl") if args.trace else None
        named, e2e, per_layer, attempted, failed = metrics.compute(args.workload, cfg, res, spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems[:20]:
        print(f"WRONG {args.workload}: {p}")
    for name, (value, unit, note) in named.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}{' ' + note if note else ''}")
    out = per_layer if args.trace else e2e
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
