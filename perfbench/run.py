#!/usr/bin/env python3
"""Feature-store benchmark: one command per run.

    python3 perfbench/run.py --workload daily_build --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --write-benchmark-json

Builds the engine plus the benchmark (build.py), generates the seeded
inputs (gen.py), drives the workload in one JVM (FeatureBench.scala),
checks the outputs against their DuckDB oracles (check.py) and prints the
end-to-end metrics by name and unit (--trace 0) or the per-layer metrics
of the traced run (--trace 1). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Everything it writes stays
under perfbench/.build and perfbench/.work.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import spec  # noqa: E402

# The JVM's share of a run's 180 s (the first run also builds, before this
# clock starts); the DuckDB checks follow it.
JVM_LIMIT_S = 160
GEN_REPS = 5


def generate(workload, trace, seed, input_dir):
    """Writes the workload's inputs; returns the median generation time."""
    events = workload in ("daily_build", "microbatch")
    batches = gen.N_BATCHES if workload == "microbatch" else 0
    query = workload == "query_mix" or (trace and workload == "daily_build")
    times = []
    for _ in range(GEN_REPS):
        shutil.rmtree(input_dir, ignore_errors=True)
        t0 = time.perf_counter()
        if events:
            gen.write_events(seed, os.path.join(input_dir, "events"), batches)
        if query:
            gen.write_query_tables(seed, os.path.join(input_dir, "query"))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run_jvm(args, input_dir, work, deadline):
    result = os.path.join(work, "result.json")
    cmd = build.java_cmd(work) + [
        "graft.perfbench.FeatureBench", args.workload, input_dir, work,
        str(args.seconds), str(args.trace), str(args.seed), result]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("run: the JVM exceeded the run's time limit")
    if p.returncode != 0 or not os.path.exists(result):
        raise SystemExit(f"run: the JVM exited with {p.returncode}")
    with open(result) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    names = [n for n, _ in spec.WORKLOADS] + spec.EXTRA_WORKLOADS
    ap.add_argument("--workload", choices=names)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-benchmark-json", action="store_true")
    args = ap.parse_args()
    if args.write_benchmark_json:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(spec.benchmark_json(), fh, indent=2)
            fh.write("\n")
        return
    if not args.workload:
        ap.error("--workload is required")
    build.ensure()
    deadline = time.monotonic() + JVM_LIMIT_S
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-t{args.trace}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        input_dir = os.path.join(work, "input")
        gen_s = generate(args.workload, args.trace, args.seed, input_dir)
        r = run_jvm(args, input_dir, work, deadline)
        checks = check.run(work, r["oracle"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args, gen_s, r, checks)


def report(args, gen_s, r, checks):
    wrong = [(n, why) for n, why in checks if why]
    attempted = r["attempted"] + len(checks)
    failed = r["failed"] + len(wrong)
    correct = not r["wrong_output"] and not wrong
    got = {k: v["value"] for k, v in r["metrics"].items()}
    info = r["info"]
    say = print
    say(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    if args.trace == 0:
        got["setup_s"] = gen_s + got.get("setup_s", 0.0)
        wanted = [(n, u) for n, u, _, _ in spec.END_TO_END]
        missing = {n for n, _ in wanted} - set(got)
        if missing:
            raise SystemExit(f"run: metrics missing: {sorted(missing)}")
        if args.workload == "daily_build":
            say(f"  daily_build_s         {got['op_s']:.3f} s  "
                f"(fresh-process build; all builds: {info['daily_build_s']})")
        elif args.workload == "microbatch":
            n = len(info["batch_latency_s"].split(","))
            say(f"  batch_latency_p50_s   {got['op_s']:.3f} s  "
                f"(median of {n} batch(es): {info['batch_latency_s']})")
            say(f"  microbatch_s          {float(info['microbatch_s']):.3f} s  "
                f"(total of the {n} batch cycle(s), bronze append and "
                f"serving reads included)")
        else:
            say(f"  query_mix_s           {got['op_s']:.3f} s  "
                f"(median pass: {info['query_mix_s']})")
    else:
        measured = set(spec.TRACED_LAYERS[args.workload])
        unexpected = set(got) - set(spec.PER_LAYER) - {"peak_rss_mb"}
        missing = measured - set(got)
        if unexpected or missing:
            raise SystemExit(f"run: traced metrics drifted from spec.py: "
                             f"unexpected {sorted(unexpected)}, "
                             f"missing {sorted(missing)}")
        wanted = [(m, spec.unit(m)) for m in spec.PER_LAYER]
        if "microbatch_traced_s" in info:
            say(f"  microbatch batch: traced {info['microbatch_traced_s']} s,"
                f" untraced {info['microbatch_untraced_s']} s")
    metrics = {n: {"value": got.get(n, 0.0), "unit": u} for n, u in wanted}
    for n, m in metrics.items():
        say(f"  {n:<58} {m['value']:.6g} {m['unit']}")
    say(f"  failed_ops/attempted_ops  {failed}/{attempted}")
    for note in r["notes"]:
        say(f"  {note}")
    for n, why in wrong:
        say(f"  WRONG {n}: {why}")
    say(json.dumps({"correct": correct, "attempted": attempted,
                    "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
