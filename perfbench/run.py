#!/usr/bin/env python3
"""The benchmark command: one seeded, closed-loop, single-client workload
against the engine's public APIs, measured for a fixed window.

Usage:
  python3 perfbench/run.py --workload {netmon,lake} --seed N \\
      --seconds S --trace {0,1}

It builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed, runs the JVM driver in a private directory
that is deleted afterwards, checks every output, and prints one JSON line:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
See perfbench/README.md for the metrics and why each workload exists.
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

REPS = 3        # set-ups per run; setup_s takes the median
HEAP = "3g"     # fixed, whatever the host's memory
MAX_SLOTS = 4
# JVM session, state builds, warm-up and end-of-run reads, then the window;
# the last op may overrun the window by about as much again
JVM_FIXED_S = 140
# per-layer metrics of layers a workload never calls: 0 by construction
BYPASSED = dict(
    netmon=("sql.", "operators.", "sources.files_scanned_frac"),
    lake=("queries.", "sources.log_append_ms", "streaming.batch_ms"),
)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def slots():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_SLOTS, n))


def run_jvm(classpath, cfg, work):
    timeout = JVM_FIXED_S + 2 * cfg["seconds"]
    cfg_path, out_path = os.path.join(work, "config.json"), os.path.join(work, "out.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [build.java(), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.codegen.cache.maxEntries=4096"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", cfg_path, out_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM or an interrupt: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log) as lf:
            lines = [x for x in lf if not x.lstrip().startswith(("at ", "..."))]
            sys.stderr.write("".join(lines[-40:]))
        sys.exit(f"perfbench: JVM driver failed ({rc})")
    with open(out_path) as f:
        return json.load(f)


def end_to_end(raw, setup_s):
    ops = raw["ops"]
    items = sum(o["items"] for o in ops)
    return {
        "setup_s": setup_s,
        "items_per_s": items / (raw["window_ms"] / 1000.0),
        "op_p50_ms": statistics.median(o["e"] - o["s"] for o in ops),
        "cpu_ms_per_item": raw["cpu_ms"] / max(1, items),
        "live_heap_mb": raw["heap_mb"],
    }


def context(raw):
    """Steadiness and host figures recorded on every run."""
    ops, w = raw["ops"], raw["window_ms"]
    mid = w / 2
    lat = sorted(o["e"] - o["s"] for o in ops)

    def half(lo, hi):
        # an op straddling the midpoint counts pro rata
        done = sum(o["items"] * max(0.0, min(o["e"], hi) - max(o["s"], lo)) / (o["e"] - o["s"])
                   for o in ops if o["e"] > o["s"])
        return done / ((hi - lo) / 1000)

    return {
        "items_per_s_first_half": half(0, mid),
        "items_per_s_second_half": half(mid, w),
        "op_p90_ms": lat[min(len(lat) - 1, int(0.9 * len(lat)))],
        "host.steal_frac": raw["steal_frac"],
        "host.calib_ms": raw["calib_ms"],
        "host.slots": raw["slots"],
        "ops": len(ops),
        "op_ms": [round(o["e"] - o["s"]) for o in ops],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WRITERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # turn SIGTERM into SystemExit, so the cleanup in run_jvm and below runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sp = spec()
    classpath = build.ensure()

    work = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        gen_s = []
        for _ in range(REPS):
            shutil.rmtree(inputs, ignore_errors=True)
            os.makedirs(inputs)
            t = time.perf_counter()
            gen.WRITERS[a.workload](a.seed, inputs, a.seconds)
            gen_s.append(time.perf_counter() - t)
        cfg = dict(workload=a.workload, seconds=a.seconds, trace=bool(a.trace),
                   reps=REPS, slots=slots(), inputs=inputs, work=work,
                   spans=os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
        raw = run_jvm(classpath, cfg, work)
        problems = check.CHECKS[a.workload](raw, inputs, a.seed)
        if raw["warm_failed"]:
            problems.append(f"{raw['warm_failed']} warm-up op(s) failed their check or threw")
        if raw["exhausted"]:
            problems.append("the generated inputs ran out before the window ended")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # JVM start to the first timed op, with the repeated state builds
    # counted once, at their median; plus input generation, likewise
    setup_s = (statistics.median(gen_s) + raw["setup_wall_s"] - sum(raw["build_s"])
               + statistics.median(raw["build_s"]))
    attempted = len(raw["ops"])
    failed = attempted if problems else sum(1 for o in raw["ops"] if not o["ok"])
    ctx = context(raw)
    sys.stderr.write(json.dumps(dict(ctx, workload=a.workload, seed=a.seed, problems=problems,
                                     errors=raw["errors"],
                                     gen_s=gen_s, session_s=raw["session_s"],
                                     build_s=raw["build_s"], warm_s=raw["warm_s"],
                                     warm_ms=raw["warm_ms"],
                                     window_s=raw["window_ms"] / 1000)) + "\n")
    if a.trace:
        layer = dict(raw["layer"], **{k: v for k, v in ctx.items() if k not in ("ops", "op_ms")})
        wanted = sp["per_layer"]
        for m in wanted:
            if m["name"] not in layer and m["name"].startswith(BYPASSED[a.workload]):
                layer[m["name"]] = 0.0
    else:
        layer = end_to_end(raw, setup_s)
        wanted = sp["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in layer]
    if missing:
        sys.exit(f"perfbench: the JVM driver produced no value for {', '.join(missing)}")
    metrics = {m["name"]: {"value": float(layer[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
