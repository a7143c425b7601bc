#!/usr/bin/env python3
"""Benchmark command: one run of one workload.

    python3 perfbench/run.py --workload {pipeline,tables,corpus} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the repository root. It builds the engine and the harness from
source when they changed (perfbench/build.py), clears the run's scratch
state, runs the workload in one JVM (local[N], N = usable cores, one
client thread) and prints a report followed, as the last line, by one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from the traced run, whose spans and per-layer summary
are written under .bench_out/. Every path it writes is inside the
checkout: .bench_build/ (classes), .bench_state/ (scratch, cleared at
the start of each run) and .bench_out/ (logs, spans, results).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_state")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("pipeline", "tables", "corpus")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def clear_state():
    """Every run starts from empty scratch state. The engine's own
    scratch (java.io.tmpdir/graft_*, content-keyed stages, Spark local
    dirs, stream checkpoints, warehouse, store and table dirs) all live
    under .bench_state/, so removing it clears them; returns what was
    removed."""
    cleared = sorted(os.listdir(STATE)) if os.path.isdir(STATE) else []
    shutil.rmtree(STATE, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(STATE, d))
    return [os.path.join(".bench_state", c) for c in cleared]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, a, tag):
    result = os.path.join(OUT, tag + ".json")
    log = os.path.join(OUT, tag + ".log")
    for p in (result, log):
        if os.path.exists(p):
            os.remove(p)
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-XX:+UseParallelGC"]

    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += [f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(STATE, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(STATE, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(STATE, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--state", STATE, "--out", result, "--cpus", str(cpus()),
            "--smoke", "1" if a.smoke else "0"]
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                cwd=ROOT, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"run: {a.workload} did not finish in {JVM_TIMEOUT_S} s; see {log}")
        finally:
            # the engine's task commands are children of the JVM: reap any left
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"run: {a.workload} JVM exited with {rc}; see {log}")
    with open(result) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, same code path (for the smoke check)")
    a = ap.parse_args()

    t_start = time.time()
    bench = spec()
    classpath = build.build()
    os.makedirs(OUT, exist_ok=True)
    cleared = clear_state()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke else "")
    t_jvm = time.time()
    r = run_jvm(classpath, a, tag)
    jvm_s = time.time() - t_jvm

    failed, messages = r["failed"], list(r["messages"])
    if a.workload == "corpus":
        import oracle
        bad = oracle.check(os.path.join(STATE, "corpus", "in"),
                           os.path.join(STATE, "corpus", "out"))
        failed += len(bad)
        messages += [f"oracle {q}: {why}" for q, why in bad.items()]

    print(f"# workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{r['attempted']} ops attempted, {failed} failed, timed {r['wall_s']:.2f} s")
    print("# phases: " + ", ".join(f"{k} {v:.2f}" for k, v in r["phases"].items())
          + f", jvm_total_s {jvm_s:.2f}, run_total_s {time.time() - t_start:.2f}")
    print(f"# cleared before the run: {', '.join(cleared) or '(nothing)'}")
    for m in messages:
        print(f"# CHECK FAILED {m}")
    for name, value, unit in r["report"]:
        print(f"metric {name} = {value} {unit}")
    for kind, k in r["kinds"].items():
        print(f"op {kind}: n={k['n']} p50={k['p50_ms']} ms p90={k['p90_ms']} ms "
              f"samples={[round(x) for x in k['ms']]}")

    if a.trace:
        layers = r["layers"]
        for name in sorted(layers):
            if name.startswith("self_ms."):
                print(f"layer {name} = {layers[name]} ms")
        summary = {m["name"]: {"value": layers.get(m["name"]) or 0.0, "unit": m["unit"]}
                   for m in bench["per_layer"]}
        with open(os.path.join(OUT, tag + ".layers.json"), "w") as fh:
            json.dump({"per_layer": summary, "all": layers}, fh, indent=1, sort_keys=True)
        print(f"# spans: .bench_out/{tag}.spans.jsonl  per-layer summary: .bench_out/{tag}.layers.json")
        print(f"# tracing overhead {layers.get('trace.overhead_ms')} ms per op "
              f"(traced minus untraced op_ms)")
        metrics = summary
    else:
        metrics = {m["name"]: r["e2e"][m["name"]] for m in bench["end_to_end"]}

    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
