#!/usr/bin/env python3
"""graft benchmark: one closed-loop client driving graft's public entry
points in one JVM at local[nproc].

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft and the benchmark (build.py),
generates the seeded inputs inside .bench_build/work-*, runs the workload
for S seconds of measured time, checks every output (DuckDB oracle or the
pinned value), prints each metric with its unit, and prints the result
object as the last line. Exits non-zero when the build, the run or any
output check fails. Workloads, metrics and layers: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("tail_queries", "index_maintenance", "corpus_kernels")
JVM_TIMEOUT_S = 150
TRACES = os.path.join(build.BUILD, "traces")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

MB = 1024.0 * 1024.0


def pct(xs, q):
    """Percentile with linear interpolation between order statistics."""
    s = sorted(xs)
    if not s:
        return 0.0
    h = (len(s) - 1) * q
    i = int(h)
    return s[i] + (s[min(i + 1, len(s) - 1)] - s[i]) * (h - i)


def median(xs):
    s = sorted(xs)
    n = len(s)
    return 0.0 if n == 0 else (s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2)


def run_jvm(classes, work, args):
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(work, "record.json")
    jars = os.path.join(build.jar_dir(), "*")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # the heap is committed and touched up front, so that peak RSS does
           # not depend on when the collector chose to grow it
           + ["-Xms4g", "-Xmx4g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.ui.enabled=false",
              "-cp", f"{classes}:{jars}", "perfbench.Main",
              args.workload, str(args.seed), str(args.seconds), str(args.trace),
              work, out, str(cores)])
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                           timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"benchmark JVM exited with {r.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def load_pins():
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


def check_outputs(rec, work):
    """Expected row count per op name, and the names whose output is wrong."""
    expected, wrong = {}, {}
    if rec["workload"] == "corpus_kernels":
        pins = load_pins()
        for c in rec["checks"]:
            pin = pins.get(str(c["variant"]), {}).get(c["name"])
            err = oracle.compare_pin((c["rows"], c["hash"]), pin)
            expected[c["name"]] = c["rows"] if pin is None else pin[0]
            if err:
                wrong[c["name"]] = err
        return expected, wrong
    con = oracle.connect(os.path.join(work, "in"))
    wanted = {}
    for c in rec["checks"]:
        try:
            if c["oracle_sql"] not in wanted:
                wanted[c["oracle_sql"]] = con.execute(c["oracle_sql"]).df()
            want = wanted[c["oracle_sql"]]
            n, err = len(want), oracle.compare_frames(oracle.read_result(c["result"]), want)
        except Exception as e:  # an oracle that cannot run is a failed check
            n, err = -1, f"oracle error: {e}"
        expected[c["name"]] = n
        if err:
            wrong[c["name"]] = err
    return expected, wrong


def metrics(rec, expected, wrong, spec):
    plain = [p for p in rec["passes"] if not p["traced"]]
    ops = [o for p in plain for o in p["ops"]]
    all_ops = [o for p in rec["passes"] for o in p["ops"]]
    failed = sum(1 for o in all_ops
                 if o["error"] or o["name"] in wrong or o["rows"] != expected.get(o["name"], 0))
    pass_s = median([p["ms"] / 1000.0 for p in plain])
    e2e = {
        "setup_s": rec["setup_s"],
        "pass_s": pass_s,
        "op_p50_ms": pct([o["ms"] for o in ops], 0.5),
        "op_p95_ms": pct([o["ms"] for o in ops], 0.95),
        "rows_per_s": rec["rows_per_pass"] / pass_s,
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    layers = {}
    if rec.get("op_layers"):
        traced = [p for p in rec["passes"] if p["traced"]]
        n = len(traced)
        tot = {}
        for ol in rec["op_layers"]:
            for k, v in ol["layers"].items():
                tot[k] = max(tot.get(k, 0.0), v) if k == "exec.peak_task_mem_mb" \
                    else tot.get(k, 0.0) + v
        g = lambda k: tot.get(k, 0.0)  # noqa: E731
        per = lambda k: g(k) / n  # noqa: E731
        wall = g("graft.wall_ms")
        for m in spec["per_layer"]:
            k = m["name"]
            if k == "exec.peak_task_mem_mb":
                layers[k] = g(k)
            elif k == "exec.core_util":
                layers[k] = g("exec.task_run_ms") / (wall * rec["cores"]) if wall else 0.0
            elif k == "shuffle.bytes_per_input_byte":
                inp = g("io.input_bytes")
                layers[k] = g("shuffle.write_bytes") / inp if inp else 0.0
            elif k.endswith("_mb") and k.replace("_mb", "_bytes") in tot:
                layers[k] = per(k.replace("_mb", "_bytes")) / MB
            elif k.startswith("self."):
                layers[k] = rec["self_ms"].get(k[5:-3], 0.0) / n
            elif k.startswith("index."):
                kind = k.split(".")[1].replace("_p50_ms", "")
                layers[k] = median([o["ms"] for o in ops if o["kind"] == kind])
            elif k == "trace.overhead_s":
                layers[k] = median([p["ms"] / 1000.0 for p in traced]) - pass_s
            elif k == "ops_failed_frac":
                layers[k] = failed / len(all_ops)
            else:
                layers[k] = per(k)
    return e2e, layers, failed, len(all_ops)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    classes = build.build()
    work = os.path.abspath(os.path.join(build.BUILD, f"work-{os.getpid()}-{int(time.time())}"))
    os.makedirs(work)
    try:
        rec = run_jvm(classes, work, args)
        expected, wrong = check_outputs(rec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e, layers, failed, attempted = metrics(rec, expected, wrong, spec)
    if args.trace:
        # the run's spans and per-op counters, kept after the run
        os.makedirs(TRACES, exist_ok=True)
        path = os.path.join(TRACES, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump({k: rec[k] for k in ("workload", "seed", "passes", "op_layers",
                                           "self_ms", "spans")}, f)
        print(f"trace={path}")

    for name, err in sorted(wrong.items()):
        print(f"CHECK FAILED {name}: {err}", file=sys.stderr)
    for o in (o for p in rec["passes"] for o in p["ops"] if o["error"]):
        print(f"OP FAILED {o['name']}: {o['error']}", file=sys.stderr)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = e2e if args.trace == 0 else layers
    print(f"workload={rec['workload']} seed={rec['seed']} cores={rec['cores']} "
          f"passes={len(rec['passes'])} ops={attempted} "
          f"ops_failed_frac={failed / attempted:.4f} load_per_core={rec['load']}")
    for k, v in {**e2e, **layers}.items():
        print(f"{k} {v:.6g} {units[k]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: the benchmark JVM ran over {JVM_TIMEOUT_S} s and was stopped")
    except Exception as e:
        sys.exit(f"perfbench: {e}")
