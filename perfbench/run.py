#!/usr/bin/env python3
"""The serving + analytics benchmark of the graft engine.

    python3 perfbench/run.py --workload ingest|analytics \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the program and the benchmark once (perfbench/build.py), then runs
the workload in its own JVM with a fresh scratch directory (java.io.tmpdir,
spark.local.dir and the store all live there) that is removed at exit.
Prints every end-to-end metric of the workload by name with its unit,
then, as the last line, the result object: with --trace 0 the end-to-end
metrics of BENCHMARK.json, with --trace 1 the per-layer ones. See
perfbench/BENCHMARK.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170

# The workload metrics of the serving and analytics design, printed by
# name with their unit in the report lines, by workload.
NAMED = {
    "setup_s": ("s", {"ingest", "analytics"}),
    "post_p50_ms": ("ms", {"ingest"}),
    "post_p99_ms": ("ms", {"ingest"}),
    "post_tput": ("posts/s", {"ingest"}),
    "readback_s": ("s", {"ingest"}),
    "push_p50_ms": ("ms", {"ingest"}),
    "push_p99_ms": ("ms", {"ingest"}),
    "gates_total_s": ("s", {"analytics"}),
    "space_amp": ("ratio", {"ingest"}),
    "heap_mb": ("MB", {"ingest", "analytics"}),
    "failed_frac": ("ratio", {"ingest", "analytics"}),
    "slo_miss_frac": ("ratio", {"ingest"}),
}


def bench_metrics(kind):
    """Name -> unit of the `end_to_end` or `per_layer` metrics of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(classes, scratch, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={scratch}/tmp"] + opens +
            ["-cp", f"{classes}:{build.spark_jars()}/*", main] + args)


def run_jvm(classes, workload, seed, seconds, trace):
    """One workload in a fresh JVM and scratch dir; returns (result, spans)."""
    runs = os.path.join(ROOT, ".bench_build", "runs")
    scratch = os.path.join(runs, f"{workload}-{seed}-{trace}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        launch_ms = time.time() * 1000.0
        cmd = java_cmd(classes, scratch, "perfbench.Main",
                       [workload, str(seed), str(seconds), str(trace), scratch, repr(launch_ms)])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=scratch, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"{workload}: JVM did not finish in {JVM_TIMEOUT_S} s")
        finally:
            # on a timeout or a signal, the JVM must not outlive this process
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc != 0:
            raise SystemExit(f"{workload}: JVM failed ({rc})")
        with open(os.path.join(scratch, "result.json")) as f:
            result = json.load(f)
        spans = []
        if trace:
            with open(os.path.join(scratch, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f]
        if workload == "analytics":
            bad = oracle_check(os.path.join(scratch, "fixture"), os.path.join(scratch, "oracle"))
            result["failures"] += bad
            result["failed"] += len(bad)
        result["metrics"]["failed_frac"] = result["failed"] / max(1, result["attempted"])
        return result, spans
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def normalize(rows, cols):
    """tools/local_verify.py's rule: columns by name, floats to 9 dp, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order)
           for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def oracle_check(fixture, out_dir):
    """Each gate's result against its SparkEntry.oracleSql in DuckDB."""
    import duckdb
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet/*.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name in sorted(oracle):
        if not oracle[name]:
            failures.append(f"{name}: no oracle")
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            exp = con.sql(oracle[name])
            if sorted(c.lower() for c in got.columns) != sorted(c.lower() for c in exp.columns):
                failures.append(f"{name}: columns {got.columns} != {exp.columns}")
            elif normalize(got.fetchall(), got.columns) != normalize(exp.fetchall(), exp.columns):
                failures.append(f"{name}: rows differ from the oracle")
        except Exception as e:  # noqa: BLE001 - any oracle error fails the run
            failures.append(f"{name}: {e}")
    return failures


def self_times(spans):
    """Self ms per span name: duration minus the part its children cover."""
    by_req = {}
    for s in spans:
        by_req.setdefault(s["req"], []).append(s)
    total = {}
    for ss in by_req.values():
        for s in ss:
            kids = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                          for c in ss if c is not s and c["parent"] == s["name"]
                          and c["start_ns"] >= s["start_ns"] and c["end_ns"] <= s["end_ns"])
            covered, cur_s, cur_e = 0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    covered += (cur_e - cur_s) if cur_e is not None else 0
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            covered += (cur_e - cur_s) if cur_e is not None else 0
            self_ns = s["end_ns"] - s["start_ns"] - covered
            total[s["name"]] = total.get(s["name"], 0.0) + self_ns / 1e6
    return total


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report(workload, result):
    print(f"perfbench {workload} seed={result['seed']}")
    for name, (unit, where) in NAMED.items():
        if workload not in where:
            continue
        v = result["metrics"].get(name)
        note = "" if v is not None else "  (fewer than 10 samples beyond this percentile)"
        print(f"  {name:<20} {fmt(v):>12} {unit}{note}")
    for n in result["notes"]:
        print(f"  note: {n}")
    for f in result["failures"][:20]:
        print(f"  FAILED CHECK: {f}")


def main():
    # SIGTERM unwinds like an exception, so every JVM is stopped and every
    # scratch dir removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["ingest", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    classes = build.build()
    if a.selftest:
        cmd = java_cmd(classes, os.path.dirname(classes), "perfbench.SelfTest", [])
        sys.exit(subprocess.run(cmd).returncode)
    if not a.workload:
        ap.error("--workload is required")

    if a.trace:
        # the run times its own untraced baseline for trace.overhead_frac
        result, spans = run_jvm(classes, a.workload, a.seed, a.seconds, 1)
        correct = not result["failures"]
        layers = result["layers"]
        report(a.workload, result)
        print(f"layers by self time ({a.workload}, traced run):")
        for name, ms in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
            print(f"  {name:<20} {ms:12.1f} ms")
        per_layer = bench_metrics("per_layer")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": unit} for k, unit in per_layer.items()}
    else:
        result, _ = run_jvm(classes, a.workload, a.seed, a.seconds, 0)
        report(a.workload, result)
        correct = not result["failures"]
        u = result["universal"]
        metrics = {k: {"value": u.get(k), "unit": unit}
                   for k, unit in bench_metrics("end_to_end").items()}
    bad = [k for k, m in metrics.items() if m["value"] is None or not math.isfinite(m["value"])]
    if bad:
        raise SystemExit(f"{a.workload}: no value for {bad}")
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
