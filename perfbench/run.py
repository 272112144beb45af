#!/usr/bin/env python3
"""Cold-session benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload session|graph-dedup|pipeline \
        --seed N --seconds S --trace 0|1 [--data DIR]

Builds the engine and the harness from source (perfbench/build.py), runs
the workload in one fresh JVM with a local[N] Spark session (N = min(4,
cores)), times its set-up from process start, checks every delivered output
against DuckDB (perfbench/checks.py) and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.

`--all` runs the three workloads untraced in turn and prints one line per
workload. The input data set is --data, else $PERFBENCH_DATA, else
~/testdata/sf0.1 (the graph-dedup workload reads the sibling sf0.01).
"""
import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
import selftest  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("session", "graph-dedup", "pipeline")
RUN_LIMIT_S = 170         # whole run, build excluded
RECONCILE_PCT = 1.0       # tolerance of span self times against key wall time
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def data_dir(arg, workload):
    base = Path(arg or os.environ.get("PERFBENCH_DATA")
                or Path.home() / "testdata" / "sf0.1")
    if workload in ("graph-dedup", "pipeline"):
        base = base.parent / "sf0.01"
    if not (base / "events.parquet").is_file():
        raise SystemExit(f"run: no input data set at {base}")
    return base


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def jvm(classes, scratch, args):
    jars = build.spark_jars()
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={scratch}",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graftbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch), TMPDIR=str(scratch))
    return cmd, env


def launch(classes, scratch, args, log, deadline):
    """Start a harness JVM; return (process, seconds until it printed
    READY, i.e. until its session accepts a query)."""
    cmd, env = jvm(classes, scratch, args)
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=log,
                         text=True, cwd=scratch)
    for line in p.stdout:
        if line.strip() == "READY":
            return p, time.monotonic() - t0
        if time.monotonic() > deadline:
            break
    stop(p)
    raise RuntimeError("harness JVM ended before its session was ready")


def stop(p, timeout=10):
    if p.poll() is None:
        p.terminate()
        try:
            p.wait(timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_one(a):
    classes = build.build(ROOT)
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    data = data_dir(a.data, a.workload)
    bdir = ROOT / ".bench_build"
    runs = bdir / "runs"
    shutil.rmtree(runs, ignore_errors=True)
    out = runs / f"{a.workload}-{a.seed}-{os.getpid()}"
    scratch = out / "scratch"
    scratch.mkdir(parents=True)
    cpus = str(min(4, os.cpu_count() or 1))
    common = ["--cpus", cpus, "--scratch", str(scratch), "--data", str(data)]
    fed = {}
    if a.workload == "pipeline":
        con = checks.connect(str(data), str(scratch / "duckdb"))
        fed = inputs.make(con, a.seed, str(out / "inputs"))
        con.close()
        common += ["--inputs", str(out / "inputs")]
    log_path = out / "jvm.log"
    with open(log_path, "w") as log:
        p, setup_s = launch(classes, scratch, common + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", str(out / "out"), "--costs", str(HERE / "key_costs.tsv")],
            log, deadline)
        try:
            code = p.wait(max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("workload exceeded the run time limit")
        finally:
            stop(p)
    if code != 0:
        sys.stderr.write(log_path.read_text()[-4000:])
        raise RuntimeError(f"harness JVM exited {code}")
    t_jvm = time.monotonic()
    with open(out / "out" / "result.json") as f:
        res = dict(json.load(f), **fed)
    fails = checks.check(res, str(data), str(bdir))
    # the checks must still catch deliberately wrong outputs
    with contextlib.redirect_stdout(sys.stderr):
        if selftest.main(str(out / "selftest")) != 0:
            fails.append("check self-test: a wrong output went uncaught")
    print(f"run: set-up {setup_s:.1f} s, workload JVM {t_jvm - t_start:.1f} s, "
          f"checks {time.monotonic() - t_jvm:.1f} s", file=sys.stderr)
    if res.get("layers", {}).get("trace.reconcile_err_pct", 0.0) > RECONCILE_PCT:
        fails.append("span self times do not add up to key wall times")
    for msg in fails:
        print(f"check failed: {msg}", file=sys.stderr)
    for op, msg in res["failures"].items():
        print(f"operation failed: {op}: {msg[:300]}", file=sys.stderr)
    sp = spec()
    if a.trace:
        layers = dict(res.get("layers", {}), **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in sp["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "cold_pass_s": res["cold_pass_s"],
            "warm_pass_s": median(res["warm_passes_s"]),
            "query_p50_ms": res["query_p50_ms"],
            "retained_mb": res["retained_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in sp["end_to_end"]}
    if not a.keep:
        shutil.rmtree(out, ignore_errors=True)
    return {"correct": not fails, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    # a terminated runner still stops its JVM (the finally in run_one)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced, one line each")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="input data set directory")
    ap.add_argument("--keep", action="store_true",
                    help="keep outputs and spans under .bench_build/runs")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    try:
        if a.all:
            for w in WORKLOADS:
                a.workload, a.trace = w, 0
                print(json.dumps({"workload": w, **run_one(a)}), flush=True)
        else:
            print(json.dumps(run_one(a)))
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"run: {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
