#!/usr/bin/env python3
"""Warehouse benchmark: cold backfill and daily refresh-to-dashboard.

Run from the repository root:

    python3 perfbench/run.py --workload wh_daily --seed 1 --seconds 10 --trace 0

Builds the harness (perfbench/build.sbt compiles the repo's main sources with
the harness), generates a seeded XSMB drop, runs the workload in one JVM,
checks every served answer against the plain model in xsmb.py, and prints one
JSON object as the last line of stdout. --trace 1 registers the listeners and
prints the per-layer metrics instead of the end-to-end ones. See README.md.
"""
import argparse
import datetime as dt
import decimal
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import xsmb

BENCH = os.path.dirname(os.path.abspath(__file__))
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.stamp")
RUN_TIMEOUT_S = 170

# Drop sizes and op counts, per workload. A runAll costs ~8-11 s on a
# 4-vCPU host at these sizes, most of it per-execution overhead; the counts
# fit the run-time budget in README.md.
FIRST_DAY = dt.date(2016, 1, 1)
WORKLOADS = {
    # a cold rebuild of two years of daily files per op
    "wh_backfill": {"days": 730, "future": 0, "warmups": 2},
    # half a year of history built in setup, then one new day per op
    "wh_daily": {"days": 180, "future": 60, "warmups": 1},
}
REQUESTS_PER_OP = 100

# JVM flags the repo's build passes to forked Spark JVMs on JDK 17.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

PER_LAYER = [
    *[f"pipeline.{st}.{m}" for st in ("P2", "P3", "P4", "MART")
      for m in ("s", "jobs", "tasks", "shuffle_bytes", "bytes_written")],
    "pipeline.P2.files_read", "pipeline.P2.rows_in",
    "pipeline.P4.fact_rows_computed", "pipeline.P4.fact_rows_appended",
    "pipeline.P4.append_yield",
    "sources.s", "sources.jobs",
    "control.s", "control.actions", "control.files_written", "control.log_files",
    "serving.snapshot_s", "serving.requests", "serving.failed",
    "spark.gc_s", "spark.spill_bytes", "spark.empty_stage_s",
    "driver.unattributed_s", "trace.op_s", "trace.overhead_frac",
]
# names the harness reports under its layer names
RENAMED = {"serving.s": "serving.snapshot_s", "driver.s": "driver.unattributed_s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory the repo's own build compiles against."""
    with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def source_digest(root):
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile the harness with the repo's sources once per source state;
    returns the runtime classpath."""
    digest = source_digest(root)
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                with open(CLASSPATH) as g:
                    return g.read()
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars(root))
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def loadavg():
    return os.getloadavg()[0]


def check_op(model, op):
    """True when the served state equals the model's."""
    dec = lambda s: json.loads(s, parse_float=decimal.Decimal)
    mart = model.mart()

    def row_ok(got, want):
        return (set(got) == set(want) and got["number_value"] == want["number_value"]
                and decimal.Decimal(got["total_occurrences"]) == want["total_occurrences"]
                and got["total_draws"] == want["total_draws"]
                and decimal.Decimal(got["probability"]) == want["probability"]
                and got["last_appeared_date"] == want["last_appeared_date"]
                and got["days_since_last"] == want["days_since_last"])

    rows = dec(op["all"])
    if len(rows) != len(mart) or not all(
            r.get("number_value") in mart and row_ok(r, mart[r["number_value"]]) for r in rows):
        return False
    if dec(op["statistic"]) != [model.statistic()]:
        return False
    for k, body in op["lookups"].items():
        got = dec(body)
        want = [mart[k]] if k in mart else []
        if len(got) != len(want) or not all(row_ok(g, w) for g, w in zip(got, want)):
            return False
    return op["fact_rows"] == len(model.pairs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft", "pipeline"))):
        fail("run from the repository root: no build.sbt or src/main/scala/graft/pipeline here")
    cfg = WORKLOADS[args.workload]
    classpath = build(root)

    nproc = len(os.sched_getaffinity(0))
    cpus = min(nproc, 8)
    load_start = loadavg()
    t_setup = time.time()
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        drop, future = os.path.join(work, "drop"), os.path.join(work, "future")
        xsmb.write_days(drop, args.seed, FIRST_DAY, cfg["days"])
        future_first = FIRST_DAY + dt.timedelta(days=cfg["days"])
        xsmb.write_days(future, args.seed, future_first, cfg["future"])
        result_path = os.path.join(work, "result.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xmx1g", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={work}/tmp",
               *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
               "-cp", classpath, "perfbench.Main",
               args.workload, str(args.seconds), str(args.trace), str(cpus), work, drop, future,
               str(cfg["warmups"]), str(REQUESTS_PER_OP), str(args.seed), result_path]
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=RUN_TIMEOUT_S - (time.time() - t_setup))
        if p.returncode != 0 or not os.path.exists(result_path):
            sys.stderr.write(p.stdout[-4000:])
            fail(f"harness exited with {p.returncode}")
        with open(result_path) as f:
            res = json.load(f)

        # correctness, outside the timed region: every op's served state
        # against the model at that op's newest day
        model, fed = xsmb.Model(), FIRST_DAY
        attempted = failed = 0
        for op in res["ops"]:
            last = dt.date.fromisoformat(op["day"])
            while fed <= last:
                model.add(xsmb.day_rows(args.seed, fed))
                fed += dt.timedelta(days=1)
            attempted += 1 + op["requests"]
            failed += op["failed"] + (0 if op["confirmed"] and check_op(model, op) else 1)

        measured = [op for op in res["ops"] if op["measured"]]
        refresh = statistics.median(op["s"] for op in measured)
        lat = res["latencies_ms"]
        if args.trace:
            layers = {RENAMED.get(k, k): v for k, v in res["layers"].items()}
            layers["serving.requests"] = statistics.mean(op["requests"] for op in measured)
            layers["serving.failed"] = statistics.mean(op["failed"] for op in measured)
            metrics = {k: (layers.get(k, 0.0), unit_of(k)) for k in PER_LAYER}
            spans_src = result_path + ".spans.jsonl"
            if os.path.exists(spans_src):
                out = os.path.join(BENCH, "out")
                os.makedirs(out, exist_ok=True)
                shutil.copy(spans_src, os.path.join(
                    out, f"spans-{args.workload}-seed{args.seed}-pid{os.getpid()}.jsonl"))
        else:
            metrics = {
                "setup_s": (res["setup_end_epoch_s"] - t_setup, "s"),
                "refresh_p50_s": (refresh, "s"),
                "serve_p50_ms": (statistics.median(lat), "ms"),
                "serve_p95_ms": (statistics.quantiles(lat, n=100)[94], "ms"),
                "serve_rps": (len(lat) / res["batch_seconds"], "1/s"),
                "wh_bytes_per_input_byte": (res["wh_bytes"] / res["input_bytes"], "ratio"),
                "rss_peak_mb": (res["rss_peak_mb"], "MB"),
            }
        print(f"host nproc={nproc} cpus={cpus} clients={cpus} loadavg_start={load_start:.2f} "
              f"loadavg_end={loadavg():.2f} ops={len(res['ops'])} measured={len(measured)} "
              f"refresh_s={[round(op['s'], 3) for op in measured]}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    leaf = name.rsplit(".", 1)[1]
    if leaf == "s" or leaf.endswith("_s"):
        return "s"
    if leaf.endswith("bytes") or leaf == "bytes_written":
        return "bytes"
    if leaf in ("append_yield", "overhead_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
