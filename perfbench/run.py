#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark runner from source (cached by a
hash of the sources), generates the workload's inputs from the seed,
runs one JVM that sets up and drives a closed loop for the measured
seconds, checks the answers, and prints the metrics. The last line of
stdout is the result object; the line before it holds the details
(sample counts, tail percentiles, input properties, failed operations).
With --trace 0 the result holds the end-to-end metrics, with --trace 1
the per-layer metrics. Workloads and metrics are described in
perfbench/README.md.
"""
import argparse
import glob
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
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import gen      # noqa: E402
import layers   # noqa: E402
import oracle   # noqa: E402

WORKLOADS = ("lake_scan", "batch_mix", "serve_ingest")
# set-up repetitions per run (setup_s is their median); serve_ingest's
# index builds take 13-17 s, so it sets up twice
SETUP_REPS = {"lake_scan": 3, "batch_mix": 3, "serve_ingest": 2}
DEADLINE_S = 170          # whole run, build excluded
BUILD_TIMEOUT_S = 840
JVM_HEAP = "2g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("rows_per_s", "rows/s"),
              ("rss_peak_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(p)
            if "target" not in d.split(os.sep) for f in fs)
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build(cache):
    """Compile the program and the runner; returns (classpath, oracle SQL)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the program's sources (build.sbt, src/main) are not next to perfbench/")
    stamp = os.path.join(cache, f"build-{source_hash()}.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return json.load(f)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(cache, exist_ok=True)
    sql_file = os.path.join(cache, "oracles.json")
    java(cp, ["mode=oracles", "lanes=" + ",".join(layers.BATCH_LANES), f"out={sql_file}"],
         cache, timeout=120)
    with open(sql_file) as f:
        built = {"classpath": cp, "oracle_sql": json.load(f)}
    with open(stamp, "w") as f:
        json.dump(built, f)
    return built


def java(cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: peak RSS then does not depend on heap resizing
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           *ADD_OPENS, "-cp", cp, "perfbench.Runner", *args]
    with open(os.path.join(work, "jvm.log"), "a") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM did not finish within {timeout:.0f} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM exited with {rc}")


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def needed_bytes(data, scans):
    """Footer and column-chunk bytes of the columns each scan reads."""
    total = 0
    for table, cols in scans.items():
        for f in glob.glob(os.path.join(data, table, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            total += md.serialized_size + 8
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                total += sum(rg.column(c).total_compressed_size for c in range(rg.num_columns)
                             if rg.column(c).path_in_schema in cols)
    return total


def tail(values):
    """(percentile, value) at the highest percentile that still has at
    least ten samples beyond it; None under eleven samples."""
    n = len(values)
    if n < 11:
        return None
    p = 100.0 * (n - 10) / n
    return round(p, 1), sorted(values)[n - 11]


def timing(values):
    out = {"n": len(values)}
    if values:
        out["p50_s"] = statistics.median(values)
        t = tail(values)
        if t:
            out["tail_pct"], out["tail_s"] = t
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cache = os.path.join(ROOT, ".bench_build", "perfbench")
    built = build(cache)
    started = time.time()
    work = os.path.join(cache, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # the generator is part of set-up; the runner repeats the
        # program's set-up in the same way and both report medians
        gen_s, props = [], None
        for r in range(SETUP_REPS[a.workload]):
            shutil.rmtree(os.path.join(work, "gen"), ignore_errors=True)
            t = time.perf_counter()
            props = gen.generate(a.workload, a.seed, os.path.join(work, "gen"))
            gen_s.append(time.perf_counter() - t)
        g = os.path.join(work, "gen")
        out = os.path.join(work, "result.json")
        phases = {"gen_s": time.time() - started}
        cpu0 = cpu_times()
        java(built["classpath"], [
            "mode=run", f"workload={a.workload}", f"data={g}/data", f"work={g}",
            f"seconds={a.seconds}", f"trace={a.trace}",
            f"reps={SETUP_REPS[a.workload]}", "lanes=" + ",".join(layers.BATCH_LANES),
            f"out={out}"],
            work, timeout=DEADLINE_S - (time.time() - started))
        phases["jvm_s"] = time.time() - started - phases["gen_s"]
        cpu1 = cpu_times()
        # CPU time the hypervisor gave to other guests while the JVM ran: a
        # diagnostic of host noise, never a normaliser
        steal_pct = 100.0 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        with open(out) as f:
            res = json.load(f)
        lane_errors = {}
        if a.workload == "batch_mix":
            lane_errors = oracle.check_lanes(
                built["oracle_sql"], f"{g}/data", f"{g}/answers",
                {o["lane"] for o in res["ops"] + res.get("warmup", [])})
        phases["check_s"] = time.time() - started - phases["gen_s"] - phases["jvm_s"]
        res["info"]["steal_pct"] = steal_pct
        if "scan_columns" in res["info"]:
            res["info"]["scan_needed_bytes"] = needed_bytes(f"{g}/data", res["info"]["scan_columns"])
        report(a, res, props, gen_s, lane_errors, phases)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, res, props, gen_s, lane_errors, phases):
    info, ops = res["info"], res["ops"]
    for o in ops + res.get("warmup", []):
        if not o["error"] and o["lane"] in lane_errors:
            o["error"] = "oracle: " + lane_errors[o["lane"]]
    warm_failed = [o for o in res.get("warmup", []) if o["error"]]
    failed = [o for o in ops if o["error"]] + warm_failed
    extra_errors = [v for k, v in info.items() if k.endswith("_check") and v]
    attempted = len(ops) + len(warm_failed)
    dur = [(o["t1"] - o["t0"]) / 1000 for o in ops]
    op_time = sum(dur)
    setup_prog = statistics.median([r["total_s"] for r in res["setup_reps"]] or [0.0])
    setup = info["session_s"] + statistics.median(gen_s) + setup_prog

    by_kind = {}
    for o, d in zip(ops, dur):
        by_kind.setdefault(o["kind"], []).append(d)
    kinds = {k: timing(v) for k, v in by_kind.items()}
    serve = [d for o, d in zip(ops, dur) if o["kind"].startswith(("screen", "probe"))]
    workload_metrics = {}
    for key, vals in [("cold_scan", by_kind.get("cold_scan")),
                      ("warm_scan", by_kind.get("warm_scan")),
                      ("publish", by_kind.get("publish")),
                      ("ingest", by_kind.get("ingest")),
                      ("serve", serve or None)]:
        if vals:
            t = timing(vals)
            workload_metrics[f"{key}_p50_s"] = {"value": t["p50_s"], "unit": "s", "n": t["n"]}
            if "tail_s" in t:
                workload_metrics[f"{key}_tail_s"] = {
                    "value": t["tail_s"], "unit": "s", "n": t["n"], "percentile": t["tail_pct"]}
    e2e = {
        "setup_s": setup,
        "ops_per_s": len(ops) / op_time,
        "rows_per_s": sum(o["rows"] for o in ops) / op_time,
        "rss_peak_mb": info["rss_peak_mb"],
    }
    gated = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "error_rate": {"value": len(failed) / max(1, attempted), "unit": "ratio",
                       "n": attempted},
        "end_to_end": {k: dict(v, n=len(gen_s) if k == "setup_s" else len(ops))
                       for k, v in gated.items()},
        "workload_metrics": workload_metrics,
        "kinds": kinds,
        "setup": {"session_s": info["session_s"], "gen_s": gen_s,
                  "program_reps": res["setup_reps"]},
        "failed_ops": [{"kind": o["kind"], "lane": o["lane"], "error": o["error"]}
                       for o in failed][:20],
        "run_errors": extra_errors,
        "info": info,
        "phases_s": phases,
        "inputs": props,
    }
    if a.trace:
        metrics = layers.per_layer(res, ops)
        metrics["trace.ops_per_s"] = {"value": e2e["ops_per_s"], "unit": "1/s"}
    else:
        metrics = gated
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": not failed and not extra_errors, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
