#!/usr/bin/env python3
"""Run-to-run spread of every metric, per workload.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] [--trace 0|1]
        [--seconds N] [--out perfbench/steadiness.json]

Runs the benchmark once per seed and workload, then reports for each
metric the median and the spread, taken as the distance between the
first and the third quartile (statistics.quantiles(values, n=4)) over
the median. The load average and the CPU steal time of every run are
kept as diagnostics; they never normalise a metric. The record is
merged into --out under the key "trace0" or "trace1".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, None
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / abs(med)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", default=os.path.join(HERE, "steadiness.json"))
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    secs = a.seconds or bench["run_seconds"]
    record = {}
    for w in workloads:
        runs = []
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(secs),
                                "--trace", str(a.trace)], capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                runs.append({"seed": s, "exit": p.returncode})
                continue
            res, detail = json.loads(lines[-1]), json.loads(lines[-2])
            runs.append({"seed": s, "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"], "loadavg": detail["info"]["loadavg"],
                         "steal_pct": detail["info"].get("steal_pct"),
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']} "
                  f"load={detail['info']['loadavg']} steal={detail['info'].get('steal_pct', 0):.1f}%",
                  file=sys.stderr)
        ok = [r for r in runs if "metrics" in r]
        metrics = {}
        for m in (ok[0]["metrics"] if ok else {}):
            med, sp = spread([r["metrics"][m] for r in ok])
            metrics[m] = {"median": med, "spread": sp}
        record[w] = {"seconds": secs, "runs": runs, "metrics": metrics}
        for m, v in metrics.items():
            print(f"  {w:13s} {m:36s} median={v['median']:.6g} spread="
                  + ("n/a" if v["spread"] is None else f"{v['spread']:.3f}"))
    old = {}
    if os.path.exists(a.out):
        with open(a.out) as f:
            old = json.load(f)
    key = f"trace{a.trace}"
    old.setdefault(key, {}).update(record)
    with open(a.out, "w") as f:
        json.dump(old, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
