"""Per-layer metrics of a traced run, computed from its spans.

The runner records, for every traced operation, an `op` span (the root)
with `plan` and `execute` spans (or the publish steps) inside it; the
Spark listener adds `job` spans tied to their operation through the job
group, `stage` spans with task aggregates, and `stream_batch` spans.
A span that carries no job group (the streaming query's own jobs and
batches) is attached to the operation whose interval contains it: one
client runs one operation at a time.

Every metric is printed for every workload; a layer the workload does
not exercise reads 0. The per-lane times exist only for batch_mix.
"""
import statistics

MB = 1 << 20

# the batch_mix rotation, in order; the runner receives it as an argument
BATCH_LANES = [
    "a14_tpch_q3", "a17_tpch_q5", "a29_tpch_q9", "a15_tpch_q18",
    "j12_range_banded", "j13_fuzzy_neighbors", "w3_running_sum", "w5_ntile",
    "t3_session", "t10_interarrival",
    "l2_minhash_lsh", "l54_simhash_neardup", "l55_allpairs_jaccard",
    "l44_line_dedup", "l29_decontaminate_bloom", "l57_pipeline",
    "l3_knn_cosine", "l13_ann_lsh"]


def _med(v):
    return statistics.median(v) if v else 0.0


def _mean(v):
    return sum(v) / len(v) if v else 0.0


def _union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(iv, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in iv if min(b, hi) > max(a, lo)]


def _dur(o):
    return (o["t1"] - o["t0"]) / 1000


def _attach(spans, ops):
    """Children per op id: own spans, jobs by group or time, stages by job."""
    by_id = {o["id"]: o for o in ops}
    kids = {o["id"]: {"sub": [], "job": [], "stage": [], "stream": []} for o in ops}

    def owner(t0, group=""):
        if group.startswith("op-") and int(group[3:]) in by_id:
            return int(group[3:])
        for o in ops:
            if o["t0"] <= t0 <= o["t1"]:
                return o["id"]
        return None

    job_op = {}
    for s in spans:
        if s["name"] == "job":
            oid = owner(s["t0"], s.get("group", ""))
            if oid is not None:
                job_op[s["job"]] = oid
                kids[oid]["job"].append(s)
        elif s["name"] == "stream_batch":
            # by its end: a trigger can start polling just before the
            # ingest drops its file, and still be the one that takes it
            oid = owner(s["t1"])
            if oid is not None:
                kids[oid]["stream"].append(s)
        elif s["name"] not in ("stage", "op") and s.get("op") in kids:
            kids[s["op"]]["sub"].append(s)
    for s in spans:
        if s["name"] == "stage" and s["job"] in job_op:
            kids[job_op[s["job"]]]["stage"].append(s)
    return kids


def per_layer(res, ops):
    spans, info = res["spans"], res["info"]
    kids = _attach(spans, ops)

    def kind(k):
        return [o for o in ops if o["kind"] == k]

    def per_op(f):
        return _mean([f(kids[o["id"]]) for o in ops])

    def stages(o):
        return kids[o["id"]]["stage"]

    def sub(o, name):
        return sum((s["t1"] - s["t0"]) / 1000 for s in kids[o["id"]]["sub"] if s["name"] == name)

    def skew(st):
        return st["task_max_ms"] / st["task_median_ms"] if st["task_median_ms"] > 0 else 1.0

    m = {}
    cold, warm = kind("cold_scan"), kind("warm_scan")
    m["pufs.bytes_pulled_mb"] = _mean([o["counters"]["pulled_bytes"] / MB for o in cold])
    m["pufs.fetches"] = _mean([o["counters"]["fetches"] for o in cold])
    m["pufs.vectored_ranges"] = _mean([o["counters"]["vectored_ranges"] for o in cold])
    m["pufs.fetch_us_p50"] = float(info.get("fetch_us_p50", 0))
    m["pufs.fetch_us_p99"] = float(info.get("fetch_us_p99", 0))
    # over the footer and column-chunk bytes of the columns the scan reads
    need = info.get("scan_needed_bytes", 0)
    m["pufs.read_amp"] = _mean([o["counters"]["pulled_bytes"] for o in cold]) / need if need else 0.0
    m["pufs.self_s"] = _med([_dur(o) for o in cold]) - _med([_dur(o) for o in warm]) \
        if cold and warm else 0.0
    m["pufs.warm_bytes_pulled"] = _mean([o["counters"]["pulled_bytes"] for o in warm])

    pubs = kind("publish")
    m["snapshot.publish_s"] = _med([sub(o, "publish") for o in pubs])
    m["snapshot.files_hashed"] = _mean([o["counters"].get("files_hashed", 0) for o in pubs])
    m["snapshot.blocks_uploaded"] = _mean([o["counters"].get("blocks_uploaded", 0) for o in pubs])
    m["snapshot.daemon_restart_s"] = _med([sub(o, "daemon_restart") for o in pubs])
    m["snapshot.relink_s"] = _med([sub(o, "relink") for o in pubs])

    all_stages = [s for o in ops for s in stages(o)]
    scan_stages = [s for s in all_stages if s["input_bytes"] > 0 or s["input_records"] > 0]
    m["scan.tasks"] = per_op(lambda k: sum(s["tasks"] for s in k["stage"]
                                           if s["input_bytes"] > 0 or s["input_records"] > 0))
    m["scan.input_mb"] = per_op(lambda k: sum(s["input_bytes"] for s in k["stage"]) / MB)
    m["scan.task_skew"] = _med([skew(s) for s in scan_stages if s["tasks"] > 1])

    m["exchange.shuffle_write_mb"] = per_op(
        lambda k: sum(s["shuffle_write_bytes"] for s in k["stage"]) / MB)
    m["exchange.shuffle_read_mb"] = per_op(
        lambda k: sum(s["shuffle_read_bytes"] for s in k["stage"]) / MB)
    m["exchange.fetch_wait_s"] = per_op(
        lambda k: sum(s["fetch_wait_ms"] for s in k["stage"]) / 1000)
    m["exchange.spill_mb"] = per_op(lambda k: sum(s["spill_bytes"] for s in k["stage"]) / MB)

    m["compute.run_s"] = per_op(lambda k: sum(s["run_ms"] for s in k["stage"]) / 1000)
    m["compute.cpu_s"] = per_op(lambda k: sum(s["cpu_ns"] for s in k["stage"]) / 1e9)
    m["compute.gc_s"] = per_op(lambda k: sum(s["gc_ms"] for s in k["stage"]) / 1000)
    m["compute.tasks"] = per_op(lambda k: sum(s["tasks"] for s in k["stage"]))
    m["compute.stage_skew"] = max([skew(s) for s in all_stages if s["tasks"] > 1], default=0.0)
    # batch_mix only: it is not among the workloads BENCHMARK.json lists
    if kind("lane"):
        for lane in BATCH_LANES:
            m[f"lane.{lane}.p50_s"] = _med([_dur(o) for o in kind("lane") if o["lane"] == lane])

    def driver_only(o):
        jobs = _clip([(j["t0"], j["t1"]) for j in kids[o["id"]]["job"]], o["t0"], o["t1"])
        return (o["t1"] - o["t0"] - _union(jobs)) / 1000

    m["driver.plan_s"] = _med([sub(o, "plan") for o in ops
                               if any(s["name"] == "plan" for s in kids[o["id"]]["sub"])])
    m["driver.only_s"] = _med([driver_only(o) for o in ops])
    m["driver.jobs"] = per_op(lambda k: len(k["job"]))
    m["driver.stages"] = per_op(lambda k: len(k["stage"]))

    for k in ("screen_exact", "probe_ann"):
        m[f"serve.{k}.p50_s"] = _med([_dur(o) for o in kind(k)])
    m["serve.probe_ann.recall"] = _mean([o["counters"]["recall"] for o in kind("probe_ann")])
    m["index.exact.files"] = float(info.get("index_exact_files", 0))
    m["index.jaccard.files"] = float(info.get("index_jaccard_files", 0))
    se = kind("screen_exact")
    xs = [o["counters"]["exact_mb"] for o in se]
    ys = [_dur(o) for o in se]
    vx = sum((x - _mean(xs)) ** 2 for x in xs)
    m["serve.screen_exact.slope"] = (sum((x - _mean(xs)) * (y - _mean(ys))
                                         for x, y in zip(xs, ys)) / vx) if vx else 0.0

    ing = kind("ingest")

    def stream(o, key):
        return sum(s[key] for s in kids[o["id"]]["stream"]) / 1000

    m["stream.trigger_s"] = _med([stream(o, "trigger_ms") for o in ing])
    m["stream.add_batch_s"] = _med([stream(o, "add_batch_ms") for o in ing])
    m["stream.offsets_s"] = _med([stream(o, "offsets_ms") for o in ing])
    m["stream.wait_s"] = _med([_dur(o) - stream(o, "trigger_ms") for o in ing])

    m["jvm.gc_s"] = float(info["jvm_gc_s"])
    m["jvm.heap_peak_mb"] = float(info["heap_peak_mb"])
    m["host.loadavg"] = float(info["loadavg"])
    m["host.steal_pct"] = float(info["steal_pct"])
    return {k: {"value": v, "unit": UNITS["lane" if k.startswith("lane.") else k]}
            for k, v in m.items()}


UNITS = {
    "pufs.bytes_pulled_mb": "MB", "pufs.fetches": "count", "pufs.vectored_ranges": "count",
    "pufs.fetch_us_p50": "us", "pufs.fetch_us_p99": "us", "pufs.read_amp": "ratio",
    "pufs.self_s": "s", "pufs.warm_bytes_pulled": "bytes",
    "snapshot.publish_s": "s", "snapshot.files_hashed": "count",
    "snapshot.blocks_uploaded": "count", "snapshot.daemon_restart_s": "s",
    "snapshot.relink_s": "s",
    "scan.tasks": "count", "scan.input_mb": "MB", "scan.task_skew": "ratio",
    "exchange.shuffle_write_mb": "MB", "exchange.shuffle_read_mb": "MB",
    "exchange.fetch_wait_s": "s", "exchange.spill_mb": "MB",
    "compute.run_s": "s", "compute.cpu_s": "s", "compute.gc_s": "s",
    "compute.tasks": "count", "compute.stage_skew": "ratio", "lane": "s",
    "driver.plan_s": "s", "driver.only_s": "s", "driver.jobs": "count",
    "driver.stages": "count",
    "serve.screen_exact.p50_s": "s",
    "serve.probe_ann.p50_s": "s", "serve.probe_ann.recall": "ratio",
    "index.exact.files": "count", "index.jaccard.files": "count",
    "serve.screen_exact.slope": "s/MB",
    "stream.trigger_s": "s", "stream.add_batch_s": "s", "stream.offsets_s": "s",
    "stream.wait_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "host.loadavg": "load",
    "host.steal_pct": "%",
}
