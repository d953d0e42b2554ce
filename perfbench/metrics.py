"""Metrics of one benchmark run: end-to-end figures from the harness's timed
operations, per-layer figures from its spans and Spark counters, and whether
the run was quiet. Pure functions over the harness's ``result.json`` except
where a docstring says it reads ``/proc``.
"""
import glob
import json
import math
import os
import statistics

CLK = os.sysconf("SC_CLK_TCK")

# End-to-end metrics, as in BENCHMARK.json: (name, unit).
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("op_p50_ms", "ms"),
              ("throughput_per_s", "1/s"), ("peak_rss_mb", "MB")]

# Per-layer metrics every workload reports, as in BENCHMARK.json.
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_ms", "ms"), ("spark.task_cpu_ms", "ms"), ("spark.gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.core_util", "ratio"),
    ("sources.input_bytes", "bytes"),
    ("queries.plan_ms", "ms"), ("queries.plan_jobs", "count"),
    ("queries.exec_ms", "ms"), ("queries.exec_jobs", "count"),
    ("operators.SessionShare.pinned_bytes", "bytes")]

LADDER = [50, 75, 90, 95, 99, 99.9]


def percentile(values, p):
    """The p-th percentile by linear interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest percentile of LADDER with at least ten of `n` samples
    beyond it; the median when no tail percentile qualifies."""
    best = 50
    for p in LADDER:
        if n * (1000 - round(p * 10)) >= 10 * 1000:  # in tenths of a percent
            best = p
    return best


def self_times(spans):
    """{span id: self ns}: each span's duration minus the part of its
    interval that its children's intervals cover (overlaps counted once,
    children clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, lo_run, hi_run = 0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi <= lo:
                continue
            if hi_run is None or lo > hi_run:
                if hi_run is not None:
                    covered += hi_run - lo_run
                lo_run, hi_run = lo, hi
            else:
                hi_run = max(hi_run, hi)
        if hi_run is not None:
            covered += hi_run - lo_run
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def proc_usage(pid):
    """(peak resident set in MB, CPU seconds) of a live process, from /proc."""
    peak = 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                peak = int(line.split()[1]) / 1024.0
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return peak, (int(fields[11]) + int(fields[12])) / CLK


def _cpu_jiffies():
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), sum(v) - v[3] - v[4]  # total, busy (all but idle and iowait)


def _load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class Quiet:
    """Was the run quiet? The 1-minute load average at start and end, and
    the share of the machine's CPU time that processes other than this
    runner and its JVM used meanwhile (from /proc). Contended: that share
    above 10%, or a starting load above the core count."""

    def __init__(self):
        self.load_start = _load1()
        self.total0, self.busy0 = _cpu_jiffies()
        self.own0 = sum(os.times()[:2])

    def finish(self, jvm_cpu_s):
        total1, busy1 = _cpu_jiffies()
        own = sum(os.times()[:2]) - self.own0 + jvm_cpu_s
        elapsed_cpu = (total1 - self.total0) / CLK
        other = max(0.0, (busy1 - self.busy0) / CLK - own)
        share = other / elapsed_cpu if elapsed_cpu > 0 else 0.0
        return {"load": [self.load_start, _load1()], "other_cpu_share": round(share, 4),
                "contended": share > 0.10 or self.load_start > len(os.sched_getaffinity(0))}


def _ms(o):
    return o["call_ms"] + o["exec_ms"]


def report(workload, res, checks, rows_only, peak_mb, quiet, cpus, wall_s, info):
    """End-to-end metrics, and the workload's named metrics, of one run.

    `checks` maps each checked face to None or its mismatch; `info`
    describes the inputs (per feed and round: the changes, their payload
    bytes, and the live payload bytes once the round is applied)."""
    ops = res["ops"]
    failures = [f"{o['kind']} {o['name']} ({o['pass']}): {o['error']}" for o in ops if o["error"]]
    failures += [err for _, err in sorted(checks.items()) if err]
    attempted = len(ops)
    named = {"setup_s": (statistics.median(res["setup_s"]), "s"),
             "fail_ratio": (len(failures) / attempted, "failed/attempted"),
             "peak_rss_mb": (peak_mb, "MB")}
    if workload == "faces":
        cold = [_ms(o) for o in ops if o["pass"] == "cold"]
        warm = [_ms(o) for o in ops if o["pass"] != "cold"]
        cold_s, op_lat = sum(cold) / 1e3, warm
        throughput = len(warm) / (sum(warm) / 1e3)
        named["faces_cold_s"] = (cold_s, "s")
        named["face_warm_p50_ms"] = (percentile(warm, 50), "ms")
        named["warm_faces_per_s"] = (throughput, "1/s")
    else:
        builds = [o["call_ms"] for o in ops if o["kind"] == "build"]
        applies = [o for o in ops if o["kind"] == "apply"]
        probes = [o for o in ops if o["kind"] == "probe"]
        apply_ms = [o["call_ms"] for o in applies]
        changes = sum(info["feeds"][o["feed"]][o["round"]]["changes"] for o in applies)
        op_lat = [a["call_ms"] + _ms(p) for a, p in zip(applies, probes)]
        cold_s = (sum(builds) + sum(v for v, a in zip(op_lat, applies) if a["round"] == 0)) / 1e3
        named["maintain_cold_s"] = (cold_s, "s")
        # the median family's ingest rate: the pooled rate below is set by
        # the LSH fold alone, whose time varied 6.5-11 s between runs
        rates = {}
        for o in applies:
            c, t = rates.get(o["name"], (0, 0.0))
            rates[o["name"]] = (c + info["feeds"][o["feed"]][o["round"]]["changes"],
                                t + o["call_ms"])
        throughput = statistics.median(c / (t / 1e3) for c, t in rates.values())
        named["apply_p50_ms"] = (percentile(apply_ms, 50), "ms")
        named["probe_p50_ms"] = (percentile([_ms(p) for p in probes], 50), "ms")
        named["fold_s"] = (sum(o["call_ms"] for o in applies if o["fold"]) / 1e3, "s")
        named["ingest_changes_per_s"] = (changes / (sum(apply_ms) / 1e3), "changes/s")
    tail = tail_percentile(len(op_lat))
    if tail > 50:
        named[f"op_p{tail:g}_ms"] = (percentile(op_lat, tail), "ms")
    e2e = {"setup_s": named["setup_s"][0], "cold_s": cold_s,
           "op_p50_ms": percentile(op_lat, 50), "throughput_per_s": throughput,
           "peak_rss_mb": peak_mb}
    return {"workload": workload, "attempted": attempted, "failed": len(failures),
            "failures": failures, "rows_only_checks": rows_only,
            "op_samples": len(op_lat), "op_tail_percentile": tail,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "json": {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END},
            "quiet": quiet, "cpus": cpus, "heap_max_mb": res["heap_max_mb"],
            "setup_runs_s": res["setup_s"], "wall_s": wall_s, "notes": res["notes"],
            "info": info, "mean_op_ms": statistics.mean(_ms(o) for o in ops)}


def untraced_reference(work, workload, seed):
    """The untraced record of the same workload and seed, else the newest
    untraced record of the workload, else None."""
    same = os.path.join(work, "results", f"{workload}-{seed}-t0.json")
    recs = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(work, "results", f"{workload}-*-t0.json")),
        key=os.path.getmtime)[-1:]
    if not recs:
        return None
    with open(recs[0]) as fh:
        return json.load(fh)


def per_layer(workload, res, rep, reference):
    """Per-layer metrics of a traced run, from its spans and counters."""
    spans = res["spans"]
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def kind(s):
        return s["name"].split(":", 1)[0]

    def counts(s):
        return res["groups"].get(f"pb{s['id']}", {})

    def total(key, subset):
        return sum(counts(s).get(key, 0) for s in subset)

    def root(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s

    def dur_ms(s):
        return (s["end_ns"] - s["start_ns"]) / 1e6

    # the measured window: pass/round spans and what they call, without the
    # benchmark's own output checks
    timed = [s for s in spans if kind(root(s)) in ("pass", "round") and kind(s) != "bench.check"]
    wall_ms = sum(dur_ms(s) for s in spans if s["parent"] < 0 and kind(s) in ("pass", "round"))
    plan = [s for s in timed if kind(s) in ("queries.call", "streaming.IndexMaintenance.probe")]
    execs = [s for s in timed if kind(s) in ("queries.collect",
                                              "streaming.IndexMaintenance.collect")]
    task_ms = total("task_ms", timed)
    pins = [int(v) for k, v in res["notes"].items() if k.startswith("pinned_bytes:")]
    layer = {
        "spark.jobs": total("jobs", timed), "spark.stages": total("stages", timed),
        "spark.tasks": total("tasks", timed), "spark.task_ms": task_ms,
        "spark.task_cpu_ms": total("task_cpu_ns", timed) / 1e6,
        "spark.gc_ms": total("gc_ms", timed),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes", timed),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes", timed),
        "spark.spill_bytes": total("spill_bytes", timed),
        "spark.core_util": task_ms / (wall_ms * rep["cpus"]) if wall_ms else 0.0,
        "sources.input_bytes": total("input_bytes", timed),
        "queries.plan_ms": sum(selfs[s["id"]] for s in plan) / 1e6,
        "queries.plan_jobs": total("jobs", plan),
        "queries.exec_ms": sum(selfs[s["id"]] for s in execs) / 1e6,
        "queries.exec_jobs": total("jobs", execs),
        "operators.SessionShare.pinned_bytes": max(pins) if pins else 0}

    # every span kind, and every (kind, target): calls, total and self time,
    # Spark jobs and task time
    kinds, targets = {}, {}
    for s in spans:
        for table, key in ((kinds, kind(s)), (targets, s["name"])):
            k = table.setdefault(key, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0,
                                       "jobs": 0, "tasks": 0, "task_ms": 0})
            k["calls"] += 1
            k["total_ms"] += dur_ms(s)
            k["self_ms"] += selfs[s["id"]] / 1e6
            for f in ("jobs", "tasks", "task_ms"):
                k[f] += counts(s).get(f, 0)
    named = _named_layers(workload, res, rep["info"], spans, selfs, counts)
    if reference:
        named["trace.overhead_pct"] = (
            100.0 * (rep["mean_op_ms"] - reference["mean_op_ms"]) / reference["mean_op_ms"], "%")
    units = dict(PER_LAYER)
    every = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    every.update({k: {"value": v, "unit": u} for k, (v, u) in named.items()})
    return {"json": {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER},
            "all": every, "kinds": kinds, "targets": targets,
            "untraced_reference_mean_op_ms": reference and reference["mean_op_ms"],
            "traced_mean_op_ms": rep["mean_op_ms"]}


def _named_layers(workload, res, info, spans, selfs, counts):
    """The workload's named per-layer metrics."""
    def named(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    def med_ms(subset, own=False):
        return statistics.median(
            (selfs[s["id"]] if own else s["end_ns"] - s["start_ns"]) / 1e6 for s in subset)

    def jobs(subset):
        return sum(counts(s).get("jobs", 0) for s in subset)

    out = {}
    if workload == "faces":
        for s in named("queries.collect:"):
            face = s["name"].split(":", 1)[1]
            key = f"faces.{face}.exec_ms"
            out[key] = (out.get(key, (0.0, ""))[0] + selfs[s["id"]] / 1e6, "ms")
        return out
    out["operators.PersistedIndex.build_ms"] = (
        sum((s["end_ns"] - s["start_ns"]) / 1e6
            for s in named("operators.PersistedIndex.ensureBase:")), "ms")
    resolves = named("streaming.IndexMaintenance.resolve:")
    out["operators.PersistedIndex.resolve_ms"] = (med_ms(resolves), "ms")
    out["operators.PersistedIndex.resolve_jobs"] = (jobs(resolves), "count")
    applies = [o for o in res["ops"] if o["kind"] == "apply"]
    change_bytes = sum(info["feeds"][o["feed"]][o["round"]]["change_bytes"] for o in applies)
    out["operators.PersistedIndex.bytes_written_per_change_byte"] = (
        sum(o["bytes_written"] for o in applies) / change_bytes, "ratio")
    last = {}
    for o in applies:
        last[o["name"]] = max(last.get(o["name"], (o["feed"], -1)), (o["feed"], o["round"]))
    live = sum(info["feeds"][f][r]["live_bytes"] for f, r in last.values())
    stored = sum(int(v) for k, v in res["notes"].items()
                 if k.startswith(("root_bytes:", "base_bytes:")))
    out["operators.PersistedIndex.bytes_stored_per_live_byte"] = (stored / live, "ratio")
    ap = named("streaming.IndexMaintenance.applyBatch:")
    out["streaming.IndexMaintenance.apply_ms"] = (med_ms(ap), "ms")
    out["streaming.IndexMaintenance.apply_jobs"] = (jobs(ap), "count")
    folds = [o for o in applies if o["fold"]]
    out["streaming.IndexMaintenance.folds"] = (len(folds), "count")
    out["streaming.IndexMaintenance.fold_ms"] = (sum(o["call_ms"] for o in folds), "ms")
    pr = named("streaming.IndexMaintenance.probe:")
    co = named("streaming.IndexMaintenance.collect:")
    out["streaming.IndexMaintenance.probe_plan_ms"] = (med_ms(pr, own=True), "ms")
    out["streaming.IndexMaintenance.probe_exec_ms"] = (med_ms(co, own=True), "ms")
    out["streaming.IndexMaintenance.probe_jobs"] = (jobs(pr + co), "count")
    segs = [o["segments"] for o in res["ops"] if o["kind"] == "probe"]
    out["streaming.IndexMaintenance.segments_at_probe"] = (statistics.mean(segs), "count")
    return out


def print_lines(named):
    for k in sorted(named):
        v = named[k]
        print(f"  {k:<58} {v['value']:>16.6g} {v['unit']}")


def print_run(rep):
    """The run's named metrics, checks and quietness, for people."""
    q = rep["quiet"]
    print(f"perfbench {rep['workload']}: {rep['attempted']} operations, {rep['failed']} failed;"
          f" {rep['op_samples']} latency samples (tail p{rep['op_tail_percentile']:g});"
          f" {len(rep['rows_only_checks'])} faces with only a non-empty check"
          f" {rep['rows_only_checks']}")
    print(f"perfbench quiet: load {q['load'][0]:.2f} -> {q['load'][1]:.2f} on {rep['cpus']} cpus,"
          f" other processes {100 * q['other_cpu_share']:.1f}% of CPU, heap"
          f" {rep['heap_max_mb']} MB{' -- CONTENDED' if q['contended'] else ''}")
    for f in rep["failures"]:
        print(f"  FAILED {f}")
    print_lines(rep["named"])


def result_line(rep, metrics_json):
    return {"correct": rep["failed"] == 0, "attempted": rep["attempted"],
            "failed": rep["failed"], "metrics": metrics_json}
