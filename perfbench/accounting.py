"""The benchmark's accounting: percentiles with their sample counts, failed
ops, open-loop latencies, and the per-layer split of a traced run.

Rules (tested in test_accounting.py):
- A percentile is reported with its sample count. It is supported only
  when at least MIN_BEYOND samples rank above it (p90 needs 100 samples,
  p50 needs 20); otherwise it is marked unsupported. Each latency is also
  reported at the highest percentile that is supported.
- A thrown op is failed. It counts as an infinitely slow sample, so it
  misses every latency bound and pulls every percentile up.
- Open-loop latency is timed from the op's due time, not from when the
  generator got round to it; the generator's lateness is recorded apart.
- The typical op latency is the geometric mean, over the distinct ops of
  a workload, of each op's median latency, so every op weighs the same
  whichever share of the window it happened to fill.
"""
import bisect
import math
import statistics

MIN_BEYOND = 10
MISSED = math.inf


def percentile(samples, q):
    """Linear-interpolated q-quantile (0 < q < 1) of `samples`, which may
    hold math.inf for failed ops. Returns value, sample count and whether
    enough samples lie beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return {"value": None, "n": 0, "supported": False}
    pos = q * (n - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    if xs[hi] == MISSED:
        value = MISSED
    else:
        value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    beyond = n - math.ceil(q * n)
    return {"value": value, "n": n, "supported": beyond >= MIN_BEYOND}


def highest_supported(samples):
    """The highest whole percentile that still has MIN_BEYOND samples
    above it, with its value, or None when even the median lacks them."""
    n = len(samples)
    q = math.floor(100 * (n - MIN_BEYOND) / n) if n else 0
    while q >= 50 and not percentile(samples, q / 100)["supported"]:
        q -= 1
    return dict(percentile(samples, q / 100), q=q) if q >= 50 else None


def geomean_of_medians(groups):
    """Geometric mean of the median of each list in `groups` (a dict of op
    name -> latencies, which may hold MISSED). An op whose median is
    MISSED makes the result MISSED."""
    meds = [statistics.median(v) for v in groups.values() if v]
    if not meds:
        return None
    if MISSED in meds:
        return MISSED
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def bound_misses(samples, bounds):
    """Share of samples above each latency bound; failed ops miss all."""
    n = len(samples)
    return {b: (sum(1 for x in samples if x > b) / n if n else None) for b in bounds}


def op_latencies(ops):
    """Wall seconds of each op; a failed op is MISSED."""
    return [(o["t1"] - o["t0"]) / 1000.0 if o["ok"] else MISSED for o in ops]


def open_loop(appends, first_delivery_ms):
    """Per-batch open-loop timings. `appends` are the generator's op
    records (due, created, t1 in epoch ms); `first_delivery_ms` maps a
    batch number to the time its rows first reached the consumer.
    publish latency = publish done - due; deliver latency = first
    delivery - creation; lateness = creation - due."""
    out = []
    for a in appends:
        b = a["batch"]
        delivered = first_delivery_ms.get(b)
        out.append({
            "batch": b,
            "late_s": (a["created"] - a["due"]) / 1000.0,
            "publish_s": (a["t1"] - a["due"]) / 1000.0 if a["ok"] else MISSED,
            "deliver_s": ((delivered - a["created"]) / 1000.0
                          if a["ok"] and delivered is not None else MISSED),
        })
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def phase_seconds(ops, names):
    return sum((p["t1"] - p["t0"]) / 1000.0
               for o in ops for p in o["phases"] if p["name"] in names)


STREAM_PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets"]


def layers(trace, ops, window, cores, materialize_phases):
    """Per-layer split of the measured window [t0, t1] (epoch ms) of a
    traced run, per measured op. `ops` are the workload's measured ops;
    jobs and triggers count when they start inside the window, planning
    records when they were stamped inside it."""
    t0, t1 = window
    n = max(len(ops), 1)
    wall_s = (t1 - t0) / 1000.0
    inside = lambda x: x.get("t0") is not None and t0 <= x["t0"] <= t1
    jobs = [j for j in trace["jobs"] if inside(j)]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in trace["stages"] if s["stage"] in stage_ids]
    # a planning record is stamped when its execution ended
    plans = [p for p in trace["plans"] if t0 <= p["t"] <= t1]
    triggers = [t for t in trace["triggers"] if inside(t)]

    def stage_sum(key):
        return sum(s["metrics"].get(key, 0) for s in stages)

    def plan_ms(phase):
        return sum(p["phases"].get(phase, 0) for p in plans) / n

    busy_s = union_length([(j["t0"], min(j.get("t1", t1), t1)) for j in jobs]) / 1000.0
    run_s = stage_sum("run_ms") / 1000.0
    mb = 1024.0 * 1024.0
    out = {
        "entry.build_s": phase_seconds(ops, {"entry.build"}) / n,
        "entry.materialize_s": phase_seconds(ops, materialize_phases) / n,
        "plan.analysis_ms": plan_ms("analysis"),
        "plan.optimization_ms": plan_ms("optimization"),
        "plan.planning_ms": plan_ms("planning"),
        "plan.executions": len(plans) / n,
        "sched.jobs": len(jobs) / n,
        "sched.stages": len(stages) / n,
        "sched.tasks": sum(s["tasks"] for s in stages) / n,
        "sched.job_active_s": busy_s / n,
        "sched.no_job_s": (wall_s - busy_s) / n,
        "exec.run_s": run_s / n,
        "exec.cpu_s": stage_sum("cpu_ns") / 1e9 / n,
        "exec.gc_s": stage_sum("gc_ms") / 1000.0 / n,
        "exec.core_util": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.spill_mb": stage_sum("spill_bytes") / mb / n,
        "shuffle.write_mb": stage_sum("shuffle_write_bytes") / mb / n,
        "shuffle.read_mb": stage_sum("shuffle_read_bytes") / mb / n,
        "shuffle.fetch_wait_s": stage_sum("fetch_wait_ms") / 1000.0 / n,
        "io.input_mb": stage_sum("input_bytes") / mb / n,
        "io.output_mb": stage_sum("output_bytes") / mb / n,
        "io.output_records": stage_sum("output_records") / n,
        "stream.triggers": len(triggers) / n,
    }
    durs = [t["duration_ms"] for t in triggers]
    trig = [d.get("triggerExecution", 0) for d in durs]
    out["stream.trigger_p50_ms"] = statistics.median(trig) if trig else 0.0
    for ph in STREAM_PHASES:
        vals = [d.get(ph, 0) for d in durs]
        out[f"stream.{ph}_ms"] = statistics.mean(vals) if vals else 0.0
    out["stream.state_rows"] = max((t["state_rows"] for t in triggers), default=0)
    commits = [t["state_commit_ms"] for t in triggers]
    out["stream.state_commit_ms"] = statistics.mean(commits) if commits else 0.0
    return out


def span_tree(trace, ops):
    """op -> phase -> job -> stage, plus the trigger records, as one nested
    structure for the spans file. Jobs attach to the op that tagged them
    and to the phase that was running when they started. A planning record
    carries no op tag; it attaches to the last op started before it was
    stamped, which is exact for a closed loop with one client."""
    stages = {}
    for s in trace["stages"]:
        stages.setdefault(s["stage"], []).append(s)
    starts = sorted((o["t0"], o["id"]) for o in ops)
    plans = {}
    for p in trace["plans"]:
        i = bisect.bisect_right(starts, (p["t"], "\uffff")) - 1
        plans.setdefault(starts[i][1] if i >= 0 else None, []).append(p)
    by_op = {}
    for j in trace["jobs"]:
        by_op.setdefault(j.get("op"), []).append(j)
    tree = []
    for o in ops:
        jobs = by_op.pop(o["id"], [])
        phases = []
        for p in o["phases"]:
            mine = [j for j in jobs if p["t0"] <= j["t0"] <= p["t1"]]
            phases.append(dict(p, jobs=[
                dict(j, stages=[x for s in j["stages"] for x in stages.get(s, [])])
                for j in mine]))
        tree.append(dict(o, phases=phases, plans=plans.pop(o["id"], [])))
    return {"ops": tree, "triggers": trace["triggers"],
            "untagged_jobs": [j for js in by_op.values() for j in js],
            "unattributed_plans": [p for ps in plans.values() for p in ps]}


def spread(values):
    """Interquartile range over the median (quartiles from
    statistics.quantiles with n=4)."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
