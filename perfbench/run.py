#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload query_mix|pubsub --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the JVM harness
from source (perfbench/build.py, into .bench_build/), runs the workload on
a local[nproc] session in one JVM, checks the outputs (perfbench/checks.py),
and prints a summary followed, as its last line, by one JSON object:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics; traced runs (--trace 1) report the per-layer split and
write the span tree. Every run's files go to a fresh directory under
.bench_build/results/. See perfbench/README.md for the workloads, metrics
and known hazards.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import glob
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import accounting  # noqa: E402
import build  # noqa: E402
import checks  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
RESULTS = os.path.join(ROOT, ".bench_build", "results")

# Every sixth of the 101 short registry rows (not *_stream, not in the two
# pass workloads, r18 driver median <= 1.0 s), ranked by that median from
# the fastest; plus the BASELINE.md floor sentinels.
SENTINELS = ["url_dedup", "char_entropy", "q_distinct", "sample_hash"]
QUERY_MIX = [
    "sample_hash", "q_distinct", "seek_by_time", "q6_forecast", "keyshared_hash_oracle",
    "q_cube", "failover_assign", "read_compacted", "crypto_roundtrip", "q_count_distinct",
    "shared_priority", "asof_forward", "cdc_apply", "window_sliding", "shard_pack",
    "dedup_seq", "q_median", "url_dedup", "char_entropy",
]

WORKLOADS = ("query_mix", "pubsub")

# end-to-end metrics every run reports (--trace 0), with their units
E2E = [("setup_s", "s"), ("op_geomean_s", "s"), ("ops_per_s", "1/s")]
# per-layer metrics every traced run reports (--trace 1): the layers both
# workloads exercise; the rest are in the summary and result.json
PER_LAYER = [
    ("entry.build_s", "s"), ("entry.materialize_s", "s"),
    ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("plan.executions", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.job_active_s", "s"), ("sched.no_job_s", "s"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.core_util", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("io.input_mb", "MB"),
    ("env.loadavg_start", "load"), ("env.loadavg_end", "load"),
]

# Launch settings. build.sbt sets the heap and the two perf settings only
# through sbt's javaOptions; they are passed here with the same defaults,
# so this run measures the same program as one launched from sbt.
JVM_OPTS = [
    f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
    "-Dspark.shuffle.sort.bypassMergeThreshold=1",
    "-Dspark.hadoop.fs.file.impl=org.apache.hadoop.fs.RawLocalFileSystem",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]

# the JVM may take this long beyond the measured window (set-up, replay)
SETUP_ALLOWANCE_S = 130


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_probe_ms():
    """Wall time of a fixed pure-Python loop. The host is shared and its
    speed drifts by tens of percent over minutes with no benchmark
    running; the probe before and after a run shows where it stood."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True)
        return out.stdout.strip() or None
    except OSError:
        return None


def run_jvm(classpath, run_dir, args, timeout_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # every scratch location inside the run directory; no hsperfdata file
    cmd = [build.java()] + JVM_OPTS + [
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", f"-Dderby.system.home={tmp}",
        "-cp", classpath, "perfbench.Main", "--out", run_dir] + args
    launch_ms = time.time() * 1000
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout_s)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"JVM did not finish within {timeout_s:.0f} s")
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "raw.json")):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"JVM exited with {rc}:\n{tail}")
    return launch_ms


def load(run_dir, name):
    path = os.path.join(run_dir, name)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def value(v):
    """A latency for the metrics line (failed ops are MISSED, which JSON
    cannot carry: report the largest finite float)."""
    return sys.float_info.max if v is None or math.isinf(v) else v


def query_mix(raw, run_dir, trace):
    ops = [o for o in raw["ops"] if o["kind"] == "query"]
    setup_ops = [o for o in raw["ops"] if o["kind"] == "setup"]
    check_t0 = time.monotonic()
    failures = checks.query_mix(ROOT, DATA, os.path.join(run_dir, "dump"), setup_ops,
                                raw["provenance"]["cores"])
    check_s = time.monotonic() - check_t0
    bad_rows = {f["op"] for f in failures}
    for o in ops:
        if o["op"] in bad_rows:
            o["ok"] = False
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        if o["op"] not in bad_rows and o.get("error"):
            failures.append({"op": o["id"], "reason": o["error"]})
    lat = accounting.op_latencies(ops)
    window_s = (raw["marks"]["measure_end"] - raw["marks"]["measure_start"]) / 1000.0
    p50, p90 = accounting.percentile(lat, 0.5), accounting.percentile(lat, 0.9)
    tail = accounting.highest_supported(lat)
    sentinel = accounting.percentile(
        accounting.op_latencies([o for o in ops if o["op"] in SENTINELS]), 0.5)
    named = {
        "queries_per_s": ((len(ops) - len(failed)) / window_s, "1/s"),
        "query_p50_s": (p50, "s"),
        "query_p90_s": (p90, "s"),
    }
    if tail:
        named[f"query_p{tail['q']}_s"] = (tail, "s")
    extra = {"floor.sentinel_p50_s": sentinel["value"], "check_s": check_s,
             "bound_misses": accounting.bound_misses(lat, [0.5, 1.0, 2.0]),
             "passes": max((o["pass"] for o in ops), default=-1) + 1}
    layer = None
    if trace is not None:
        layer = accounting.layers(trace, ops, (raw["marks"]["measure_start"],
                                               raw["marks"]["measure_end"]),
                                  raw["provenance"]["cores"], {"entry.materialize"})
    by_row = {}
    for o, x in zip(ops, lat):
        by_row.setdefault(o["op"], []).append(x)
    named["query_geomean_s"] = (accounting.geomean_of_medians(by_row), "s")
    generic = {"op_geomean_s": value(named["query_geomean_s"][0]),
               "ops_per_s": named["queries_per_s"][0]}
    return ops, failed, failures, named, generic, extra, layer


def pubsub(raw, run_dir, trace):
    appends = [o for o in raw["ops"] if o["kind"] in ("primer", "warmup", "append")]
    ops = [o for o in appends if o["kind"] == "append"]
    failures, bad = checks.pubsub(appends, raw["deliveries"], raw["produced_keys"])
    # the replay subscription must deliver the whole topic exactly once too
    replay_failures, replay_bad = checks.pubsub(appends, raw["replayed"], raw["produced_keys"])
    failures += [dict(f, op=f"replay {f['op']}") for f in replay_failures
                 if not f["reason"].startswith("append threw")]
    bad |= replay_bad
    if raw.get("stream_error"):
        failures.append({"op": "subscription", "reason": raw["stream_error"]})
    for o in ops:
        if o["batch"] in bad:
            o["ok"] = False
    first = {}
    for d in raw["deliveries"]:
        for seq in d["seq"]:
            b = seq // 1000000
            first[b] = min(first.get(b, math.inf), d["t"])
    timings = accounting.open_loop(ops, first)
    failed = [o for o in ops if not o["ok"]]
    marks = raw["marks"]
    start, end = marks["measure_start"], marks["measure_end"]
    pub = [t["publish_s"] for t in timings]
    dlv = [t["deliver_s"] for t in timings]
    replay_s = (marks["replay_end"] - marks["replay_start"]) / 1000.0
    replayed = len(appends) / replay_s
    published_rows = sum(o["rows"] for o in ops if o["ok"] and o["t1"] <= end)
    measured = {o["batch"] for o in ops}
    delivered_rows = sum(1 for d in raw["deliveries"] if d["t"] <= end
                         for s in d["seq"] if s // 1000000 in measured)
    files = glob.glob(os.path.join(run_dir, "work", "topics", "**", "*.parquet"),
                      recursive=True)
    named = {
        "publish_p50_s": (accounting.percentile(pub, 0.5), "s"),
        "publish_p90_s": (accounting.percentile(pub, 0.9), "s"),
        "deliver_p50_s": (accounting.percentile(dlv, 0.5), "s"),
        "deliver_p90_s": (accounting.percentile(dlv, 0.9), "s"),
        "replay_batches_per_s": (replayed, "1/s"),
    }
    for name, samples in (("publish", pub), ("deliver", dlv)):
        tail = accounting.highest_supported(samples)
        if tail:
            named[f"{name}_p{tail['q']}_s"] = (tail, "s")
    extra = {
        "pubsub.generator_late_s": max((t["late_s"] for t in timings), default=0.0),
        "pubsub.backlog_end_rows": published_rows - delivered_rows,
        "log.stage_s": accounting.phase_seconds(ops, {"log.stage"}) / max(len(ops), 1),
        "log.publish_s": accounting.phase_seconds(ops, {"log.publish"}) / max(len(ops), 1),
        "log.files_per_append": len(files) / max(len(appends), 1),
        "settings": raw["pubsub"],
    }
    layer = None
    if trace is not None:
        window = (start, max(end, marks["generator_done"]))
        layer = accounting.layers(trace, ops, window, raw["provenance"]["cores"],
                                  {"log.stage", "log.publish"})
        tags = {o["id"] for o in ops}
        extra["log.jobs_per_append"] = (sum(1 for j in trace["jobs"] if j.get("op") in tags)
                                        / max(len(ops), 1))
    # the producer's latency (one op, the append, so its median), and the
    # consumer's catch-up rate: delivery latency adds the wait for the
    # trigger grid, which made its median too unsteady across runs to gate on
    generic = {"op_geomean_s": value(accounting.geomean_of_medians({"append": pub})),
               "ops_per_s": replayed}
    return ops, failed, failures, named, generic, extra, layer


def overhead(workload, this):
    """Traced median against untraced median of every end-to-end metric,
    over the results of earlier runs of this workload in this checkout."""
    runs = {0: [], 1: [this]}
    for path in glob.glob(os.path.join(RESULTS, "*", "result.json")):
        with open(path) as fh:
            r = json.load(fh)
        if r["workload"] == workload and r["run_dir"] != this["run_dir"]:
            runs[r["trace"]].append(r)
    out = {}
    for name, _ in E2E:
        # results written by an older benchmark may lack a metric
        traced = [r["end_to_end"][name] for r in runs[1] if name in r["end_to_end"]]
        plain = [r["end_to_end"][name] for r in runs[0] if name in r["end_to_end"]]
        if traced and plain:
            out[name] = {"traced_median": statistics.median(traced),
                         "untraced_median": statistics.median(plain),
                         "ratio": statistics.median(traced) / statistics.median(plain),
                         "traced_runs": len(traced), "untraced_runs": len(plain)}
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(DATA):
        raise BenchError(f"fixture missing: {DATA}")
    classpath = build.ensure_built(ROOT)
    os.makedirs(RESULTS, exist_ok=True)
    run_id = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    run_dir = os.path.join(RESULTS, run_id)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))

    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", DATA, "--cores", str(cores)]
    if args.workload == "query_mix":
        order = list(QUERY_MIX)
        random.Random(args.seed).shuffle(order)
        jargs += ["--ops", ",".join(order)]
    probe_start = cpu_probe_ms()
    launch_ms = run_jvm(classpath, run_dir, jargs, args.seconds + SETUP_ALLOWANCE_S)
    probe_end = cpu_probe_ms()
    raw = load(run_dir, "raw.json")
    trace = load(run_dir, "trace.json") if args.trace else None

    handler = query_mix if args.workload == "query_mix" else pubsub
    ops, failed, failures, named, generic, extra, layer = handler(raw, run_dir, trace)

    setup_s = (raw["marks"]["ready"] - launch_ms) / 1000.0
    attempted = len(ops)
    end_to_end = dict(generic, setup_s=setup_s)
    named.update({"setup_s": (setup_s, "s"), "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
                  "failed_frac": (len(failed) / attempted if attempted else 1.0, "ratio")})
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "run_dir": os.path.relpath(run_dir, ROOT),
        "correct": not failures and not failed and attempted > 0,
        "attempted": attempted, "failed": len(failed), "failures": failures,
        "end_to_end": end_to_end,
        "named": {k: (v if isinstance(v, dict) else {"value": v}) | {"unit": u}
                  for k, (v, u) in named.items()},
        "extra": extra,
        "provenance": dict(raw["provenance"], git_commit=git_commit(),
                           loadavg_start=raw["loadavg_start"],
                           loadavg_end=raw["loadavg_end"],
                           cpu_probe_ms=[probe_start, probe_end],
                           setup_marks={k: (v - launch_ms) / 1000.0
                                        for k, v in raw["marks"].items()}),
    }
    if layer is not None:
        layer["env.loadavg_start"] = raw["loadavg_start"]
        layer["env.loadavg_end"] = raw["loadavg_end"]
        result["per_layer"] = layer
        result["tracing_overhead"] = overhead(args.workload, result)
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(accounting.span_tree(trace, raw["ops"]), fh)
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    for sub in ("tmp", "work", "dump", "warehouse"):
        path = os.path.join(run_dir, sub)
        shutil.rmtree(path, ignore_errors=True)

    report(result)
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in E2E}
    print(json.dumps({"correct": result["correct"], "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


def report(result):
    """Human-readable summary, printed before the metrics line."""
    print(f"[perfbench] {result['workload']} seed={result['seed']} trace={result['trace']} "
          f"results={result['run_dir']}")
    for name, m in sorted(result["named"].items()):
        n = f" n={m['n']}" + ("" if m["supported"] else " UNSUPPORTED") if "n" in m else ""
        print(f"[perfbench]   {name} = {m['value']} {m['unit']}{n}")
    for name, v in sorted(result["extra"].items()):
        print(f"[perfbench]   {name} = {v}")
    for name, v in sorted(result.get("per_layer", {}).items()):
        print(f"[perfbench]   layer {name} = {v}")
    for name, o in sorted(result.get("tracing_overhead", {}).items()):
        print(f"[perfbench]   overhead {name}: traced {o['traced_median']:.4g} vs untraced "
              f"{o['untraced_median']:.4g} (x{o['ratio']:.3f}, {o['traced_runs']}/"
              f"{o['untraced_runs']} runs)")
    for f in result["failures"]:
        print(f"[perfbench]   FAILED {f['op']}: {f['reason']}")
    p = result["provenance"]
    print(f"[perfbench]   provenance: cores={p['cores']} commit={p['git_commit']} "
          f"{p['jvm']} spark={p['spark']} bypassMergeThreshold={p['bypass_merge_threshold']} "
          f"fs.file.impl={p['fs_file_impl']} loadavg={p['loadavg_start']:.2f}->"
          f"{p['loadavg_end']:.2f} cpu_probe_ms={p['cpu_probe_ms'][0]:.0f}->"
          f"{p['cpu_probe_ms'][1]:.0f} fixture_drift={p['fixture_drift']}")


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except (BenchError, build.BuildError) as e:
        log(str(e))
        sys.exit(1)
