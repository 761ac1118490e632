#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload sensor_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), generates the workload's tables from the seed
(perfbench/gen.py, a separate process), computes the DuckDB oracle results
once per workload and seed, runs the workload in a fresh JVM with one
Spark session at local[nproc], checks every written output against the
oracle, and prints a summary line and, last, the result as one JSON
object. `--trace 1` reports the per-layer metrics instead of the
end-to-end ones. Everything it writes goes under `.bench_build/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(build.BUILD, "work")
JVM_TIMEOUT_S = 150

# name -> (generator scales, tables written, measured steps/requests)
WORKLOADS = {
    "sensor_batch": {"scales": {"events_scale": 0.25}, "tables": ["events"]},
    "corpus_batch": {"scales": {"docs_scale": 0.25}, "tables": ["documents"]},
    "adhoc_mix": {"scales": {"events_scale": 0.1},
                  "tables": ["events", "customer", "nation", "region", "embeddings"]},
}

# per-layer metric names of each workload's steps (see README.md)
SENSOR_ML = ["regression", "classification", "cross_val"]
SENSOR_TS = ["holt", "ar"]
SENSOR_SCAN = ["etl.wide", "operators.lead_window"]
CORPUS = ["corpus_clean", "mix", "pack", "pack_greedy"]
REQUESTS = ["operators.groupby_max", "operators.pivot_fill", "operators.join_broadcast",
            "operators.orderby_topk", "operators.quantiles", "operators.asof_join",
            "operators.anomaly_zscore", "operators.cosine_topk", "operators.ann_ivf",
            "streaming.stream_dedup_agg"]
MB = 1 << 20


def mem_total_kb():
    try:
        with open("/proc/meminfo") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 0


def heap():
    """SPARK_DRIVER_MEM, else half of MemTotal in whole GB, within 2..8 g."""
    return os.environ.get("SPARK_DRIVER_MEM") or \
        f"{min(8, max(2, mem_total_kb() // 2097152))}g"


def git_commit():
    try:
        # never search above the checkout for a repository
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, env=env)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def digest(*parts):
    """A short hash of the given strings and bytes."""
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode() if isinstance(p, str) else p)
        h.update(b"\0")
    return h.hexdigest()[:16]


def file_bytes(path):
    with open(path, "rb") as f:
        return f.read()


def data_key(workload):
    """What the generated tables depend on besides the seed: gen.py and the
    workload's scales and tables."""
    spec = WORKLOADS[workload]
    return digest(file_bytes(os.path.join(HERE, "gen.py")),
                  json.dumps([spec["scales"], spec["tables"]], sort_keys=True))


def generate(workload, seed):
    """The workload's tables for `seed`, written once per data key."""
    spec = WORKLOADS[workload]
    data = os.path.join(WORK, "data", f"{workload}-{seed}-{data_key(workload)}")
    try:
        with open(os.path.join(data, "manifest.json")) as f:
            return data, json.load(f)
    except (OSError, ValueError):
        pass
    shutil.rmtree(data, ignore_errors=True)
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed), "--out", data,
           "--tables", ",".join(spec["tables"])]
    for k, v in spec["scales"].items():
        cmd += [f"--{k.replace('_', '-')}", str(v)]
    subprocess.run(cmd, check=True, timeout=120)
    with open(os.path.join(data, "manifest.json")) as f:
        return data, json.load(f)


def launch(mode_args, log_path):
    """Run the harness JVM to completion; returns the launch time (ms)."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", *build.ADD_OPENS, f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-cp", build.classpath(), "perfbench.Harness",
           *mode_args]
    t0 = time.time() * 1e3
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=WORK)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.exit(f"harness exited with {code}; log tail:\n{tail}")
    return t0


def run_harness(workload, data, seed, seconds, trace):
    """One fresh JVM running the workload; its result dict plus launch time."""
    run_dir = os.path.join(WORK, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    launch_ms = launch(["run", "--workload", workload, "--data", data,
                        "--out", os.path.join(run_dir, "out"), "--result", result,
                        "--seconds", str(seconds), "--seed", str(seed),
                        "--trace", "1" if trace else "0"],
                       os.path.join(run_dir, "harness.log"))
    with open(result) as f:
        r = json.load(f)
    r["launch_ms"] = launch_ms
    return r


def check_outputs(r, checker):
    """Check every call's output; returns the failures as (index, layer, reason)."""
    failed = []
    for c in r["warm"] + r["calls"]:
        reason = c["error"] or checker.check(c["gate"], c["out"])
        if reason:
            failed.append((c["index"], c["layer"], reason))
    shutil.rmtree(os.path.join(WORK, "run", r["workload"], "out"), ignore_errors=True)
    return failed


def measured(r):
    """(wall_s, span_s): wall_s, and the time qps and rows_per_s divide by.
    A batch flow: the span of its steps. adhoc_mix: wall_s is the mean wall
    of a round (all request types once) and the divisor the timed phase,
    since the phase itself lasts --seconds by construction."""
    calls = r["calls"]
    if r["workload"] == "adhoc_mix":
        return r["timed_s"] * r["round_size"] / len(calls), r["timed_s"]
    return span(calls), span(calls)


def span(calls):
    """Seconds from the first call's start to the last call's end."""
    return (calls[-1]["start_ms"] + calls[-1]["s"] * 1e3 - calls[0]["start_ms"]) / 1e3


def quantile(xs, q):
    """The q-quantile, interpolated between samples (never beyond them)."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(r, manifest):
    """The bounded end-to-end metrics, and the unbounded figures printed
    beside them. A request is one adhoc_mix call, or one pass of a batch
    flow."""
    calls = r["calls"]
    wall, timed = measured(r)
    if r["workload"] == "adhoc_mix":
        lat = [c["s"] * 1e3 for c in calls]
        tables = [t for c in calls for t in c["tables"]]
    else:
        lat = [wall * 1e3]
        tables = {t for c in calls for t in c["tables"]}
    rows = sum(manifest["tables"][t]["rows"] for t in tables)
    p90 = quantile(lat, 0.9)
    return {
        "setup_s": ((r["ready_ms"] - r["launch_ms"]) / 1e3, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / timed, "rows/s"),
        "qps": (len(lat) / timed, "requests/s"),
    }, {"latency_p50_ms": f"{statistics.median(lat):.6g} ms",
        "latency_p90_ms": f"{p90:.6g} ms", "peak_rss_mb": f'{r["peak_rss_mb"]:.6g} MB',
        "samples": len(lat), "beyond_p90": sum(1 for x in lat if x > p90)}


def per_layer(r, manifest, untraced_wall):
    calls = r["calls"]
    wall = measured(r)[0]
    by = {}
    for c in calls:
        by.setdefault(c["layer"], []).append(c)
    m = {}

    def eng(cs, key):
        return sum(c["engine"][key] for c in cs)

    def driver_s(cs):
        return sum(max(0.0, c["s"] - c["engine"]["job_busy_s"]) for c in cs)
    for name in SENSOR_ML:
        cs = by.get(f"ml.{name}", [])
        m[f"ml.{name}.s"] = (sum(c["s"] for c in cs), "s")
        m[f"ml.{name}.jobs"] = (eng(cs, "jobs"), "count")
        m[f"ml.{name}.tasks"] = (eng(cs, "tasks"), "count")
        m[f"ml.{name}.driver_s"] = (driver_s(cs), "s")
        m[f"ml.{name}.gc_s"] = (sum(c["gc_s"] for c in cs), "s")
    for name in SENSOR_TS:
        cs = by.get(f"timeseries.{name}", [])
        m[f"timeseries.{name}.s"] = (sum(c["s"] for c in cs), "s")
        m[f"timeseries.{name}.cpu_s"] = (eng(cs, "cpu_s"), "s")
        m[f"timeseries.{name}.gc_s"] = (sum(c["gc_s"] for c in cs), "s")
    for name in SENSOR_SCAN:
        cs = by.get(name, [])
        m[f"{name}.s"] = (sum(c["s"] for c in cs), "s")
        m[f"{name}.input_mb"] = (eng(cs, "input_bytes") / MB, "MB")
    scanned = sum(c["file_read_bytes"] for c in calls)
    on_disk = manifest["tables"].get("events", {}).get("bytes", 0)
    m["tables.read_amplification"] = (
        scanned / on_disk if r["workload"] == "sensor_batch" and on_disk else 0.0, "ratio")
    for name in CORPUS:
        cs = by.get(f"etl.{name}", [])
        m[f"etl.{name}.s"] = (sum(c["s"] for c in cs), "s")
        m[f"etl.{name}.jobs"] = (eng(cs, "jobs"), "count")
        m[f"etl.{name}.shuffle_write_mb"] = (eng(cs, "shuffle_write_bytes") / MB, "MB")
        m[f"etl.{name}.shuffle_fetch_wait_s"] = (eng(cs, "fetch_wait_s"), "s")
        m[f"etl.{name}.spill_mb"] = (eng(cs, "spill_bytes") / MB, "MB")
    m["memo.build_s"] = (sum(c["memo_s"] for c in calls), "s")
    for name in REQUESTS:
        cs = by.get(name, [])
        k = max(1, len(cs))
        m[f"{name}.p50_ms"] = (statistics.median([c["s"] * 1e3 for c in cs]) if cs else 0.0, "ms")
        m[f"{name}.jobs"] = (eng(cs, "jobs") / k, "count")
        m[f"{name}.tasks"] = (eng(cs, "tasks") / k, "count")
        m[f"{name}.driver_s"] = (driver_s(cs) / k, "s")
    st = r["streaming"]
    m["streaming.batches"] = (st["batches"], "count")
    m["streaming.rows"] = (st["rows"], "count")
    m["streaming.trigger_ms"] = (st["trigger_ms_p50"], "ms")
    m["streaming.state_commit_ms"] = (st["state_commit_ms_p50"], "ms")
    # engine-wide, over the measured calls
    m["spark.sched.jobs"] = (eng(calls, "jobs"), "count")
    m["spark.sched.tasks"] = (eng(calls, "tasks"), "count")
    m["spark.sched.failed_tasks"] = (eng(calls, "failed_tasks"), "count")
    m["spark.shuffle.write_mb"] = (eng(calls, "shuffle_write_bytes") / MB, "MB")
    m["spark.shuffle.read_mb"] = (eng(calls, "shuffle_read_bytes") / MB, "MB")
    m["spark.spill_mb"] = (eng(calls, "spill_bytes") / MB, "MB")
    m["jvm.gc_s"] = (sum(c["gc_s"] for c in calls), "s")
    m["jvm.peak_rss_mb"] = (r["peak_rss_mb"], "MB")
    m["trace.wall_s"] = (wall, "s")
    m["trace.residual_s"] = (span(calls) - sum(c["s"] for c in calls), "s")
    m["trace.overhead_s"] = (wall - untraced_wall, "s")
    return m


def history_path(workload):
    """Untraced wall_s values of this workload, kept per build and data key,
    so a traced run is only compared with untraced runs of the same code
    on the same inputs."""
    with open(build.STAMP) as f:
        stamp = f.read().strip()
    return os.path.join(WORK, "history", f"{workload}-{digest(stamp, data_key(workload))}.json")


def history_wall(workload):
    """The median wall_s of the untraced runs recorded for this build."""
    try:
        with open(history_path(workload)) as f:
            walls = json.load(f)
        return statistics.median(walls) if walls else None
    except (OSError, ValueError):
        return None


def record_history(workload, wall):
    hist = history_path(workload)
    os.makedirs(os.path.dirname(hist), exist_ok=True)
    try:
        with open(hist) as f:
            walls = json.load(f)
    except (OSError, ValueError):
        walls = []
    with open(hist, "w") as f:
        json.dump((walls + [wall])[-20:], f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.build()
    data, manifest = generate(a.workload, a.seed)
    with open(build.ORACLES) as f:
        dump = json.load(f)
    sql, gates = dump["sql"], dump["workloads"][a.workload]
    # keyed by the inputs, the oracle SQL and the oracle code
    oracle_dir = os.path.join(WORK, "oracle", "{}-{}".format(
        os.path.basename(data), digest(json.dumps(sql, sort_keys=True), json.dumps(gates),
                                       file_bytes(oracle.__file__))))
    oracle.compute(data, sql, gates, oracle_dir)

    checker = oracle.Checker(oracle_dir)
    failed, attempted, check_s = [], 0, []

    def run_checked(trace):
        nonlocal attempted
        r = run_harness(a.workload, data, a.seed, a.seconds, trace)
        t0 = time.time()
        failed.extend(check_outputs(r, checker))
        check_s.append(time.time() - t0)
        attempted += len(r["warm"]) + len(r["calls"])
        return r

    # trace.overhead_s compares with untraced runs of this checkout, or with
    # an untraced run of the same inputs when there are none yet
    base_wall = history_wall(a.workload) if a.trace else None
    if a.trace and base_wall is None:
        base_wall = measured(run_checked(False))[0]
    r = run_checked(bool(a.trace))

    e2e, extra = end_to_end(r, manifest)
    if not a.trace:
        record_history(a.workload, e2e["wall_s"][0])
    metrics = per_layer(r, manifest, base_wall) if a.trace else e2e
    if a.trace:
        with open(os.path.join(WORK, "run", a.workload, "layers.json"), "w") as f:
            json.dump({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, f,
                      indent=1)
    env = dict(r["env"], mem_total_mb=mem_total_kb() // 1024, heap=heap(), commit=git_commit(),
               workload=a.workload, seed=a.seed)
    summary = {k: f"{v:.6g} {u}" for k, (v, u) in e2e.items()}
    summary["error_rate"] = f"{len(failed) / attempted:.4g} share"
    summary.update(extra, check_s=f"{sum(check_s):.3g} s")
    print("env " + json.dumps(env, sort_keys=True))
    print("end_to_end " + json.dumps(summary))
    for idx, layer, reason in failed:
        print(f"FAILED call {idx} {layer}: {reason}")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
