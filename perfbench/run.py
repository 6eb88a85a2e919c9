#!/usr/bin/env python3
"""The match system's end-to-end benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cli_wide --seed 1 --seconds 20 --trace 0

Workloads (load parameters and reasons in perfbench/workloads.json):
  cli_wide    MatchCli as a user runs it, one fresh java process per call
  serve_wide  open-loop serving through MatchServing.matchStreaming

The first run builds the graft classes and the benchmark JVM (perfbench/jvm)
with sbt; later runs reuse the build while the sources are unchanged. Inputs
come from the seed (perfbench/gen.py) and every output is checked against
the committed fixture. With --trace 0 the last line of standard output is a
JSON object with the end-to-end metrics; with --trace 1 it carries the
per-layer metrics of a traced run, and a per-layer table is printed first.
"""

import argparse
import csv
import hashlib
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

CONF = json.load(open(os.path.join(HERE, "workloads.json")))
BUILD_DIR = os.path.join(".bench_build", "benchmatch")
JVM_DIR = os.path.join("perfbench", "jvm")
REQUIRED = ["build.sbt", os.path.join("src", "main", "scala", "graft", "app", "MatchCli.scala"),
            os.path.join("fixtures", "match_synth_wide_sf01.csv.gz"),
            os.path.join(JVM_DIR, "build.sbt")]
SOURCES = ["build.sbt", os.path.join("project", "build.properties"), os.path.join("src", "main"),
           os.path.join(JVM_DIR, "build.sbt"), os.path.join(JVM_DIR, "project", "build.properties"),
           os.path.join(JVM_DIR, "src")]

# What spark-submit would add for Spark 4 on JDK 17 (as build.sbt does).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# Wall-clock budget of one run after the build; a child still running when
# it is spent is killed and the run fails.
RUN_BUDGET_S = 170
DEADLINE = [math.inf]
# Validity evidence: a run with more outside load than this, or a request
# generator later than this against its schedule, is reported as dirty.
DIRTY_EXT_CORES = 0.5
DIRTY_GEN_LAG_S = 0.25


def fail(msg):
    print(f"benchmatch: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ----

def fingerprint():
    h = hashlib.sha256()
    for top in SOURCES:
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            for name in sorted(files):
                st = os.stat(os.path.join(dirpath, name))
                h.update(f"{dirpath}/{name}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        if os.path.isfile(top):
            st = os.stat(top)
            h.update(f"{top}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the graft classes and the benchmark JVM; returns the classpath."""
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["fingerprint"] == fp:
            return built["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=JVM_DIR, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail("build failed:\n" + "\n".join((r.stdout + r.stderr).splitlines()[-30:]))
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, f)
    return lines[-1]


# ---- processes ----

class Child:
    """One finished JVM: wall seconds, CPU seconds, peak RSS, exit status."""

    def __init__(self, wall, cpu, rss_mb, status):
        self.wall, self.cpu, self.rss_mb, self.status = wall, cpu, rss_mb, status


def java(cp, main, args, work, log_name, env_extra=None):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{CONF['jvm_heap']}", f"-Djava.io.tmpdir={tmp}",
           *ADD_OPENS, "-Dspark.ui.enabled=false", "-cp", cp, main, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, **(env_extra or {}))
    with open(os.path.join(work, log_name), "w") as log:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work,
                             stdin=subprocess.DEVNULL)
        killer = threading.Timer(max(1.0, DEADLINE[0] - time.monotonic()), p.kill)
        killer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            killer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
        wall = time.perf_counter() - t0
    return Child(wall, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024.0, p.returncode)


def bench_jvm(cp, cfg, work, log_name):
    """Runs the benchmark JVM on `cfg`; returns (child, result)."""
    cfg = dict(cfg, result=os.path.join(work, log_name + ".json"))
    path = os.path.join(work, log_name + ".cfg.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    child = java(cp, "benchmatch.Main", [path], work, log_name + ".log")
    if child.status != 0 or not os.path.exists(cfg["result"]):
        tail = open(os.path.join(work, log_name + ".log")).read().splitlines()[-25:]
        fail(f"benchmark JVM ({cfg['mode']}) exited {child.status}:\n" + "\n".join(tail))
    with open(cfg["result"]) as f:
        return child, json.load(f)


# ---- box state ----

def proc_stat():
    """(busy ticks, total ticks, cpus) over the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    fields = [int(x) for x in lines[0].split()[1:]]
    idle = fields[3] + (fields[4] if len(fields) > 4 else 0)
    cpus = sum(1 for l in lines if l.startswith("cpu") and l[3:4].isdigit())
    return sum(fields) - idle, sum(fields), max(cpus, 1)


def own_cpu():
    s = resource.getrusage(resource.RUSAGE_SELF)
    c = resource.getrusage(resource.RUSAGE_CHILDREN)
    return s.ru_utime + s.ru_stime + c.ru_utime + c.ru_stime


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Box:
    """Outside load over a run: cores busy with other processes' work."""

    def __init__(self):
        self.stat, self.cpu, self.t0, self.load_start = proc_stat(), own_cpu(), time.time(), load1()

    def evidence(self):
        s1, wall = proc_stat(), time.time() - self.t0
        busy = (s1[0] - self.stat[0]) / max(1, s1[1] - self.stat[1]) * s1[2]
        ext = max(0.0, busy - (own_cpu() - self.cpu) / max(wall, 1e-9))
        return {"load1": max(self.load_start, load1()), "ext_cores": ext}


# ---- checks ----

class Checks:
    """Counts checked operations; every mismatch is kept for the report."""

    def __init__(self):
        self.attempted, self.failed, self.notes = 0, 0, []
        self.recall_hit, self.recall_base = 0, 0

    def record(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
        return ok

    def recall(self, got, want):
        self.recall_hit += sum((Counter(got) & Counter(want)).values())
        self.recall_base += len(want)


def read_csv_dir(path):
    """Data rows of every part file of a Spark CSV output (one header each)."""
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-") and name.endswith(".csv"):
            with open(os.path.join(path, name), newline="") as f:
                rows.extend(tuple(r) for r in list(csv.reader(f))[1:])
    return rows


def check_exact(checks, oracle, rows, usernames, what):
    """The output equals the oracle's top-4 rows for these usernames."""
    want = sorted(oracle.top4_for(usernames))
    got = sorted(rows or [])
    checks.recall(got, want)
    return checks.record(rows is not None and got == want,
                         f"{what}: {len(got)} rows, expected {len(want)}"
                         + ("" if rows is None or len(got) != len(want) else " (values differ)"))


# ---- statistics ----

def median(xs):
    return statistics.median(xs)


def pct(xs, p):
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


# ---- workloads ----

def run_cli(cp, oracle, args, work, wl):
    paths = gen.write_batch_inputs(oracle, args.seed, work)
    checks = Checks()
    cores = str(len(os.sched_getaffinity(0)))
    env = {"SPARK_MASTER": f"local[{cores}]"}

    def invoke(users, tag):
        out = os.path.join(work, f"out_{tag}")
        c = java(cp, "graft.app.MatchCli", [paths["roster"], users, out], work, f"{tag}.log", env)
        rows = read_csv_dir(out) if c.status == 0 and os.path.isdir(out) else None
        return c, rows

    if args.trace:
        c, rows = invoke(paths["users"], "untraced")
        check_exact(checks, oracle, rows, oracle.usernames, "untraced MatchCli")
        _, res = bench_jvm(cp, {"mode": "cli_trace", "cores": int(cores), "roster_csv": paths["roster"],
                             "users_csv": paths["users"], "work_dir": work}, work, "trace")
        check_exact(checks, oracle, read_csv_dir(res["cli_out"]), oracle.usernames, "traced MatchCli")
        layers = per_layer(res, overhead=res["cli_uptime_s"] - c.wall)
        return checks, layers

    setups = []
    for i in range(wl["setup_reps"]):
        c, rows = invoke(paths["users_empty"], f"setup{i}")
        checks.record(c.status == 0 and rows == [], f"header-only MatchCli {i}: status {c.status}")
        setups.append(c.wall)
    units = []
    t0 = time.perf_counter()
    while not units or time.perf_counter() - t0 < args.seconds:
        c, rows = invoke(paths["users"], f"unit{len(units)}")
        check_exact(checks, oracle, rows, oracle.usernames, f"MatchCli {len(units)} (status {c.status})")
        units.append(c)
    walls = [u.wall for u in units]
    # one unit per run at run_seconds 20: the latency metrics and
    # sustained_rps are then that one process's wall time restated
    print(f"cli_wide: {len(units)} MatchCli invocation(s) (wall_s n={len(units)}), "
          f"{len(setups)} header-only set-up invocations (setup_s n={len(setups)})")
    return checks, {
        "setup_s": median(setups),
        "wall_s": median(walls),
        "cpu_s": median([u.cpu for u in units]),
        "latency_p50_s": median(walls),
        "latency_p90_s": pct(walls, 90),
        "sustained_rps": 1.0 / median(walls),
        "peak_rss_mb": max(u.rss_mb for u in units),
    }


def batch_map(ckpt):
    """{request file name: batch id} from the stream's source log."""
    out = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def done_us(out, bid):
    return os.stat(os.path.join(out, f"batch_id={bid}", "_SUCCESS")).st_mtime_ns // 1000


def run_serve(cp, oracle, args, work, wl):
    paths = gen.write_batch_inputs(oracle, args.seed, work)
    staged = os.path.join(work, "staged")
    n_base = max(wl["min_requests"], round(wl["rate_rps"] * args.seconds))
    reqs = {}
    sets = {}
    for key, count in (("warmup", wl["warmup_requests"]), ("base", n_base),
                       ("drain", wl["drain_requests"]), ("drain_traced", wl["drain_requests"])):
        if key == "drain_traced" and not args.trace:
            continue
        sets[key] = gen.write_requests(oracle, args.seed, staged, count, wl["request_size"], key)
        reqs.update({r["name"]: r["usernames"] for r in sets[key]})
    at = gen.schedule(args.seed, n_base, wl["rate_rps"], wl["jitter"])
    ladder_users = os.path.join(work, "ladder_users.csv")
    gen.write_csv(ladder_users, ["username"], [[u] for u in sets["base"][0]["usernames"]])
    cfg = {"mode": "serve", "trace": bool(args.trace), "cores": len(os.sched_getaffinity(0)),
           "seconds": args.seconds, "setup_reps": wl["setup_reps"], "roster_csv": paths["roster"],
           "work_dir": work, "staged_dir": staged, "ladder_users_csv": ladder_users,
           "warmup": [r["name"] for r in sets["warmup"]],
           "schedule": [{"name": r["name"], "at_s": t} for r, t in zip(sets["base"], at)],
           "drain": [r["name"] for r in sets["drain"]],
           "drain_traced": [r["name"] for r in sets.get("drain_traced", [])]}
    _, res = bench_jvm(cp, cfg, work, "serve")

    checks = Checks()
    bids = batch_map(res["ckpt"])
    con = duckdb.connect()
    done = {}
    for name, users in reqs.items():
        if name.startswith("warmup"):
            continue
        bid = bids.get(name)
        rows = None
        if bid is not None and os.path.exists(os.path.join(res["out"], f"batch_id={bid}", "_SUCCESS")):
            rows = [tuple(r) for r in con.execute(
                "SELECT username, emp_id, emp_name, confidence_score, match_type FROM read_parquet("
                f"'{res['out']}/batch_id={bid}/*.parquet')").fetchall()]
        if check_exact(checks, oracle, rows, users, f"request {name}"):
            done[name] = done_us(res["out"], bid)
    # timed from when each request was due, so a generator stall counts; a
    # failed request (which also fails the run) is timed to the end of the
    # base phase, a lower bound of its latency
    base_end = max(c["end_us"] for c in res["calls"])
    lat = [(done.get(a["name"], base_end) - a["due_us"]) / 1e6 for a in res["arrivals"]]

    def drain_stats(d, names):
        ends = sorted(done[n] for n in names if n in done)
        gaps = [(b - a) / 1e6 for a, b in zip(ends, ends[1:])]
        span = (ends[-1] - d["arrival_us"]) / 1e6 if ends else math.inf
        return gaps, len(names) / span

    gaps, rps = drain_stats(res["drains"][0], cfg["drain"])
    if args.trace:
        gaps_t, _ = drain_stats(res["drains"][1], cfg["drain_traced"])
        return checks, per_layer(res, overhead=median(gaps_t) - median(gaps),
                                 serve={"calls": res["calls"], "arrivals": res["arrivals"],
                                        "batch_s_p50": median(gaps)})
    serving = [c for c in res["calls"] if c["served"]]
    served = [(c["end_us"] - c["start_us"]) / 1e6 for c in serving]
    print(f"serve_wide: open loop, {len(lat)} base requests at {wl['rate_rps']}/s "
          f"(latency n={len(lat)}); "
          f"{len(served)} serving calls (wall_s n={len(served)}); drain of {len(cfg['drain'])}, "
          f"median batch gap {median(gaps):.3f} s")
    return checks, {
        "setup_s": median(res["setup_s"]),
        "wall_s": median(served),
        "cpu_s": median([c["cpu_s"] for c in serving]),
        "latency_p50_s": median(lat),
        "latency_p90_s": pct(lat, 90),
        "sustained_rps": rps,
        "peak_rss_mb": res["peak_rss_mb"],
        "serve.gen_lag_p90_s": pct([(a["arrival_us"] - a["due_us"]) / 1e6 for a in res["arrivals"]], 90),
    }


# ---- per-layer metrics (traced runs) ----

LAYERS = ["app", "serve", "schema", "prepare", "candidates", "blocking", "kernel", "topk", "write"]
# A ladder span re-runs the lineage of the span it builds on (the first of
# these present in the run); its own share is the difference from that span.
LADDER_PREV = {"prepare": ["schema"], "candidates": ["prepare"], "blocking": ["prepare"],
               "kernel": ["candidates", "blocking"], "topk": ["kernel"], "write": ["topk"]}
SPAN_COUNTS = ["jobs", "stages", "tasks"]
SELF_SUMS = ["task_cpu_s", "shuffle_write_bytes", "spill_bytes"]


def per_layer(res, overhead, serve=None):
    """Per-layer metrics from the spans of a traced run.

    `jobs`, `stages` and `tasks` are the counts a layer's own span started.
    `self_s`, `task_cpu_s`, `shuffle_write_bytes` and `spill_bytes` are the
    layer's own share: a ladder span (schema ... write) re-runs the lineage
    of the span it builds on (LADDER_PREV), so its share is the difference
    from that span; `app` and `serve` have no child spans, so their share is
    the whole span.
    """
    spans = res["spans"]
    by = {}
    for s in spans:
        agg = by.setdefault(s["name"], {})
        for k, v in s.items():
            if k != "name":
                agg[k] = agg.get(k, 0) + v
    m = {}
    for layer in LAYERS:
        s = by.get(layer, {})
        for k in SPAN_COUNTS:
            m[f"{layer}.{k}"] = s.get(k, 0)
        own = {"self_s": s.get("wall_s", 0.0), **{k: s.get(k, 0) for k in SELF_SUMS}}
        prev = next((by[p] for p in LADDER_PREV.get(layer, ()) if p in by), None)
        if s and prev:
            own = {k: v - prev.get("wall_s" if k == "self_s" else k, 0) for k, v in own.items()}
        for k, v in own.items():
            m[f"{layer}.{k}"] = v
    ladder = res["ladder"]
    pairs = by.get("candidates", by.get("blocking", {})).get("sink_rows", 0)
    kernel = by.get("kernel", {})
    app = by.get("app", {})
    m.update({
        "app.scoring_passes": app.get("scoring_passes", 0),
        "kernel.calls": kernel.get("kernel_calls", 0),
        "kernel.calls_per_cpu_s": kernel.get("kernel_calls", 0) / max(m["kernel.task_cpu_s"], 1e-9),
        "prepare.distinct_names": ladder["distinct_names"],
        "candidates.pairs": pairs,
        "candidates.fraction": pairs / max(1, ladder["usernames"] * ladder["employees"]),
        "blocking.keys_exploded": by.get("blocking", {}).get("keys_exploded", 0),
        "blocking.hot_keys": by.get("blocking", {}).get("hot_keys", 0),
        "blocking.checkpoint_bytes": by.get("blocking", {}).get("checkpoint_bytes", 0),
        "topk.rows_in": by.get("topk", {}).get("topk_rows_in", 0),
        "topk.rows_out": by.get("topk", {}).get("topk_rows_out", 0),
        "write.rows": by.get("write", {}).get("write_rows", 0),
        "write.bytes": by.get("write", {}).get("write_bytes", 0),
        "trace.overhead_s": overhead,
        "env.peak_rss_mb": res["peak_rss_mb"],
    })
    if serve:
        calls = serve["calls"]
        batches = max(1, sum(c["served"] for c in calls))
        empty = [(c["end_us"] - c["start_us"]) / 1e6 for c in calls if c["served"] == 0]
        lags = [(a["arrival_us"] - a["due_us"]) / 1e6 for a in serve["arrivals"]]
        s = by.get("serve", {})
        m.update({
            "serve.batch_s_p50": serve["batch_s_p50"],
            "serve.jobs_per_batch": s.get("jobs", 0) / batches,
            "serve.broadcast_builds_per_batch": s.get("broadcasts", 0) / batches,
            "serve.broadcast_bytes_per_batch": s.get("broadcast_bytes", 0) / batches,
            "serve.call_overhead_s": median(empty) if empty else 0.0,
            "serve.backlog_max": max(c["backlog"] for c in calls) if calls else 0,
            "serve.gen_lag_p90_s": pct(lags, 90) if lags else 0.0,
        })
    else:
        m.update({k: 0 for k in ("serve.batch_s_p50", "serve.jobs_per_batch",
                                 "serve.broadcast_builds_per_batch", "serve.broadcast_bytes_per_batch",
                                 "serve.call_overhead_s", "serve.backlog_max", "serve.gen_lag_p90_s")})
    sites = {k[5:]: v for k, v in by.get("app", {}).items() if k.startswith("site:")}
    if sites:
        print("app jobs by call site: " + ", ".join(f"{k} x{int(v)}" for k, v in sorted(sites.items())))
    return m


# ---- reporting ----

def load_benchmark():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def metric_json(specs, values):
    return {s["name"]: {"value": float(values[s["name"]]), "unit": s["unit"]} for s in specs}


def print_table(title, specs, values):
    print(title)
    for s in specs:
        print(f"  {s['name']:<36} {float(values[s['name']]):>16.6g} {s['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONF["workloads"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED + ["BENCHMARK.json"] if not os.path.exists(p)]
    if missing:
        fail("run from the root of a checkout; missing " + ", ".join(missing))
    bench = load_benchmark()
    box = Box()
    cp = build()
    DEADLINE[0] = time.monotonic() + RUN_BUDGET_S
    oracle = gen.Oracle(os.path.join(BUILD_DIR, "cache"))
    runs = os.path.join(BUILD_DIR, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    work = os.path.abspath(os.path.join(runs, f"{args.workload}-{args.seed}"))
    os.makedirs(work)

    wl = CONF["workloads"][args.workload]
    runner = {"cli_wide": run_cli, "serve_wide": run_serve}[args.workload]
    checks, values = runner(cp, oracle, args, work, wl)
    env = box.evidence()
    recall = checks.recall_hit / max(1, checks.recall_base)
    print(f"{args.workload}: seed {args.seed}, attempted {checks.attempted}, failed {checks.failed}, "
          f"error_rate {checks.failed / max(1, checks.attempted):.4f}, "
          f"recall_at_4 {recall:.4f} ({checks.recall_hit}/{checks.recall_base}), "
          f"load1 {env['load1']:.2f}, ext_cores {env['ext_cores']:.2f}"
          + (f", peak_rss_mb {values['peak_rss_mb']:.0f}" if "peak_rss_mb" in values else ""))
    for note in checks.notes:
        print(f"  check failed: {note}")
    dirty = [f"ext_cores {env['ext_cores']:.2f} > {DIRTY_EXT_CORES}"] if env["ext_cores"] > DIRTY_EXT_CORES else []
    if values.get("serve.gen_lag_p90_s", 0) > DIRTY_GEN_LAG_S:
        dirty.append(f"generator lag p90 {values['serve.gen_lag_p90_s']:.3f} s > {DIRTY_GEN_LAG_S}")
    if dirty:
        print("  DIRTY run (outside load or generator lag): " + "; ".join(dirty))
    if args.trace:
        values.update({"env.load1": env["load1"], "env.ext_cores": env["ext_cores"]})
        specs = bench["per_layer"]
        print_table(f"per-layer ({args.workload}, traced; trace overhead "
                    f"{values['trace.overhead_s']:.3f} s)", specs, values)
    else:
        values["recall_at_4"] = recall
        specs = bench["end_to_end"]
        print_table(f"end-to-end ({args.workload})", specs, values)
    correct = checks.failed == 0 and checks.attempted > 0
    print(json.dumps({"correct": correct, "attempted": checks.attempted, "failed": checks.failed,
                      "metrics": metric_json(specs, values)}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
