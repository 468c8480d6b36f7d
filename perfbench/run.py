#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the harness from source with sbt (perfbench/build.sbt); later runs reuse
the build while no source file is newer than it. Each run starts one JVM
with a fresh single-process `local[nproc]` Spark session, set up from the
seed, drives the workload's queries in a closed loop with one client (a
cold pass, untimed settle passes for half of `--seconds`, then warm
passes for `--seconds`), checks every output outside the timed region,
and prints one JSON object as its last line.
With --trace 0 it reports the end-to-end metrics; with --trace 1 it
traces the layers and reports the per-layer metrics instead.

Workloads (see BENCHMARK.json and perfbench/layers.json):
  grid_reduce  few-group (doy) reductions over the seeded grid array
  grid_scan    a many-group (cell) reduction and full-size grouped scans
  catalog      SparkEntry rows on sf0.01, streaming replays among them
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("grid_reduce", "grid_scan", "catalog")
GRID_ROWS = 1 << 18
SETUP_REPS = 3
# a fixed heap and young generation: with G1 sizing them adaptively, the
# peak resident set of a short run depends on when the collector grew them
HEAP_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
RUN_LIMIT_S = 175          # a run must end within 180 s
BUILD_LIMIT_S = 700        # the first run may take 900 s
BUILD_STAMP = os.path.join(HERE, "target", "launch.txt")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")

# metric names and units, as BENCHMARK.json declares them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _declared = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _declared["end_to_end"]}
PER_LAYER = [(m["name"], m["unit"]) for m in _declared["per_layer"]]

_children = []


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    sys.exit(3)


def run_child(cmd, log_path, timeout, **kw):
    """Run `cmd` in its own process group, output to `log_path`; kill the
    whole group if it outlives `timeout`. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        _children.append(p)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            _children.remove(p)


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def sources_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build(deadline):
    """Build the library and the harness; return (classpath, jvm options)."""
    if not (os.path.exists(BUILD_STAMP) and os.path.getmtime(BUILD_STAMP) > sources_mtime()):
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(HERE, "target", "build.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"], log,
                         min(BUILD_LIMIT_S, deadline - time.time()), cwd=HERE, env=env)
        if code != 0 or not os.path.exists(BUILD_STAMP):
            fail(f"build failed (exit {code}):\n{tail(log)}")
    with open(BUILD_STAMP) as f:
        lines = [x.rstrip("\n") for x in f if x.strip()]
    return lines[0], lines[1:]


def machine():
    info = {"nproc": len(os.sched_getaffinity(0))}
    try:
        with open("/sys/devices/system/cpu/cpu0/cache/index3/size") as f:
            info["l3"] = f.read().strip()
    except OSError:
        info["l3"] = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                info["ram_mb"] = int(line.split()[1]) // 1024
    return info


def setup_data(workload, seed, out):
    """Make the run's inputs and, for the grid, the reference results,
    SETUP_REPS times; return (data path, median seconds, stats, references)."""
    data = os.path.join(out, "data")
    os.makedirs(data)
    if not workload.startswith("grid"):
        # the sf0.01 tables are fixed: the seed only orders the pass
        t0 = time.perf_counter()
        path = shutil.copytree(SF_DIR, os.path.join(data, "sf0.01"))
        stats = {"seed": seed, "tables": sorted(os.listdir(path)),
                 "bytes_on_disk": sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))}
        return path, time.perf_counter() - t0, stats, None
    path = os.path.join(data, "grid.parquet")
    times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        stats = gen.write(path, seed, GRID_ROWS)
        refs = check.references(path, check.WORKLOADS[workload])
        times.append(time.perf_counter() - t0)
    stats["bytes_on_disk"] = os.path.getsize(path)
    return path, statistics.median(times), stats, refs


def oracle_failures(data, out):
    """Compare the catalog results with their DuckDB oracle SQL through
    tools/check_oracle.py; return the names that failed."""
    report = os.path.join(out, "correctness.json")
    log = os.path.join(out, "oracle.log")
    code = run_child([sys.executable, ORACLE, data, os.path.join(out, "results")], log, 120,
                     cwd=out, env=dict(os.environ, CORRECTNESS_LOCAL=report))
    if code is None or not os.path.exists(report):
        fail(f"oracle check did not finish:\n{tail(log)}")
    with open(report) as f:
        queries = json.load(f)["queries"]
    return sorted(n for n, r in queries.items() if not r["pass"])


def tail_percentile(samples):
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    k = max(len(s) - 11, 0)
    return s[k], 100.0 * (k + 1) / len(s)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"), ORACLE, SF_DIR):
        if not os.path.exists(p):
            fail(f"{p} is missing: run from the root of a checkout of the repository")
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    classpath, jvm_opts = build(start + 880)
    run_start = time.time()
    marks = {"built": run_start - start}
    out = os.path.join(HERE, "target", "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    box = machine()
    data, data_setup_s, data_stats, refs = setup_data(a.workload, a.seed, out)
    marks["data"] = time.time() - start

    cmd = (["java"] + jvm_opts + HEAP_OPTS + [f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           "-cp", classpath, "perfbench.Harness", a.workload, data, out, str(a.seed),
           str(a.seconds), str(a.trace), str(box["nproc"])])
    jvm_log = os.path.join(out, "jvm.log")
    code = run_child(cmd, jvm_log, run_start + RUN_LIMIT_S - 25 - time.time(), cwd=out)
    marks["jvm"] = time.time() - start
    result_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"harness failed (exit {code}):\n{tail(jvm_log)}")
    with open(result_path) as f:
        r = json.load(f)

    failed_names = set(r["failed_queries"])
    for n, why in r["failed_queries"].items():
        print(f"FAILED {n}: {why}", file=sys.stderr)
    t0 = time.perf_counter()
    if refs is None:
        wrong = {n: ["differs from its DuckDB oracle"] for n in oracle_failures(data, out)}
    else:
        wrong = {}
        for n, (keys, want) in refs.items():
            if n not in failed_names:
                findings = check.compare(os.path.join(out, "results", n), keys, want)
                if findings:
                    wrong[n] = findings
    r["check_s"] = time.perf_counter() - t0
    marks["checked"] = time.time() - start
    for n, findings in wrong.items():
        print(f"CHECK {n}: {'; '.join(findings)}", file=sys.stderr)
    failed_names |= set(wrong)
    nq = len(r["queries"])
    attempted = r["attempted"]
    failed = attempted * len(failed_names) // nq

    samples = r["samples_ms"]
    if not samples:
        fail("no query of the workload completed")
    warm = statistics.median(r["warm_pass_s"])
    tail_ms, tail_pct = tail_percentile(samples)
    e2e = {
        "setup_s": data_setup_s + r["session_s"],
        "cold_pass_s": r["cold_pass_s"],
        "warm_pass_s": warm,
        "query_p50_ms": statistics.median(samples),
        "query_tail_ms": tail_ms,
        "rows_per_s": r["input_rows_per_pass"] / warm,
        "peak_rss_mb": r["peak_rss_mb"],
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "machine": box, "data": data_stats, "cores_used": r["cores_used"],
        "load_avg_start": r["load_avg_start"], "load_avg_end": r["load_avg_end"],
        "calib_before_ms": r["calib_before_ms"], "calib_after_ms": r["calib_after_ms"],
        "queries": nq, "warm_passes": len(r["warm_pass_s"]), "samples": len(samples),
        "tail_percentile": tail_pct, "failed_queries": sorted(failed_names),
        "fail_frac": failed / attempted, "end_to_end": e2e,
        "phases_s": {"data_setup_s": data_setup_s,
                     **{k: r.get(k) for k in ("session_s", "results_s", "check_s")}},
        "wall_s": time.time() - start, "marks_s": marks,
    }
    print(f"{a.workload} seed={a.seed} nproc={box['nproc']} cores={r['cores_used']} "
          f"load={r['load_avg_start']:.2f}->{r['load_avg_end']:.2f} "
          f"calib={r['calib_before_ms']:.1f}->{r['calib_after_ms']:.1f}ms "
          f"l3={box['l3']} ram={box.get('ram_mb')}MB data={json.dumps(data_stats)}")
    for k, v in e2e.items():
        extra = ""
        if k == "query_p50_ms":
            extra = f"  ({len(samples)} warm samples)"
        elif k == "query_tail_ms":
            extra = f"  (p{tail_pct:.1f}, {len(samples)} warm samples)"
        elif k == "warm_pass_s":
            extra = f"  (median of {len(r['warm_pass_s'])} warm passes)"
        print(f"  {k:14s} {v:14.4f} {END_TO_END[k]}{extra}")
    print(f"  {'fail_frac':14s} {failed / attempted:14.4f} ratio  ({failed}/{attempted})")

    if a.trace:
        with open(os.path.join(out, "trace.json")) as f:
            t = json.load(f)
        walls = r["warm_traced_pass_s"]
        layer = dict(t["warm"])
        layer["codegen.cold_compile_ms"] = t["cold"].get("codegen.compile_ms", 0.0)
        layer["codegen.cold_classes"] = t["cold"].get("codegen.classes", 0.0)
        layer["scheduler.core_util"] = (layer.get("scheduler.task_ms", 0.0)
                                        / (statistics.median(walls) * 1000 * r["cores_used"]))
        layer["trace.overhead_frac"] = statistics.median(walls) / warm - 1
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
        record["per_layer"] = {k: m["value"] for k, m in metrics.items()}
        for k, m in metrics.items():
            print(f"  {k:30s} {m['value']:16.3f} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    with open(os.path.join(out, "run.json"), "w") as f:
        json.dump(record, f, indent=1)
    # keep the records and logs of the run, not its bulk
    for d in ("data", "results", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    print(json.dumps({"correct": not failed_names, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
