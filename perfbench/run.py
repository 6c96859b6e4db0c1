#!/usr/bin/env python3
"""graft's benchmark: three closed-loop workloads, timed end to end and per layer.

    python3 perfbench/run.py --workload mc_battery|gates|pipeline|all \
        --seed N --seconds S --trace 0|1 [--negative-control]

Run it from the root of a checkout. The first run builds the library and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while the
sources are unchanged. Each run starts one harness JVM (a fresh Spark session)
that sets up, times a cold pass and then warm passes for --seconds, and checks
every output outside the timed regions. With --trace 1 the warm passes
alternate untraced and traced (Spark listener and plan timing), and the
per-layer metrics are printed instead of the end-to-end ones. The metric
names and units come from BENCHMARK.json; layers.json names the end-to-end
metric each layer metric should move.

--negative-control corrupts one expected value, to show the checks can fail.

Everything the run writes stays under .bench_build/ in the checkout. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("mc_battery", "gates", "pipeline")
# input tables of each workload, under perfbench/data
DATA = {"mc_battery": "sf0.01", "gates": "sf0.01", "pipeline": "sf0.1"}
HEAP = "-Xmx4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def metric_lists():
    """(end-to-end, per-layer) metrics from BENCHMARK.json as (name, unit)
    pairs, the per-layer ones with the target layers.json gives each."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "layers.json")) as f:
            moves = json.load(f)
    except OSError as e:
        fail(f"{e.filename} is missing: run from the root of a full checkout")
    names = [m["name"] for m in bench["per_layer"]]
    if sorted(names) != sorted(moves):
        fail("layers.json and the per_layer list of BENCHMARK.json name different metrics: "
             f"{sorted(set(names) ^ set(moves))}")
    return ([(m["name"], m["unit"]) for m in bench["end_to_end"]],
            [(m["name"], m["unit"], moves[m["name"]]) for m in bench["per_layer"]])


# ---------------------------------------------------------------- build

def source_stamp():
    """Size and mtime of every file the build reads, hashed."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        path = os.path.join(ROOT, top)
        walk = [(path, [], [""])] if os.path.isfile(path) else os.walk(path)
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f) if f else d
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile library and harness once per source state; returns the launch spec."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt", "perfbench/data"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    launch = os.path.join(BUILD, "launch.json")
    stamp = source_stamp()
    if os.path.exists(launch):
        with open(launch) as f:
            spec = json.load(f)
        if spec.get("stamp") == stamp:
            return spec
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # also reaches the JVMs sbt's launcher script starts on its own
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            rc = subprocess.run([sbt, "--batch", "--no-server", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if rc != 0:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(os.path.join(HERE, "target", "launch.json")) as f:
        spec = json.load(f)
    spec["stamp"] = stamp
    with open(launch, "w") as f:
        json.dump(spec, f)
    return spec


# ---------------------------------------------------------------- harness

def run_jvm(spec, workload, seed, seconds, trace, cores):
    """One harness JVM. Returns (set-up seconds, result, peak RSS in MB)."""
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    cmd = [java, HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"] + \
        spec["java_options"] + ["-cp", os.pathsep.join(spec["classpath"]), "perfbench.Main",
                                "--workload", workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "1" if trace else "0",
                                "--data", os.path.join(HERE, "data", DATA[workload]),
                                "--work", work, "--cores", str(cores)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = open(os.path.join(BUILD, f"{workload}.jvm.log"), "a")
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                         stdin=subprocess.DEVNULL, text=True)
    setup_s, result = None, None
    timer = threading.Timer(JVM_TIMEOUT_S, p.kill)
    timer.start()
    try:
        for line in p.stdout:
            if not line.startswith("PERFBENCH "):
                continue
            msg = json.loads(line[len("PERFBENCH "):])
            if msg["event"] == "ready":
                setup_s = time.perf_counter() - t0
            elif msg["event"] == "result":
                result = msg
    except BaseException:
        p.kill()
        raise
    finally:
        _, status, usage = os.wait4(p.pid, 0)
        timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
        p.stdout.close()
        log.close()
    if p.returncode != 0 or setup_s is None or result is None:
        fail(f"harness JVM failed (exit {p.returncode}), see {log.name}")
    return setup_s, result, usage.ru_maxrss / 1024.0


# ---------------------------------------------------------------- metrics

# Summaries of sample lists. A workload whose ops all failed has no samples;
# it reports 0 and is judged incorrect by its checks.

def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p85(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=20, method="inclusive")[16]


def gmean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def wall(p):
    """A pass's wall time: the sum of its top-level spans."""
    return sum(o["s"] for o in p["ops"] if "s" in o and not o["parent"])


def warm_passes(result):
    """Untraced warm passes; a workload that times one pass (pipeline) has only its cold one."""
    return [p for p in result["passes"] if p["kind"] == "warm" and not p["traced"]] \
        or result["passes"][:1]


def end_to_end(result, setup_s):
    """The end-to-end metrics from the timed passes (untraced passes only)."""
    passes = result["passes"]
    cold = passes[0]
    warm = warm_passes(result)
    parents = {o.get("parent") for p in warm for o in p["ops"]}
    leaves = [o["s"] for p in warm for o in p["ops"] if "s" in o and o["op"] not in parents]
    return {
        "setup_s": setup_s,
        "cold_s": wall(cold),
        "warm_s": median(wall(p) for p in warm),
        "op_gmean_s": gmean(leaves),
        "ops.p50_s": median(leaves),
        "ops.p85_s": p85(leaves),
        "ops.n": len(leaves),
    }, len(warm), len(leaves)


def trace_overhead(result):
    """Tracing cost from the untraced and traced repeat passes of one JVM."""
    again = [p for p in result["passes"] if p["kind"] != "cold"]
    untraced = median(wall(p) for p in again if not p["traced"])
    traced = median(wall(p) for p in again if p["traced"])
    return {"trace.untraced_warm_s": untraced, "trace.traced_warm_s": traced,
            "trace.overhead_s": traced - untraced,
            "trace.overhead_frac": (traced - untraced) / untraced if untraced > 0 else 0.0}


def workload_lines(workload, result):
    """The workload's own end-to-end figures, each by its own name."""
    warm = warm_passes(result)
    ops = [o for p in warm for o in p["ops"] if "s" in o]
    if workload == "mc_battery":
        pts = result["points"]["battery"]
        yield "mc_text_pts_per_s", median(pts / o["s"] for o in ops if o["group"] == "text"), "points/s"
        yield "mc_parquet_pts_per_s", median(pts / o["s"] for o in ops if o["group"] == "parquet"), "points/s"
        yield "mc_demo_s", median(o["s"] for o in ops if o["group"] == "demo"), "s"
    elif workload == "gates":
        yield "gates_cold_s", sum(o["s"] for o in result["passes"][0]["ops"] if "s" in o), "s"
        yield "gates_warm_s", median(sum(o["s"] for o in p["ops"] if "s" in o) for p in warm), "s"
        per_gate = [o["s"] for o in ops]
        yield "gate_p50_s", median(per_gate), "s"
        yield "gate_p85_s", p85(per_gate), "s"
    else:
        yield "pipeline_s", median(o["s"] for o in ops if o["group"] == "pipeline"), "s"


# ---------------------------------------------------------------- checks

def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def judge(workload, result, negative_control):
    """Compares every check with its expectation. Returns (attempted, failed, failures)."""
    checks = result["checks"]
    cases = []  # (name, observed, predicate on observed)
    if workload == "mc_battery":
        for c in checks:
            if "lo" in c:
                cases.append([c["check"], c["observed"], ("range", c["lo"], c["hi"])])
            else:
                cases.append([c["check"], c["observed"], ("eq", c["expected"])])
    else:
        if workload == "gates":
            observed = {c["check"]: c.get("observed", c.get("error")) for c in checks}
        else:
            observed = {c["check"]: [strip_volatile(line) for line in c["observed"]] for c in checks}
        with open(expected_path(workload)) as f:
            expected = json.load(f)
        for name, obs in sorted(observed.items()):
            if workload == "gates":
                cases.append([name, obs, ("eq", expected.get(name))])
                continue
            # one case per stage line, and one for the line count
            want = expected["stages"]
            cases.append([f"{name}.stages", len(obs), ("eq", len(want))])
            for i, stage in enumerate(want):
                cases.append([f"{name}.{stage['stage']}", obs[i] if i < len(obs) else None, ("eq", stage)])
    if negative_control and cases:
        cases[0][2] = ("eq", "corrupted by --negative-control")
    failures = []
    for name, obs, rule in cases:
        ok = rule[1] <= obs <= rule[2] if rule[0] == "range" else obs == rule[1]
        if not ok:
            failures.append(f"{name}: observed {json.dumps(obs)[:200]}, expected {json.dumps(rule[1:])[:200]}")
    ops = [o for p in result["passes"] for o in p["ops"] if not o.get("parent")]
    op_errors = [o["error"] for o in ops if "error" in o]
    attempted = len(cases) + len(ops)
    return attempted, len(failures) + len(op_errors), failures + op_errors


def strip_volatile(line):
    """A pipeline stage line minus its output path and wall time."""
    rec = json.loads(line)
    rec.pop("out", None)
    rec.pop("wall_s", None)
    return rec


# ---------------------------------------------------------------- main

def host_record(cores, load_start, result):
    return {"nproc": cores, "loadavg_start": load_start, "loadavg_end": list(os.getloadavg()),
            "java": result.get("host", {}).get("java"), "spark": result.get("host", {}).get("spark"),
            "xmx": HEAP[4:], "max_heap_mb": result.get("host", {}).get("max_heap_mb")}


def run_workload(spec, a, workload, cores, end_to_end_metrics, layers):
    load_start = list(os.getloadavg())
    setup_s, result, rss_mb = run_jvm(spec, workload, a.seed, a.seconds, a.trace, cores)
    attempted, failed, failures = judge(workload, result, a.negative_control)
    metrics, n_warm, n_ops = end_to_end(result, setup_s)
    host = host_record(cores, load_start, result)
    for f in failures:
        print(f"[{workload}] FAILED {f}")
    print(f"[{workload}] host {json.dumps(host)}")
    print(f"[{workload}] {n_warm} untraced warm passes, {n_ops} op samples")
    for name, unit in end_to_end_metrics:
        print(f"[{workload}] {name} = {metrics[name]:.6g} {unit}")
    for name, value, unit in workload_lines(workload, result):
        print(f"[{workload}] {name} = {value:.6g} {unit}")
    print(f"[{workload}] op latency over {n_ops} warm ops: p50 {metrics['ops.p50_s']:.6g} s, "
          f"p85 {metrics['ops.p85_s']:.6g} s")
    print(f"[{workload}] peak_rss_mb = {rss_mb:.1f} MB")
    print(f"[{workload}] fail_frac = {failed / attempted:.6g} ratio ({failed}/{attempted})")
    if a.trace:
        own = dict(result.get("layers", {}))
        own.update({k: metrics[k] for k in ("ops.p50_s", "ops.p85_s", "ops.n")})
        own["jvm.peak_rss_mb"] = rss_mb
        own.update(trace_overhead(result))
        for name, unit, target in layers:
            if name in own:
                print(f"[{workload}] {name} = {own[name]:.6g} {unit}   (moves {target})")
        out = {name: {"value": own.get(name, 0.0), "unit": unit} for name, unit, _ in layers}
    else:
        out = {name: {"value": metrics[name], "unit": unit} for name, unit in end_to_end_metrics}
    summary = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{workload}-seed{a.seed}-trace{int(a.trace)}.json"), "w") as f:
        json.dump({"summary": summary, "host": host, "peak_rss_mb": rss_mb,
                   "result": result}, f)
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--negative-control", action="store_true")
    a = ap.parse_args()
    end_to_end_metrics, layers = metric_lists()
    spec = build()
    cores = len(os.sched_getaffinity(0))
    summaries = [run_workload(spec, a, w, cores, end_to_end_metrics, layers)
                 for w in (WORKLOADS if a.workload == "all" else (a.workload,))]
    for s in summaries:
        print(json.dumps(s))


if __name__ == "__main__":
    main()
