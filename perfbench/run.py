#!/usr/bin/env python3
"""condenserspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload subset_star --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program (`sbt
compile`) and the benchmark's JVM helpers into `.bench_build/`; later runs
reuse the build while the sources are unchanged. See perfbench/README.md.
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
import threading
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = len(os.sched_getaffinity(0))
# a fixed heap and young generation keep GC sizing, and so peak RSS, from
# drifting between runs
HEAP_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
SETUP_REPS = 3
JVM_LIMIT_S = 160  # a JVM still running after this is killed and its run fails

STAR_SCALE = 2.0
WIDE_LAYERS, WIDE_PER_LAYER, WIDE_DISCONNECTED = 3, 7, 3
KERNEL_KEYS = ["embedding_top_component", "keyphrases_rake_topk", "dup_ngram_coverage",
               "minhash_recall_eval", "er_blocking_eval", "jaccard_prefix_pairs",
               "containment_pairs", "basket_pairs_topk"]
SHORT_KEYS = ["q1_pricing_summary", "events_rank_lag", "text_pii_scrub", "doc_fingerprint",
              "cosine_topk_native", "simhash_signatures", "privacy_pseudonymize_customer",
              "vocab_heaps_curve", "multimodal_meta", "pivot_status_by_segment"]

ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ---------------------------------------------------------------

def _source_hash():
    h = hashlib.sha256()
    files = ["build.sbt"] + sorted(glob.glob("project/*.sbt") + glob.glob("project/*.properties"))
    files += sorted(glob.glob("src/main/**/*", recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "jvm", "**", "*.java"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fp:
                h.update(fp.read())
    return h.hexdigest()


def build():
    """The program's runtime classpath plus the benchmark's helper classes."""
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main")):
        raise SystemExit("perfbench: run from the repository root (build.sbt and src/main "
                         "not found)")
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    digest = _source_hash()
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isfile(cp_file):
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building the program with sbt")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], env=env, capture_output=True,
                       text=True, stdin=subprocess.DEVNULL, timeout=800)
    lines = [ln for ln in r.stdout.splitlines() if not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = lines[-1].strip()
    classes = os.path.join(WORK, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    sources = sorted(glob.glob(os.path.join(BENCH, "jvm", "**", "*.java"), recursive=True))
    r = subprocess.run(["javac", "-nowarn", "-cp", cp, "-d", classes, *sources],
                       capture_output=True, text=True, timeout=300)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit("perfbench: javac failed")
    cp = classes + os.pathsep + cp
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


# ---- host load -----------------------------------------------------------

def _host_busy():
    """(busy jiffies of the whole host, host CPUs) from /proc/stat."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    cpu = [int(x) for x in lines[0].split()[1:]]
    ncpu = sum(1 for ln in lines if ln.startswith("cpu") and ln[3:4].isdigit())
    return cpu[0] + cpu[1] + cpu[2] + cpu[5] + cpu[6] + cpu[7], ncpu


def _own_cpu_s():
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


class HostLoad:
    """Host load over a run: 1-minute loadavg and the share of host CPU used
    by processes other than this benchmark and the JVMs it waited for."""

    def __init__(self):
        self.t0, self.own0 = time.time(), _own_cpu_s()
        self.busy0, self.ncpu = _host_busy()

    def stamp(self):
        busy, _ = _host_busy()
        hz = os.sysconf("SC_CLK_TCK")
        span = max(1e-9, time.time() - self.t0)
        other = (busy - self.busy0) / hz - (_own_cpu_s() - self.own0)
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {"loadavg1": load1,
                "other_cpu_share": round(max(0.0, other) / (span * self.ncpu), 4),
                "host_cpus": self.ncpu, "spark_cpus": CPUS}


# ---- JVM launches ---------------------------------------------------------

def _spark_props(tmp, event_dir=None):
    props = {"spark.ui.enabled": "false", "spark.sql.session.timeZone": "UTC",
             "spark.sql.legacy.parquet.nanosAsLong": "true", "spark.local.dir": tmp}
    if event_dir:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        props.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.dir": "file://" + event_dir})
    return props


def launch(cp, main, args, props, stdout, cwd):
    """Start one JVM the way `scripts/runjava.sh` and `sbt run` do."""
    tmp = props["spark.local.dir"]
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *ADD_OPENS, *HEAP_FLAGS, f"-Djava.io.tmpdir={tmp}"]
           + [f"-D{k}={v}" for k, v in props.items()] + ["-cp", cp, main, *args])
    env = dict(os.environ, SPARK_MASTER=f"local[{CPUS}]", SPARK_GRAFT_CPUS=str(CPUS))
    with open(os.path.join(cwd, "jvm.err"), "a") as err:
        p = subprocess.Popen(cmd, stdout=stdout, stderr=err, env=env, cwd=cwd,
                             stdin=subprocess.DEVNULL)
    p.watchdog = threading.Timer(JVM_LIMIT_S, p.kill)
    p.watchdog.start()
    return p


def reap(p):
    """Wait for the JVM; returns (exit status, peak RSS in MB)."""
    _, status, usage = os.wait4(p.pid, 0)
    p.watchdog.cancel()
    p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, usage.ru_maxrss / 1024.0


def _dir_mb(d):
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(d, "**", "*.parquet"),
                                                    recursive=True)) / 2**20


# ---- subset workloads -------------------------------------------------------

def subset_setup(workload, seed, src):
    """Generate the catalog SETUP_REPS times; returns (config, keys, set-up times)."""
    times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if workload == "subset_star":
            gen.star(src, seed, STAR_SCALE)
            cfg, keys = gen.star_config(seed), dict(gen.STAR_KEYS)
        else:
            fks, keys = gen.wide(src, seed, WIDE_LAYERS, WIDE_PER_LAYER, WIDE_DISCONNECTED)
            cfg = gen.wide_config(seed, fks, WIDE_LAYERS, WIDE_PER_LAYER)
        times.append(time.perf_counter() - t0)
    return cfg, keys, times


def subset_op(cp, run_dir, cfg_path, src, out, event_dir=None):
    """One SubsetRunner command, launch to exit."""
    shutil.rmtree(out, ignore_errors=True)
    stats = os.path.join(run_dir, "listener.json")
    if os.path.exists(stats):
        os.remove(stats)
    props = _spark_props(os.path.join(run_dir, "tmp"), event_dir)
    props.update({"spark.extraListeners": "perfbench.CpuListener", "spark.perfbench.out": stats})
    stdout_path = os.path.join(run_dir, "subset.out")
    with open(stdout_path, "w") as so:
        launch_ms = time.time() * 1000
        t0 = time.perf_counter()
        p = launch(cp, "graft.engine.SubsetRunner", [cfg_path, src, out], props, so, run_dir)
        code, rss = reap(p)
        wall = time.perf_counter() - t0
        exit_ms = time.time() * 1000
    cpu = json.load(open(stats))["task_cpu_ns"] / 1e9 if os.path.exists(stats) else 0.0
    return {"code": code, "wall_s": wall, "task_cpu_s": cpu, "peak_rss_mb": rss,
            "output_mb": _dir_mb(out), "stdout": open(stdout_path).read(),
            "launch_ms": launch_ms, "exit_ms": exit_ms}


def check_subset(workload, cfg, keys, src, out, stdout):
    con = checks.connect()
    checks.bind(con, src, out, sorted(keys))
    closure_sql = checks.star_closure_sql(cfg) if workload == "subset_star" else None
    return con, checks.subset(con, cfg, keys, stdout, closure_sql)


def run_subset(workload, seed, seconds, traced, cp, run_dir):
    src, out = os.path.join(run_dir, "src"), os.path.join(run_dir, "out")
    cfg, keys, setup_times = subset_setup(workload, seed, src)
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f, indent=1)
    ops, failed, correct, con = [], 0, True, None
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        op = subset_op(cp, run_dir, cfg_path, src, out)
        if op["code"]:
            fails = [f"exit code {op['code']}"]
        else:
            con, fails = check_subset(workload, cfg, keys, src, out, op["stdout"])
        if fails:
            failed += 1
            log(f"subset run failed: {fails[:5]}")
        ops.append(op)
    # self-test: the closure check must catch a parent row deleted from a copy
    if con is None or not checks.planted_orphan(con, cfg, os.path.join(run_dir, "fault")):
        log("self-test: closure check passed an output with deleted parent rows")
        correct = False
    med = {k: statistics.median(o[k] for o in ops)
           for k in ("wall_s", "task_cpu_s", "peak_rss_mb", "output_mb")}
    if not traced:
        metrics = dict(med, setup_s=statistics.median(setup_times))
        return correct, len(ops), failed, metrics
    event_dir = os.path.join(run_dir, "events")
    op = subset_op(cp, run_dir, cfg_path, src, out, event_dir)
    if op["code"] or check_subset(workload, cfg, keys, src, out, op["stdout"])[1]:
        log("traced subset run failed")
        correct = False
    layers = eventlog.subset_layers(eventlog.Log(eventlog.load(event_dir)), op["launch_ms"], op["exit_ms"])
    layers["catalog.save_files"] = len(glob.glob(os.path.join(out, "*", "*.parquet")))
    layers["trace_overhead_ms"] = (op["wall_s"] - med["wall_s"]) * 1000
    layers["traced_wall_ms"] = op["wall_s"] * 1000
    return correct, len(ops), failed, layers


# ---- analytics workload -----------------------------------------------------

def analytics_setup(seed, data):
    times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        gen.analytics(data, seed)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def sweep(cp, run_dir, data, seconds, dump, event_dir=None):
    """One AnalyticsSweep JVM; returns (jvm seconds to ready, passes,
    failed keys, peak RSS MB, exit code)."""
    keys = KERNEL_KEYS + SHORT_KEYS
    pins = os.path.join(run_dir, "target")
    shutil.rmtree(pins, ignore_errors=True)  # pinned relations rebuild every run
    props = _spark_props(os.path.join(run_dir, "tmp"), event_dir)
    t0 = time.perf_counter()
    p = launch(cp, "perfbench.AnalyticsSweep",
               [data, str(CPUS), str(seconds), dump, ",".join(keys)], props,
               subprocess.PIPE, run_dir)
    ready, passes, failed = None, [], None
    for line in p.stdout:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        if ev.get("event") == "ready":
            ready = time.perf_counter() - t0
        elif ev.get("event") == "pass":
            passes.append(ev)
        elif ev.get("event") == "done":
            failed = ev["failed"]
    code, rss = reap(p)
    if failed is None:
        failed = {k: "sweep did not finish" for k in keys}
    return ready, passes, failed, rss, code


def run_analytics(seed, seconds, traced, cp, run_dir):
    data, dump = os.path.join(run_dir, "data"), os.path.join(run_dir, "results")
    gen_s = analytics_setup(seed, data)
    shutil.rmtree(dump, ignore_errors=True)
    ready, passes, failed, rss, code = sweep(cp, run_dir, data, seconds, dump)
    if code != 0 or ready is None or not passes:
        log(f"analytics sweep exited {code}; see {run_dir}/jvm.err")
        raise SystemExit(1)
    correct = True
    con = checks.connect()
    checks.bind_catalog(con, data)
    oracles = json.load(open(os.path.join(dump, "oracle_sql.json")))
    bad = dict(failed)
    for k, sql in oracles.items():
        msg = checks.analytics_key(con, sql, pd.read_parquet(os.path.join(dump, k)))
        if msg:
            bad[k] = msg
    for k, msg in bad.items():
        log(f"key {k} failed: {msg[:300]}")
    # self-test: the oracle match must catch one altered result row
    probe = next((k for k in KERNEL_KEYS if k in oracles), None)
    df = pd.read_parquet(os.path.join(dump, probe)) if probe else pd.DataFrame()
    if len(df) == 0 or checks.analytics_key(con, oracles[probe], checks.altered(df)) is None:
        log(f"self-test: oracle match passed an altered {probe} result")
        correct = False
    log("last pass, ms per key: " + json.dumps(
        {k: round(v["wall_ns"] / 1e6) for k, v in passes[-1]["keys"].items()}))
    n_keys = len(KERNEL_KEYS) + len(SHORT_KEYS)
    attempted, n_failed = len(passes) * n_keys, len(passes) * len(bad)
    wall = statistics.median(p["wall_ns"] for p in passes) / 1e9
    if not traced:
        return correct, attempted, n_failed, {
            "setup_s": gen_s + ready,
            "wall_s": wall,
            "task_cpu_s": statistics.median(p["task_cpu_ns"] for p in passes) / 1e9,
            "output_mb": _dir_mb(dump),
            "peak_rss_mb": rss}
    event_dir = os.path.join(run_dir, "events")
    _, tpasses, tfailed, _, tcode = sweep(cp, run_dir, data, 0, "-", event_dir)
    if tcode or tfailed or not tpasses:
        log("traced analytics sweep failed")
        correct = False
    layers = eventlog.analytics_layers(eventlog.Log(eventlog.load(event_dir)), tpasses[0],
                                    KERNEL_KEYS, SHORT_KEYS)
    layers["trace_overhead_ms"] = (tpasses[0]["wall_ns"] / 1e9 - wall) * 1000
    layers["traced_wall_ms"] = tpasses[0]["wall_ns"] / 1e6
    return correct, attempted, n_failed, layers


# ---- main ---------------------------------------------------------------

WORKLOADS = ("subset_star", "subset_wide", "analytics_sweep")


def declared(traced):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return spec["per_layer" if traced else "end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    run_dir = os.path.join(WORK, a.workload)
    os.makedirs(run_dir, exist_ok=True)
    open(os.path.join(run_dir, "jvm.err"), "w").close()  # JVM stderr of this run only
    host = HostLoad()
    if a.workload == "analytics_sweep":
        correct, attempted, failed, values = run_analytics(a.seed, a.seconds, a.trace, cp, run_dir)
    else:
        correct, attempted, failed, values = run_subset(a.workload, a.seed, a.seconds, a.trace,
                                                        cp, run_dir)
    metrics = {}
    for m in declared(a.trace):
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": round(float(v), 6), "unit": m["unit"]}
    print("host: " + json.dumps(host.stamp()))
    if a.trace:
        print("layers: " + json.dumps({k: values[k] for k in sorted(values)}))
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
