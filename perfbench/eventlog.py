"""Per-layer attribution from a Spark event log.

Spark writes the log when a run is started with `spark.eventLog.enabled`; the
program itself is unchanged. Each job carries the call site of the action
that started it (the user stack, innermost frame first), and each task its
metrics, so jobs, task CPU and time can be billed to the program function
that started them. Jobs that adaptive execution submits from its own threads
take the call site of the SQL execution they belong to.
"""
import json
import os
import re

# innermost matching frame wins: a Materialize cut inside Subsetter bills
# to Materialize, a count inside Report bills to Report
FRAME = re.compile(r"graft\.engine\.(Materialize|Catalog|Report|Subsetter)\$?\."
                   r"(?:\$anonfun\$)?(\w+?)(?:\$\d+)*\(")


def load(log_dir):
    files = sorted(os.listdir(log_dir))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(os.path.join(log_dir, files[0])) as f:
        return [json.loads(line) for line in f]


def layer_of(details):
    for m in FRAME.finditer(details or ""):
        cls, method = m.groups()
        if cls == "Catalog":
            if method.startswith("save"):
                return "catalog.save"
            if method.startswith("loadDir"):
                return "catalog.load"
            continue
        return cls.lower()
    return "other"


class Log:
    """Jobs with their layer, interval and summed task metrics."""

    def __init__(self, events):
        self.app_start = self.app_end = None
        self.jobs = {}
        stage_job, sql_site, sql_root = {}, {}, {}
        for e in events:
            kind = e["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                root = str(e.get("rootExecutionId", e["executionId"]))
                sql_site[str(e["executionId"])] = sql_site.get(root) or e.get("details", "")
                sql_root[str(e["executionId"])] = sql_root.get(root, root)
            elif kind == "SparkListenerApplicationStart":
                self.app_start = e["Timestamp"]
            elif kind == "SparkListenerApplicationEnd":
                self.app_end = e["Timestamp"]
            elif kind == "SparkListenerJobStart":
                stages = e.get("Stage Infos", [])
                props = e.get("Properties") or {}
                details = sql_site.get(str(props.get("spark.sql.execution.id")))
                if details is None:
                    details = stages[0].get("Details", "") if stages else ""
                exec_id = sql_root.get(str(props.get("spark.sql.execution.id")))
                self.jobs[e["Job ID"]] = {
                    "start": e["Submission Time"], "end": None,
                    "action": f"sql{exec_id}" if exec_id is not None else f"job{e['Job ID']}",
                    "layer": layer_of(details),
                    "desc": props.get("spark.job.description") or "",
                    "cpu_ns": 0, "tasks": 0, "gc_ms": 0, "spill": 0, "shuffle_write": 0}
                for s in e.get("Stage IDs", []):
                    stage_job[s] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = self.jobs.get(stage_job.get(e["Stage ID"]))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job["cpu_ns"] += m.get("Executor CPU Time", 0) + \
                    m.get("Executor Deserialize CPU Time", 0)
                job["tasks"] += 1
                job["gc_ms"] += m.get("JVM GC Time", 0)
                job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                job["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)

    def select(self, pred=lambda j: True):
        return [j for _, j in sorted(self.jobs.items()) if j["end"] is not None and pred(j)]


def busy_ms(jobs):
    """Length of the union of the jobs' intervals."""
    total, cur_s, cur_e = 0, None, None
    for j in sorted(jobs, key=lambda j: j["start"]):
        if cur_e is None or j["start"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = j["start"], j["end"]
        else:
            cur_e = max(cur_e, j["end"])
    return total + ((cur_e - cur_s) if cur_e is not None else 0)


def billed_ms(jobs, since):
    """Each job's share of the timeline: from the end of the work before it
    (or `since`) to its own end. Driver time spent planning a job is billed
    to that job; a job nested inside another costs nothing extra."""
    out, edge = [], since
    for j in sorted(jobs, key=lambda j: j["start"]):
        out.append((j, max(0, j["end"] - edge)))
        edge = max(edge, j["end"])
    return out, edge


def spark_totals(jobs):
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / 2**20,
        "spill_mb": sum(j["spill"] for j in jobs) / 2**20,
        "task_gc_ms": sum(j["gc_ms"] for j in jobs),
    }


SUBSET_LAYERS = ["catalog.load", "subsetter", "materialize", "catalog.save", "report"]


def subset_layers(log, launch_ms, exit_ms):
    """Per-layer metrics of one traced SubsetRunner run."""
    jobs = log.select()
    billed, last_end = billed_ms(jobs, log.app_start)
    ms = {k: 0 for k in SUBSET_LAYERS + ["other"]}
    cpu = dict(ms)
    count = dict(ms)
    actions = {k: set() for k in ms}
    for j, t in billed:
        ms[j["layer"]] += t
        cpu[j["layer"]] += j["cpu_ns"] / 1e6
        count[j["layer"]] += 1
        actions[j["layer"]].add(j["action"])
    out = {
        "jvm_start_ms": log.app_start - launch_ms,
        "catalog.load_ms": ms["catalog.load"], "catalog.load_jobs": count["catalog.load"],
        "subsetter.ms": ms["subsetter"], "subsetter.jobs": count["subsetter"],
        "subsetter.task_cpu_ms": cpu["subsetter"],
        "materialize.cuts": len(actions["materialize"]), "materialize.cut_ms": ms["materialize"],
        "materialize.task_cpu_ms": cpu["materialize"],
        "catalog.save_ms": ms["catalog.save"], "catalog.save_jobs": count["catalog.save"],
        "catalog.save_task_cpu_ms": cpu["catalog.save"],
        "report.ms": ms["report"], "report.jobs": count["report"],
        "other.ms": ms["other"],
        "unattributed_ms": (exit_ms - last_end) if jobs else exit_ms - log.app_start,
        "idle_ms": (log.app_end - log.app_start) - busy_ms(jobs),
    }
    out.update(spark_totals(jobs))
    return out


def analytics_layers(log, pass_ev, kernel, short):
    """Per-layer metrics of one traced pass (jobs described `p1:<key>`)."""
    by_key = {}
    for j in log.select(lambda j: j["desc"].startswith("p1:")):
        by_key.setdefault(j["desc"][3:], []).append(j)
    out = {}
    for k in kernel:
        jobs = by_key.get(k, [])
        out[f"key.{k}.ms"] = pass_ev["keys"][k]["wall_ns"] / 1e6
        out[f"key.{k}.task_cpu_ms"] = sum(j["cpu_ns"] for j in jobs) / 1e6
        out[f"key.{k}.jobs"] = len(jobs)
    kernel_jobs = [j for k in kernel for j in by_key.get(k, [])]
    short_jobs = [j for k in short for j in by_key.get(k, [])]
    short_ms = sum(pass_ev["keys"][k]["wall_ns"] for k in short) / 1e6
    all_jobs = [j for js in by_key.values() for j in js]
    out.update({
        "queries.kernel.ms": sum(pass_ev["keys"][k]["wall_ns"] for k in kernel) / 1e6,
        "queries.kernel.task_cpu_ms": sum(j["cpu_ns"] for j in kernel_jobs) / 1e6,
        "queries.short.ms": short_ms,
        "queries.short.jobs": len(short_jobs),
        "queries.short.idle_ms": short_ms - busy_ms(short_jobs),
        "idle_ms": pass_ev["wall_ns"] / 1e6 - busy_ms(all_jobs),
    })
    out.update(spark_totals(all_jobs))
    return out
