"""Reduce a Spark event log to per-layer metrics.

The engine tags every job with its phase (``CrawlEngine._phase`` sets
``spark.job.description``); the benchmark tags the jobs it submits itself
(``perfbench:<what>``). ``layer_of`` maps each description to a layer of
the program, or to ``unattributed`` — an engine job submitted outside any
phase, or a tag this table does not know.

Within the workload's timed window the wall is split without overlap
(``attribute``): while stages run, each instant is shared equally by the
running stages; while only jobs run (between their stages), by the running
jobs; when nothing runs, the driver is idle. A stage that runs the fused
fetch+parse Python operator counts as ``crawl.fetch`` and one that runs the
image decoder as ``functions.images``, whichever job raced to compute it.
So the layer walls, ``crawl.engine.driver_idle_s`` and
``crawl.engine.unattributed_s`` add up to the window exactly.

Task times, Python-runner times and byte counts come from the task
metrics and the SQL operator metrics the log records.
"""

from __future__ import annotations

import glob
import os
import sys
from collections import defaultdict
from dataclasses import dataclass, field

import workloads

UNATTRIBUTED = "unattributed"

# layers that own jobs; table writes run inside the jobs of the layer that
# writes, so sources.tables has task metrics but no wall of its own
LAYERS = (
    "crawl.engine", "crawl.fetch", "crawl.refine", "crawl.frontier",
    "crawl.seenstore", "crawl.bloom", "functions.images", "plans",
)

# engine phase tag (or benchmark tag) -> layer
PHASE_LAYER = {
    # driver-side control: planning, the per-round summary collect, lineage
    # cuts, checkpoints, finalize bookkeeping, resume's reconciliation
    "seed_bootstrap": "crawl.engine",
    "fetch_plan": "crawl.engine",
    "fetch_summary": "crawl.engine",
    "links_plan": "crawl.engine",
    "updates_plan": "crawl.engine",
    "staged_plan": "crawl.engine",
    "staged_join": "crawl.engine",
    "new_rows_agg": "crawl.engine",
    "lineage_cut": "crawl.engine",
    "run_finalize": "crawl.engine",
    "finalize_metrics": "crawl.engine",
    "retry_reset": "crawl.engine",
    "refresh_reset": "crawl.engine",
    "warmup": "crawl.engine",
    "perfbench:resume": "crawl.engine",
    # parsed offers -> refine expressions -> staged append, curated views
    "staged_append": "crawl.refine",
    "finalize_curated": "crawl.refine",
    # frontier deltas: classify + insert exchange + anti-join, status
    # updates, the seed snapshot and run-end compaction
    "insert_append": "crawl.frontier",
    "update_append": "crawl.frontier",
    "seed_snapshot": "crawl.frontier",
    "finalize_compact": "crawl.frontier",
    # bucketed URL-seen store
    "seen_append": "crawl.seenstore",
    "seed_seen": "crawl.seenstore",
    "evict_store": "crawl.seenstore",
    # URL-seen prefilter (Bloom chain deltas, cuckoo bitmaps)
    "insert_deltas": "crawl.bloom",
    "bloom_build": "crawl.bloom",
    "evict_prefilter": "crawl.bloom",
}
# analytics passes tag their jobs perfbench:<pass>:<query name or decode>
ANALYTICS_PASSES = ("check", "query")

# Python operator (by its function name) -> layer, overriding the job's
UDF_LAYER = {
    "fused_batches": "crawl.fetch",
    "decode_meta_batches": "functions.images",
    "_maybe": "crawl.bloom",
    "_pack": "crawl.bloom",
}

COUNT = "count"
UNITS = {
    "crawl.engine.rounds": COUNT,
    "crawl.engine.jobs_per_round": COUNT,
    "crawl.engine.round_wall_s.p50": "s",
    "crawl.engine.round_wall_s.max": "s",
    "crawl.engine.seed_s": "s",
    "crawl.engine.resume_s": "s",
    "crawl.engine.finalize_s": "s",
    "crawl.engine.wall_s": "s",
    "crawl.engine.driver_idle_s": "s",
    "crawl.engine.unattributed_s": "s",
    "crawl.fetch.pages": COUNT,
    "crawl.fetch.task_s": "s",
    "crawl.fetch.python_init_s": "s",
    "crawl.fetch.arrow_bytes_in": "B",
    "crawl.fetch.arrow_bytes_out": "B",
    "crawl.fetch.wall_s": "s",
    "crawl.fetch.probe_pages_per_s": "1/s",
    "crawl.parse.probe_pages_per_s": "1/s",
    "crawl.refine.staged_task_s": "s",
    "crawl.refine.staged_rows": COUNT,
    "crawl.refine.wall_s": "s",
    "crawl.frontier.candidates": COUNT,
    "crawl.frontier.fresh": COUNT,
    "crawl.frontier.insert_task_s": "s",
    "crawl.frontier.shuffle_bytes": "B",
    "crawl.frontier.wall_s": "s",
    "crawl.frontier.probe_antijoin_s": "s",
    "crawl.seenstore.bytes_read": "B",
    "crawl.seenstore.files": COUNT,
    "crawl.seenstore.append_task_s": "s",
    "crawl.seenstore.wall_s": "s",
    "crawl.seenstore.probe_compact_s": "s",
    "crawl.bloom.task_s": "s",
    "crawl.bloom.wall_s": "s",
    "crawl.bloom.maybe_seen": COUNT,
    "crawl.bloom.fp_ratio": "ratio",
    "crawl.bloom.probe_ns_per_key": "ns",
    "crawl.cuckoo.fp_ratio": "ratio",
    "crawl.cuckoo.probe_ns_per_key": "ns",
    "sources.tables.appends": COUNT,
    "sources.tables.files_written": COUNT,
    "sources.tables.bytes_written": "B",
    "sources.tables.write_task_s": "s",
    "functions.images.task_s": "s",
    "functions.images.arrow_bytes_in": "B",
    "functions.images.wall_s": "s",
    "functions.images.probe_images_per_s": "1/s",
    "plans.shuffle_bytes": "B",
    "plans.wall_s": "s",
    **{f"plans.{q}_s": "s" for q in workloads.HEADLINE},
    "session.jobs": COUNT,
    "session.tasks": COUNT,
    "session.gc_s": "s",
    "session.task_launch_s": "s",
    "traced_wall_s": "s",
}


def layer_of(desc: str | None) -> str:
    if desc in PHASE_LAYER:
        return PHASE_LAYER[desc]
    parts = (desc or "").split(":")
    if len(parts) == 3 and parts[0] == "perfbench" and parts[1] in ANALYTICS_PASSES:
        return "functions.images" if parts[2] == "decode" else "plans"
    return UNATTRIBUTED


def _node_key(node: dict) -> str:
    """Operator name, with the Python function for Python operators
    (``MapInPandas:fused_batches``) and ``seen`` for the seen-store scan."""
    name = node["nodeName"]
    s = node.get("simpleString", "")
    if "Pandas" in name or "Python" in name:
        for udf in UDF_LAYER:
            if f"{udf}(" in s:
                return f"{name}:{udf}"
    if name.startswith("Scan parquet") and "default.seen_" in name:
        return "Scan:seen"
    return name


@dataclass
class Log:
    jobs: dict = field(default_factory=dict)        # id -> desc, start, end
    stages: dict = field(default_factory=dict)      # id -> job, start, end, accs
    tasks: list = field(default_factory=list)       # (stage, launch, finish, metrics, accs)
    acc_node: dict = field(default_factory=dict)    # accumulator id -> (node key, metric)
    exec_time: dict = field(default_factory=dict)   # SQL execution id -> start ms
    exec_desc: dict = field(default_factory=dict)   # SQL execution id -> description
    exec_nodes: dict = field(default_factory=dict)  # SQL execution id -> node keys
    driver_accs: list = field(default_factory=list)  # (execution id, acc id, value)


def read_log(lines) -> Log:
    """One pass over the JSON event lines."""
    import json

    log = Log()

    def walk(node, exec_id):
        key = _node_key(node)
        log.exec_nodes.setdefault(exec_id, []).append(key)
        for m in node.get("metrics", []):
            log.acc_node[m["accumulatorId"]] = (key, m["name"])
        for child in node.get("children", []):
            walk(child, exec_id)

    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            log.jobs[ev["Job ID"]] = {"desc": desc, "start": ev["Submission Time"],
                                      "end": None}
            for sid in ev.get("Stage IDs", []):
                log.stages.setdefault(sid, {"job": ev["Job ID"], "start": None,
                                            "end": None, "accs": set()})
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.get(info["Stage ID"])
            if st is not None:
                st["start"] = info.get("Submission Time")
                st["end"] = info.get("Completion Time")
                st["accs"] = {a["ID"] for a in info.get("Accumulables", [])}
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            log.tasks.append((
                ev["Stage ID"], info.get("Launch Time", 0), info.get("Finish Time", 0),
                ev.get("Task Metrics") or {},
                [(a["ID"], a.get("Update")) for a in info.get("Accumulables", [])
                 if a.get("Metadata") == "sql"],
            ))
        elif kind.endswith("SQLExecutionStart"):
            log.exec_time[ev["executionId"]] = ev["time"]
            log.exec_desc[ev["executionId"]] = ev.get("description")
            log.exec_nodes[ev["executionId"]] = []
            walk(ev["sparkPlanInfo"], ev["executionId"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            log.exec_nodes[ev["executionId"]] = []  # the update restates the plan
            walk(ev["sparkPlanInfo"], ev["executionId"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev["accumUpdates"]:
                log.driver_accs.append((ev["executionId"], acc_id, value))
    return log


def stage_layer(log: Log, sid: int) -> str:
    for acc in log.stages[sid]["accs"]:
        key = log.acc_node.get(acc, ("", ""))[0]
        udf = key.partition(":")[2]
        if udf in ("fused_batches", "decode_meta_batches"):
            return UDF_LAYER[udf]
    return layer_of(log.jobs[log.stages[sid]["job"]]["desc"])


def attribute(log: Log, w0: float, w1: float) -> dict[str, float]:
    """Split the window [w0, w1] (epoch ms) into layer walls plus
    ``idle``; the values sum to w1 - w0."""
    events = []  # (time, +1/-1, kind, layer)
    for jid, j in log.jobs.items():
        if j["end"] is not None:
            events += [(j["start"], 1, "job", layer_of(j["desc"])),
                       (j["end"], -1, "job", layer_of(j["desc"]))]
    for sid, st in log.stages.items():
        if st["start"] is not None and st["end"] is not None:
            lay = stage_layer(log, sid)
            events += [(st["start"], 1, "stage", lay), (st["end"], -1, "stage", lay)]
    events.sort(key=lambda e: (e[0], -e[1]))
    active = {"job": defaultdict(int), "stage": defaultdict(int)}
    out: dict[str, float] = defaultdict(float)
    t_prev = w0
    for t, delta, kind, lay in events + [(w1, 0, "job", None)]:
        a, b = max(t_prev, w0), min(t, w1)
        if b > a:
            running = active["stage"] if active["stage"] else active["job"]
            n = sum(running.values())
            if n == 0:
                out["idle"] += b - a
            else:
                for layer, k in running.items():
                    out[layer] += (b - a) * k / n
        t_prev = max(t_prev, t)
        if lay is not None:
            active[kind][lay] += delta
            if active[kind][lay] == 0:
                del active[kind][lay]
    return dict(out)


def reduce(log: Log, w0: float, w1: float) -> dict:
    """Per-layer task sums, SQL operator metrics and the wall split for
    the jobs submitted within [w0, w1] (epoch ms)."""
    jobs = {j for j, v in log.jobs.items() if w0 <= v["start"] <= w1}
    stage_lay = {s: stage_layer(log, s) for s, v in log.stages.items() if v["job"] in jobs}
    task_ms: dict[str, float] = defaultdict(float)
    tot = defaultdict(float)
    sql: dict[tuple, float] = defaultdict(float)
    stage_run_ms: dict[int, float] = defaultdict(float)
    write_stages = set()
    for sid, launch, finish, m, accs in log.tasks:
        if sid not in stage_lay:
            continue
        run = m.get("Executor Run Time", 0)
        stage_run_ms[sid] += run
        if (m.get("Output Metrics") or {}).get("Bytes Written", 0) > 0:
            write_stages.add(sid)
        task_ms[stage_lay[sid]] += run
        phase = log.jobs[log.stages[sid]["job"]]["desc"]
        task_ms[f"phase:{phase}"] += run
        tot["tasks"] += 1
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        tot["launch_ms"] += max(0, (finish - launch) - run)
        shuffle_w = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        tot[f"shuffle:{phase}"] += shuffle_w
        tot[f"shuffle_layer:{stage_lay[sid]}"] += shuffle_w
        for acc, upd in accs:
            if acc in log.acc_node:
                try:
                    sql[(layer_of(phase), *log.acc_node[acc])] += float(upd)
                except (TypeError, ValueError):
                    pass
    execs = {e for e, t in log.exec_time.items() if w0 <= t <= w1}
    for exec_id, acc, value in log.driver_accs:
        if exec_id in execs and acc in log.acc_node:
            lay = layer_of(log.exec_desc.get(exec_id))
            sql[(lay, *log.acc_node[acc])] += float(value)
    writes = sum(
        1 for e in execs for k in log.exec_nodes.get(e, [])
        if k == "Execute InsertIntoHadoopFsRelationCommand"
    )
    # a stage in which any task wrote table files: the whole stage's task
    # time (the write and whatever the planner fused into its stage)
    tot["write_task_ms"] = sum(stage_run_ms[sid] for sid in write_stages)
    return {"jobs": len(jobs), "task_ms": dict(task_ms), "tot": dict(tot),
            "sql": dict(sql), "writes": writes,
            "wall_ms": attribute(log, w0, w1)}


def find_log(evlog_dir) -> str:
    paths = glob.glob(os.path.join(str(evlog_dir), "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {evlog_dir}, found {paths}")
    return paths[0]


def _lines(path: str):
    """scripts/evlog_phases.py's reader (plain, rolling or zstd logs)."""
    scripts = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from evlog_phases import _lines as lines

    return lines(path)


def layer_metrics(path: str, res) -> dict[str, float]:
    """Event-log part of the per-layer metrics for one traced workload."""
    log = read_log(_lines(path))
    r = reduce(log, res.window[0] * 1000.0, res.window[1] * 1000.0)
    sql, task, tot, wall = r["sql"], r["task_ms"], r["tot"], r["wall_ms"]

    def q(node: str, metric: str, layer: str | None = None) -> float:
        return sum(v for (lay, n, m), v in sql.items()
                   if n == node and m == metric and layer in (None, lay))

    def s(x: float) -> float:
        return x / 1000.0

    fused = "MapInPandas:fused_batches"
    decode = "MapInPandas:decode_meta_batches"
    bloom_nodes = ("ArrowEvalPython:_maybe", "FlatMapGroupsInPandas:_pack")
    write = "Execute InsertIntoHadoopFsRelationCommand"
    out = {f"{lay}.wall_s": s(wall.get(lay, 0.0)) for lay in LAYERS}
    out.update({
        "crawl.fetch.task_s": s(q(fused, "time to run Python workers")),
        "crawl.fetch.python_init_s": s(q(fused, "time to initialize Python workers")
                                       + q(fused, "time to start Python workers")),
        "crawl.fetch.arrow_bytes_in": q(fused, "data sent to Python workers"),
        "crawl.fetch.arrow_bytes_out": q(fused, "data returned from Python workers"),
        "crawl.refine.staged_task_s": s(task.get("phase:staged_append", 0.0)),
        "crawl.frontier.candidates": q("ArrowEvalPython:_maybe", "number of output rows"),
        "crawl.frontier.fresh": q("ShuffledHashJoin", "number of output rows",
                                   "crawl.frontier"),
        "crawl.frontier.insert_task_s": s(task.get("phase:insert_append", 0.0)),
        "crawl.frontier.shuffle_bytes": tot.get("shuffle:insert_append", 0.0),
        "crawl.seenstore.bytes_read": q("Scan:seen", "size of files read"),
        "crawl.seenstore.files": q("Scan:seen", "number of files read"),
        "crawl.seenstore.append_task_s": s(task.get("phase:seen_append", 0.0)
                                           + task.get("phase:seed_seen", 0.0)),
        "crawl.bloom.task_s": s(sum(q(n, "time to run Python workers")
                                    for n in bloom_nodes)),
        "sources.tables.appends": float(r["writes"]),
        "sources.tables.files_written": q(write, "number of written files"),
        "sources.tables.bytes_written": q(write, "written output"),
        "sources.tables.write_task_s": s(tot.get("write_task_ms", 0.0)),
        "functions.images.task_s": s(q(decode, "time to run Python workers")),
        "functions.images.arrow_bytes_in": q(decode, "data sent to Python workers"),
        "plans.shuffle_bytes": tot.get("shuffle_layer:plans", 0.0),
        "session.jobs": float(r["jobs"]),
        "session.tasks": tot.get("tasks", 0.0),
        "session.gc_s": s(tot.get("gc_ms", 0.0)),
        "session.task_launch_s": s(tot.get("launch_ms", 0.0)),
        "crawl.engine.driver_idle_s": s(wall.get("idle", 0.0)),
        "crawl.engine.unattributed_s": s(wall.get(UNATTRIBUTED, 0.0)),
    })
    return out
