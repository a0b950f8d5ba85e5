"""Per-layer numbers for the traced run.

Three sources, none of which touches the timed runs:

* Spark's event log (uncompressed JSON lines): per-task metrics and
  SQL accumulators, attributed to a benchmark unit by the unit's job
  group (batch workloads) or micro-batch id (``stream_upsert``);
* the Spark 4.1 UDF ``perf`` profiler, in a pass of its own, dumped
  with ``spark.profile.dump`` and read back with ``pstats``;
* the benchmark's own spans around its calls into each module.

Task-level times in the event log are sums over tasks that run
concurrently on several cores (``time to initialize Python workers``
on 4 cores can exceed the wall time). The ``pyworker.*_s`` figures are
therefore the length of the UNION of the per-task intervals, each
placed at the start (start/init) or end (run) of its task; the raw
sums are reported beside them as ``*_sum_s``.
"""

from __future__ import annotations

import glob
import json
import os
import pstats

# task accumulator name -> per-layer metric (values in the event log's unit)
_PY_ACCUMS = {
    "data sent to Python workers": "arrow.to_py_bytes",
    "data returned from Python workers": "arrow.from_py_bytes",
    "time to start Python workers": "pyworker.start",
    "time to initialize Python workers": "pyworker.init",
    "time to run Python workers": "pyworker.run",
    "scan time": "scan.time",
}
_EXCHANGE_NODES = ("Exchange", "ShuffleQueryStage", "BroadcastQueryStage", "AQEShuffleRead",
                   "ReusedExchange", "TableCacheQueryStage")


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def load_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_accumulators(plan: dict, builds: set, files_read: set) -> None:
    """Walk a physical plan: ``number of output rows`` of every
    MapInPandas node that reads a scan without crossing an exchange
    (the partial-digest builds) goes to ``builds``; ``size of files
    read`` of every scan goes to ``files_read``."""

    def reaches_scan(node) -> bool:
        for c in node.get("children", []):
            name = c.get("nodeName", "")
            if name.startswith(_EXCHANGE_NODES):
                continue
            if "Scan" in name or reaches_scan(c):
                return True
        return False

    is_build = plan.get("nodeName", "").startswith("MapInPandas") and reaches_scan(plan)
    for m in plan.get("metrics", []):
        if is_build and m["name"] == "number of output rows":
            builds.add(m["accumulatorId"])
        elif m["name"] == "size of files read":
            files_read.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _plan_accumulators(c, builds, files_read)


def unit_layers(events: list[dict], key_of_job) -> dict[str, dict]:
    """Per-unit event-log metrics. ``key_of_job(properties)`` maps a
    job's properties to a unit key, or None for jobs outside any unit."""
    builds: set = set()
    files_read: set = set()
    stage_unit: dict[int, str] = {}
    exec_unit: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            key = key_of_job(props)
            if key is not None:
                for sid in e["Stage IDs"]:
                    stage_unit[sid] = key
                if "spark.sql.execution.id" in props:
                    exec_unit[int(props["spark.sql.execution.id"])] = key
    stages: dict[str, list] = {}
    tasks: dict[str, list] = {}
    driver_accums: dict[str, list] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_accumulators(e.get("sparkPlanInfo", {}), builds, files_read)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            key = exec_unit.get(e["executionId"])
            if key is not None:
                driver_accums.setdefault(key, []).extend(e["accumUpdates"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = stage_unit.get(info["Stage ID"])
            if key is not None and "Completion Time" in info:
                stages.setdefault(key, []).append(
                    (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerTaskEnd":
            key = stage_unit.get(e["Stage ID"])
            if key is not None:
                tasks.setdefault(key, []).append(e)
    out = {}
    for key in stages:
        out[key] = _layers(stages[key], tasks.get(key, []), builds)
        out[key]["scan.bytes"] = float(
            sum(v for acc, v in driver_accums.get(key, []) if acc in files_read)
        )
    return out


def _layers(stages: list, tasks: list, builds: set) -> dict:
    m = {
        "stages": float(len(stages)), "tasks": float(len(tasks)),
        "executor.run_s": 0.0, "executor.cpu_s": 0.0, "jvm.gc_s": 0.0,
        "shuffle.write_bytes": 0.0, "shuffle.write_records": 0.0, "shuffle.write_s": 0.0,
        "shuffle.fetch_wait_s": 0.0, "spill.bytes": 0.0, "scan.rows": 0.0,
        "scan.time_s": 0.0, "arrow.to_py_bytes": 0.0, "arrow.from_py_bytes": 0.0,
        "pyworker.start_sum_s": 0.0, "pyworker.init_sum_s": 0.0, "pyworker.run_sum_s": 0.0,
        "pyworker.starts": 0.0, "build.output_rows": 0.0, "sink.write_s": 0.0,
    }
    busy = measured = 0.0
    py_iv: dict[str, list] = {"start": [], "init": [], "run": []}
    write_iv = []
    for e in tasks:
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
        busy += finish - launch
        run = tm.get("Executor Run Time", 0) / 1e3
        measured += run + (tm.get("Executor Deserialize Time", 0)
                           + tm.get("Result Serialization Time", 0)) / 1e3
        m["executor.run_s"] += run
        m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["jvm.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics", {})
        m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["shuffle.write_records"] += sw.get("Shuffle Records Written", 0)
        m["shuffle.write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        m["shuffle.fetch_wait_s"] += tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
        m["spill.bytes"] += tm.get("Disk Bytes Spilled", 0)
        m["scan.rows"] += tm.get("Input Metrics", {}).get("Records Read", 0)
        if tm.get("Output Metrics", {}).get("Bytes Written", 0) > 0:
            write_iv.append((launch, finish))
        per: dict[str, float] = {}
        for a in info.get("Accumulables", []):
            name = _PY_ACCUMS.get(a.get("Name"))
            upd = float(a.get("Update") or 0)
            if a.get("ID") in builds:
                m["build.output_rows"] += upd
            if name is not None:
                per[name] = per.get(name, 0.0) + upd
        m["arrow.to_py_bytes"] += per.get("arrow.to_py_bytes", 0.0)
        m["arrow.from_py_bytes"] += per.get("arrow.from_py_bytes", 0.0)
        m["scan.time_s"] += per.get("scan.time", 0.0) / 1e3
        start, init, runpy = (per.get(f"pyworker.{k}", 0.0) / 1e3 for k in ("start", "init", "run"))
        m["pyworker.start_sum_s"] += start
        m["pyworker.init_sum_s"] += init
        m["pyworker.run_sum_s"] += runpy
        m["pyworker.starts"] += start > 0
        py_iv["start"].append((launch, launch + start))
        py_iv["init"].append((launch + start, launch + start + init))
        py_iv["run"].append((finish - runpy, finish))
    for k, iv in py_iv.items():
        m[f"pyworker.{k}_s"] = union_length(iv)
    m["sink.write_s"] = union_length(write_iv)
    m["stage_union_s"] = union_length(stages)
    # share of summed task time that the executor's own timers account
    # for; the rest is scheduling and result fetch inside the stage
    m["task_explained"] = measured / busy if busy > 0 else 1.0
    return m


def attribute(layers: dict, wall: float, driver_spans: float) -> dict:
    """Blocking-path attribution of one unit: driver-side spans the
    benchmark measured, plus the union of stage intervals scaled by the
    share of task time the executor timers explain. ``driver.gap_s``
    is wall time minus the union of stage intervals."""
    attributed = driver_spans + layers["stage_union_s"] * layers["task_explained"]
    return {
        "driver.gap_s": wall - layers["stage_union_s"],
        "layers.coverage": attributed / wall if wall > 0 else 0.0,
    }


# profiler function -> per-layer metric: (file basename, function name)
PROFILED = {
    "udf.from_values_s": ("tdigest.py", "from_values"),
    "udf._compress_s": ("tdigest.py", "_compress"),
    "udf.merge_s": ("tdigest.py", "merge"),
    "udf.ship_compressed_s": ("tdigest.py", "ship_compressed"),
    "udf.to_row_s": ("tdigest.py", "to_row"),
    "udf.from_row_s": ("tdigest.py", "from_row"),
    "udf.quantiles_s": ("tdigest.py", "quantile"),
    "udf.build_partials_s": ("digest_agg.py", "build_partials"),
    "udf.merge_s_total": ("digest_agg.py", "_merge_rows"),
    "udf.stats_evaluate_s": ("digest_agg.py", "evaluate"),
    "udf.sketch_partials_s": ("sketch_agg.py", "build_partials"),
    "udf.sketch_merge_s": ("sketch_agg.py", "merge_partials"),
}


def profile_totals(dump_dir: str) -> dict:
    """Cumulative time per profiled function, summed over every UDF
    (and so over every task that ran it)."""
    out = {k: 0.0 for k in PROFILED}
    want = {v: k for k, v in PROFILED.items()}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        for (fname, _line, func), (_cc, _nc, _tt, ct, _callers) in pstats.Stats(path).stats.items():
            key = want.get((os.path.basename(fname), func))
            if key is not None:
                out[key] += ct
    return out
