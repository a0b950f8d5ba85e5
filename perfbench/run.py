#!/usr/bin/env python3
"""Benchmark of tdigest_spark's public entry points.

Run from the root of a checkout::

    python3 perfbench/run.py --workload grouped_skew --seed 1 --seconds 30 --trace 0

One run sets up a local Spark session (``session.get_spark``), warms it,
generates the workload's seeded input, then runs units of work for
``--seconds`` seconds on both rungs of a size ladder and checks every
result against an exact oracle computed here. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it holds the details: environment, per-unit samples, rank
errors against their bound, and the failed checks.

``--trace 1`` is a separate run: it turns on Spark's event log and
tags each unit with its own job group, then runs one unit under the
UDF ``perf`` profiler and replays the digest kernel in-process, so no
tracing overhead reaches the timed numbers of ``--trace 0``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import numpy
import pandas
import pyarrow
import pyspark

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a unit that runs longer than this is cancelled and counted as failed
UNIT_TIMEOUT_S = 60.0
TAIL_BEYOND = 10
# peak_rss_mb is the peak over this many timed units
PEAK_RSS_UNITS = 4
# session.py defaults to 32g; Spark's own default of 1g is ample for the
# units, sits below any host's RAM, and a capped heap keeps the JVM's
# resident size from drifting with when its collector runs
DRIVER_MEM = "1g"


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec() -> dict:
    """BENCHMARK.json, checked against the layer table: every per-layer
    metric belongs to exactly one layer."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    owned = [m for layer in layers.values() for m in layer["metrics"]]
    declared = [m["name"] for m in spec["per_layer"]]
    if sorted(owned) != sorted(declared):
        raise ValueError(
            "perfbench/layers.json and BENCHMARK.json disagree on per-layer metrics: "
            f"{sorted(set(owned) ^ set(declared))}"
        )
    return spec


def pin_environment(work: str) -> dict:
    """Session knobs that session.py reads from the environment, set
    before the JVM starts so the JVM and its Python workers inherit
    them; temp files, the JVMs' included, stay inside the work
    directory."""
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    return {"cores": cores, "host_ram_gb": round(ram_gb, 1), "driver_mem": DRIVER_MEM}


class RssMonitor:
    """Summed RSS of this process and all its descendants (the JVM and
    its Python workers), sampled from /proc. ``unit()`` brackets one
    unit of work; ``units`` holds each unit's peak sample, split by
    process kind."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.units: list[dict] = []
        self._cur: dict | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> dict:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        me = os.getpid()
        split = {"driver_py_mb": 0.0, "jvm_mb": 0.0, "workers_mb": 0.0, "workers": 0}
        todo = [(me, "")]
        while todo:
            pid, parent = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page / 2**20
                exe = os.readlink(f"/proc/{pid}/exe")
            except (OSError, IndexError, ValueError):
                continue
            # a child the JVM has forked but not yet exec'd (to run a
            # shell command) still shows the JVM's whole memory
            if exe == parent and os.path.basename(exe) == "java":
                continue
            todo.extend((c, exe) for c in children.get(pid, []))
            if pid == me:
                split["driver_py_mb"] += rss
            elif os.path.basename(exe) == "java":
                split["jvm_mb"] += rss
            else:
                split["workers_mb"] += rss
                split["workers"] += 1
        split["total_mb"] = split["driver_py_mb"] + split["jvm_mb"] + split["workers_mb"]
        return split

    def _observe(self) -> None:
        cur = self._cur
        if cur is not None:
            s = self._sample()
            if s["total_mb"] > cur.get("total_mb", -1.0):
                cur.update(s)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._observe()

    @contextlib.contextmanager
    def unit(self):
        self._cur = {}
        self._observe()
        try:
            yield
        finally:
            self._observe()
            self.units.append(self._cur)
            self._cur = None

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def start_session(work: str, trace: bool):
    from tdigest_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_units(spark, wl, seconds: float, rss: RssMonitor) -> list[dict]:
    """Closed loop: one unit at a time, rungs in the workload's
    pattern. A unit starts only if the last unit of its rung would
    still have ended within ``seconds``; each rung runs at least once.
    Memory is sampled while a unit runs, not while its results are
    checked, so the oracle's own arrays are not counted."""
    sc = spark.sparkContext
    units: list[dict] = []
    last: dict[str, float] = {}
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        rung = wl.pattern[i % len(wl.pattern)]
        if rung in last and time.perf_counter() + last[rung] > deadline:
            if all(r in last for r in wl.rungs):
                break
            i += 1
            continue
        tag = f"{rung}-{i}"
        i += 1
        sc.setJobGroup(tag, f"perfbench {wl.name} {tag}")
        watchdog = threading.Timer(UNIT_TIMEOUT_S, sc.cancelJobGroup, args=(tag,))
        watchdog.start()
        spans: dict = {}
        rec = {"tag": tag, "rung": rung, "rows": wl.rungs[rung]}
        t0 = time.perf_counter()
        try:
            with rss.unit():
                out = wl.run_unit(spark, rung, spans)
        except Exception as e:  # noqa: BLE001 - a failed unit is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            rec.update(seconds=None, failures=[f"raised {type(e).__name__}: {e}"[:300]])
        else:
            rec["rss"] = rss.units[-1]
            fails, ranks, store = wl.check(rung, out)
            # a micro-batch is timed by Spark's triggerExecution, a batch
            # unit from the first public call to the last collect; the
            # exact checks are outside both
            rec.update(
                seconds=spans.pop("job_s"), failures=fails, ranks=ranks,
                store_bytes=store, spans=spans,
            )
            if "rows" in spans:
                rec["rows"] = spans.pop("rows")
        finally:
            watchdog.cancel()
        last[rung] = time.perf_counter() - t0
        units.append(rec)
    sc.setJobGroup("perfbench-idle", "outside any unit")
    return units


def tail(samples: list[float]) -> dict:
    """The highest percentile with TAIL_BEYOND samples above it. With
    too few samples for that to sit above the median, the highest
    percentile with (n-1)//2 samples above it."""
    s = sorted(samples)
    n = len(s)
    beyond = TAIL_BEYOND if n > 2 * TAIL_BEYOND else (n - 1) // 2
    return {"value": s[n - 1 - beyond], "percentile": round(100 * (n - beyond) / n, 1),
            "beyond": beyond, "n": n}


def end_to_end(wl, units: list[dict], setup_s: float) -> tuple[dict, dict]:
    ok = [u for u in units if u["seconds"] is not None]
    large = [u for u in ok if u["rung"] == "large"]
    small = [u for u in ok if u["rung"] == "small"]
    if not large or not small:
        raise RuntimeError("no successful unit on one rung of the ladder")
    p50_l = statistics.median(u["seconds"] for u in large)
    p50_s = statistics.median(u["seconds"] for u in small)
    tl = tail([u["seconds"] for u in large])
    # throughput at the large rung's stated size; the per-row slope
    # between the rungs is in the detail line (it is the difference of
    # two noisy medians, too unsteady to gate on)
    rows_per_s = statistics.median(u["rows"] / u["seconds"] for u in large)
    slope = (
        (statistics.median(u["rows"] for u in large) - statistics.median(u["rows"] for u in small))
        / (p50_l - p50_s) if p50_l > p50_s else None
    )
    # resident memory grows with the work done (the JVM heap expands
    # toward its cap), so the peak is read over a fixed amount of work,
    # the first timed units, not over however many fitted in the run
    rss_peak = max((u["rss"] for u in ok[:PEAK_RSS_UNITS]), key=lambda r: r["total_mb"])
    # stored bytes are read at a fixed point, the first timed large
    # unit, so they do not depend on how many units fitted in the run
    first = large[0]
    metrics = {
        "setup_s": setup_s,
        "job_s_p50": p50_l,
        "job_s_tail": tl["value"],
        "small_job_s_p50": p50_s,
        "rows_per_s": rows_per_s,
        "peak_rss_mb": rss_peak["total_mb"],
        "store_bytes": first["store_bytes"],
    }
    detail = {
        "job_s_tail": tl,
        "samples": {"large": len(large), "small": len(small)},
        "marginal_rows_per_s": slope,
        "peak_rss_breakdown": rss_peak,
        "peak_rss_run_max_mb": max(u["rss"]["total_mb"] for u in ok),
    }
    return metrics, detail


def accuracy(units: list[dict]) -> dict:
    """Rank error of the first timed large unit (a fixed input for the
    seed) against the exact sorted input, beside bench.py's bound."""
    from workloads import max_rank_error

    first = next(u for u in units if u["rung"] == "large" and u["seconds"] is not None)
    return {
        "rank_err_max": max_rank_error(first["ranks"]),
        "within_bound": all(e["within_bound"] for r in first["ranks"].values() for e in r.values()),
        "per_quantile": first["ranks"],
    }


def trace_layers(spark, wl, units: list[dict], work: str, seed: int) -> tuple[dict, dict]:
    """Per-layer metrics: event log of the traced units, one unit under
    the UDF profiler, and the in-process kernel replay."""
    import kernel
    import tracing

    stream = wl.name == "stream_upsert"
    prof_dir = os.path.join(work, "profile")
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        spark.sparkContext.setJobGroup("perfbench-profile", "profiled unit")
        wl.run_unit(spark, "large", {})
        spark.profile.dump(prof_dir, type="perf")
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.profile.clear()
    prof = tracing.profile_totals(prof_dir)
    kern = kernel.replay(seed)
    stop_session(spark)

    by_tag = {u["tag"]: u for u in units if u["seconds"] is not None}
    if stream:
        tag_of_batch = {str(u["spans"]["batch_id"]): t for t, u in by_tag.items()}

        def key_of_job(props):
            return tag_of_batch.get(props.get("streaming.sql.batchId"))
    else:
        def key_of_job(props):
            return props.get("spark.jobGroup.id")

    per_unit = tracing.unit_layers(tracing.load_events(os.path.join(work, "eventlog")), key_of_job)
    rows = []
    for tag, u in by_tag.items():
        if u["rung"] != "large" or tag not in per_unit:
            continue
        lay = dict(per_unit[tag])
        sp = u["spans"]
        if stream:
            driver = sp["stream.driver_s"]
        else:
            driver = sum(v for k, v in sp.items() if k.endswith("plan_s"))
        lay.update(tracing.attribute(lay, u["seconds"], driver))
        # on grouped_skew the sketch_agg leg scans the same rows and ships
        # as many partials as the digest leg, so the ratio is the same
        lay["digest_agg.partial_reduction"] = (
            lay["scan.rows"] / lay["build.output_rows"] if lay["build.output_rows"] else 0.0
        )
        lay.update({k: float(v) for k, v in sp.items() if k not in ("batch_id", "stream.driver_s")})
        rows.append(lay)
    if not rows:
        raise RuntimeError("the event log holds no traced large-rung unit")
    keys = set().union(*rows)
    layer_m = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
    layer_m.update(prof)
    layer_m.update(kern)
    detail = {
        "traced_units": len(rows),
        "layers.coverage_flag": abs(layer_m["layers.coverage"] - 1.0) > 0.10,
        "pyworker.init_sum_vs_union_s": [layer_m["pyworker.init_sum_s"], layer_m["pyworker.init_s"]],
    }
    return layer_m, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    import tdigest_spark  # noqa: F401 - the program under test must be importable
    from workloads import WORKLOADS

    spec = load_spec()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, spec, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, work: str, wl_cls) -> int:
    env = pin_environment(work)
    env["loadavg_1m_start"] = os.getloadavg()[0]
    wl = wl_cls(work, args.seed, env["cores"])
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        t1 = time.perf_counter()
        wl.generate()
        t2 = time.perf_counter()
        wl.open(spark)
        t3 = time.perf_counter()
        wl.build_oracle()
        with RssMonitor() as rss:
            units = run_units(spark, wl, args.seconds, rss)
        if args.trace:
            metrics, tdetail = trace_layers(spark, wl, units, work, args.seed)
            metrics["session.get_spark_s"] = t1 - t0
            spark = None
    finally:
        if spark is not None:
            stop_session(spark)
    setup = {"session_s": t1 - t0, "input_s": t2 - t1, "open_and_warm_up_s": t3 - t2}
    acc = accuracy(units)
    if args.trace:
        metrics["rank_err_max"] = acc["rank_err_max"]
        # a layer the workload does not touch reads 0 (no stream
        # commits on a batch workload, no sketch_agg on the stream)
        metrics = {m["name"]: metrics.get(m["name"], 0.0) for m in spec["per_layer"]}
        units_of = {m["name"]: m["unit"] for m in spec["per_layer"]}
        detail = tdetail
    else:
        metrics, detail = end_to_end(wl, units, t3 - t0)
        metrics = {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]}
        units_of = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    failed = sum(1 for u in units if u["failures"])
    env.update(
        loadavg_1m_end=os.getloadavg()[0],
        python=platform.python_version(), pyspark=pyspark.__version__,
        numpy=numpy.__version__, pandas=pandas.__version__, pyarrow=pyarrow.__version__,
    )
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "rungs": wl.rungs, "env": env, "setup": setup,
        "error_rate": {"value": failed / len(units), "unit": "ratio"},
        "failures": {u["tag"]: u["failures"] for u in units if u["failures"]},
        "units": [
            {"tag": u["tag"], "rows": u["rows"], "seconds": u["seconds"],
             "rss_mb": u.get("rss", {}).get("total_mb")}
            for u in units
        ],
        "rank_error": acc,
        **detail,
    }
    print(json.dumps({"detail": report}, default=float))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(units),
                "failed": failed,
                "metrics": {n: {"value": float(v), "unit": units_of[n]} for n, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
