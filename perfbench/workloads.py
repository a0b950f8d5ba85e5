"""Seeded inputs, job units and exact oracles for the benchmark workloads.

Each workload generates its input from the seed, keeps the exact answer
(sorted values, per-group counts, min/max, distinct counts) on the
benchmark side, and runs one *unit* of work at a time through the
public entry points of ``tdigest_spark``, at either rung of a size
ladder. The unit is timed; its results are then checked against the
exact answer, outside the timing.

Why these workloads (the layer each one stresses, and the layers
predicted not to move on it):

* ``grouped_skew`` -- Zipf keys over 200 groups (a few heavy ones and a
  long tail), pandas build + SQL merge + ``sketch_agg`` (HLL, KLL) on
  one input: per-group Python overhead, partial shuffle and the JVM
  merge dominate.
* ``stream_upsert`` -- ``digest_sink`` with one seeded file per
  trigger into a fresh table: the only write path (stored-table read,
  ``tdigest_merge_agg`` of touched groups, snapshot commit).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DELTA = 200
QUANTILES = {"p50": 0.5, "p99": 0.99, "p999": 0.999}
# digest statistics every batch unit asks for: the exact ones feed the
# checks, the quantiles feed the rank error, ``size`` feeds store_bytes
STATS = {
    "n": ("total_weight",),
    "lo": ("vmin",),
    "hi": ("vmax",),
    "size": ("size",),
    **{k: ("quantile", q) for k, q in QUANTILES.items()},
}
# bytes of one centroid on the wire (a float64 mean and a float64 weight)
CENTROID_BYTES = 16
HEAVY_GROUPS = 3
# units run before timing starts; after one unit per rung, the next
# large unit still ran about a quarter slower than the later ones
WARM_UP = ("large", "small", "large")
HLL_P = 12
KLL_K = 200
# HLL: 6 standard errors (1.04/sqrt(2^p)) plus one for tiny counts;
# KLL: rank error of the median, a few times the k=200 guarantee
HLL_REL_TOL = 6 * 1.04 / np.sqrt(2**HLL_P)
KLL_RANK_TOL = 0.03


def rank_error(sorted_vals: np.ndarray, est: float, q: float) -> float:
    """Distance from q to the interval of ranks the estimate occupies in
    the exact sorted input (ties make it an interval)."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return 0.0 if lo <= q <= hi else float(min(abs(q - lo), abs(q - hi)))


def rank_bound(sorted_vals: np.ndarray, q: float) -> float:
    """bench.py's bound: max(6 q (1-q) / delta, 2/n, tie mass at q)."""
    n = len(sorted_vals)
    vq = sorted_vals[min(n - 1, int(np.ceil(q * n)) - 1)]
    tie = (
        np.searchsorted(sorted_vals, vq, side="right")
        - np.searchsorted(sorted_vals, vq, side="left")
    ) / n
    return float(max(6.0 * q * (1 - q) / DELTA, 2.0 / n, tie))


def _rank_report(sorted_vals: np.ndarray, row) -> dict:
    out = {}
    for k, q in QUANTILES.items():
        err = rank_error(sorted_vals, float(row[k]), q)
        bound = rank_bound(sorted_vals, q)
        out[k] = {"err": err, "bound": bound, "within_bound": err <= bound}
    return out


def _write_parquet(path: str, table: pa.Table, files: int) -> None:
    """Write ``table`` as ``files`` parquet files so the scan gets
    several splits per core."""
    os.makedirs(path)
    n = table.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:04d}.parquet"))


def _zipf_keys(rng, n: int, groups: int, s: float) -> np.ndarray:
    """Zipf(s) group ids over ``groups`` keys; the key is the rank, so
    the heavy keys (and the shuffle partitions they hash to) are the
    same for every seed and only the draws vary."""
    p = 1.0 / np.arange(1, groups + 1) ** s
    return rng.choice(groups, size=n, p=p / p.sum()).astype(np.int64)


class _Grouped:
    """Exact per-group facts of a (key, value) input: sorted values per
    group, counts, min and max. With ``spill`` the sorted values live in
    a memory-mapped file, so the oracle adds next to nothing to the
    resident memory measured while the units run."""

    def __init__(self, keys: np.ndarray, vals: np.ndarray, spill: str | None = None):
        order = np.lexsort((vals, keys))
        self.groups, self.start, self.count = np.unique(
            keys[order], return_index=True, return_counts=True
        )
        self.vals_sorted = vals[order]
        if spill is not None:
            np.save(spill, self.vals_sorted)
            self.vals_sorted = np.load(spill, mmap_mode="r")
        self.vmin = self.vals_sorted[self.start]
        self.vmax = self.vals_sorted[self.start + self.count - 1]

    def values(self, i: int) -> np.ndarray:
        return self.vals_sorted[self.start[i] : self.start[i] + self.count[i]]

    def heavy(self, k: int) -> np.ndarray:
        return np.argsort(-self.count, kind="stable")[:k]


def check_digest_rows(facts: _Grouped, rows: list, key: str) -> tuple[list[str], dict]:
    """Exact checks on ``tdigest_stats`` rows: every group present once,
    ``total_weight`` equal to the row count, ``vmin``/``vmax`` equal to
    the exact min and max. Returns (failures, rank report of the
    heaviest groups)."""
    fails: list[str] = []
    got = {r[key]: r for r in rows}
    want = list(facts.groups)
    if len(rows) != len(want) or set(got) != set(want):
        fails.append(f"groups: got {len(got)} distinct of {len(rows)} rows, want {len(want)}")
        return fails, {}
    pos = np.searchsorted(facts.groups, list(got))
    ok_n = ok_lo = ok_hi = True
    for i, r in zip(pos, got.values()):
        ok_n &= r["n"] == float(facts.count[i])
        ok_lo &= r["lo"] == float(facts.vmin[i])
        ok_hi &= r["hi"] == float(facts.vmax[i])
    if not ok_n:
        fails.append("total_weight != exact row count")
    if not ok_lo:
        fails.append("vmin != exact min")
    if not ok_hi:
        fails.append("vmax != exact max")
    ranks = {}
    for i in facts.heavy(HEAVY_GROUPS):
        g = facts.groups[i]
        ranks[str(g)] = _rank_report(facts.values(i), got[g])
    return fails, ranks


def max_rank_error(ranks: dict) -> float:
    return max((e["err"] for r in ranks.values() for e in r.values()), default=0.0)


class BatchWorkload:
    """A batch workload: one unit is read-once input -> build -> stats
    -> ``collect``, at either rung of the size ladder."""

    name = ""
    key = ""
    # rung -> rows; each rung has its own seeded input and oracle
    rungs: dict[str, int] = {}
    pattern = ("large", "small")

    def __init__(self, work: str, seed: int, cores: int):
        self.work, self.seed, self.cores = work, seed, cores
        self.inputs: dict[str, str] = {}
        self.facts: dict[str, _Grouped] = {}
        self.frames: dict = {}

    def table(self, rng, n: int) -> pa.Table:
        raise NotImplementedError

    def generate(self) -> None:
        for i, (rung, n) in enumerate(self.rungs.items()):
            rng = np.random.default_rng([self.seed, i])
            path = os.path.join(self.work, "input", rung)
            _write_parquet(path, self.table(rng, n), files=3 * self.cores)
            self.inputs[rung] = path

    def open(self, spark) -> None:
        """Open every input once (file listing and schema inference are
        set-up, not part of a unit), then warm up with ``WARM_UP``:
        JVM code generation and the Python worker start happen here,
        not in the first timed units."""
        self.frames = {k: spark.read.parquet(p) for k, p in self.inputs.items()}
        for rung in WARM_UP:
            self.run_unit(spark, rung, {})

    def build_oracle(self) -> None:
        for rung, path in self.inputs.items():
            self.facts[rung] = self.oracle(pq.read_table(path), f"{path}.sorted.npy")

    def oracle(self, t: pa.Table, spill: str) -> _Grouped:
        return _Grouped(t.column(self.key).to_numpy(), t.column("v").to_numpy(), spill)

    def run_unit(self, spark, rung: str, spans: dict) -> dict:
        """Run one unit; returns the collected results."""
        raise NotImplementedError

    def check(self, rung: str, out: dict) -> tuple[list, dict, float]:
        """Exact checks of a unit's results: (failures, rank report,
        store_bytes)."""
        fails, ranks = check_digest_rows(self.facts[rung], out["digest"], self.key)
        store = CENTROID_BYTES * sum(r["size"] for r in out["digest"])
        return fails, ranks, float(store)

    def _digest_leg(self, rung: str, spans: dict) -> list:
        from tdigest_spark.operators.digest_agg import tdigest_agg, tdigest_stats

        t0 = time.perf_counter()
        dig = tdigest_agg(self.frames[rung], "v", by=[self.key], delta=DELTA)
        t1 = time.perf_counter()
        st = tdigest_stats(dig, STATS)
        t2 = time.perf_counter()
        rows = st.collect()
        t3 = time.perf_counter()
        spans["digest_agg.agg_plan_s"] = t1 - t0
        spans["digest_agg.stats_plan_s"] = t2 - t1
        spans["agg.build_s"] = spans["job_s"] = t3 - t0
        return rows


class GroupedSkew(BatchWorkload):
    name = "grouped_skew"
    key = "k"
    groups = 200
    zipf_s = 1.1
    rungs = {"small": 10_000, "large": 400_000}

    def table(self, rng, n):
        return pa.table(
            {
                "k": _zipf_keys(rng, n, self.groups, self.zipf_s),
                "user": rng.integers(0, max(n // 8, 1), n),
                "v": rng.lognormal(0.0, 1.0, n),
            }
        )

    def oracle(self, t, spill):
        facts = super().oracle(t, spill)
        keys = t.column("k").to_numpy()
        users = t.column("user").to_numpy()
        pairs = np.unique(np.stack([keys, users]), axis=1)
        gk, nd = np.unique(pairs[0], return_counts=True)
        facts.distinct = dict(zip(gk.tolist(), nd.tolist()))
        return facts

    def run_unit(self, spark, rung, spans):
        from tdigest_spark.operators.sketch_agg import sketch_agg

        digest = self._digest_leg(rung, spans)
        t0 = time.perf_counter()
        sk = sketch_agg(
            self.frames[rung],
            {"hll": ("hll", "user", HLL_P), "kll": ("kll", "v", KLL_K)},
            by=["k"],
        )
        t1 = time.perf_counter()
        rows = sk.collect()
        spans["sketch_agg.plan_s"] = t1 - t0
        spans["sketch_agg.job_s"] = time.perf_counter() - t0
        spans["job_s"] += spans["sketch_agg.job_s"]
        return {"digest": digest, "sketch": rows}

    def check(self, rung, out):
        fails, ranks, store = super().check(rung, out)
        return fails + self._check_sketches(self.facts[rung], out["sketch"]), ranks, store

    @staticmethod
    def _check_sketches(facts, rows) -> list[str]:
        fails = []
        if sorted(r["k"] for r in rows) != facts.groups.tolist():
            return [f"sketch_agg groups: got {len(rows)}, want {len(facts.groups)}"]
        pos = np.searchsorted(facts.groups, [r["k"] for r in rows])
        bad_hll = bad_kll = 0
        for i, r in zip(pos, rows):
            exact = facts.distinct[int(facts.groups[i])]
            if abs(r["hll_est"] - exact) > HLL_REL_TOL * exact + 1:
                bad_hll += 1
            if rank_error(facts.values(i), r["kll_est"], 0.5) > KLL_RANK_TOL:
                bad_kll += 1
        if bad_hll:
            fails.append(f"hll estimate off the exact distinct count in {bad_hll} groups")
        if bad_kll:
            fails.append(f"kll median rank error > {KLL_RANK_TOL} in {bad_kll} groups")
        return fails


class StreamUpsert:
    """``digest_sink`` over seeded micro-batch files. The table is
    seeded in set-up with one batch covering every group (the first
    batch takes the no-merge path); each unit then adds one file,
    touching a rolling window of groups, and runs the sink with
    ``availableNow`` -- one trigger, one micro-batch, one commit."""

    name = "stream_upsert"
    key = "k"
    groups = 1000
    touched = 200
    seed_rows_per_group = 8
    rungs = {"small": 1_000, "large": 40_000}
    pattern = ("large", "small")
    timeout_s = 60.0

    def __init__(self, work: str, seed: int, cores: int):
        self.work, self.seed, self.cores = work, seed, cores
        self.rng = np.random.default_rng([seed, 7])
        self.src = os.path.join(work, "stream", "src")
        self.table_dir = os.path.join(work, "stream", "table")
        self.ckpt = os.path.join(work, "stream", "checkpoint")
        self.batch = 0
        self.keys: list[np.ndarray] = []
        self.vals: list[np.ndarray] = []
        self.prev: dict = {}

    def _next_file(self, n: int, keys: np.ndarray | None = None) -> int:
        if keys is None:
            lo = (self.batch * self.touched) % self.groups
            window = (lo + np.arange(self.touched)) % self.groups
            keys = window[self.rng.integers(0, self.touched, n)]
        vals = self.rng.lognormal(0.0, 1.0, len(keys))
        path = os.path.join(self.src, f"batch-{self.batch:05d}.parquet")
        pq.write_table(pa.table({"k": keys.astype(np.int64), "v": vals}), path)
        # the file source orders files by modification time
        os.utime(path, ns=(10**18 + self.batch * 10**9,) * 2)
        self.keys.append(keys.astype(np.int64))
        self.vals.append(vals)
        self.batch += 1
        return len(keys)

    def generate(self) -> None:
        os.makedirs(self.src)
        seed_keys = np.repeat(np.arange(self.groups), self.seed_rows_per_group)
        self._next_file(len(seed_keys), keys=self.rng.permutation(seed_keys))

    def open(self, spark) -> None:
        """Commit the seed batch (the sink's no-merge path), then warm
        up the merge path with ``WARM_UP``."""
        self._trigger(spark)
        for rung in WARM_UP:
            self.run_unit(spark, rung, {})
        self.prev = self._read_table()

    def build_oracle(self) -> None:
        pass

    def _stream(self, spark):
        return (
            spark.readStream.schema("k long, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )

    def _trigger(self, spark) -> dict:
        from tdigest_spark.streaming.digest_stream import digest_sink

        q = digest_sink(self._stream(spark), "v", [self.key], self.table_dir, self.ckpt, delta=DELTA)
        try:
            if not q.awaitTermination(self.timeout_s):
                raise TimeoutError(f"micro-batch did not finish in {self.timeout_s} s")
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        done = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(done) != 1:
            raise RuntimeError(f"expected one micro-batch per trigger, got {len(done)}")
        return done[0]

    def _read_table(self) -> dict:
        t = pq.read_table(self.table_dir).to_pylist()
        return {
            r["k"]: (
                tuple(r["digest"]["means"]), tuple(r["digest"]["weights"]),
                r["digest"]["total_weight"], r["digest"]["vmin"],
                r["digest"]["vmax"], r["digest"]["delta"],
            )
            for r in t
        }

    def store_bytes(self) -> float:
        root = f"{self.table_dir}.snapshots"
        return float(
            sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(root)
                for f in fs
            )
        )

    def run_unit(self, spark, rung: str, spans: dict) -> dict:
        n = self._next_file(self.rungs[rung])
        prog = self._trigger(spark)
        d = prog["durationMs"]
        spans["job_s"] = d["triggerExecution"] / 1e3
        for k in ("addBatch", "walCommit", "commitOffsets"):
            spans[f"stream.{k}_s"] = d.get(k, 0) / 1e3
        # the trigger's driver-side steps Spark times outside addBatch
        spans["stream.driver_s"] = sum(
            v for k, v in d.items() if k not in ("addBatch", "triggerExecution")
        ) / 1e3
        spans["batch_id"] = prog["batchId"]
        spans["rows"] = n
        touched = set(np.unique(self.keys[-1]).tolist())
        spans["sink.touched_frac"] = len(touched) / self.groups
        snap = os.path.realpath(self.table_dir)
        files = [f for f in os.listdir(snap) if f.endswith(".parquet")]
        spans["sink.files_written"] = len(files)
        spans["sink.bytes_written"] = sum(os.path.getsize(os.path.join(snap, f)) for f in files)
        return {"touched": touched}

    def check(self, rung: str, out: dict) -> tuple[list, dict, float]:
        """The stored table after the batch: every group present, weights
        equal to the sums over all batches, min/max exact, and groups
        this batch did not touch byte-identical to the previous commit."""
        cur = self._read_table()
        prev, self.prev = self.prev, cur
        facts = _Grouped(np.concatenate(self.keys), np.concatenate(self.vals))
        if sorted(cur) != facts.groups.tolist():
            return [f"groups: got {len(cur)}, want {len(facts.groups)}"], {}, self.store_bytes()
        fails = []
        changed = [k for k in cur if k not in out["touched"] and cur[k] != prev.get(k)]
        if changed:
            fails.append(f"{len(changed)} untouched groups not byte-identical")
        for i, g in enumerate(facts.groups.tolist()):
            _, _, tw, lo, hi, _ = cur[g]
            if tw != float(facts.count[i]) or lo != facts.vmin[i] or hi != facts.vmax[i]:
                fails.append(f"group {g}: weight/min/max differ from the batch sums")
                break
        return fails, self._ranks(cur, facts), self.store_bytes()

    def _ranks(self, cur: dict, facts: _Grouped) -> dict:
        from tdigest_spark.sketch.tdigest import TDigest

        out = {}
        for i in facts.heavy(HEAVY_GROUPS):
            g = int(facts.groups[i])
            means, weights, tw, lo, hi, delta = cur[g]
            d = TDigest.from_row(
                {"means": means, "weights": weights, "total_weight": tw,
                 "vmin": lo, "vmax": hi, "delta": delta}
            )
            row = {k: d.quantile(q) for k, q in QUANTILES.items()}
            out[str(g)] = _rank_report(facts.values(i), row)
        return out


WORKLOADS = {w.name: w for w in (GroupedSkew, StreamUpsert)}

