"""In-process replay of the ``sketch.tdigest`` kernel, without Spark.

Builds digests from the same seeded batches Spark ships to a Python
worker (``spark.sql.execution.arrow.maxRecordsPerBatch`` = 65 536 rows
in ``session.py``), then times each kernel call the UDFs make. Every
figure is the median over repeats.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

BATCH_ROWS = 65_536
BATCHES = 8
DELTA = 200
# calls per timing for the microsecond-scale conversions and queries
MICRO_CALLS = 200


def _median_time(fn, repeats: int, inner: int = 1) -> float:
    """Median over ``repeats`` of the mean time of ``inner`` calls."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for _ in range(inner):
            fn()
        times.append((time.perf_counter() - t0) / inner)
    return statistics.median(times)


def replay(seed: int, repeats: int = 5) -> dict:
    from tdigest_spark.sketch.tdigest import TDigest

    rng = np.random.default_rng([seed, 99])
    batches = [rng.lognormal(0.0, 1.5, BATCH_ROWS) for _ in range(BATCHES)]
    digests = [TDigest.from_values(b, DELTA) for b in batches]

    def merge_chain():
        acc = digests[0]
        for d in digests[1:]:
            acc = acc.merge(d)
        return acc

    merged = merge_chain()
    shipped = merged.ship_compressed()
    row = shipped.to_row()
    qs = np.array([0.5, 0.99, 0.999])
    build = _median_time(lambda: [TDigest.from_values(b, DELTA) for b in batches], repeats)
    return {
        "kernel.from_values_s_per_mval": build / (BATCHES * BATCH_ROWS / 1e6),
        "kernel.merge_s_per_call": _median_time(merge_chain, repeats) / (BATCHES - 1),
        "kernel.ship_compressed_s_per_call": _median_time(merged.ship_compressed, repeats),
        "kernel.compressed_s_per_call": _median_time(merged.compressed, repeats),
        "kernel.to_row_s_per_call": _median_time(shipped.to_row, repeats, MICRO_CALLS),
        "kernel.from_row_s_per_call": _median_time(lambda: TDigest.from_row(row), repeats, MICRO_CALLS),
        "kernel.quantiles_s_per_call": _median_time(lambda: shipped.quantiles(qs), repeats, MICRO_CALLS),
    }
