"""Streaming t-digest — the reference's on-line accumulator
("on-line accumulation", tdigest.cabal:4; ``insert`` =
``Tree/Internal.hs:452-457``) re-expressed in Structured Streaming.

Three shapes:

* :func:`stateful_digest_stream` — ``applyInPandasWithState``: one
  t-digest per group key held in stream state, updated vectorized per
  micro-batch (the digest IS the state — O(delta) bytes per key, so
  state store size is bounded regardless of stream length). Emits
  updated rank stats per key per batch.

* :func:`windowed_digest_stream` — event-time tumbling windows with
  watermark eviction; with ``emit="digest"`` it emits the mergeable
  digest struct per finalized window, which composes into STREAMING
  SLIDING windows: pane-sized tumbling windows in the stream (each row
  touched once, bounded state), sliding windows derived from the pane
  digests by associative merge (``digest_agg.panes_to_sliding``).

* :func:`digest_sink` — ``foreachBatch`` merging each micro-batch's
  partial digests into a checkpoint parquet table via the same
  associative merge as the batch path (streaming query == incremental
  batch job; exactly-once per micro-batch via atomic snapshot-pointer
  commits that carry the last-merged batch id WITH the data). Each
  batch is one upsert plan — one shuffle, one Python stage — whose
  Python work is O(touched groups); the write is O(table).

Late data: both shapes compose with ``withWatermark`` upstream —
rows later than the watermark are dropped by Spark before they reach
the digest update (SQL-aggregate semantics; the digest itself is
order-insensitive within bound so no special handling is needed).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tdigest_spark.sketch.tdigest import TDigest
from tdigest_spark.streaming._batch import drain_batch

__all__ = [
    "stateful_digest_stream",
    "windowed_digest_stream",
    "digest_sink",
    "sketch_sink",
]

# state = flattened digest (arrays + scalars); GroupState rows are
# plain tuples in schema field order
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("means", T.ArrayType(T.DoubleType())),
        T.StructField("weights", T.ArrayType(T.DoubleType())),
        T.StructField("total_weight", T.DoubleType()),
        T.StructField("vmin", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
        T.StructField("delta", T.IntegerType()),
    ]
)


def stateful_digest_stream(
    stream: DataFrame,
    value_col: str,
    by: Sequence[str],
    delta: int = 200,
    quantiles: Sequence[float] = (0.5, 0.99),
) -> DataFrame:
    """Per-key continuously-updated digest over an unbounded stream.

    Output (update mode) per key per micro-batch:
    (by..., n_values, q_50, q_99, ... one col per requested quantile).
    """
    by = list(by)
    out_schema = T.StructType(
        [stream.schema[c] for c in by]
        + [T.StructField("n_values", T.LongType())]
        + [
            T.StructField(f"q_{str(q).replace('.', '_')}", T.DoubleType())
            for q in quantiles
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            means, weights, tw, vmin, vmax, d0 = state.get
            dig = TDigest.from_row(
                {
                    "means": list(means),
                    "weights": list(weights),
                    "total_weight": tw,
                    "vmin": vmin,
                    "vmax": vmax,
                    "delta": d0,
                }
            )
        else:
            dig = TDigest.empty(delta)
        for pdf in pdfs:
            dig = dig.add_values(pdf[value_col].to_numpy())
        dig = dig.compressed()
        state.update(
            (
                dig.means.tolist(),
                dig.weights.tolist(),
                float(dig.total_weight),
                float(dig.vmin),
                float(dig.vmax),
                int(dig.delta),
            )
        )
        row = {c: [k] for c, k in zip(by, key)}
        row["n_values"] = [int(dig.total_weight)]
        for q in quantiles:
            row[f"q_{str(q).replace('.', '_')}"] = [dig.quantile(q)]
        yield pd.DataFrame(row)

    return stream.groupBy(*by).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_digest_stream(
    stream: DataFrame,
    value_col: str,
    ts_col: str,
    by: Sequence[str] = (),
    window_duration: str = "7 days",
    watermark: str = "1 day",
    delta: int = 200,
    quantiles: Sequence[float] = (0.5, 0.99),
    emit: str = "stats",
) -> DataFrame:
    """Event-time tumbling-window digests with watermark-driven state
    eviction — the windowed/late-data shape SURVEY.md §8 lists as a
    round-1 gap.

    One digest per (window, key) lives in stream state; rows later than
    the watermark are dropped by Spark before the update. Each window's
    state carries an event-time timeout at ``window_end`` — once the
    watermark passes it, the window fires one last row with
    ``final=true`` and its state is EVICTED, so state-store size is
    O(active windows x keys x delta) regardless of stream length (the
    property that matters for an unbounded 100 TB/day ingest).

    ``emit``: ``"stats"`` (default) outputs (window_start, window_end,
    by..., n_values, q_*..., final); ``"digest"`` outputs the DIGEST
    STRUCT itself instead of the quantile columns — the mergeable form.
    Emitting digests is how STREAMING SLIDING windows work at scale:
    run this with ``window_duration`` = one PANE (gcd(window, slide)),
    sink the ``final=true`` pane digests to a table, and derive every
    sliding window by associative merge with
    ``operators.digest_agg.panes_to_sliding`` — the stream holds
    O(active panes x keys) state and touches each row once, while the
    window/slide fan-out happens on O(delta)-sized digests at read
    time (late data within the watermark lands in its pane before the
    pane finalizes).
    """
    if emit not in ("stats", "digest"):
        raise ValueError(f"windowed_digest_stream: unknown emit mode {emit!r}")
    from tdigest_spark.operators.digest_agg import DIGEST_TYPE

    by = list(by)
    src = stream.withWatermark(ts_col, watermark)
    # the window struct carries the watermark tag — it must survive to
    # the stateful operator as the grouping column (extracting
    # start/end here would strip the tag and break event-time timeout)
    keyed = src.select(
        F.window(ts_col, window_duration).alias("__w"),
        *by,
        F.col(value_col).cast("double").alias(value_col),
    )
    if emit == "digest":
        tail_fields = [T.StructField("digest", DIGEST_TYPE)]
    else:
        tail_fields = [T.StructField("n_values", T.LongType())] + [
            T.StructField(f"q_{str(q).replace('.', '_')}", T.DoubleType())
            for q in quantiles
        ]
    out_schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("window_end", T.TimestampType()),
        ]
        + [stream.schema[c] for c in by]
        + tail_fields
        + [T.StructField("final", T.BooleanType())]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        w = key[0]
        ws, we = w["start"], w["end"]
        group = key[1:]

        def emit_row(dig: TDigest, final: bool) -> pd.DataFrame:
            row = {"window_start": [ws], "window_end": [we]}
            for c, k in zip(by, group):
                row[c] = [k]
            if emit == "digest":
                row["digest"] = [dig.to_row()]
            else:
                row["n_values"] = [int(dig.total_weight)]
                for q in quantiles:
                    row[f"q_{str(q).replace('.', '_')}"] = [dig.quantile(q)]
            row["final"] = [final]
            return pd.DataFrame(row)

        if state.hasTimedOut:
            # watermark passed window end: fire final result, evict
            means, weights, tw, vmin, vmax, d0 = state.get
            dig = TDigest.from_row(
                {
                    "means": list(means), "weights": list(weights),
                    "total_weight": tw, "vmin": vmin, "vmax": vmax, "delta": d0,
                }
            )
            state.remove()
            yield emit_row(dig, final=True)
            return
        if state.exists:
            means, weights, tw, vmin, vmax, d0 = state.get
            dig = TDigest.from_row(
                {
                    "means": list(means), "weights": list(weights),
                    "total_weight": tw, "vmin": vmin, "vmax": vmax, "delta": d0,
                }
            )
        else:
            dig = TDigest.empty(delta)
        for pdf in pdfs:
            dig = dig.add_values(pdf[value_col].to_numpy())
        dig = dig.compressed()
        state.update(
            (
                dig.means.tolist(), dig.weights.tolist(),
                float(dig.total_weight), float(dig.vmin), float(dig.vmax),
                int(dig.delta),
            )
        )
        # evict when the watermark passes the end of this window; key
        # timestamps are naive UTC wall time (session tz is UTC), and
        # the timeout must lie strictly past the current watermark
        we_ms = int(pd.Timestamp(we).tz_localize("UTC").timestamp() * 1000)
        state.setTimeoutTimestamp(max(we_ms, state.getCurrentWatermarkMs() + 1))
        yield emit_row(dig, final=False)

    return keyed.groupBy("__w", *by).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def digest_sink(
    stream: DataFrame,
    value_col: str,
    by: Sequence[str],
    table_dir: str,
    checkpoint_dir: str,
    delta: int = 200,
):
    """foreachBatch sink: merge each micro-batch into a digest parquet
    table with SNAPSHOT-POINTER commits (a one-symlink Iceberg-style
    table): each batch writes a fresh snapshot directory containing the
    merged parquet AND a ``_meta.json`` recording the batch id (Spark
    readers skip ``_``-prefixed files), then atomically repoints
    ``table_dir`` — a symlink — at it via ``os.replace``. Data and the
    last-merged-batch marker therefore commit in ONE atomic step: a
    crash at any point leaves either the old snapshot (replay re-merges
    — correct) or the new one (replay is skipped — correct); the
    round-1 double-merge window between table overwrite and sidecar
    write is gone. ``spark.read.parquet(table_dir)`` keeps working
    (the symlink resolves transparently).

    A missing table is detected explicitly via the pointer, never by
    swallowing read errors (a transient read failure must fail the
    batch, not silently reset history). Each commit keeps the current
    snapshot plus its predecessor and prunes anything older — a reader
    that resolved the pointer just before a commit finishes its scan on
    the grace generation; it is deleted one commit later, never under a
    live reader.

    Per batch, one plan (:func:`_upsert`): the batch's partial digests
    and the stored rows are exchanged once by key; untouched groups
    pass through byte-identical without entering Python, and each
    touched group is merged in one ``mapInPandas`` stage, giving the
    digest ``tdigest_merge_agg(stored ∪ tdigest_agg(batch))`` would.
    Python work is O(touched groups); the write is O(table). The first
    batch is ``tdigest_agg`` of the batch alone.

    Scope: the pointer lives on the driver-local filesystem (or NFS
    shared with it), the deployment shape of a foreachBatch driver
    callback; for object-storage tables use the Iceberg path in
    ``sources.catalog``, whose commit protocol does this natively.
    Returns the StreamingQuery."""
    from tdigest_spark.operators.digest_agg import tdigest_agg

    by = list(by)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last = _last_committed_batch(table_dir)
        if last is not None and batch_id <= last:
            drain_batch(batch_df)  # replayed batch: already merged
            return
        if last is None:
            merged = tdigest_agg(batch_df, value_col, by=by, delta=delta)
        else:
            merged = _upsert(
                spark.read.parquet(table_dir), batch_df, value_col, by, delta
            )
        _commit_snapshot(merged, table_dir, batch_id)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_IS_NEW = "__is_new"
_TOUCHED = "__touched"


def _upsert(
    old: DataFrame, batch_df: DataFrame, value_col: str, by: list, delta: int
) -> DataFrame:
    """``old`` (a stored ``by..., digest`` table) with ``batch_df``
    merged in, as ONE plan: the batch's partial digests (stage 1 of
    ``tdigest_agg``) are unioned with the stored rows and exchanged
    once by key; a window ``max(is_new)`` per key marks the groups the
    batch touches. Untouched rows never enter Python and pass through
    byte-identical. Touched rows go through one ``mapInPandas`` that,
    per group, rebuilds the batch digest as ``tdigest_agg`` would,
    merges it with the stored digest and compresses once: the chain
    ``tdigest_merge_agg(touched ∪ tdigest_agg(batch))`` in one stage.
    NULL keys group as one key (window partitioning is null-safe)."""
    from pyspark.sql import Window

    from tdigest_spark.operators.digest_agg import (
        DIGEST_TYPE,
        _merge_rows,
        _partial_digests,
        canon_key,
    )
    from tdigest_spark.sketch.tdigest import k1_cluster_merge

    col = "digest"
    new = _partial_digests(batch_df, value_col, by, delta, digest_col=col)
    rows = (
        old.select(*by, col)
        .withColumn(_IS_NEW, F.lit(False))
        .unionByName(new.withColumn(_IS_NEW, F.lit(True)))
        .withColumn(_TOUCHED, F.max(_IS_NEW).over(Window.partitionBy(*by)))
    )
    out_schema = T.StructType(
        [old.schema[c] for c in by] + [T.StructField(col, DIGEST_TYPE, True)]
    )

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # key -> (stored rows, batch partial rows)
        accs: dict[tuple, tuple[list, list]] = {}
        for pdf in batches:
            groups = pdf.groupby(by, sort=False, dropna=False) if by else [((), pdf)]
            for key, g in groups:
                key = canon_key(key if isinstance(key, tuple) else (key,))
                stored, parts = accs.setdefault(key, ([], []))
                for r, is_new in zip(g[col], g[_IS_NEW]):
                    (parts if is_new else stored).append(r)
        if not accs:
            return
        data: dict[str, list] = {c: [] for c in by}
        data[col] = []
        for key, (stored, parts) in accs.items():
            # the batch digest as tdigest_agg stores it: the SQL k1
            # merge when grouped, the greedy final reduce when keyless
            # (via its row form, as stored: from_row resets the
            # compression direction the final merge alternates from)
            if by:
                batch = k1_cluster_merge([TDigest.from_row(r) for r in parts], delta)
            else:
                batch = TDigest.from_row(_merge_rows(parts))
            for c, k in zip(by, key):
                data[c].append(k)
            digests = [TDigest.from_row(r) for r in stored] + [batch]
            data[col].append(TDigest.merge_all(digests).compressed().to_row())
        yield pd.DataFrame(data)

    touched = (
        rows.where(F.col(_TOUCHED))
        .select(*by, col, _IS_NEW)
        .mapInPandas(merge, out_schema)
    )
    return rows.where(~F.col(_TOUCHED)).select(*by, col).unionByName(touched)


def _split_touched(old: DataFrame, keys_df: DataFrame, by: Sequence[str]):
    """(touched, untouched) split of ``old`` by membership of its key
    tuple in ``keys_df`` — NULL-SAFE: a plain ``join(keys, by)`` uses
    NULL-unequal semantics, so a NULL-keyed group would never match
    the semi side and a duplicate row would be appended on every
    batch (one row per ingest instead of one per group).

    The key side is re-aliased to fresh names first: when ``keys_df``
    derives from the same plan as ``old`` (e.g. a filter split of one
    table), same-name refs would resolve to the SAME attribute —
    trivially-true predicates at best, AnalysisException at worst."""
    keys_df = keys_df.select([keys_df[c].alias(f"_k_{c}") for c in by])
    cond = None
    for c in by:
        eq = old[c].eqNullSafe(keys_df[f"_k_{c}"])
        cond = eq if cond is None else (cond & eq)
    return (
        old.join(keys_df, cond, "left_semi"),
        old.join(keys_df, cond, "left_anti"),
    )


def _last_committed_batch(table_dir: str) -> int | None:
    """Resolve the snapshot pointer: the last-merged batch id, or None
    if the table doesn't exist yet. A missing table is detected
    explicitly via the pointer, never by swallowing read errors."""
    import json
    import os

    if os.path.lexists(table_dir) and not os.path.islink(table_dir):
        raise ValueError(
            f"snapshot sink: {table_dir!r} exists as a plain directory "
            "(pre-snapshot-pointer layout); move it aside or start a "
            "new table_dir"
        )
    if not os.path.lexists(table_dir):
        return None
    with open(os.path.join(table_dir, "_meta.json")) as f:
        return json.load(f)["last_batch"]


def _parse_snap(name: str) -> tuple[int, int] | None:
    """Snapshot dir name -> (batch_id, rev); ``v7`` -> (7, 0),
    ``v7.2`` -> (7, 2); None for anything else."""
    if not name.startswith("v"):
        return None
    id_s, _, rev_s = name[1:].partition(".")
    if not id_s.isdigit() or (rev_s and not rev_s.isdigit()):
        return None
    return (int(id_s), int(rev_s or 0))


def _snap_name(batch_id: int, rev: int) -> str:
    return f"v{batch_id}" if rev == 0 else f"v{batch_id}.{rev}"


def _current_snapshot_rev(table_dir: str) -> int:
    """Revision of the snapshot the pointer currently resolves to
    (0 for a plain ``v{id}`` dir)."""
    import os

    parsed = _parse_snap(os.path.basename(os.readlink(table_dir)))
    if parsed is None:  # pragma: no cover - foreign symlink target
        raise ValueError(f"{table_dir!r} does not point at a snapshot dir")
    return parsed[1]


def _commit_snapshot(
    merged: DataFrame, table_dir: str, batch_id: int, rev: int = 0
) -> None:
    """Write ``merged`` as snapshot ``v{batch_id}`` and atomically
    repoint ``table_dir`` (a symlink) at it — data and the
    last-merged-batch marker commit in ONE step (the protocol described
    in :func:`digest_sink`'s docstring). Keeps the predecessor snapshot
    for readers mid-scan and prunes anything older.

    ``rev`` > 0 commits a REVISION of an existing batch id
    (``v{batch_id}.{rev}``) — same marker, fresh directory. Used by
    maintenance passes that must not consume a batch id (hypertable
    downsample with ``bump_id=False``): writing under a NEW path keeps
    the plan's lazy reads of the current snapshot valid (overwriting
    ``v{batch_id}`` in place would delete the very files the merge job
    is still scanning through the symlink) and keeps the commit atomic."""
    import json
    import os
    import shutil

    snap_root = f"{table_dir}.snapshots"
    snap = os.path.join(snap_root, _snap_name(batch_id, rev))
    merged.write.mode("overwrite").parquet(snap)
    with open(os.path.join(snap, "_meta.json"), "w") as f:
        json.dump({"last_batch": batch_id}, f)
    # the commit point: one atomic pointer swap (data + marker)
    tmplink = f"{table_dir}.lnk.tmp"
    if os.path.lexists(tmplink):
        os.remove(tmplink)
    os.symlink(os.path.abspath(snap), tmplink)
    os.replace(tmplink, table_dir)
    # prune all but the current snapshot AND its predecessor: a
    # reader that resolved the pointer just before this commit may
    # still be scanning the previous snapshot — it is deleted one
    # commit later, never under a live reader
    gens = sorted(
        (p, s) for s in os.listdir(snap_root)
        if (p := _parse_snap(s)) is not None
    )
    for _, old in gens[:-2]:
        shutil.rmtree(os.path.join(snap_root, old), ignore_errors=True)


def sketch_sink(
    stream: DataFrame,
    specs: dict[str, tuple],
    by: Sequence[str],
    table_dir: str,
    checkpoint_dir: str,
    strategy: str = "partials",
):
    """foreachBatch sink for the COMPANION sketches — the
    HLL / CMS / KLL / Bloom (and any other registered kind, incl.
    "kmv" samples and blob-form "td" digests) counterpart of
    :func:`digest_sink`, so every sketch family the north rule names
    accumulates incrementally and resumably, not just the t-digest. Each micro-batch builds its
    sketches in one pass (``sketch_build``; ``specs`` maps output
    column -> ``(kind, value_col, *params)``) and merges them into a
    checkpoint parquet table of binary blobs (``sketch_merge_agg``)
    under the same atomic snapshot-pointer commit protocol as
    :func:`digest_sink` — exactly-once per micro-batch, crash-safe
    replay, readable at any time via ``spark.read.parquet(table_dir)``.

    Accuracy: HLL (register max), CMS (counter add) and Bloom (bit OR)
    merges are exactly chunking-invariant, so the streamed table equals
    the batch build over the same rows bit-for-bit; KLL matches exactly
    while lossless (n within capacity) and stays inside its published
    rank bound beyond. Returns the StreamingQuery."""
    from tdigest_spark.operators.sketch_agg import (
        _norm_specs,
        sketch_build,
        sketch_merge_agg,
    )

    by = list(by)
    specs = dict(specs)
    # validate + derive blob-column kinds up front (fail at sink
    # construction, not mid-stream); sketch_build normalizes again
    kinds = {name: sp[0] for name, sp in _norm_specs(specs).items()}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last = _last_committed_batch(table_dir)
        if last is not None and batch_id <= last:
            drain_batch(batch_df)  # replayed batch: already merged
            return
        new = sketch_build(batch_df, specs, by=by, strategy=strategy)
        if last is not None and by:
            # incremental-view maintenance: only groups PRESENT in this
            # micro-batch go through the Python merge stage; every
            # other group's blobs pass through untouched (no
            # deserialize/merge/reserialize) — at 1e5+ groups with
            # sparse batches the per-batch work is O(touched groups),
            # not O(all groups). localCheckpoint: `new` feeds both the
            # key set and the merge (one Python build, not two).
            new = new.localCheckpoint(eager=True)
            old = spark.read.parquet(table_dir)
            keys = new.select(*by).distinct()
            touched, untouched = _split_touched(old, keys, by)
            merged = sketch_merge_agg(
                touched.unionByName(new), kinds, by=by, strategy=strategy
            ).unionByName(untouched)
        elif last is not None:
            old = spark.read.parquet(table_dir)
            merged = sketch_merge_agg(
                old.unionByName(new), kinds, by=by, strategy=strategy
            )
        else:
            merged = new
        _commit_snapshot(merged, table_dir, batch_id)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
