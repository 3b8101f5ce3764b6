"""Traced runs: layer spans from wrapped entry points, plus per-layer
executor time, shuffle and spill read back from a Spark event log.

The tracer wraps the apply pipeline's layer entry points from the
outside (no library change):

* ``pipeline.apply`` — ``IngestPipeline.apply_frames``
* ``decode`` — ``decode_typed_changes``, materialized into the
  pipeline's own persist so the frame scan + decode is timed apart
  from the summary that would otherwise trigger it
* ``summary`` — ``batch_summary_typed``
* ``fold`` — ``fold_changes``, persisted and materialized so the fold
  shuffle is timed apart from the store's bucket stats
* ``store.merge`` / ``store.merge_mor`` — split into ``store.stats``
  (the bucket-stats ``collect()``), ``store.write`` (the parquet
  write) and ``store.commit`` (the rest of the merge wall: target
  read planning, manifest, fsync and rename)
* ``pipeline.pending`` — the pending-tail parquet write of
  ``apply_frames``
* ``store.compact`` — ``SnapshotStore.compact``

Spans are kept in memory as (name, start, end, parent, batch_id) and
written out at the end.  Every span sets its name as the Spark job
group, so each job in the event log is attributed to the innermost
open span.  The materializations above add Spark jobs, which is part
of the measured tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# job groups whose executor metrics are reported per layer
EVENTLOG_LAYERS = (
    "decode", "summary", "fold", "store.stats", "store.write", "store.read",
)


class NullTracer:
    """Untraced runs: the same call sites, no work."""

    def span(self, name, batch_id=None):
        return contextlib.nullcontext()

    def active(self):
        return contextlib.nullcontext(self)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self._persisted: list = []

    # ------------------------------------------------------------ spans
    def _set_group(self, name):
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name, batch_id=None):
        parent = self._stack[-1] if self._stack else None
        if batch_id is None and parent is not None:
            batch_id = parent["batch_id"]
        rec = {
            "id": len(self.spans), "name": name,
            "start": time.perf_counter(), "end": None,
            "parent": parent["id"] if parent else None, "batch_id": batch_id,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent["name"] if parent else None)

    # ---------------------------------------------------------- patches
    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from pyspark.sql import functions as F

        import pg_pb3_ld_spark.pipeline as pl
        from pg_pb3_ld_spark.sinks.store import SnapshotStore

        c = self.counters

        def apply_frames(orig):
            def run(pipe, frames_df, batch_id=0, pending_out=None):
                with self.span("trace.probe", batch_id):
                    c["sources.frames_offered"] += frames_df.count()
                with self.span("pipeline.apply", batch_id):
                    try:
                        m = orig(pipe, frames_df, batch_id=batch_id,
                                 pending_out=pending_out)
                    finally:
                        for df in self._persisted:
                            df.unpersist()
                        self._persisted.clear()
                c["pipeline.pending_frames"] += m.get("pending_frames", 0)
                return m
            return run

        def decode(orig):
            def run(frames_df, schema, *a, **k):
                with self.span("decode"):
                    df = orig(frames_df, schema, *a, **k).persist()
                    rows, changes = df.agg(
                        F.count(F.lit(1)),
                        F.count_if(
                            (F.col("table_name") == schema.table)
                            & F.col("op").isin("INSERT", "UPDATE", "DELETE")
                        ),
                    ).collect()[0]
                c["decode.rows_out"] += rows
                c["decode.changes"] += changes
                return df
            return run

        def summary(orig):
            def run(*a, **k):
                with self.span("summary"):
                    s = orig(*a, **k)
                c["sources.frames_fresh"] += s.get("n_frames", 0)
                return s
            return run

        def fold(orig):
            def run(*a, **k):
                with self.span("fold"):
                    df = orig(*a, **k).persist()
                    n, ch = df.agg(
                        F.count(F.lit(1)), F.sum("n_changes")
                    ).collect()[0]
                self._persisted.append(df)
                c["fold.keys_out"] += n
                c["fold.rows_in"] += ch or 0
                return df
            return run

        def merge(orig):
            def run(store, *a, **k):
                with self.span("store.merge"):
                    m = orig(store, *a, **k)
                c["store.buckets_rewritten"] += m.get(
                    "buckets_rewritten", m.get("buckets_delta", 0)
                )
                c["store.applied_keys"] += m.get("applied_keys", 0)
                c["store.deltas_outstanding"] = max(
                    c["store.deltas_outstanding"],
                    sum(store.delta_state().values()),
                )
                c["store.rows_written"] += m.get(
                    "rows_written", m.get("applied_keys", 0)
                )
                return m
            return run

        # Inside a merge, the bucket-stats collect() and the parquet
        # write are the merge's two Spark actions; a parquet write
        # directly inside apply_frames is the pending-tail write.
        def inner(orig, names):
            def run(obj, *a, **k):
                top = self._stack[-1]["name"] if self._stack else None
                if top not in names:
                    return orig(obj, *a, **k)
                with self.span(names[top]):
                    return orig(obj, *a, **k)
            return run

        def compact(orig):
            def run(*a, **k):
                with self.span("store.compact"):
                    return orig(*a, **k)
            return run

        self._patch(pl.IngestPipeline, "apply_frames", apply_frames)
        self._patch(pl, "decode_typed_changes", decode)
        self._patch(pl, "batch_summary_typed", summary)
        self._patch(pl, "fold_changes", fold)
        self._patch(SnapshotStore, "merge", merge)
        self._patch(SnapshotStore, "merge_mor", merge)
        self._patch(SnapshotStore, "compact", compact)
        probe = self.spark.range(1)
        self._patch(type(probe), "collect",
                    lambda o: inner(o, {"store.merge": "store.stats"}))
        self._patch(type(probe.write), "parquet", lambda o: inner(
            o, {"store.merge": "store.write",
                "pipeline.apply": "pipeline.pending"}))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    @contextlib.contextmanager
    def active(self):
        """Entry points wrapped for the duration of the block."""
        self.install()
        try:
            yield self
        finally:
            self.uninstall()

    # ---------------------------------------------------------- reports
    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's children subtracted."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def coverage(self, batch_ids) -> float:
        """Share of the selected batches' apply wall inside named
        layer spans."""
        applies = {
            s["id"]: s["end"] - s["start"] for s in self.spans
            if s["name"] == "pipeline.apply" and s["batch_id"] in batch_ids
        }
        inside = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] in applies
        )
        total = sum(applies.values())
        return inside / total if total else 0.0

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        """(value, unit) per layer metric.  ``fold.rows_in`` is the
        sum of the folded keys' change counts; the rows held back by
        the commit gate are the decoded change rows minus those."""
        st = self.self_times()
        c = self.counters
        apply_s = self.wall("pipeline.apply")
        unattributed = st.get("pipeline.apply", 0.0)
        offered = c["sources.frames_offered"]
        keys = c["fold.keys_out"]
        applied = c["store.applied_keys"]
        return {
            "decode.s": (st.get("decode", 0.0), "s"),
            "decode.rows_out": (c["decode.rows_out"], "count"),
            "summary.s": (st.get("summary", 0.0), "s"),
            "gate.rows_held_back": (
                c["decode.changes"] - c["fold.rows_in"], "count"
            ),
            "sources.frames_offered": (offered, "count"),
            "sources.fresh_frame_ratio": (
                c["sources.frames_fresh"] / offered if offered else 0.0, "frac"
            ),
            "fold.s": (st.get("fold", 0.0), "s"),
            "fold.rows_in": (c["fold.rows_in"], "count"),
            "fold.keys_out": (keys, "count"),
            "fold.changes_per_key": (
                c["fold.rows_in"] / keys if keys else 0.0, "ratio"
            ),
            "store.stats_s": (st.get("store.stats", 0.0), "s"),
            "store.write_s": (st.get("store.write", 0.0), "s"),
            "store.commit_s": (st.get("store.merge", 0.0), "s"),
            "store.buckets_rewritten": (c["store.buckets_rewritten"], "count"),
            "store.rows_written_per_applied_key": (
                c["store.rows_written"] / applied if applied else 0.0, "ratio"
            ),
            "store.compact_s": (st.get("store.compact", 0.0), "s"),
            "store.deltas_outstanding": (c["store.deltas_outstanding"], "count"),
            "store.read_s": (st.get("store.read", 0.0), "s"),
            "pipeline.apply_s": (apply_s, "s"),
            "pipeline.unattributed_s": (unattributed, "s"),
            "pipeline.layer_coverage": (
                1.0 - unattributed / apply_s if apply_s else 0.0, "frac"
            ),
            "pipeline.pending_s": (st.get("pipeline.pending", 0.0), "s"),
            "pipeline.pending_frames": (c["pipeline.pending_frames"], "count"),
        }

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {**s, "start": s["start"] - t0, "end": s["end"] - t0}
                    for s in self.spans
                ],
                f,
            )


def eventlog_layers(log_dir: str) -> dict[str, dict]:
    """Per job group: executor seconds, shuffle MB written, MB spilled
    (memory + disk) and task count, summed over every task in the
    event logs under ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"executor_s": 0.0, "shuffle_write_mb": 0.0,
                 "spill_mb": 0.0, "tasks": 0}
    )
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g or "untagged"
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    acc = out[stage_group.get(ev["Stage ID"], "untagged")]
                    acc["executor_s"] += tm.get("Executor Run Time", 0) / 1e3
                    acc["shuffle_write_mb"] += (
                        tm.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0) / 1e6
                    )
                    acc["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    acc["tasks"] += 1
    return dict(out)
