#!/usr/bin/env python3
"""CDC apply-engine benchmark: one workload, one seed, one run.

    python3 cdcbench/run.py --workload cdc_lifecycle --seed 1 --seconds 5 --trace 0

Run from the repository root.  The last stdout line is the result
object (``correct``, ``attempted``, ``failed``, ``metrics``); the line
before it is a ``detail`` object with the host-noise stamp, the raw
samples and every layer figure.  ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones.  See cdcbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# inputs, stores, event logs and Spark scratch live under a directory
# the repository already ignores
WORK = os.path.join(ROOT, "BENCH", "cache", "cdcbench")
REQUIRED = ("pg_pb3_ld_spark", "bench.py", "__spark_entry__.py",
            os.path.join("BENCH", "check_correctness.py"))

NUM_BUCKETS = 8
# the library default heap (8g) is sized for large hosts; this
# benchmark's inputs fit well inside 3g
HEAP = "3g"
YOUNG_GEN = "768m"
QUERIES = ("doc_neardup_clusters", "emb_neardup_clusters",
           "doc_incremental_neardup", "doc_novelty")


def engine_config():
    from pg_pb3_ld_spark.config import EngineConfig

    return EngineConfig(
        type_oids_mode="omit_nulls", formats_mode="disabled",
        binary_oid_ranges="20-23,1184",
    )


def start_session(cpus: int, eventlog_dir: str | None):
    """The library's session builder at ``local[cpus]``, with Spark's
    scratch space kept inside the work directory."""
    from pg_pb3_ld_spark.session import build_session

    tmp = os.path.join(WORK, "tmp")
    # every JVM (spark-submit's launcher too) keeps its temp files
    # in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    local = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local   # overrides spark.local.dir
    conf = {
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
    }
    # G1 sizes the heap and the young generation by its pause-time
    # goal, so the touched heap (and the driver's memory) swung by
    # 600 MB between identical runs.  A committed heap and a fixed
    # young generation leave the old generation's high-water, which
    # follows the live data, as the part that varies.
    conf["spark.driver.extraJavaOptions"] = f"-Xms{HEAP} -Xmn{YOUNG_GEN}"
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    isdir = os.path.isdir
    # build_session would otherwise point spark.local.dir at /dev/shm
    with mock.patch("os.path.isdir", lambda p: p != "/dev/shm" and isdir(p)):
        spark = build_session(
            app_name="cdcbench", master=f"local[{cpus}]", extra_conf=conf
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it
    started have exited."""
    from pyspark import SparkContext

    from cdcbench.hoststamp import descendants, running

    children = [p for p in descendants() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()     # the gateway exits on EOF
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(map(running, children)):
        time.sleep(0.1)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples above
    it (nearest rank); the maximum when there are fewer than twenty
    samples.  Returns (value, percentile)."""
    xs = sorted(samples)
    n = len(xs)
    pct = 100 if n < 20 else math.floor(100 * (1 - 10 / n))
    rank = max(1, math.ceil(pct / 100 * n))
    return xs[rank - 1], pct


class Recorder:
    """Timed samples and op/failure counts of one run."""

    def __init__(self):
        self.batches: list[float] = []
        self.reads: list[float] = []
        self.units: list[dict] = []   # one per round/pass
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self) -> None:
        self.attempted += 1

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.append(f"{what}: {problems}")


def timed_read(store, rec: Recorder, tracer):
    """Full-table read into the driver (Arrow), one read sample."""
    with tracer.span("store.read"):
        t0 = time.perf_counter()
        tbl = store.read_table().toArrow()
        rec.reads.append(time.perf_counter() - t0)
    rec.op()
    return tbl


def check_snapshot(rec: Recorder, what: str, rows: list, gate) -> None:
    """The oracle gate on ``rows``, and the negative self-test: the
    same rows with one dropped must fail it."""
    from cdcbench import gates

    rec.check(what, gate(rows))
    rec.check("negative self-test: one dropped row fails the gate",
              [] if gates.gate_sees_dropped_row(rows, gate)
              else ["gate passed a snapshot with a row dropped"])


def check_no_pending(rec: Recorder, m: dict) -> None:
    n = m["pending_frames"]
    rec.check("pending tail empty at end of stream", [f"{n} frames"] if n else [])


# --------------------------------------------------------------- CDC
class CdcLifecycle:
    """COW backfill as prefix re-offers, then MoR micro-batches that
    carry the pending tail forward, with auto-compaction and a full
    read after every commit."""

    name = "cdc_lifecycle"
    min_units = 1
    setup_parts: dict = {}
    COW_SHARE = 0.6      # frames applied by the COW backfill
    COW_BATCHES = 2      # prefix batches (each re-offers the earlier frames)
    MOR_BATCHES = 3      # contiguous micro-batches over the rest
    COMPACT_MIN_DELTAS = 2

    def prepare(self, seed: int) -> None:
        from cdcbench.workloads import cdc_input, load_oracle

        self.meta = cdc_input(WORK, seed)
        self.oracle = load_oracle(self.meta)

    @staticmethod
    def schema():
        from pg_pb3_ld_spark.schema import transcripts_schema

        return transcripts_schema()

    def _store(self, spark, path):
        from pg_pb3_ld_spark.sinks.store import SnapshotStore

        shutil.rmtree(path, ignore_errors=True)
        return SnapshotStore.create(
            spark, path, self.schema(), num_buckets=NUM_BUCKETS
        )

    def warm(self, spark, rec, tracer) -> None:
        """A shortened round on a throwaway store, with batches the
        size of the round's own (so the plans, and the sizes that
        steer adaptive execution, match): the first COW prefix batch,
        one MoR micro-batch with compaction, and a MoR read."""
        from pyspark.sql import functions as F

        from pg_pb3_ld_spark.pipeline import IngestPipeline

        n = self.meta["n_frames"]
        cut = int(n * self.COW_SHARE)
        frames = spark.read.parquet(os.path.join(self.meta["dir"], "frames"))
        store = self._store(spark, os.path.join(self.tmp, "warm"))
        IngestPipeline(spark, store, engine_config()).apply_frames(
            frames.where(F.col("frame_seq") < cut // self.COW_BATCHES),
            batch_id=1,
        )
        hi = cut // self.COW_BATCHES + (n - cut) // self.MOR_BATCHES
        IngestPipeline(
            spark, store, engine_config(), apply_mode="mor",
            compact_min_deltas=1,
        ).apply_frames(frames.where(F.col("frame_seq") < hi), batch_id=2)
        store.read_table().toArrow()

    def trace_checks(self, tracer, rec) -> None:
        cov = tracer.coverage(range(1, self.COW_BATCHES + 1))
        rec.check("layer spans cover >= 90% of the COW apply wall",
                  [] if cov >= 0.9 else [f"coverage {cov:.3f}"])

    def unit(self, spark, rnd: int, rec: Recorder, tracer) -> dict:
        from pyspark.sql import functions as F

        from cdcbench import gates
        from pg_pb3_ld_spark.pipeline import IngestPipeline

        n = self.meta["n_frames"]
        cut = int(n * self.COW_SHARE)
        frames = spark.read.parquet(os.path.join(self.meta["dir"], "frames"))
        path = os.path.join(self.tmp, f"round{rnd}")
        store = self._store(spark, path)
        applied = 0.0

        def apply(pipe, df, batch_id, pending_out):
            nonlocal applied
            t0 = time.perf_counter()
            m = pipe.apply_frames(df, batch_id=batch_id, pending_out=pending_out)
            dt = time.perf_counter() - t0
            rec.op()
            rec.batches.append(dt)
            applied += dt
            return m

        pend_dir = os.path.join(self.tmp, f"pending{rnd}_")
        cow = IngestPipeline(spark, store, engine_config())
        for b in range(1, self.COW_BATCHES + 1):
            hi = cut * b // self.COW_BATCHES
            last = b == self.COW_BATCHES
            m = apply(cow, frames.where(F.col("frame_seq") < hi), b,
                      f"{pend_dir}{b}" if last else None)
        pending = f"{pend_dir}{self.COW_BATCHES}" if m["pending_frames"] else None

        mor = IngestPipeline(
            spark, store, engine_config(), apply_mode="mor",
            compact_min_deltas=self.COMPACT_MIN_DELTAS,
        )
        lo = cut
        for j in range(1, self.MOR_BATCHES + 1):
            b = self.COW_BATCHES + j
            hi = cut + (n - cut) * j // self.MOR_BATCHES
            df = frames.where(
                (F.col("frame_seq") >= lo) & (F.col("frame_seq") < hi)
            )
            if pending:
                df = spark.read.parquet(pending).unionByName(df)
            m = apply(mor, df, b, f"{pend_dir}{b}")
            pending = f"{pend_dir}{b}" if m["pending_frames"] else None
            lo = hi
            timed_read(store, rec, tracer)
        check_no_pending(rec, m)
        # maintenance compaction of whatever is still outstanding
        rec.op()
        store.compact(min_deltas=1)
        check_snapshot(
            rec, "snapshot == generator oracle",
            timed_read(store, rec, tracer).to_pylist(),
            lambda rows: gates.transcripts_gate(rows, self.oracle),
        )
        v = store.verify()
        rec.check("store.verify", [] if v["ok"] else v["findings"][:5])
        return {
            "events": self.meta["n_changes"], "wall": applied,
            "store_bytes": dir_bytes(path),
            "wire_bytes": self.meta["wire_bytes"],
        }


# ------------------------------------------------------------ queries
class DedupQueries:
    """Four near-dup / novelty driver queries over a seeded corpus
    that is first landed through the CDC pipeline (one COW batch)."""

    name = "dedup_queries"
    # one query pass is short enough that a single slow or fast pass
    # swung whole runs by 25%; two passes halve that
    min_units = 2

    @staticmethod
    def schema():
        from cdcbench.workloads import documents_schema

        return documents_schema()

    def prepare(self, seed: int) -> None:
        from cdcbench.workloads import dedup_input, load_documents

        self.meta = dedup_input(WORK, seed)
        self.docs = load_documents(self.meta)

    def _land(self, spark, rec, tracer) -> str:
        """Apply the corpus frames to a documents store and publish
        the snapshot as the queries' ``documents.parquet``."""
        import pyarrow.parquet as pq

        from cdcbench import gates
        from pg_pb3_ld_spark.pipeline import IngestPipeline
        from pg_pb3_ld_spark.sinks.store import SnapshotStore

        store_dir = os.path.join(self.tmp, "documents_store")
        corpus = os.path.join(self.tmp, "corpus")
        os.makedirs(corpus, exist_ok=True)
        store = SnapshotStore.create(
            spark, store_dir, self.schema(), num_buckets=NUM_BUCKETS
        )
        frames = spark.read.parquet(os.path.join(self.meta["dir"], "frames"))
        m = IngestPipeline(spark, store, engine_config()).apply_frames(
            frames, batch_id=1, pending_out=os.path.join(self.tmp, "pending")
        )
        rec.op()
        check_no_pending(rec, m)
        rec.op()
        store.compact(min_deltas=1)
        tbl = timed_read(store, rec, tracer).sort_by("doc_id")
        check_snapshot(
            rec, "documents snapshot == generated corpus", tbl.to_pylist(),
            lambda rows: gates.documents_gate(rows, self.docs),
        )
        pq.write_table(tbl, os.path.join(corpus, "documents.parquet"))
        shutil.copy(os.path.join(self.meta["dir"], "embeddings.parquet"), corpus)
        self.store_bytes = dir_bytes(store_dir)
        return corpus

    def warm(self, spark, rec, tracer) -> None:
        """Land the corpus (traced in a traced run: it is this
        workload's only CDC work), then one query pass."""
        from cdcbench import gates
        from cdcbench.layertrace import NullTracer

        t0 = time.perf_counter()
        with tracer.active():
            self.corpus = self._land(spark, rec, tracer)
        t1 = time.perf_counter()
        self.expected = gates.duckdb_oracle(self.corpus, list(QUERIES))
        t2 = time.perf_counter()
        self._pass(spark, rec, NullTracer())
        self.setup_parts = {"landing_s": t1 - t0, "oracle_s": t2 - t1,
                            "warm_pass_s": time.perf_counter() - t2}

    def trace_checks(self, tracer, rec) -> None:
        pass

    def _pass(self, spark, rec: Recorder, tracer) -> float:
        import __spark_entry__ as entry

        from cdcbench import gates

        qs = entry.queries()
        total = 0.0
        for name in QUERIES:
            with tracer.span(f"query.{name}"):
                t0 = time.perf_counter()
                df = qs[name](spark, self.corpus)
                rows = df.collect()
                dt = time.perf_counter() - t0
            rec.op()
            rec.batches.append(dt)
            total += dt
            rec.check(f"{name} == DuckDB oracle",
                      gates.query_gate(rows, df.columns, self.expected[name]))
        return total

    def unit(self, spark, rnd: int, rec: Recorder, tracer) -> dict:
        wall = self._pass(spark, rec, tracer)
        return {
            "events": 3 * self.meta["n_docs"] + self.meta["n_vecs"],
            "wall": wall, "store_bytes": self.store_bytes,
            "wire_bytes": self.meta["wire_bytes"],
        }


WORKLOADS = {w.name: w for w in (CdcLifecycle, DedupQueries)}


# -------------------------------------------------------------- decode
def decode_mb_per_s(meta: dict, schema) -> float:
    """In-process ``decode_frame_typed`` over the workload's frames,
    in chunks of 1024 frames."""
    import pyarrow.parquet as pq

    from pg_pb3_ld_spark.pb3.decoder import decode_frame_typed

    tbl = pq.read_table(os.path.join(meta["dir"], "frames")).sort_by("frame_seq")
    cfg = engine_config()
    t0 = time.perf_counter()
    for s in range(0, tbl.num_rows, 1024):
        ch = tbl.slice(s, 1024)
        decode_frame_typed(
            ch.column("frame").combine_chunks(),
            ch.column("lsn").to_numpy(), ch.column("frame_seq").to_numpy(),
            schema, cfg,
        )
    return meta["wire_bytes"] / 1e6 / (time.perf_counter() - t0)


# ---------------------------------------------------------------- main
def measure(wl, spark, seconds: float, rec: Recorder, tracer) -> None:
    """Whole units until ``seconds`` have passed and at least the
    workload's ``min_units`` have run."""
    t_end = time.perf_counter() + seconds
    rnd = 0
    while rnd < wl.min_units or time.perf_counter() < t_end:
        rec.units.append(wl.unit(spark, rnd, rec, tracer))
        rnd += 1


def end_to_end(setup_s, rec: Recorder, mem_mb: float) -> tuple[dict, dict]:
    last = rec.units[-1]
    tail_v, tail_pct = tail(rec.batches)
    m = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (
            statistics.median(u["events"] / u["wall"] for u in rec.units), "1/s"
        ),
        "batch_p50_s": (statistics.median(rec.batches), "s"),
        "batch_tail_s": (tail_v, "s"),
        "peak_mem_mb": (mem_mb, "MB"),
        "bytes_written_per_wire_byte": (
            last["store_bytes"] / last["wire_bytes"], "B/B"
        ),
    }
    extra = {
        "batch_tail_pct": tail_pct, "batch_samples": len(rec.batches),
        "read_p50_s": statistics.median(rec.reads) if rec.reads else None,
    }
    return m, extra


def per_layer(tracer, log_dir: str, wl, overhead: float) -> tuple[dict, dict]:
    from cdcbench.layertrace import EVENTLOG_LAYERS, eventlog_layers

    ev = eventlog_layers(log_dir)
    m = {"pb3.decode_mb_per_s": (decode_mb_per_s(wl.meta, wl.schema()), "MB/s")}
    m.update(tracer.layer_metrics())
    for layer in EVENTLOG_LAYERS:
        g = ev.get(layer, {"executor_s": 0.0, "shuffle_write_mb": 0.0,
                           "spill_mb": 0.0, "tasks": 0})
        m[f"{layer}.executor_s"] = (g["executor_s"], "s")
        m[f"{layer}.shuffle_write_mb"] = (g["shuffle_write_mb"], "MB")
        m[f"{layer}.spill_mb"] = (g["spill_mb"], "MB")
        m[f"{layer}.tasks"] = (g["tasks"], "count")
    m["trace.overhead_frac"] = (overhead, "frac")
    extra = {
        "query_s": {
            k[len("query."):]: v
            for k, v in tracer.self_times().items() if k.startswith("query.")
        },
        "eventlog_by_group": ev,
    }
    return m, extra


def run(args) -> int:
    from cdcbench.hoststamp import HostStamp, MemSampler
    from cdcbench.layertrace import NullTracer, Tracer

    stamp = HostStamp()
    wl = WORKLOADS[args.workload]()
    wl.prepare(args.seed)     # generation / cache, before any timing
    wl.tmp = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    log_dir = os.path.join(wl.tmp, "eventlog") if args.trace else None
    os.makedirs(log_dir or wl.tmp, exist_ok=True)

    rec = Recorder()
    mem = MemSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(args.cpus, log_dir)
        t_session = time.perf_counter()
        tracer = Tracer(spark) if args.trace else NullTracer()
        wl.warm(spark, rec, tracer)
        setup_s = time.perf_counter() - t0
        session_s = t_session - t0
        rec.batches.clear()
        rec.reads.clear()
        if args.trace:
            # untraced, traced, untraced: the per-layer numbers come
            # from the middle unit, and comparing it with the mean of
            # its neighbours cancels the warm-up still under way
            before = wl.unit(spark, 100, rec, NullTracer())
            with tracer.active():
                traced = wl.unit(spark, 101, rec, tracer)
            after = wl.unit(spark, 102, rec, NullTracer())
            wl.trace_checks(tracer, rec)
            spans = os.path.join(
                WORK, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.json"
            )
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            tracer.dump(spans)
        else:
            measure(wl, spark, args.seconds, rec, tracer)
    finally:
        if spark is not None:
            stop_session(spark)
        mem_mb = mem.stop()

    detail: dict = {
        "workload": args.workload, "seed": args.seed, "cpus": args.cpus,
        "host": stamp.finish(),
        "setup_parts_s": {"session_s": session_s, **wl.setup_parts},
        "mem_mb": mem.breakdown(),
    }
    if args.trace:
        overhead = 2 * traced["wall"] / (before["wall"] + after["wall"]) - 1.0
        metrics, extra = per_layer(tracer, log_dir, wl, overhead)
        extra["spans_file"] = os.path.relpath(spans, ROOT)
    else:
        metrics, extra = end_to_end(setup_s, rec, mem_mb)
    detail.update(extra)
    detail["batch_s"] = [round(x, 4) for x in rec.batches]
    detail["read_s"] = [round(x, 4) for x in rec.reads]
    detail["failures"] = rec.failures
    print(json.dumps({"detail": detail}))
    correct = rec.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(wl.tmp, ignore_errors=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=os.cpu_count() or 1,
                   help="local[N] cores (default: all)")
    args = p.parse_args(argv)

    missing = [r for r in REQUIRED if not os.path.exists(os.path.join(ROOT, r))]
    if missing:
        print(f"cdcbench: not a pg_pb3_ld_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
