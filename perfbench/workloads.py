"""The workloads: one timed pass each, its output check, and its traced
pass.

The package resolves a job's ``--input`` through its fixture tiers
(``fixtures.tier_for_sf_dir`` maps ``sf0.01`` to tier ``t2``) under the
``SPARK_GRAFT_REPO`` root. The benchmark lays its generated table out as
tier ``t2`` of its own data root and points ``SPARK_GRAFT_REPO`` there, so
``job.py`` and ``plans.pipeline.load_transcripts`` read exactly the
generated files.

Layers inside one lazy plan are timed as cumulative prefixes: each prefix
is forced by the same hash fold, and a layer's self time is its prefix
minus the previous prefix.
"""

from __future__ import annotations

import contextlib
import io
import os
import statistics
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.enrich import enrich_transcripts
from opentelemetry_collector_contrib_spark.operators.order import stable_order
from opentelemetry_collector_contrib_spark.operators.parse import parse_native, parse_vectorized
from opentelemetry_collector_contrib_spark.operators.route import FIXTURE_ROUTES, apply_routes, sink_frames
from opentelemetry_collector_contrib_spark.plans.lineage import write_sinks_resumable
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    load_dims,
    load_transcripts,
    pipeline_aggregates,
)
from opentelemetry_collector_contrib_spark.streaming.pipeline import (
    streaming_route,
    transcripts_stream,
    write_stream_sinks,
)

from oracle import MOVE_SINKS
from spark_proc import cached_bytes, plan_metric

SF_DIR = "sf0.01"  # resolves to tier t2 of the data root
SINKS = (*MOVE_SINKS, "human_turns")
PREFIX_REPEATS = 3
STREAM_TIMEOUT_S = 60


class Ctx:
    """What a pass needs: the Spark process, its input, and where to write."""

    def __init__(self, proc, table_dir: str, expected: dict, out_dir: str):
        self.proc = proc
        self.table_dir = table_dir
        self.expected = expected
        self.out_dir = out_dir
        self.passes = 0

    @property
    def spark(self):
        return self.proc.spark

    def next_out(self) -> str:
        self.passes += 1
        return os.path.join(self.out_dir, f"pass-{self.passes}")


def fold(df: DataFrame) -> tuple[dict, DataFrame]:
    """Force every column through one xxhash64 fold, plus the counts the
    check needs for whichever pipeline columns the frame has. Returns the
    folded row and the frame that ran, for its plan metrics."""
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("rows"), F.bit_xor(F.xxhash64(*cols)).alias("hash")]
    if "pattern_id" in cols:
        aggs.append(F.count_if(F.col("pattern_id") == "raw").alias("raw_rows"))
    if "tool_category" in cols:
        aggs.append(F.count_if(F.col("tool_category") == "Unknown").alias("tool_miss_rows"))
    if "route_id" in cols:
        aggs += [F.count_if(F.col("route_id") == s).alias(s) for s in MOVE_SINKS]
        aggs.append(F.count_if(F.col("copy_human_turns")).alias("human_turns"))
    if "turn_rn" in cols:
        aggs.append(F.count_if(F.col("turn_rn") != F.col("turn_idx") + 1).alias("rn_wrong"))
    folded = df.agg(*aggs)
    return folded.collect()[0].asDict(), folded


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith(".")
    ]


def _sink_errors(expected: dict, got: dict[str, int]) -> list[str]:
    errs = [f"{s}: {got.get(s)} rows, expected {n}" for s, n in expected["sinks"].items() if got.get(s) != n]
    moved = sum(got.get(s, 0) for s in MOVE_SINKS)
    if moved != expected["rows"]:
        errs.append(f"move sinks hold {moved} rows, input has {expected['rows']}")
    return errs


class Workload:
    name = ""

    def run_pass(self, ctx: Ctx) -> dict:
        """One timed pass; returns its wall time, the durations of the
        batches it ran (the pass itself for a batch job), and, where its
        jobs do not run in the caller's job group, that ``group``."""
        raise NotImplementedError

    def check(self, ctx: Ctx, result: dict) -> list[str]:
        """Differences from the expected outputs (empty when correct)."""
        raise NotImplementedError

    def trace(self, ctx: Ctx, tracer) -> dict:
        """One traced pass; returns this workload's per-layer metrics."""
        raise NotImplementedError

    def prefixes(self, ctx: Ctx, tracer, names: tuple[str, ...]) -> dict:
        """Time each cumulative prefix, median of ``PREFIX_REPEATS``, and
        derive self times and the layer counts. The median leaves out the
        first run, which also compiles the prefix's plan and, for the
        vectorized parse, starts the Python workers."""
        spark = ctx.spark
        td, rd = load_dims(spark)
        frames = {"source": spark.read.parquet(ctx.table_dir)}
        frames["parse"] = parse_native(frames["source"])
        frames["enrich"] = enrich_transcripts(frames["parse"], td, rd)
        frames["route"] = apply_routes(frames["enrich"], FIXTURE_ROUTES)
        frames["order"] = stable_order(frames["route"])
        frames["parse_vectorized"] = parse_vectorized(frames["source"])
        out, prefix_s, prev = {}, {}, 0.0
        for name in names:
            times = []
            for _ in range(PREFIX_REPEATS):
                with tracer.span(name) as sp:
                    row, ran = fold(frames[name])
                times.append(sp.seconds)
            prefix_s[name] = statistics.median(times)
            stats = tracer.stats(sp)
            base = "source" if name == "parse_vectorized" else None
            before = prefix_s[base] if base else prev
            out[f"{name}.self_s"] = prefix_s[name] - before
            if name == "source":
                out["source.bytes_read"] = plan_metric(ran, "filesSize")
            elif name == "parse":
                out["parse.raw_share"] = row["raw_rows"] / row["rows"]
            elif name == "enrich":
                out["enrich.tool_miss_rows"] = row["tool_miss_rows"]
            elif name == "route":
                out.update({f"route.rows.{s}": row[s] for s in SINKS})
                route_shuffle = stats["shuffle_write_bytes"]
            elif name == "order":
                out["order.shuffle_bytes"] = stats["shuffle_write_bytes"] - route_shuffle
                out["order.max_task_rows"] = stats["max_task_shuffle_rows"]
            if name != "parse_vectorized":
                prev = prefix_s[name]
        return out


class BatchFanout(Workload):
    """``job.py``'s batch path as one pass."""

    name = "batch_fanout"

    def run_pass(self, ctx: Ctx) -> dict:
        import job  # the repository's spark-submit entry point

        out = ctx.next_out()
        argv = sys.argv
        sys.argv = ["job.py", "--input", SF_DIR, "--output", out]
        try:
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(io.StringIO()):
                job.main()
            wall = time.perf_counter() - t0
        finally:
            sys.argv = argv
        return {"wall_s": wall, "batch_s": [wall], "out": out}

    def check(self, ctx: Ctx, result: dict) -> list[str]:
        out, exp = result["out"], ctx.expected
        errs = _sink_errors(exp, {s: parquet_rows(os.path.join(out, s)) for s in SINKS})
        n_conv = parquet_rows(os.path.join(out, "agg_per_conv"))
        if n_conv != exp["agg_per_conv_rows"]:
            errs.append(f"agg_per_conv: {n_conv} rows, expected {exp['agg_per_conv_rows']}")
        tbl = pq.read_table(os.path.join(out, "agg_per_tool"))
        got = sorted(tuple(r.values()) for r in tbl.to_pylist())
        want = [tuple(r) for r in exp["agg_per_tool"]]
        if len(got) != len(want) or any(
            g[:4] != w[:4] or abs(g[4] - w[4]) > 1e-6 for g, w in zip(got, want)
        ):
            errs.append(f"agg_per_tool differs: {got} != {want}")
        result["output_bytes"] = parquet_bytes(out)
        return errs

    def trace(self, ctx: Ctx, tracer) -> dict:
        spark = ctx.spark
        m = self.prefixes(ctx, tracer, ("source", "parse", "enrich", "route", "order", "parse_vectorized"))
        order_s = statistics.median(s.seconds for s in tracer.spans if s.name == "order")
        out = ctx.next_out()
        routed = stable_order(
            apply_routes(enrich_transcripts(parse_native(load_transcripts(spark, SF_DIR)), *load_dims(spark)), FIXTURE_ROUTES)
        ).persist()
        try:
            with tracer.span("persist") as sp:
                routed.count()
            m["persist.self_s"] = sp.seconds - order_s
            m["persist.cached_bytes"] = cached_bytes(spark)
            with tracer.span("lineage") as sp:
                write_sinks_resumable(routed, sink_frames(routed, FIXTURE_ROUTES), out)
            m["lineage.self_s"] = sp.seconds
            m["lineage.bytes_written"] = tracer.stats(sp)["output_bytes"]
            with tracer.span("aggregate") as sp:
                for name, adf in pipeline_aggregates(routed).items():
                    adf.write.mode("overwrite").parquet(os.path.join(out, name))
            m["aggregate.self_s"] = sp.seconds
            st = tracer.stats(sp)
            m["aggregate.shuffle_bytes"] = st["shuffle_write_bytes"]
            m["aggregate.rows_out"] = st["output_records"]
        finally:
            routed.unpersist()
        tracer.errors += self.check(ctx, {"out": out})
        return m


class StreamDrain(Workload):
    """An availableNow drain, one file per trigger, through the sink fan-out."""

    name = "stream_drain"

    def run_pass(self, ctx: Ctx) -> dict:
        spark = ctx.spark
        out = ctx.next_out()
        t0 = time.perf_counter()
        td, rd = load_dims(spark)
        stream = transcripts_stream(spark, ctx.table_dir, max_files_per_trigger=1)
        routed = streaming_route(enrich_transcripts(parse_native(stream), td, rd))
        q = write_stream_sinks(routed, out, os.path.join(out, "_checkpoint"))
        try:
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                raise TimeoutError(f"stream drain still running after {STREAM_TIMEOUT_S} s")
        finally:
            if q.isActive:
                q.stop()
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {
            "wall_s": wall,
            "batch_s": [p["durationMs"]["triggerExecution"] / 1000 for p in progress],
            "add_batch_s": [p["durationMs"].get("addBatch", 0) / 1000 for p in progress],
            "group": str(q.runId),  # the job group Spark runs the drain's jobs under
            "out": out,
        }

    def check(self, ctx: Ctx, result: dict) -> list[str]:
        out = result["out"]
        errs = _sink_errors(ctx.expected, {s: parquet_rows(os.path.join(out, s)) for s in SINKS})
        n_files = len(_parquet_files(ctx.table_dir))
        if len(result["batch_s"]) != n_files:
            errs.append(f"{len(result['batch_s'])} micro-batches for {n_files} files")
        result["output_bytes"] = parquet_bytes(out) - parquet_bytes(os.path.join(out, "_checkpoint"))
        return errs

    def trace(self, ctx: Ctx, tracer) -> dict:
        m = self.prefixes(ctx, tracer, ("source", "parse", "enrich", "route"))
        with tracer.span("streaming"):
            res = self.run_pass(ctx)
        tracer.errors += self.check(ctx, res)
        m["streaming.batches"] = len(res["batch_s"])
        m["streaming.add_batch_s_p50"] = statistics.median(res["add_batch_s"])
        m["streaming.overhead_s_p50"] = statistics.median(
            b - a for b, a in zip(res["batch_s"], res["add_batch_s"])
        )
        return m


WORKLOADS = {w.name: w for w in (BatchFanout, StreamDrain)}
