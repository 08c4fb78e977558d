"""Benchmark of the transcript pipeline, end to end and by layer.

    python3 perfbench/run.py --workload batch_fanout --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json for why each
exists): ``batch_fanout`` (job.py's batch path) and ``stream_drain`` (an
availableNow stream drain, one file per trigger).

One run, in one process at ``local[<cores>]``:

1. Set up three times and report the median as ``setup_s``. A set-up
   generates the seeded input, writes it if this seed is not cached yet,
   starts a Spark session (the first launches the JVM, the others replace
   the SparkContext in it) and loads the input. The DuckDB expected
   outputs are computed once per seed, outside the timing.
2. Run one pass in the fresh session (``cold_pass_s``) and one warm-up
   pass.
3. Run passes for ``--seconds``, and at least two, and report their
   median throughput and batch durations. Every pass, warm-up included, is checked against the
   expected outputs; a pass that raises or differs counts as failed.

With ``--trace 1`` the run instead reports the per-layer metrics: after
the cold and warm-up passes it times one untraced pass, then one traced
pass with a span per layer call, and states the tracing overhead against
the untraced pass. Spans are written to ``perfbench/.traces/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
WARMUP_PASSES = 1
# every run times at least this many passes, so each median covers the
# same stretch of JIT warm-up
MIN_PASSES = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between the nearest samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    def __init__(self, args):
        import gen
        from spark_proc import SparkProc, cores
        from workloads import WORKLOADS, Ctx

        self.args = args
        self.gen = gen
        self.workload = WORKLOADS[args.workload]()
        self.cores = cores()
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
        self.proc = SparkProc(self.work, self.cores)
        self.data_root = os.path.join(HERE, ".data", gen.cache_key(args.workload, args.seed))
        self.table_dir = os.path.join(self.data_root, "fixtures_data", "t2", "transcripts.parquet")
        self.ctx = Ctx(self.proc, self.table_dir, {}, os.path.join(self.work, "out"))
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------
    def _write_input(self, table) -> None:
        """Write the table and its expected outputs for this seed, once."""
        from oracle import expected

        if os.path.exists(os.path.join(self.data_root, "expected.json")):
            return
        tmp = f"{self.data_root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        rel_table = os.path.relpath(self.table_dir, self.data_root)
        dims = os.path.join(tmp, "fixtures_data", "dims")
        self.gen.write(table, os.path.join(tmp, rel_table), dims, self.gen.SHAPES[self.args.workload].files)
        t0 = time.perf_counter()
        exp = expected(os.path.join(tmp, rel_table), dims)
        self.oracle_s = time.perf_counter() - t0
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(exp, f)
        shutil.rmtree(self.data_root, ignore_errors=True)
        os.replace(tmp, self.data_root)

    def setup(self) -> float:
        self.oracle_s = 0.0
        t0 = time.perf_counter()
        table = self.gen.generate(self.args.workload, self.args.seed)
        self._write_input(table)
        os.environ["SPARK_GRAFT_REPO"] = self.data_root
        spark = self.proc.restart() if self.proc.spark is not None else self.proc.start()
        loaded = spark.read.parquet(self.table_dir).count()
        took = time.perf_counter() - t0 - self.oracle_s
        if loaded != table.num_rows:
            raise RuntimeError(f"loaded {loaded} rows of {table.num_rows} generated")
        return took

    # -- passes ---------------------------------------------------------
    def checked_pass(self) -> dict | None:
        """One pass plus its check; None when it raised or was wrong."""
        self.attempted += 1
        try:
            res = self.workload.run_pass(self.ctx)
            errs = self.workload.check(self.ctx, res)
        except Exception:
            self.failed += 1
            log(f"pass {self.attempted} raised:\n{traceback.format_exc()}")
            return None
        finally:
            self._drop_outputs()
        if errs:
            self.failed += 1
            log(f"pass {self.attempted} wrong: {errs}")
            return None
        return res

    def _drop_outputs(self) -> None:
        shutil.rmtree(self.ctx.out_dir, ignore_errors=True)

    def warm(self) -> float | None:
        """The cold pass, then the warm-up passes; returns the cold wall time."""
        cold = self.checked_pass()
        warm = [self.checked_pass() for _ in range(WARMUP_PASSES)]
        log(f"warm-up passes {[r['wall_s'] if r else None for r in warm]}")
        return cold["wall_s"] if cold else None

    # -- modes ----------------------------------------------------------
    def timed(self) -> dict:
        setups = [self.setup() for _ in range(SETUPS)]
        self.ctx.expected = self.expected()
        cold_s = self.warm()
        walls, batches = [], []
        t0, n = time.perf_counter(), 0
        while time.perf_counter() - t0 < self.args.seconds or n < MIN_PASSES:
            n += 1
            res = self.checked_pass()
            if res:
                walls.append(res["wall_s"])
                batches += res["batch_s"]
        if not walls or cold_s is None:
            raise RuntimeError("no pass completed correctly")
        log(f"setups {setups}, cold {cold_s:.3f} s, passes {walls}, {len(batches)} batches")
        return {
            "turns_per_s": self.ctx.expected["rows"] / statistics.median(walls),
            "cold_pass_s": cold_s,
            "setup_s": statistics.median(setups),
            "peak_rss_mb": self.proc.peak_rss_mb(),
            "microbatch_s_p50": statistics.median(batches),
            "microbatch_s_p90": quantile(batches, 90),
        }

    def traced(self) -> dict:
        from spans import Tracer

        self.setup()
        self.ctx.expected = self.expected()
        self.warm()
        self.checked_pass()  # one more, so the untraced pass is near steady
        rows = self.ctx.expected["rows"]
        tracer = Tracer(self.proc, f"{self.args.workload}-s{self.args.seed}")
        with tracer.span("pass.untraced") as ref_span:
            ref = self.checked_pass()
        with tracer.span("pass.traced") as traced_span:
            m = self.workload.trace(self.ctx, tracer)
        self._drop_outputs()
        self.attempted += 1
        if tracer.errors:
            self.failed += 1
            log(f"traced pass wrong: {tracer.errors}")
        if ref is None:
            raise RuntimeError("the untraced pass failed")
        ref_stats = tracer.stats(ref_span, ref.get("group"))
        m["spark.jobs"] = ref_stats["jobs"]
        m["spark.spill_bytes"] = ref_stats["spill_bytes"]
        m["output_bytes_per_turn"] = ref.get("output_bytes", 0) / rows
        m["trace.overhead_share"] = traced_span.seconds / ref["wall_s"] - 1
        if self.args.workload == "batch_fanout":
            # the N -> 1 core comparison, in the warm JVM
            self.proc.restart(1)
            one = self.checked_pass()
            if one:
                m["scaling_eff_1_to_N"] = one["wall_s"] / (self.cores * ref["wall_s"])
        tracer.write(os.path.join(HERE, ".traces", f"{tracer.trace_id}.json"))
        return m

    def expected(self) -> dict:
        with open(os.path.join(self.data_root, "expected.json")) as f:
            return json.load(f)

    def close(self) -> None:
        try:
            self.proc.close()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        import opentelemetry_collector_contrib_spark  # noqa: F401
        import job  # noqa: F401
        from workloads import WORKLOADS
    except (OSError, ImportError) as e:
        log(f"cannot find the pipeline to measure: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    run = Run(args)
    try:
        measured = run.traced() if args.trace else run.timed()
    finally:
        run.close()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    log(f"failed_share {run.failed / run.attempted:.3f} ({run.failed} of {run.attempted} passes)")
    for name, m in metrics.items():
        log(f"{name:28s} {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
