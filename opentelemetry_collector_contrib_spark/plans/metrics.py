"""Pipeline run metrics — the obsreport/componentstatus analogue.

The reference instruments every component with obsreport counters
(accepted/refused/dropped items per processor, queue sizes per exporter)
and the testbed asserts sent==received from them
(testbed/testbed/validator.go:68-117). Our batch analogue: one metrics
object per run recording per-stage wall times, per-stage and per-sink row
counts, and the lineage run id — written as JSON next to the lineage
manifest so a rerun's resume decisions and the run's throughput are
auditable together.

Like obsreport, the counts come from the jobs that move the rows: sink
rows are observed on the write (``observe_rows``) and stage rows fold into
the one action that materializes the routed cache (``stage_counts``).
Nothing re-reads an output to learn how much was written.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class PipelineMetrics:
    run_id: str
    started_at: float = field(default_factory=time.time)
    stages: dict[str, float] = field(default_factory=dict)      # name -> seconds
    sink_rows: dict[str, int] = field(default_factory=dict)     # sink -> rows written
    input_rows: int = 0
    stage_rows: dict[str, int] = field(default_factory=dict)    # stage counter -> rows
    resumed_sinks: list[str] = field(default_factory=list)

    def time_stage(self, name: str):
        """Context manager: with metrics.time_stage('parse'): ..."""
        metrics = self

        class _T:
            def __enter__(self):
                self.t0 = time.perf_counter()
                return self

            def __exit__(self, *exc):
                metrics.stages[name] = round(
                    metrics.stages.get(name, 0.0) + time.perf_counter() - self.t0, 3
                )
                return False

        return _T()

    def record_sink(self, name: str, rows: int, resumed: bool = False) -> None:
        self.sink_rows[name] = rows
        if resumed:
            self.resumed_sinks.append(name)

    @property
    def rows_per_sec(self) -> float | None:
        total = sum(self.stages.values())
        return round(self.input_rows / total, 1) if total and self.input_rows else None

    def to_dict(self) -> dict:
        return {
            "run_id": self.run_id,
            "started_at": self.started_at,
            "stages": self.stages,
            "sink_rows": self.sink_rows,
            "input_rows": self.input_rows,
            "stage_rows": self.stage_rows,
            "resumed_sinks": self.resumed_sinks,
            "rows_per_sec": self.rows_per_sec,
        }

    def write(self, path: str) -> str:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.to_dict(), f, indent=2)
        os.replace(tmp, path)
        return path


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter attached, and the Observation that reports
    it as ``{"rows": n}`` once the first action over the returned frame
    ends. ``Observation.get`` blocks until then, so read it only after an
    action has run."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def stage_counts(routed: DataFrame, table=None) -> dict[str, int]:
    """One aggregate over the routed frame: rows in, parse-unmatched rows
    (``pattern_id == 'raw'``), enrich tool misses (``tool_category ==
    'Unknown'``), rows per ``route_id`` of ``table`` (its default route
    included) and rows per copy route. Counts only the columns the frame
    has. On a persisted frame this is the action that fills the cache, so
    the counters cost no extra job."""
    cols = set(routed.columns)
    aggs = [F.count(F.lit(1)).alias("in")]
    if "pattern_id" in cols:
        aggs.append(F.count_if(F.col("pattern_id") == "raw").alias("parse.unmatched"))
    if "tool_category" in cols:
        aggs.append(F.count_if(F.col("tool_category") == "Unknown").alias("enrich.tool_miss"))
    if table is not None and "route_id" in cols:
        for rid in [r.name for r in table.move_routes()] + [table.default]:
            aggs.append(F.count_if(F.col("route_id") == rid).alias(f"route.{rid}"))
        for r in table.copy_routes():
            aggs.append(F.count_if(F.col(f"copy_{r.name}")).alias(f"copy.{r.name}"))
    return routed.agg(*aggs).first().asDict()
