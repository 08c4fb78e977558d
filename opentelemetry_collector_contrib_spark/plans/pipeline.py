"""The flagship pipeline: parse → enrich → route → aggregate.

This is the Spark re-expression of the collector's receiver → processor →
exporter topology (SURVEY.md §3.1): the YAML-config DAG the reference builds
at startup becomes a declarative DataFrame plan; Catalyst is the optimizer
the reference lacks; the per-pipeline goroutines become executor tasks; the
channels become (exactly one) shuffle.

Plan shape at scale (the 100 TB story):
  scan (parquet/Iceberg, pruned to 6 columns, predicate pushdown)
   → parse projection (whole-stage codegen, zero shuffle)
   → 2 broadcast joins (zero shuffle)
   → route projection (zero shuffle)
   → [sinks: filter+write, no extra compute — routed frame persisted once]
   → per-conv aggregates: ONE shuffle on conv_id (AQE-coalesced, skew-split;
     salted two-phase for monster convs)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import ensure_dims, ensure_tier, tier_for_sf_dir
from ..operators import aggregate as agg_ops
from ..operators.enrich import enrich_transcripts
from ..operators.order import stable_order
from ..operators.parse import parse_native, parse_vectorized
from ..operators.route import FIXTURE_ROUTES, RouteTable, apply_routes


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source stage (filelog-receiver analogue): the transcript table IS the
    receiver; Iceberg in production, parquet in-sandbox (same scan contract)."""
    tier = tier_for_sf_dir(sf_dir)
    path = ensure_tier(tier)
    return spark.read.parquet(path)


def load_dims(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    tool_path, role_path = ensure_dims()
    return spark.read.parquet(tool_path), spark.read.parquet(role_path)


@dataclass
class PipelineConfig:
    routes: RouteTable = field(default_factory=lambda: FIXTURE_ROUTES)
    vectorized_parse: bool = False   # pandas-UDF bank vs native Catalyst bank
    with_stable_order: bool = True
    repartition_conv: int | None = None  # explicit hash repartition pre-agg


def build_routed(spark: SparkSession, sf_dir: str, cfg: PipelineConfig | None = None) -> DataFrame:
    """scan → parse → enrich → route; returns the routed frame (pre-sink)."""
    cfg = cfg or PipelineConfig()
    df = load_transcripts(spark, sf_dir)
    parse = parse_vectorized if cfg.vectorized_parse else parse_native
    parsed = parse(df)
    tool_dim, role_dim = load_dims(spark)
    enriched = enrich_transcripts(parsed, tool_dim, role_dim)
    routed = apply_routes(enriched, cfg.routes)
    if cfg.repartition_conv:
        # explicit conv_id hash partitioning (north-rule requirement): the
        # window and every downstream per-conv operator then reuse this
        # partitioning instead of inserting their own exchanges
        routed = routed.repartition(cfg.repartition_conv, F.col("conv_id"))
    if cfg.with_stable_order:
        routed = stable_order(routed)
    return routed


def pipeline_aggregates(routed: DataFrame) -> dict[str, DataFrame]:
    """The groupbyattrs-style rollups the north star names."""
    per_conv = agg_ops.group_by_attrs(routed, ["route_id", "conv_id"])
    per_tool = (
        routed.groupBy("route_id", "tool", "tool_category")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("tool_cost_weight"), 4).alias("sum_cost"),
        )
    )
    return {"agg_per_conv": per_conv, "agg_per_tool": per_tool}

