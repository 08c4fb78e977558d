"""Cluster entry point: spark-submit --py-files dist/pipeline.zip job.py ...

The production launch shape the north rule names. Local example:

    scripts/make_dist.sh
    spark-submit --master local[16] --py-files dist/pipeline.zip job.py \\
        --input /root/testdata/sf0.01 --output /tmp/pipeline_out

On a real cluster, swap --master, point --input at the Iceberg transcript
table (or its parquet location) and --output at the sink warehouse; the
lineage manifest makes reruns resume idempotently (plans/lineage.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir / transcript table location")
    ap.add_argument("--output", required=True, help="sink base path")
    ap.add_argument("--vectorized", action="store_true", help="use the pandas-UDF parse bank")
    ap.add_argument("--repartition-conv", type=int, default=None, help="explicit conv_id hash partitions pre-agg")
    ap.add_argument(
        "--qa-gate",
        action="store_true",
        help="also emit the per-conversation curation verdict "
        "(operators/conv_qa.transcript_curation_gate) as an extra sink",
    )
    ap.add_argument(
        "--dlq",
        action="store_true",
        help="divert content-failure rows (plans/dlq.py fixture rules) to a "
        "quarantine sink instead of passing them through",
    )
    ap.add_argument(
        "--profile",
        action="store_true",
        help="also emit data-shape diagnostics (operators/profiling.py): "
        "top-20 conv_id key-skew over the routed frame and per-column "
        "null/distinct/width stats — the pre-flight check for the "
        "salted-agg / AQE-skew decision at a new data scale",
    )
    ap.add_argument(
        "--plan-backfill",
        default=None,
        metavar="INPUT_ROOT",
        help="plan-only mode: diff the hive partitions under INPUT_ROOT "
        "against the backfill ledger at <output>/_backfill.json and print "
        "the todo/stale/done/orphan work list (plans/lineage.plan_backfill); "
        "no Spark job runs",
    )
    ap.add_argument(
        "--mark-processed",
        default=None,
        metavar="PARTITION",
        help="with --plan-backfill: record PARTITION as processed at its "
        "current fingerprint in the ledger (the runner's commit step)",
    )
    ap.add_argument(
        "--config",
        default=None,
        help="JSON pipeline spec (plans/config.py schema) — the YAML-config "
        "lifecycle; overrides the built-in fixture pipeline (still uses "
        "--output for sinks)",
    )
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="run the same parse→enrich→route pipeline as a Structured "
        "Streaming availableNow drain (file-arrival micro-batches, "
        "checkpointed idempotent fan-out via foreachBatch); per-sink row "
        "counts match the batch run over the same input",
    )
    args = ap.parse_args()

    if args.plan_backfill:
        # metadata-only: listing + fingerprints, no SparkSession
        import os

        from opentelemetry_collector_contrib_spark.plans.lineage import (
            BackfillLedger,
            input_fingerprint,
            plan_backfill,
        )

        ledger = BackfillLedger(os.path.join(args.output, "_backfill.json"))
        if args.mark_processed:
            part_dir = os.path.join(args.plan_backfill, args.mark_processed)
            ledger.mark_processed(args.mark_processed, input_fingerprint(part_dir))
        plan = plan_backfill(args.plan_backfill, ledger)
        print(json.dumps(plan))
        return

    # spark-submit provides the session; builder.getOrCreate attaches to it
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("otel-contrib-spark-pipeline").getOrCreate()

    if args.streaming:
        import os

        from opentelemetry_collector_contrib_spark.fixtures import (
            ensure_dims,
            ensure_tier,
            tier_for_sf_dir,
        )
        from opentelemetry_collector_contrib_spark.operators.enrich import (
            enrich_transcripts,
        )
        from opentelemetry_collector_contrib_spark.operators.parse import (
            parse_native,
            parse_vectorized,
        )
        from opentelemetry_collector_contrib_spark.streaming.pipeline import (
            streaming_route,
            transcripts_stream,
            write_stream_sinks,
        )

        # the file-stream source needs a directory/glob, not a single file
        src_path = ensure_tier(tier_for_sf_dir(args.input))
        if os.path.isfile(src_path):
            src_path = os.path.join(os.path.dirname(src_path), "*.parquet")
        tool_path, role_path = ensure_dims()
        tool_dim = spark.read.parquet(tool_path)
        role_dim = spark.read.parquet(role_path)
        stream = transcripts_stream(spark, src_path)
        parse = parse_vectorized if args.vectorized else parse_native
        routed = streaming_route(enrich_transcripts(parse(stream), tool_dim, role_dim))
        q = write_stream_sinks(routed, args.output, os.path.join(args.output, "_checkpoint"))
        q.awaitTermination()
        counts = {}
        for name in sorted(os.listdir(args.output)):
            p = os.path.join(args.output, name)
            if name.startswith("_") or not os.path.isdir(p):
                continue
            counts[name] = spark.read.parquet(p).count()
        print(json.dumps({"mode": "streaming", "sinks": counts}))
        return

    from opentelemetry_collector_contrib_spark.operators.route import sink_frames
    from opentelemetry_collector_contrib_spark.plans.lineage import write_sinks_resumable
    from opentelemetry_collector_contrib_spark.plans.pipeline import (
        PipelineConfig,
        build_routed,
        pipeline_aggregates,
    )

    import uuid

    from opentelemetry_collector_contrib_spark.plans.metrics import (
        PipelineMetrics,
        observe_rows,
        stage_counts,
    )

    metrics = PipelineMetrics(run_id=uuid.uuid4().hex)
    cfg = PipelineConfig(vectorized_parse=args.vectorized, repartition_conv=args.repartition_conv)
    with metrics.time_stage("build_and_persist"):
        if args.config:
            from opentelemetry_collector_contrib_spark.plans.config import (
                build_pipeline,
                route_table_from_spec,
            )

            with open(args.config) as f:
                spec = json.load(f)
            routed = build_pipeline(spark, spec).persist()
            table = route_table_from_spec(spec)
        else:
            routed = build_routed(spark, args.input, cfg).persist()
            table = cfg.routes
        # the one action that fills the cache also counts every stage
        metrics.stage_rows = stage_counts(routed, table)
        metrics.input_rows = metrics.stage_rows["in"]
    try:
        # a config with no routes section has no route_id column — the whole
        # stream is one sink, the single-exporter topology
        sinks = sink_frames(routed, table) if table is not None else {"all": routed}
        if args.dlq:
            from opentelemetry_collector_contrib_spark.plans.dlq import (
                fixture_rules,
                split_quarantine,
            )

            _, quarantined = split_quarantine(routed, fixture_rules())
            sinks["quarantine"] = quarantined
        write_sinks_resumable(routed, sinks, args.output, metrics=metrics)
        # observed on each write (or read from the manifest for a resumed sink)
        counts = dict(metrics.sink_rows)
        with metrics.time_stage("aggregates"):
            if args.config:
                from opentelemetry_collector_contrib_spark.plans.config import (
                    build_aggregates,
                    build_tail_sampling,
                )

                aggs = build_aggregates(routed, spec)
                verdicts = build_tail_sampling(routed, spec)
                if verdicts is not None:
                    aggs["tail_sampling_verdicts"] = verdicts
            else:
                aggs = pipeline_aggregates(routed)
            if args.qa_gate:
                from opentelemetry_collector_contrib_spark.operators.conv_qa import (
                    transcript_curation_gate,
                )
                from opentelemetry_collector_contrib_spark.plans.pipeline import (
                    load_transcripts,
                )

                aggs["conv_qa_gate"] = transcript_curation_gate(
                    load_transcripts(spark, args.input)
                )
            if args.profile:
                from opentelemetry_collector_contrib_spark.operators.profiling import (
                    column_profile,
                    key_skew_profile,
                )

                aggs["profile_key_skew"] = key_skew_profile(
                    routed, ["conv_id"], top_n=20
                )
                aggs["profile_columns"] = column_profile(
                    routed, ["conv_id", "role", "tool", "route_id", "sev", "status"]
                )
            for name, adf in aggs.items():
                observed, obs = observe_rows(adf)
                observed.write.mode("overwrite").parquet(f"{args.output}/{name}")
                counts[name] = obs.get["rows"]
        metrics.write(f"{args.output}/_metrics.json")
        print(json.dumps({"sinks": counts, "metrics": metrics.to_dict()}))
    finally:
        routed.unpersist()


if __name__ == "__main__":
    main()
