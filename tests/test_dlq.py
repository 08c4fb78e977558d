"""Quarantine/DLQ sink: split invariants + resumable write contract."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.dlq import (
    fixture_rules,
    split_quarantine,
    write_with_dlq,
)


def test_split_partitions_the_frame(routed_t1):
    accepted, bad = split_quarantine(routed_t1, fixture_rules())
    n, na, nb = routed_t1.count(), accepted.count(), bad.count()
    assert na + nb == n and nb > 0
    assert accepted.columns == routed_t1.columns  # original schema kept
    assert "error_reason" in bad.columns
    assert bad.filter(F.col("error_reason").isNull()).count() == 0
    # first-match-wins: every raw row is 'unparsed', never the later rule
    assert (
        bad.filter(
            (F.col("pattern_id") == "raw") & (F.col("error_reason") != "unparsed")
        ).count()
        == 0
    )


def test_reasons_are_exhaustive_and_ordered(routed_t1):
    _, bad = split_quarantine(routed_t1, fixture_rules())
    reasons = {r.error_reason for r in bad.select("error_reason").distinct().collect()}
    assert reasons <= {"unparsed", "missing_tool_status"}
    # rule 2 rows really do lack a status and carry a tool
    m = bad.filter(F.col("error_reason") == "missing_tool_status")
    assert m.filter((F.col("tool") == "none") | F.col("status").isNotNull()).count() == 0


def test_write_with_dlq_is_resumable(routed_t1, tmp_path):
    base = str(tmp_path / "dlq_out")
    paths = write_with_dlq(routed_t1, fixture_rules(), base)
    assert set(paths) == {"accepted", "quarantine"}
    spark = routed_t1.sparkSession
    first = {k: spark.read.parquet(p).count() for k, p in paths.items()}
    assert first["accepted"] + first["quarantine"] == routed_t1.count()
    # rerun: manifest marks both sinks committed; counts unchanged
    paths2 = write_with_dlq(routed_t1, fixture_rules(), base)
    second = {k: spark.read.parquet(p).count() for k, p in paths2.items()}
    assert second == first


# --- exporterhelper retry/queue analogue (round 4) ---------------------------


def test_retry_write_transient_failure_succeeds_with_backoff(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.plans.sinks import retry_write

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    calls = {"n": 0}
    slept = []

    def flaky(frame, target, **kw):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise IOError(f"sink down (attempt {calls['n']})")
        frame.write.mode("overwrite").parquet(target)
        return target

    res = retry_write(
        df,
        str(tmp_path / "out"),
        batch_id="b1",
        write=flaky,
        ledger_dir=str(tmp_path / "ledger"),
        sleep=slept.append,
    )
    assert res["status"] == "committed" and res["attempts"] == 3
    assert len(res["errors"]) == 2
    # deterministic exponential schedule: 5, then 5*1.5
    assert slept == [5.0, 7.5]
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2


def test_retry_write_exhaustion_lands_in_dlq_with_reason(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.plans.sinks import retry_write

    df = spark.createDataFrame([(1, "a")], "id int, v string")

    def always_down(frame, target, **kw):
        raise IOError("hard down")

    res = retry_write(
        df,
        str(tmp_path / "out2"),
        batch_id="b2",
        write=always_down,
        max_retries=2,
        ledger_dir=str(tmp_path / "ledger"),
        dlq_dir=str(tmp_path / "dlq"),
        sleep=lambda s: None,
    )
    assert res["status"] == "quarantined" and res["attempts"] == 3
    q = spark.read.parquet(res["path"]).collect()
    assert len(q) == 1
    assert q[0]["dlq_reason"].startswith("retry_exhausted: OSError")
    assert q[0]["dlq_batch_id"] == "b2"


def test_retry_write_ledger_makes_rerun_idempotent(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.plans.sinks import retry_write

    df = spark.createDataFrame([(1, "a")], "id int, v string")
    calls = {"n": 0}

    def ok(frame, target, **kw):
        calls["n"] += 1
        frame.write.mode("overwrite").parquet(target)
        return target

    kw = dict(batch_id="b3", write=ok, ledger_dir=str(tmp_path / "ledger"))
    r1 = retry_write(df, str(tmp_path / "out3"), **kw)
    r2 = retry_write(df, str(tmp_path / "out3"), **kw)
    assert r1["status"] == "committed" and calls["n"] == 1
    assert r2.get("skipped") is True and calls["n"] == 1  # rerun = no-op
    # a quarantined batch is not re-attempted either
    def boom(frame, target, **kw):
        calls["n"] += 1
        raise IOError("down")

    kw2 = dict(
        batch_id="b4", write=boom, max_retries=0,
        ledger_dir=str(tmp_path / "ledger"), dlq_dir=str(tmp_path / "dlq"),
        sleep=lambda s: None,
    )
    before = calls["n"]
    r3 = retry_write(df, str(tmp_path / "out4"), **kw2)
    r4 = retry_write(df, str(tmp_path / "out4"), **kw2)
    assert r3["status"] == "quarantined" and calls["n"] == before + 1
    assert r4.get("skipped") is True and calls["n"] == before + 1


def test_resumable_sinks_retry_then_resume_on_exhaustion(spark, tmp_path):
    """write_sinks_resumable retries each sink with the exporterhelper
    backoff; exhaustion leaves the sink uncommitted so the NEXT run
    resumes exactly there — the manifest is the persistent queue.

    On the second run the flaky sink's first attempt starts writing the
    frame it is handed and fails inside the write. A failed action
    completes that attempt's row counter with the rows it saw (none here),
    so the 2 rows recorded for the retried sink prove each attempt
    observes a fresh counter."""
    import uuid

    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.plans.lineage import (
        LineageManifest,
        write_sinks_resumable,
    )
    from opentelemetry_collector_contrib_spark.plans.metrics import PipelineMetrics

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    sinks = {"s_ok": df, "s_flaky": df}
    calls = {"n": 0}
    slept = []

    def flaky_writer(frame, path):
        if path.endswith("s_flaky"):
            calls["n"] += 1
            if calls["n"] <= 3:  # fails through max_retries=2 exhaustion
                raise IOError("sink down")
            if calls["n"] == 4:  # fails inside a write of the frame
                frame = frame.withColumn("_down", F.raise_error(F.lit("sink down mid-write")))
        frame.write.mode("overwrite").parquet(path)

    base = str(tmp_path / "out")
    with _pytest.raises(IOError):
        write_sinks_resumable(
            df, sinks, base, max_retries=2, sleep=slept.append, writer=flaky_writer
        )
    assert slept == [5.0, 7.5]  # deterministic schedule before exhaustion
    # second run: committed sink skipped, flaky sink retried and now succeeds
    metrics = PipelineMetrics(run_id=uuid.uuid4().hex)
    res = write_sinks_resumable(
        df, sinks, base, max_retries=2, sleep=slept.append, writer=flaky_writer,
        metrics=metrics,
    )
    assert set(res) == {"s_ok", "s_flaky"}
    assert slept == [5.0, 7.5, 5.0] and calls["n"] == 5
    assert spark.read.parquet(res["s_flaky"]).count() == 2
    assert metrics.sink_rows == {"s_ok": 2, "s_flaky": 2}
    assert metrics.resumed_sinks == ["s_ok"]
    assert metrics.stages["sink:s_flaky:attempts"] == 2
    cells = LineageManifest(os.path.join(base, "_lineage.json")).cells_for("s_flaky")
    assert [(c.partition_id, c.row_count) for c in cells] == [(0, 2)]
