"""Volume smoke test: the tracker pipeline on engine-generated data two
orders of magnitude beyond the unit fixtures — catches per-row driver
loops, skew-fragile joins, and partition-count pathologies that 3-row
fixtures cannot.
"""

import pytest
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.etl import transform_issues
from yandex_tracker_exporter_spark.operators.sessionize import status_metrics
from yandex_tracker_exporter_spark.schemas import RAW_ISSUE_SCHEMA

N_ISSUES = 20_000
EVENTS_PER_ISSUE = 4
STATUSES = ["Open", "In progress", "Testing", "Closed"]


@pytest.fixture(scope="module")
def volume_issues(spark):
    """20k issues generated distributed (spark.range, no driver loop)."""
    base = spark.range(N_ISSUES)
    ts = F.concat(
        F.lit("2023-01-01T"),
        F.lpad((F.col("id") % 24).cast("string"), 2, "0"),
        F.lit(":00:00.000000+0000"),
    )
    df = base.select(
        F.concat(F.lit("LOAD-"), F.col("id")).alias("key"),
        F.concat(F.lit("issue "), F.col("id")).alias("summary"),
        F.struct(
            F.concat(F.lit("Q"), (F.col("id") % 10).cast("string")).alias("key")
        ).alias("queue"),
        F.struct(F.lit("Task").alias("name")).alias("type"),
        F.struct(F.lit("Normal").alias("name")).alias("priority"),
        F.struct(F.element_at(F.array(*[F.lit(s) for s in STATUSES]),
                              (F.col("id") % 4 + 1).cast("int")).alias("name")).alias("status"),
        ts.alias("createdAt"),
        ts.alias("updatedAt"),
    )
    # cast through the canonical schema (missing fields null)
    for field in RAW_ISSUE_SCHEMA.fields:
        if field.name not in df.columns:
            df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
    return df.select(*[f.name for f in RAW_ISSUE_SCHEMA.fields])


@pytest.fixture(scope="module")
def volume_changelog(spark):
    """4 status transitions per issue = 80k workflow events."""
    base = spark.range(N_ISSUES * EVENTS_PER_ISSUE)
    issue_id = (F.col("id") / EVENTS_PER_ISSUE).cast("long")
    step = (F.col("id") % EVENTS_PER_ISSUE).cast("int")
    statuses = F.array(*[F.lit(s) for s in STATUSES])
    hour = F.lpad((step + 1).cast("string"), 2, "0")
    prev_hour = F.lpad(step.cast("string"), 2, "0")
    t = lambda h: F.concat(F.lit("2023-06-01T"), h, F.lit(":00:00.000000+0000"))
    df = base.select(
        F.concat(F.lit("LOAD-"), issue_id).alias("issue_key"),
        F.concat(F.lit("Q"), (issue_id % 10).cast("string")).alias("queue"),
        t(hour).alias("updatedAt"),
        F.lit("IssueWorkflow").alias("type"),
        F.lit("api").alias("transport"),
        F.struct(
            F.lit("actor@example.com").alias("email"), F.lit("Actor").alias("name")
        ).alias("updatedBy"),
        F.array(
            F.struct(
                F.struct(F.lit("status").alias("id"), F.lit("Status").alias("name")).alias(
                    "field"
                ),
                F.element_at(statuses, step + 1).alias("from"),
                F.element_at(statuses, ((step + 1) % 4) + 1).alias("to"),
            ),
            F.struct(
                F.struct(F.lit("ts").alias("id"), F.lit("ts").alias("name")).alias(
                    "field"
                ),
                t(prev_hour).alias("from"),
                t(hour).alias("to"),
            ),
        ).alias("fields"),
    )
    return df


def test_pipeline_at_volume(spark, volume_issues, volume_changelog):
    flat = transform_issues(volume_issues, volume_changelog)
    assert flat.count() == N_ISSUES

    metrics = status_metrics(volume_changelog, volume_issues)
    # each issue passes through each of the 4 statuses exactly once
    assert metrics.count() == N_ISSUES * 4
    row = metrics.where(
        (F.col("issue_key") == "LOAD-0") & (F.col("status_name") == "in_progress")
    ).first()
    assert row["status_transitions_count"] == 1
    assert row["duration"] == 3600
    # Thu 2023-06-01 is a weekday: hours 01-05 land partly in the 09-22
    # business window → busdays ≤ duration
    assert row["busdays_duration"] <= row["duration"]

    # distribution sanity: the agg keeps partial aggregation (no single
    # reducer hot spot)
    plan = metrics._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan
