"""Seeded tracker corpus: raw issues + raw changelog, built with ``spark.range``.

Every per-issue property is a modular hash of (issue id, salt, seed) that
Spark SQL and plain Python evaluate identically, so the generator runs
distributed with no driver loops and the expected ETL row counts are
closed forms the checker sums in Python (``expected_counts``).

Event cases (FIXTURES.md section 2): the first status transition has a
null ``fields[1].from`` (createdAt fallback), the status path revisits
statuses, one issue in ten carries a corrupt transition with a null end,
one in three a non-status workflow event, one in twenty an
``IssueMoved`` event, and ``IssueUpdated`` events carry list / >100-char
/ dict / reference-object / null / int / float / datetime values.
Interval datetimes rotate through six renderings (``+0000``, ``+0300``,
``Z``, ``+03:00`` with millis, naive, ``-0500`` with millis).

Batches: batch 0 is the backfill corpus; batch k >= 1 is the k-th
incremental delta.  A delta holds new versions of the issues it updates
(hub issues every batch, every other issue at most once), their new
status transitions, and for one updated issue in four a late event
stamped days before the delta window.  Publishing a delta appends its
events and replaces the updated issues' previous versions, so the raw
issue source is what the Tracker search API serves: the current version
of each issue.  Delta ``updatedAt`` values are unique within a batch, so
only the row that set the previous watermark is re-read on the ``>=``
boundary.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.schemas import RAW_CHANGELOG_SCHEMA, RAW_ISSUE_SCHEMA

P = 2147483629  # prime below 2**31: every product below stays under 2**62
BASE_START = 1704067200  # 2024-01-01T00:00:00Z
CREATED_SPAN = 45 * 86400
BASE_END = BASE_START + 90 * 86400  # after every batch-0 event
DELTA_SPAN_US = 80_000 * 1_000_000  # delta updatedAt spread inside one day
NOW = dt.datetime.fromtimestamp(BASE_END + 400 * 86400, dt.timezone.utc)
#: covers the whole corpus from NOW (the stateful initial-range backfill)
INITIAL_RANGE = "2y"
HUB_EVERY = 200  # issues 0, 200, 400, ... are hubs: every delta updates one
DELTA_PERIOD = 50  # a non-hub issue is updated in batch (h % 50) + 1 only
STATUS_PATH = (
    "Open", "In Progress", "Testing", "In Progress",
    "Review", "Testing", "Ready for release", "Closed",
)
#: distinct snake_case from-statuses among the first W transitions
_DISTINCT_FROM = [0]
for _w in range(1, len(STATUS_PATH) + 1):
    _DISTINCT_FROM.append(len({s.lower() for s in STATUS_PATH[:_w]}))
#: (field name, from, to) for IssueUpdated values; variant 9 is both-null
#: and is dropped by the changelog filter
VARIANTS = (
    ("tags", '["backend","frontend"]', '["backend"]'),
    ("description", '"' + "lorem ipsum dolor " * 7 + '"', '"short text"'),
    ("customFields", '{"a":1,"b":[1,2]}', '{"a":2}'),
    ("followers", '{"email":"Dev.One@Example.COM","display":"Dev"}',
     '{"key":"TEAM-7","display":"Team"}'),
    ("sprint", None, '"Sprint 12"'),
    ("storyPoints", "3", "5"),
    ("spent", "2.5", "3.75"),
    ("deadline", '"2024-03-01T10:00:00.000+0300"', '"2024-03-02T10:00:00.000000+0000"'),
    ("start", "2024-03-01T10:00:00Z", "2024-03-01 12:00:00"),
    ("votedBy", None, None),
)
_N_VARIANTS = len(VARIANTS)


# --- the shared hash: one formula, two evaluators ---------------------------

def h_py(i: int, salt: int, seed: int) -> int:
    x = (i * 1103515245 + salt * 12345 + seed * 2654435) % P
    return (x * 48271 + 11) % P


def h_col(i: Column, salt: int, seed: int) -> Column:
    x = (i * F.lit(1103515245) + F.lit(salt * 12345 + seed * 2654435)) % F.lit(P)
    return (x * F.lit(48271) + F.lit(11)) % F.lit(P)


@dataclass(frozen=True)
class Issue:
    """Closed-form parameters of one issue (the Python side of the hash)."""

    hub: bool
    created_s: int
    micros: int
    gap_s: int
    w0: int  # batch-0 status transitions
    updates: int  # IssueUpdated events in batch 0
    workflow_other: int
    moved: int
    corrupt: int
    delta_batch: int  # the one batch a non-hub issue is updated in
    n_new: int
    late: int


def issue_params(i: int, seed: int) -> Issue:
    hub = i % HUB_EVERY == 0
    return Issue(
        hub=hub,
        created_s=BASE_START + h_py(i, 1, seed) % CREATED_SPAN,
        micros=(i * 7919) % 1_000_000,
        gap_s=3600 * (1 + h_py(i, 2, seed) % (12 if hub else 48)),
        w0=(40 if hub else 1) + h_py(i, 4, seed) % (40 if hub else 6),
        updates=h_py(i, 5, seed) % 3 + (10 if hub else 0),
        workflow_other=int(h_py(i, 6, seed) % 3 == 0),
        moved=int(h_py(i, 7, seed) % 20 == 0),
        corrupt=int(h_py(i, 8, seed) % 10 == 0),
        delta_batch=h_py(i, 9, seed) % DELTA_PERIOD + 1,
        n_new=1 if hub else 1 + h_py(i, 10, seed) % 2,
        late=0 if hub else int(h_py(i, 11, seed) % 4 == 0),
    )


def updated_at_us(p: Issue, i: int, n: int, batch: int) -> int:
    """``updatedAt`` (epoch micros) of issue ``i``'s version in ``batch``."""
    if batch == 0:
        return (p.created_s + p.w0 * p.gap_s) * 1_000_000 + p.micros
    window = (BASE_END + (batch - 1) * 86400) * 1_000_000
    return window + 60_000_000 + ((i * 7919) % n) * (DELTA_SPAN_US // n)


def updated_in(p: Issue, batch: int) -> bool:
    return batch == 0 or p.hub or p.delta_batch == batch


def transitions_after(p: Issue, batch: int) -> int:
    """Status transitions the issue has after ``batch`` was appended."""
    if p.hub:
        return p.w0 + batch
    return p.w0 + (p.n_new if 0 < p.delta_batch <= batch else 0)


def _variant_rows(v: int) -> int:
    return 1 if VARIANTS[v][1] is None and VARIANTS[v][2] is None else 2


def changelog_rows(p: Issue, i: int, batch: int) -> int:
    """Flattened changelog rows of all the issue's events up to ``batch``."""
    rows = 2 * transitions_after(p, batch) + 2 * p.corrupt + p.workflow_other + 2 * p.moved
    rows += sum(_variant_rows((i + q) % _N_VARIANTS) for q in range(p.updates))
    if p.late and 0 < p.delta_batch <= batch:
        rows += _variant_rows((i + p.delta_batch) % _N_VARIANTS)
    return rows


def metric_rows(p: Issue, batch: int) -> int:
    w = transitions_after(p, batch)
    return _DISTINCT_FROM[min(w, len(STATUS_PATH))]


def events_in_batch(p: Issue, batch: int) -> int:
    if batch == 0:
        return p.w0 + p.updates + p.workflow_other + p.moved + p.corrupt
    if not updated_in(p, batch):
        return 0
    return p.n_new + (p.late if p.delta_batch == batch else 0)


@functools.lru_cache(maxsize=4)
def all_params(n: int, seed: int) -> tuple[Issue, ...]:
    return tuple(issue_params(i, seed) for i in range(n))


def raw_events(n: int, seed: int, batch: int) -> int:
    """Changelog events in the raw source once ``batch`` is published."""
    return sum(events_in_batch(p, b) for p in all_params(n, seed) for b in range(batch + 1))


def delta_size(n: int, seed: int, batch: int) -> int:
    """Issues updated by delta ``batch``."""
    return sum(updated_in(p, batch) for p in all_params(n, seed))


def current_batch(p: Issue, batch: int) -> int:
    """The batch holding the issue's current version once ``batch`` is published."""
    return max(b for b in range(batch + 1) if updated_in(p, b))


def expected_counts(n: int, seed: int, batch: int, watermark_us: int | None):
    """Closed-form (issues, changelog, metrics) rows one ``run_etl`` reads
    once ``batch`` is published, plus the batch's max ``updatedAt``.

    The raw issue source holds the current version of each issue, as the
    Tracker search API serves it; ``watermark_us`` is the stored watermark
    (None for the backfill, which reads all of batch 0)."""
    params = all_params(n, seed)
    keys = [
        i for i, p in enumerate(params)
        if watermark_us is None or updated_at_us(p, i, n, current_batch(p, batch)) >= watermark_us
    ]
    changelog = sum(changelog_rows(params[i], i, batch) for i in keys)
    metrics = sum(metric_rows(params[i], batch) for i in keys)
    max_us = max(
        updated_at_us(p, i, n, batch) for i, p in enumerate(params) if updated_in(p, batch)
    )
    return len(keys), changelog, metrics, max_us


# --- the Spark side ----------------------------------------------------------

def _ts_string(us: Column, fmt: Column) -> Column:
    """Render epoch micros in one of six offset formats (same instant)."""
    def shifted(hours: int) -> Column:
        return F.timestamp_micros(us + F.lit(hours * 3_600_000_000))

    micro = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    milli = "yyyy-MM-dd'T'HH:mm:ss.SSS"
    return (
        F.when(fmt == 0, F.concat(F.date_format(shifted(0), micro), F.lit("+0000")))
        .when(fmt == 1, F.concat(F.date_format(shifted(3), micro), F.lit("+0300")))
        .when(fmt == 2, F.concat(F.date_format(shifted(0), micro), F.lit("Z")))
        .when(fmt == 3, F.concat(F.date_format(shifted(3), milli), F.lit("+03:00")))
        .when(fmt == 4, F.date_format(shifted(0), micro))
        .otherwise(F.concat(F.date_format(shifted(-5), milli), F.lit("-0500")))
    )


def _tracker_ts(us: Column) -> Column:
    """The API's own ``%Y-%m-%dT%H:%M:%S.%f%z`` rendering, in UTC."""
    return _ts_string(us, F.lit(0))


def _params(df: DataFrame, seed: int, n: int) -> DataFrame:
    i = F.col("i")
    hub = i % HUB_EVERY == 0
    return df.select(
        i,
        hub.alias("hub"),
        (F.lit(BASE_START) + h_col(i, 1, seed) % CREATED_SPAN).alias("created_s"),
        ((i * 7919) % 1_000_000).alias("micros"),
        (F.lit(3600) * (F.lit(1) + h_col(i, 2, seed) % F.when(hub, 12).otherwise(48))).alias("gap_s"),
        (F.when(hub, 40).otherwise(1) + h_col(i, 4, seed) % F.when(hub, 40).otherwise(6)).alias("w0"),
        (h_col(i, 5, seed) % 3 + F.when(hub, 10).otherwise(0)).alias("updates"),
        (h_col(i, 6, seed) % 3 == 0).cast("int").alias("workflow_other"),
        (h_col(i, 7, seed) % 20 == 0).cast("int").alias("moved"),
        (h_col(i, 8, seed) % 10 == 0).cast("int").alias("corrupt"),
        (h_col(i, 9, seed) % DELTA_PERIOD + 1).alias("delta_batch"),
        F.when(hub, 1).otherwise(F.lit(1) + h_col(i, 10, seed) % 2).alias("n_new"),
        F.when(hub, 0).otherwise((h_col(i, 11, seed) % 4 == 0).cast("int")).alias("late"),
        ((i * 7919) % n).alias("slot"),
    )


def _key(i: Column) -> Column:
    return F.concat(F.lit("Q"), (i % 8).cast("string"), F.lit("-"), (i + 1).cast("string"))


def _queue(i: Column) -> Column:
    return F.concat(F.lit("Q"), (i % 8).cast("string"))


def _status_at(t: Column) -> Column:
    return F.element_at(F.array(*[F.lit(s) for s in STATUS_PATH]), (t % len(STATUS_PATH) + 1).cast("int"))


def _field(fid: str, name: str, frm: Column, to: Column) -> Column:
    return F.struct(
        F.struct(F.lit(fid).alias("id"), F.lit(name).alias("name")).alias("field"),
        frm.cast("string").alias("from"),
        to.cast("string").alias("to"),
    )


def _user(c: Column) -> Column:
    email = F.concat(F.lit("User"), (c % 97).cast("string"), F.lit("@Example.com"))
    return F.struct(email.alias("email"), F.concat(F.lit("User "), (c % 97).cast("string")).alias("name"))


def _conform(df: DataFrame, schema, *extra: str) -> DataFrame:
    for field in schema.fields:
        if field.name not in df.columns:
            df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
    return df.select(*extra, *[F.col(f.name).cast(f.dataType) for f in schema.fields])


def generate(spark: SparkSession, n: int, seed: int, last_batch: int):
    """(raw_issues, raw_changelog) of batches 0..``last_batch`` in one plan,
    with a ``batch`` column."""
    if n % 7919 == 0:
        raise ValueError("n must not be a multiple of 7919 (delta slots collide)")
    p = _params(spark.range(n).withColumnRenamed("id", "i"), seed, n)
    i, b = F.col("i"), F.col("batch")
    batches = spark.range(0, last_batch + 1).withColumnRenamed("id", "batch")
    p = p.crossJoin(batches).where((b == 0) | F.col("hub") | (F.col("delta_batch") == b))

    def window_us(batch: Column) -> Column:
        return (F.lit(BASE_END) + (batch - 1) * 86400) * 1_000_000

    base_last_us = (F.col("created_s") + F.col("w0") * F.col("gap_s")) * 1_000_000 + F.col("micros")
    slot_us = F.lit(60_000_000) + F.col("slot") * F.lit(DELTA_SPAN_US // n)
    delta = b > 0
    w_before = F.when(delta, F.col("w0") + F.when(F.col("hub"), b - 1).otherwise(0)).otherwise(0)
    p = p.select(
        "*",
        F.when(delta, window_us(b) + slot_us).otherwise(base_last_us).alias("updated_us"),
        w_before.alias("w_before"),
        F.when(delta, w_before + F.col("n_new")).otherwise(F.col("w0")).alias("w_after"),
        F.when(F.col("hub") & (b > 1), window_us(b - 1) + slot_us)
        .otherwise(base_last_us).alias("prev_end_us"),
    )

    status_now = _status_at(F.col("w_after"))
    closed = status_now == F.lit("Closed")
    issues = p.select(
        "batch",
        _key(i).alias("key"),
        F.concat(F.lit("Issue "), i.cast("string"), F.lit(" \U0001F680 summary")).alias("summary"),
        F.struct(_queue(i).alias("key")).alias("queue"),
        F.struct(F.element_at(F.array(F.lit("Task"), F.lit("Bug"), F.lit("UserStory")),
                              (i % 3 + 1).cast("int")).alias("name")).alias("type"),
        F.struct(F.lit("Normal").alias("name")).alias("priority"),
        F.struct(status_now.alias("name")).alias("status"),
        F.when(closed, F.struct(F.lit("Fixed").alias("name"))).alias("resolution"),
        _user(i).alias("assignee"),
        _user(i + 1).alias("createdBy"),
        F.array(F.lit("bench"), F.concat(F.lit("t"), (i % 5).cast("string"))).alias("tags"),
        F.array(F.struct(F.lit("Core").alias("name"))).alias("components"),
        F.struct(F.concat(F.lit("Project "), (i % 4).cast("string")).alias("name")).alias("project"),
        _tracker_ts(F.col("created_s") * 1_000_000 + F.col("micros")).alias("createdAt"),
        _tracker_ts(F.col("updated_us")).alias("updatedAt"),
        F.when(closed, _tracker_ts(F.col("updated_us"))).alias("resolvedAt"),
        (i % 13).cast("float").alias("storyPoints"),
        F.when(i % 7 == 0, F.struct(_key(i - 1).alias("key"))).alias("parent"),
    )

    n_events = F.when(
        delta, F.col("n_new") + F.when(F.col("delta_batch") == b, F.col("late")).otherwise(0)
    ).otherwise(
        F.col("w0") + F.col("updates") + F.col("workflow_other") + F.col("moved") + F.col("corrupt")
    )
    ev = p.select("*", F.explode(F.sequence(F.lit(0), n_events - 1)).alias("j"))
    j = F.col("j")
    created_us = F.col("created_s") * 1_000_000 + F.col("micros")
    # batch 0: the first w0 events are status transitions, the rest
    # (index o) are updates, other workflow, moved and corrupt events
    o = j - F.col("w0")
    base_kind = (
        F.when(j < F.col("w0"), "S")
        .when(o < F.col("updates"), "U")
        .when(o < F.col("updates") + F.col("workflow_other"), "N")
        .when(o < F.col("updates") + F.col("workflow_other") + F.col("moved"), "M")
        .otherwise("C")
    )
    base_end = created_us + (j + 1) * F.col("gap_s") * 1_000_000
    base_other = created_us + (
        (o % F.col("w0")) * F.col("gap_s") + F.col("gap_s") / 2
    ).cast("long") * 1_000_000
    # deltas: n_new transitions ending at updatedAt, 60 s apart, then the
    # late event stamped days before the delta window
    delta_end = F.col("updated_us") - (F.col("n_new") - 1 - j) * 60_000_000
    late_us = window_us(b - 3) + (h_col(i, 12, seed) % 86400) * 1_000_000
    is_status = F.when(delta, j < F.col("n_new")).otherwise(j < F.col("w0"))
    ev = ev.select(
        "*",
        F.when(delta, F.when(is_status, "S").otherwise("U")).otherwise(base_kind).alias("kind"),
        (F.col("w_before") + j).alias("t"),
        F.when(delta, delta_end).otherwise(base_end).alias("end_us"),
        F.when(delta, F.when(j == 0, F.col("prev_end_us")).otherwise(delta_end - 60_000_000))
        .otherwise(F.when(j > 0, created_us + j * F.col("gap_s") * 1_000_000)).alias("start_us"),
        F.when(is_status, F.when(delta, delta_end).otherwise(base_end))
        .otherwise(F.when(delta, late_us).otherwise(base_other)).alias("event_us"),
        ((i + F.when(delta, b).otherwise(o)) % _N_VARIANTS).alias("variant"),
    )

    fmt = (i + F.col("t")) % 6
    status_field = _field("status", "Status", _status_at(F.col("t")), _status_at(F.col("t") + 1))
    interval = _field(
        "statusStartTime", "Status time",
        _ts_string(F.col("start_us"), fmt), _ts_string(F.col("end_us"), fmt),
    )
    corrupt_fields = F.array(
        _field("status", "Status", _status_at(i), _status_at(i + 3)),
        _field("statusStartTime", "Status time", _ts_string(F.col("event_us"), fmt), F.lit(None)),
    )
    var = F.col("variant") + 1
    var_name = F.element_at(F.array(*[F.lit(v[0]) for v in VARIANTS]), var.cast("int"))
    var_from = F.element_at(F.array(*[F.lit(v[1]).cast("string") for v in VARIANTS]), var.cast("int"))
    var_to = F.element_at(F.array(*[F.lit(v[2]).cast("string") for v in VARIANTS]), var.cast("int"))
    update_fields = F.array(
        F.struct(F.struct(var_name.alias("id"), var_name.alias("name")).alias("field"),
                 var_from.alias("from"), var_to.alias("to")),
        _field("summary", "Summary", F.lit('"old title"'), F.lit('"new title"')),
    )
    kind = F.col("kind")
    fields = (
        F.when(kind == "S", F.array(status_field, interval))
        .when(kind == "U", update_fields)
        .when(kind == "N", F.array(_field(
            "resolution", "Resolution", F.lit(None), F.lit('{"key":"fixed","display":"Fixed"}'))))
        .when(kind == "M", F.array(
            _field("queue", "Queue", F.lit('{"key":"OLD","display":"Old"}'),
                   F.concat(F.lit('{"key":"'), _queue(i), F.lit('","display":"Q"}'))),
            _field("key", "Key", F.concat(F.lit("OLD-"), i.cast("string")), _key(i)),
        ))
        .otherwise(corrupt_fields)
    )
    event_type = (
        F.when(kind.isin("S", "N", "C"), "IssueWorkflow")
        .when(kind == "M", "IssueMoved")
        .otherwise("IssueUpdated")
    )
    changelog = ev.select(
        "batch",
        _key(i).alias("issue_key"),
        _queue(i).alias("queue"),
        _tracker_ts(F.col("event_us")).alias("updatedAt"),
        event_type.alias("type"),
        F.when(j % 2 == 0, "front").otherwise("api").alias("transport"),
        _user(i + j).alias("updatedBy"),
        fields.alias("fields"),
    )
    return _conform(issues, RAW_ISSUE_SCHEMA, "batch"), _conform(changelog, RAW_CHANGELOG_SCHEMA, "batch")


def stage(spark: SparkSession, n: int, seed: int, last_batch: int, stage_dir: str) -> None:
    """Write batches 0..``last_batch`` under ``stage_dir``, one directory per
    batch and table, for :func:`publish` to move into the raw source."""
    issues, changelog = generate(spark, n, seed, last_batch)
    for name, df in (("issues", issues), ("changelog", changelog)):
        df.coalesce(1).write.partitionBy("batch").parquet(f"{stage_dir}/{name}")


def publish(stage_dir: str, raw_dir: str, batch: int) -> None:
    """Publish staged ``batch`` to the raw source: the upstream system
    writing, outside any timed region.  Changelog events are appended; an
    updated issue's new version replaces its previous one, so the issue
    source holds the current version of each issue."""
    new_files = {}
    for table in ("issues", "changelog"):
        src = f"{stage_dir}/{table}/batch={batch}"
        new_files[table] = [f"{src}/{f}" for f in sorted(os.listdir(src)) if f.endswith(".parquet")]
        os.makedirs(f"{raw_dir}/{table}", exist_ok=True)
    updated = pa.concat_arrays([
        pq.read_table(f, columns=["key"]).column("key").combine_chunks() for f in new_files["issues"]
    ])
    issues_dir = f"{raw_dir}/issues"
    for name in sorted(os.listdir(issues_dir)):
        if not name.endswith(".parquet"):
            continue
        path = f"{issues_dir}/{name}"
        current = pq.read_table(path)
        keep = current.filter(pc.invert(pc.is_in(current.column("key"), value_set=updated)))
        if keep.num_rows == current.num_rows:
            continue
        os.remove(path)
        crc = f"{issues_dir}/.{name}.crc"  # Hadoop's checksum of the old bytes
        if os.path.exists(crc):
            os.remove(crc)
        if keep.num_rows:
            pq.write_table(keep, path)
    for table, files in new_files.items():
        for path in files:
            os.rename(path, f"{raw_dir}/{table}/batch{batch:03d}-{os.path.basename(path)}")


def read_raw(spark: SparkSession, raw_dir: str):
    return (
        spark.read.schema(RAW_ISSUE_SCHEMA).parquet(f"{raw_dir}/issues"),
        spark.read.schema(RAW_CHANGELOG_SCHEMA).parquet(f"{raw_dir}/changelog"),
    )


def describe(spark: SparkSession, raw_dir: str) -> dict:
    """Measured corpus properties (one aggregation over the raw source)."""
    _, changelog = read_raw(spark, raw_dir)
    values = changelog.select(
        F.col("type"), F.explode("fields").alias("f")
    ).select("type", F.explode(F.array("f.from", "f.to")).alias("v"))
    row = values.agg(
        F.count("v").alias("values"),
        F.sum(F.col("v").rlike(r'^"?\d{4}-\d{2}-\d{2}').cast("long")).alias("dt_values"),
    ).first()
    events = changelog.groupBy("issue_key").agg(F.count(F.lit(1)).alias("n"))
    ev = events.agg(
        F.percentile_approx("n", 0.5, 10000).alias("p50"), F.max("n").alias("max")
    ).first()
    wf = changelog.agg(
        F.avg((F.col("type") == "IssueWorkflow").cast("double")).alias("wf")
    ).first()
    return {
        "datetime_value_share": row["dt_values"] / row["values"],
        "workflow_event_share": wf["wf"],
        "events_per_issue_p50": ev["p50"],
        "events_per_issue_max": ev["max"],
    }
