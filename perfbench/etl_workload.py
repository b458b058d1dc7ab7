"""The ``etl`` workload: one backfill, then scheduled incremental syncs.

Closed loop, one client, no think time.  In order:

1. backfill: one ``run_etl`` with empty output and empty state over the
   batch-0 corpus (timed: ``backfill_s``).  It is the first ``run_etl``
   of the process, so it includes compiling the generated code, as a
   run-once invocation does;
2. scheduled syncs until ``--seconds`` have passed and at least
   ``MIN_SYNCS`` ran: each appends the next delta to the raw source
   (untimed: the upstream system writing), runs ``run_etl`` with a fresh
   ``FileStateStore`` over the state file (timed: one sync), then drains
   ``read_latest`` of all three tables the way a dashboard reads the
   ``FINAL`` views (timed: one view read);
3. one sync with no new data, which must take the F5 short-circuit;
4. one ``compact`` of the three tables.

``op_p50_s`` is the median cycle (one sync plus one view read) after the
first, which pays the first use of the view reads;
``bulk_s`` is the wall time of the schedule: the backfill, the first
``MIN_SYNCS`` cycles, the idle sync and the compaction.

Checks run outside the timed regions: row counts against the corpus
closed forms, the watermark against the delta's max ``updatedAt``,
per-status ``duration`` against a plain-Python recomputation on a seeded
sample of issues, and one row per dedup key in every ``read_latest``.
"""

from __future__ import annotations

import datetime as dt
import random
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import corpus
from spans import dir_files, median, noop, probe
from yandex_tracker_exporter_spark import etl
from yandex_tracker_exporter_spark.functions.business import business_seconds
from yandex_tracker_exporter_spark.functions.changelog import extract_changelog_value
from yandex_tracker_exporter_spark.functions.datetimes import parse_tracker_datetime
from yandex_tracker_exporter_spark.plans.search_spec import SearchSpec
from yandex_tracker_exporter_spark.schemas import DEDUP_KEYS
from yandex_tracker_exporter_spark.sources import sinks, state

N_ISSUES = 1000
TINY_ISSUES = 120
#: timed sync cycles every run makes (more when --seconds allows): the
#: first pays first-use costs, so at least two more are left for op_p50_s
MIN_SYNCS = 3
SAMPLE_ISSUES = 24
TABLES = tuple(DEDUP_KEYS)  # issues, issue_metrics, issues_changelog
STATE_KEY = "issues"


def _naive_utc(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)


class Ops:
    """Attempted operations and the failed ones, keyed by operation name, so
    an operation counts as failed once however many of its checks fail."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: dict[str, list[str]] = {}

    def _fail(self, name: str, problem: str) -> None:
        self.failures.setdefault(name, []).append(problem)

    def run(self, name: str, fn, check=None):
        """Run one operation; returns (result, seconds), result None on error."""
        self.attempted += 1
        t0 = time.time()
        try:
            result = fn()
        except Exception as exc:  # an operation that raises is a failed op
            self._fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            return None, time.time() - t0
        seconds = time.time() - t0
        if check is not None:
            problem = check(result)
            if problem:
                self._fail(name, problem)
        return result, seconds

    def check(self, op: str, what: str, fn) -> None:
        """A later check of the outputs operation ``op`` left; a failure
        fails ``op`` (no new attempted operation)."""
        try:
            problem = fn()
        except Exception as exc:
            problem = f"{type(exc).__name__}: {str(exc)[:300]}"
        if problem:
            self._fail(op, f"{what}: {problem}")


def _check_etl(result, expected, skipped=False) -> str | None:
    if result is None:
        return "no result"
    if skipped:
        return None if result.skipped else f"expected skipped=True, got {result}"
    if result.skipped:
        return f"skipped=True: {result}"
    rows, changelog, metrics, max_us = expected
    got = (result.issues, result.changelog, result.metrics)
    if got != (rows, changelog, metrics):
        return f"rows {got} != closed form {(rows, changelog, metrics)}"
    if result.watermark != _naive_utc(max_us):
        return f"watermark {result.watermark} != max updatedAt {_naive_utc(max_us)}"
    return None


# --- plain-Python recomputation of per-status durations ---------------------

_PY_FORMATS = ("%Y-%m-%dT%H:%M:%S.%f%z", "%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%d %H:%M:%S")


def _parse_py(value: str | None) -> int | None:
    """Epoch seconds (floored) of a Tracker datetime string; naive = UTC."""
    if value is None:
        return None
    for fmt in _PY_FORMATS:
        try:
            parsed = dt.datetime.strptime(value, fmt)
        except ValueError:
            continue
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=dt.timezone.utc)
        return int((parsed - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(seconds=1))
    return None


def python_durations(events: list, created: dict) -> dict:
    """{(issue, status): seconds} by the reference's dict-and-loop rule."""
    out: dict = {}
    for ev in events:
        fields = ev["fields"] or []
        if ev["type"] != "IssueWorkflow" or len(fields) < 2 or fields[0]["field"]["id"] != "status":
            continue
        start = _parse_py(fields[1]["from"])
        if start is None:
            start = _parse_py(created[ev["issue_key"]])
        end = _parse_py(fields[1]["to"])
        if start is None or end is None:
            continue
        key = (ev["issue_key"], fields[0]["from"].lower().replace(" ", "_"))
        out[key] = out.get(key, 0) + abs(end - start)
    return out


def _check_durations(spark, raw_dir: str, out_dir: str, n: int, seed: int) -> str | None:
    rng = random.Random(seed)
    params = corpus.all_params(n, seed)
    hubs = [i for i, p in enumerate(params) if p.hub][:2]
    ids = sorted(set(rng.sample(range(n), min(SAMPLE_ISSUES, n)) + hubs))
    keys = [f"Q{i % 8}-{i + 1}" for i in ids]
    raw_issues, raw_changelog = corpus.read_raw(spark, raw_dir)
    created = {r["key"]: r["createdAt"] for r in raw_issues.where(F.col("key").isin(keys)).select("key", "createdAt").collect()}
    events = raw_changelog.where(F.col("issue_key").isin(keys)).collect()
    expected = python_durations(events, created)
    metrics = sinks.read_latest(spark, f"{out_dir}/issue_metrics", DEDUP_KEYS["issue_metrics"])
    metrics = metrics.where(F.col("issue_key").isin(keys))
    latest = metrics.groupBy("issue_key").agg(F.max("version").alias("_v"))
    rows = metrics.join(latest, "issue_key").where(F.col("version") == F.col("_v")).collect()
    got = {(r["issue_key"], r["status_name"]): r["duration"] for r in rows}
    if got != expected:
        diff = sorted(set(got.items()) ^ set(expected.items()))[:4]
        return f"durations differ from the Python recomputation on {len(ids)} issues: {diff}"
    return None


def _check_one_row_per_key(spark, out_dir: str) -> str | None:
    for table in TABLES:
        keys = DEDUP_KEYS[table]
        df = sinks.read_latest(spark, f"{out_dir}/{table}", keys)
        row = df.agg(F.count(F.lit(1)).alias("n"), F.count_distinct(*[F.col(k) for k in keys]).alias("d")).first()
        if row["n"] != row["d"]:
            return f"read_latest({table}) returned {row['n']} rows for {row['d']} keys"
    return None


# --- traced-only layer probes -------------------------------------------------

def _layer_probes(ctx, originals: dict, raw_dir: str, n: int, seed: int, changelog_rows: int) -> dict:
    tr, spark = ctx.tracer, ctx.spark
    ri, rc = corpus.read_raw(spark, raw_dir)
    layers = {}
    p = probe(tr, "etl.transform_changelog", lambda: originals["transform_changelog"](rc))
    for q in ("build_s", "catalyst_s", "exec_s", "executor_cpu_s"):
        layers[f"etl.transform_changelog.{q}"] = p[q]
    layers["etl.transform_changelog.rows_in"] = corpus.raw_events(n, seed, 0)
    layers["etl.transform_changelog.rows_out"] = changelog_rows
    values = rc.select(F.explode("fields").alias("f"))
    p = probe(tr, "functions.parse_tracker_datetime",
              lambda: values.select(parse_tracker_datetime(F.col("f.from")), parse_tracker_datetime(F.col("f.to"))))
    layers["functions.parse_tracker_datetime.exec_s"] = p["exec_s"]
    p = probe(tr, "functions.extract_changelog_value",
              lambda: values.select(extract_changelog_value(F.col("f.from")), extract_changelog_value(F.col("f.to"))))
    layers["functions.extract_changelog_value.exec_s"] = p["exec_s"]
    p = probe(tr, "etl.transform_issues", lambda: originals["transform_issues"](ri, rc))
    for q in ("build_s", "catalyst_s", "exec_s"):
        layers[f"etl.transform_issues.{q}"] = p[q]
    p = probe(tr, "operators.sessionize.status_metrics", lambda: originals["status_metrics"](rc, ri))
    for q in ("catalyst_s", "exec_s", "shuffle_write_bytes"):
        layers[f"operators.sessionize.status_metrics.{q}"] = p[q]
    intervals = rc.where(F.col("type") == "IssueWorkflow").select(
        parse_tracker_datetime(F.col("fields")[1]["from"]).alias("s"),
        parse_tracker_datetime(F.col("fields")[1]["to"]).alias("e"),
    ).where(F.col("s").isNotNull() & F.col("e").isNotNull())
    p = probe(tr, "functions.business_seconds", lambda: intervals.select(business_seconds("s", "e")))
    layers["functions.business_seconds.exec_s"] = p["exec_s"]
    return layers


_WRAPPED = ("apply_search", "transform_issues", "transform_changelog", "status_metrics",
            "compute_watermark", "write_versioned")


def _instrument(tracer) -> dict:
    """Wrap the engine calls ``run_etl`` makes, so each is a span with its
    own job group (traced runs only; the engine files are unchanged).
    Returns the unwrapped functions."""
    originals = {attr: getattr(etl, attr) for attr in _WRAPPED}
    names = {
        "apply_search": "plans.search_spec.apply_search",
        "transform_issues": "etl.transform_issues",
        "transform_changelog": "etl.transform_changelog",
        "status_metrics": "operators.sessionize.status_metrics",
        "compute_watermark": "operators.watermark.compute_watermark",
    }
    for attr, name in names.items():
        tracer.wrap(etl, attr, name)

    def write_versioned(df, path, *args, **kwargs):
        before = dir_files(path)
        table = path.rstrip("/").rsplit("/", 1)[-1]
        with tracer.span(f"sources.sinks.write_versioned.{table}") as rec:
            originals["write_versioned"](df, path, *args, **kwargs)
        new = [b for f, b in dir_files(path).items() if f not in before]
        rec["files_written"], rec["bytes_written"] = len(new), sum(new)

    etl.write_versioned = write_versioned
    for attr in ("get", "set", "flush"):
        tracer.wrap(state.FileStateStore, attr, f"sources.state.{attr}")
    return originals


def _uninstrument(originals: dict) -> None:
    if not originals:
        return
    for attr, fn in originals.items():
        setattr(etl, attr, fn)
    for attr in ("get", "set", "flush"):
        wrapped = getattr(state.FileStateStore, attr)
        setattr(state.FileStateStore, attr, getattr(wrapped, "__wrapped__", wrapped))


def run(ctx) -> dict:
    spark, tr, seed = ctx.spark, ctx.tracer, ctx.seed
    n = TINY_ISSUES if ctx.tiny else N_ISSUES
    # deltas to stage: more than the loop can use in --seconds (a cycle takes > 2 s)
    max_syncs = MIN_SYNCS if ctx.tiny else min(corpus.DELTA_PERIOD, MIN_SYNCS + int(ctx.seconds // 2))
    raw, stage, out = f"{ctx.run_dir}/raw", f"{ctx.run_dir}/staged", f"{ctx.run_dir}/warehouse"
    state_path = f"{ctx.run_dir}/state.json"
    t0 = time.time()
    corpus.stage(spark, n, seed, max_syncs, stage)
    corpus.publish(stage, raw, 0)
    prep_s = time.time() - t0
    originals = _instrument(tr) if tr.enabled else {}
    try:
        return _sequence(ctx, originals, prep_s, n, max_syncs, raw, stage, out, state_path)
    finally:
        _uninstrument(originals)


def _sequence(ctx, originals: dict, prep_s: float, n: int, max_syncs: int,
              raw: str, stage: str, out: str, state_path: str) -> dict:
    spark, tr, seed = ctx.spark, ctx.tracer, ctx.seed
    ops = Ops()
    expected = corpus.expected_counts(n, seed, 0, None)
    if ctx.plant:  # a planted wrong expectation must show as a failed op
        expected = (expected[0] + 1,) + expected[1:]

    def backfill():
        ri, rc = corpus.read_raw(spark, raw)
        search = SearchSpec(now=corpus.NOW, stateful_initial_range=corpus.INITIAL_RANGE)
        with tr.span("etl.run_etl", phase="backfill"):
            return etl.run_etl(ri, rc, out, state=state.FileStateStore(state_path), search=search)

    result, backfill_s = ops.run("backfill", backfill, lambda r: _check_etl(r, expected))
    events0 = corpus.raw_events(n, seed, 0)
    layers = {}
    if tr.enabled:
        layers.update(_layer_probes(ctx, originals, raw, n, seed, result.changelog if result else 0))
    wm_us = expected[3]

    used = {}

    def sync():
        ri, rc = corpus.read_raw(spark, raw)
        with tr.span("etl.run_etl", phase="sync"):
            store = state.FileStateStore(state_path)
            used["search"] = SearchSpec(watermark=store.get(STATE_KEY), now=corpus.NOW)
            return etl.run_etl(ri, rc, out, state=store, search=used["search"])

    def search_drain(selected: int) -> None:
        """Rows the raw-issue scan reads per row the search selects."""
        ri, _ = corpus.read_raw(spark, raw)
        with tr.span("plans.search_spec.apply_search.drain") as rec:
            noop(originals["apply_search"](ri, used["search"], queue_col="queue.key", updated_col="updatedAt"))
        rec["selected"] = selected

    def views():
        with tr.span("views"):
            for table in TABLES:
                with tr.span(f"sources.sinks.read_latest.{table}") as rec:
                    df = sinks.read_latest(spark, f"{out}/{table}", DEDUP_KEYS[table])
                    if rec is not None:
                        obs = Observation(f"rows_{rec['id']}")
                        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
                        noop(df)
                        rec["rows_returned"] = obs.get["n"]
                    else:
                        noop(df)

    syncs, reads = [], []
    issue_rows, delta_issues = n, 0
    loop_start = time.time()
    k = 0
    while k < max_syncs and (k < MIN_SYNCS or time.time() - loop_start < ctx.seconds):
        k += 1
        corpus.publish(stage, raw, k)
        exp = corpus.expected_counts(n, seed, k, wm_us)
        wm_us = exp[3]
        issue_rows += exp[0]
        delta_issues += corpus.delta_size(n, seed, k)
        res, s = ops.run(f"sync {k}", sync, lambda r, e=exp: _check_etl(r, e))
        syncs.append(s)
        if tr.enabled and res is not None:
            search_drain(res.issues)
        _, s = ops.run(f"view read {k}", views)
        reads.append(s)

    _, idle_s = ops.run("idle sync", sync, lambda r: _check_etl(r, None, skipped=True))

    def compact_all():
        before = dir_files(out)
        with tr.span("sources.sinks.compact") as rec:
            for table in TABLES:
                sinks.compact(spark, f"{out}/{table}", DEDUP_KEYS[table])
        if rec is not None:
            after = dir_files(out)
            rec["bytes_rewritten"] = sum(b for f, b in after.items() if before.get(f) != b)

    _, compact_s = ops.run("compact", compact_all)

    # output checks that need a read of the final tables
    t0 = time.time()
    # the final tables are the ones compact left behind
    ops.check("compact", "read_latest one row per key", lambda: _check_one_row_per_key(spark, out))
    ops.check("compact", "durations", lambda: _check_durations(spark, raw, out, n, seed))
    checks_s = time.time() - t0

    named = [
        ("backfill_events_per_s", events0 / backfill_s, "events/s", "higher"),
        ("sync_p50_s", median(syncs), "s", "lower"),
        ("view_read_p50_s", median(reads), "s", "lower"),
        ("idle_sync_s", idle_s, "s", "lower"),
        ("compact_s", compact_s, "s", "lower"),
    ]
    tail = tail_percentile(syncs)
    if tail:
        named.append((f"sync_tail_s(p{tail[0]},n={len(syncs)})", tail[1], "s", "lower"))
    corpus_props = {
        "issues": n, "backfill_events": events0, "syncs": k,
        "input_prep_s": prep_s, "final_checks_s": checks_s,
        "sync_s": syncs, "view_read_s": reads,
        "delta_share_per_sync": delta_issues / k / n if k else 0.0,
        "issue_versions_per_key_at_end": issue_rows / n,
    }
    if tr.enabled:
        corpus_props.update(corpus.describe(spark, raw))
        layers.update(_etl_layers(tr, out))
        backfill_span = tr.named("etl.run_etl", phase="backfill")
        if backfill_span:
            rec = backfill_span[0]
            c = tr.counters(rec)
            sub = tr.subtree(rec)
            by_span: dict[str, float] = {}
            for s in sub:
                if s is not rec:
                    by_span[s["name"]] = by_span.get(s["name"], 0.0) + tr.self_time(s)
            corpus_props["backfill_self_time_accounting"] = {
                "wall_s": tr.duration(rec),
                "sum_self_s": sum(tr.self_time(s) for s in sub),
                "child_self_s": sum(tr.self_time(s) for s in sub if s is not rec),
                "run_etl_self_s": tr.self_time(rec),
                "self_s_by_span": by_span,
                "job_busy_s": tr.duration(rec) - c["driver_s"],
                "driver_gap_s": c["driver_s"],
                "executor_cpu_s": c["executor_cpu_s"],
            }
    return {
        "attempted": ops.attempted,
        "failures": ops.failures,
        # the first cycle pays the first use of the view reads: it counts in
        # bulk_s, not in the steady cycle time
        "op_p50_s": median([s + r for s, r in zip(syncs, reads)][1:]),
        # the whole schedule over a fixed amount of work: the sum of many
        # operations is steadier than any one of them
        "bulk_s": backfill_s + sum(syncs[:MIN_SYNCS]) + sum(reads[:MIN_SYNCS]) + idle_s + compact_s,
        "named": named,
        "layers": layers,
        "corpus": corpus_props,
    }


def tail_percentile(samples: list[float]):
    """(percentile, value): the highest percentile with >= 10 samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    ordered = sorted(samples)
    idx = n - 11  # ten samples lie beyond index n - 11
    return int(100 * (idx + 1) / n), ordered[idx]


def _etl_layers(tr, out: str) -> dict:
    layers = {}
    syncs = tr.named("etl.run_etl", phase="sync")
    counters = [tr.counters(s) for s in syncs]
    for q in ("jobs", "stages", "driver_s", "executor_run_s", "executor_cpu_s",
              "shuffle_write_bytes", "spill_bytes", "tasks", "failed_tasks"):
        layers[f"etl.run_etl.{q}"] = median([c[q] for c in counters])
    wm = tr.named("operators.watermark.compute_watermark")
    layers["operators.watermark.compute_watermark_s"] = median([tr.duration(s) for s in wm])
    for table in TABLES:
        spans = tr.named(f"sources.sinks.write_versioned.{table}")
        layers[f"sources.sinks.write_versioned.{table}.s"] = median([tr.duration(s) for s in spans])
        reads = tr.named(f"sources.sinks.read_latest.{table}")
        layers[f"sources.sinks.read_latest.{table}.s"] = median([tr.duration(s) for s in reads])
        layers[f"sources.sinks.read_latest.{table}.scanned_per_returned"] = median([
            tr.counters(s)["input_records"] / s["rows_returned"] for s in reads if s.get("rows_returned")
        ])
        for q in ("files_written", "bytes_written"):
            layers[f"sources.sinks.write_versioned.{table}.{q}"] = median([s.get(q) for s in spans])
    search = tr.named("plans.search_spec.apply_search")
    layers["plans.search_spec.apply_search.build_s"] = median([tr.duration(s) for s in search])
    layers["plans.search_spec.apply_search.rows_read_per_selected"] = median([
        tr.counters(s)["input_records"] / s["selected"]
        for s in tr.named("plans.search_spec.apply_search.drain") if s.get("selected")
    ])
    layers["sources.state.get_s"] = median([tr.duration(s) for s in tr.named("sources.state.get")])
    layers["sources.state.flush_s"] = median([tr.duration(s) for s in tr.named("sources.state.flush")])
    compact = tr.named("sources.sinks.compact")
    layers["sources.sinks.compact.s"] = median([tr.duration(s) for s in compact])
    layers["sources.sinks.compact.bytes_rewritten"] = median([s.get("bytes_rewritten") for s in compact])
    return layers
