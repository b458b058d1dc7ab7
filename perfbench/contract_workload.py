"""The ``contract`` workload: a fixed slice of the 151-query contract.

Closed loop, one client.  Each query is built with ``__spark_entry__`` and
drained through ``df.write.format("noop")``, which computes every output
column (a ``count()`` lets Catalyst prune windows, joins and Python UDFs).
The slice holds one query per engine module family, so every
operator module, ``multimodal``, ``streaming``, ``functions`` and plain
Spark SQL is loaded; the whole 151-query pass (about 80 s warm on four
cores) does not fit the run budget.

The inputs are the sf0.01 tables under ``data/sf0.01`` (a copy of the
harness tables the contract manifest was verified on).  The check pass
runs first and is untimed: each query is collected and its normalized
``result_md5`` (the normalization is imported from
``tools/make_manifest.py``) must equal ``QUERIES_MANIFEST.json``.  It
also warms the JIT.  Then whole passes over the slice, in a seeded order,
repeat until ``--seconds`` have passed and at least two ran; a query's
time is the median of its passes, build included.  One query in one pass,
the check pass included, is one attempted operation.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

from spans import COUNTERS, catalyst_seconds, median, noop

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")

QUERIES = (
    "business_hours_duration",  # functions
    "media_jpeg_histogram",  # multimodal
    "cdc_chunks",  # operators.dedup (Arrow kernel in the workers)
    "kmeans_clusters",  # operators.clustering + similarity + partitioning
    "cms_heavy_hitters",  # operators.sketches
    "streaming_upsert_state",  # streaming
    "funnel_conversion",  # operators.funnel
    "kcore_3",  # operators.graph
    "histogram_quantiles",  # operators.grouped
    "scd2_intervals",  # operators.temporal
    "language_id",  # operators.text_analysis
    "pricing_summary",  # plain Spark SQL
)
TINY_QUERIES = ("pricing_summary", "cdc_chunks", "funnel_conversion")
MIN_PASSES = 2
#: module families a query's build can call; anything else is plumbing
MODULES = (
    "operators.clustering", "operators.dedup", "operators.funnel", "operators.graph",
    "operators.grouped", "operators.partitioning", "operators.similarity", "operators.sketches",
    "operators.temporal", "operators.text_analysis", "multimodal", "streaming", "functions",
    "spark_sql",
)
_PKG = "yandex_tracker_exporter_spark."


def _module_family(module: str) -> str | None:
    name = module[len(_PKG):]
    for family in MODULES:
        if name == family or name.startswith(family + "."):
            return family
    return None


def _build_modules(fn, spark) -> tuple[object, set]:
    """Build a query while recording which engine module families it calls."""
    called: set = set()

    def profiler(frame, event, arg):
        if event == "call":
            module = frame.f_globals.get("__name__", "")
            if module.startswith(_PKG):
                family = _module_family(module)
                if family:
                    called.add(family)

    sys.setprofile(profiler)
    try:
        df = fn(spark, DATA)
    finally:
        sys.setprofile(None)
    return df, called or {"spark_sql"}


def run(ctx) -> dict:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import __spark_entry__ as entry
    from make_manifest import _norm, _result_md5

    spark, tr = ctx.spark, ctx.tracer
    with open(os.path.join(ROOT, "QUERIES_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)["queries"]
    builders = entry.queries()
    names = list(TINY_QUERIES if ctx.tiny else QUERIES)
    random.Random(ctx.seed).shuffle(names)
    expected = {q: manifest[q]["result_md5"] for q in names}
    if ctx.plant:  # a planted wrong expectation must show as a failed op
        expected[names[0]] = "0" * 32

    # an operation is one query in one pass, the check pass being pass 0
    failures: dict[str, list[str]] = {}
    modules: dict[str, set] = {}
    attempted = 0
    for name in names:
        attempted += 1
        try:
            if tr.enabled:  # the profiler hook slows the build: not in a timed pass
                df, modules[name] = _build_modules(builders[name], spark)
            else:
                df = builders[name](spark, DATA)
            rows = df.collect()
            md5 = _result_md5(_norm(rows, df.columns), df.columns)
            if md5 != expected[name]:
                failures[f"{name} pass 0"] = [f"result_md5 {md5} != manifest {expected[name]}"]
        except Exception as exc:
            failures[f"{name} pass 0"] = [f"{type(exc).__name__}: {str(exc)[:300]}"]

    times: dict[str, list[float]] = {q: [] for q in names}
    layers_by_query: dict[str, list[dict]] = {q: [] for q in names}
    start = time.time()
    passes = 0
    while passes < MIN_PASSES or time.time() - start < ctx.seconds:
        passes += 1
        for name in names:
            attempted += 1
            t0 = time.time()
            try:
                with tr.span("contract.query", query=name) as rec:
                    if rec is None:
                        noop(builders[name](spark, DATA))
                    else:
                        df = builders[name](spark, DATA)
                        build_s = time.time() - t0
                        catalyst_s = catalyst_seconds(df)
                        t1 = time.time()
                        noop(df)
                        rec.update(build_s=build_s, catalyst_s=catalyst_s, exec_s=time.time() - t1)
                        layers_by_query[name].append(rec)
            except Exception as exc:
                failures[f"{name} pass {passes}"] = [f"{type(exc).__name__}: {str(exc)[:300]}"]
                continue
            times[name].append(time.time() - t0)

    per_query = {q: median(v) for q, v in times.items() if v}
    ordered = sorted(per_query.values())
    total = sum(per_query.values())
    named = [
        ("contract_total_s", total, "s", "lower"),
        ("contract_query_p50_s", median(ordered), "s", "lower"),
        (f"contract_query_p90_s(n={len(ordered)})", _quantile(ordered, 0.9), "s", "lower"),
    ]
    layers = {}
    if tr.enabled:
        layers = _contract_layers(tr, layers_by_query, modules)
    return {
        "attempted": attempted,
        "failures": failures,
        "op_p50_s": median(ordered),
        "bulk_s": total,
        "named": named,
        "layers": layers,
        "corpus": {"queries": len(names), "passes": passes,
                   "md5_matches": sum(f"{q} pass 0" not in failures for q in names),
                   "per_query_s": {q: round(v, 4) for q, v in sorted(per_query.items())}},
    }


def _quantile(ordered: list[float], q: float) -> float:
    if not ordered:
        return 0.0
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def _contract_layers(tr, layers_by_query: dict, modules: dict) -> dict:
    layers = {f"contract.{m}.exec_s": 0.0 for m in MODULES}
    build = catalyst = execute = 0.0
    counters: dict[str, float] = {}
    for name, recs in layers_by_query.items():
        if not recs:
            continue
        exec_s = median([r["exec_s"] for r in recs])
        build += median([r["build_s"] for r in recs])
        catalyst += median([r["catalyst_s"] for r in recs])
        execute += exec_s
        for family in modules.get(name, ()):
            layers[f"contract.{family}.exec_s"] += exec_s
        per_pass = [tr.counters(r) for r in recs]
        for c in COUNTERS:
            counters[c] = counters.get(c, 0) + median([p[c] for p in per_pass])
    layers["contract.build_s"] = build
    layers["contract.catalyst_s"] = catalyst
    layers["contract.exec_s"] = execute
    for c, v in counters.items():
        layers[f"contract.{c}"] = v
    return layers
