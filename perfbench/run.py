#!/usr/bin/env python3
"""Benchmark of the tracker ETL and the query contract.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the repository root.  One invocation starts one Spark session on
``local[<cores>]``, builds its inputs from ``--seed``, runs one workload
(``etl`` or ``contract``, see BENCHMARK.json) for about ``--seconds``,
checks the outputs, and prints as its last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics from spans, job groups and
Spark's status store.  The lines before it name every metric with its
unit and direction, including the workload's own named metrics, and a
``stamp`` line with the host's state: load average, other live JVMs and
the CPU steal share, with ``steady`` false (and a note on stderr) when
other guests of the host took more than ``STEADY_STEAL_SHARE`` of the
CPU time, so the run's timings are not comparable with calm runs.
``--workload all`` runs every workload untraced and traced in child
processes and prints all named metrics plus the tracing overhead.

Everything the run writes lives under ``.perfbench_run/`` in the current
directory; each run uses a fresh directory and removes it at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import types

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl", "contract")
#: a run whose workload lost more CPU time than this to other guests of the
#: host (steal) is stamped not steady: its timings are not comparable with
#: those of calm runs.  Above it a run slows by far more than the stolen
#: share.  A run at or below it can still be slowed by other guests through
#: shared caches and clocks, which steal does not show.
STEADY_STEAL_SHARE = 0.03


def _process_start_epoch() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat", encoding="ascii") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_mib() -> int:
    """An eighth of physical memory, between 512 MiB and 1 GiB (the machine
    may be shared; the inputs are small)."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(512, min(1024, kib // 8 // 1024))


# --- memory of the JVM and its Python workers -----------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kib(pid: int) -> int:
    """Proportional set size: resident memory with each shared page divided
    among the processes sharing it, so forked Python workers are not
    counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process has exited
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:  # the process has exited
        return False


class MemorySampler(threading.Thread):
    """Peak of (JVM + descendant Python workers) proportional set size."""

    def __init__(self, root_pid: int, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.root_pid, self.period = root_pid, period
        self.peak_kib = self.peak_jvm_kib = self.peak_workers = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        kids = _children_map()
        todo, total, workers = list(kids.get(self.root_pid, ())), 0, 0
        while todo:
            pid = todo.pop()
            # only the Python workers: a child the JVM is spawning shares
            # the JVM's address space until it execs, and would count it twice
            if _is_python(pid):
                total += _pss_kib(pid)
                workers += 1
            todo.extend(kids.get(pid, ()))
        jvm = _pss_kib(self.root_pid)
        self.peak_jvm_kib = max(self.peak_jvm_kib, jvm)
        self.peak_workers = max(self.peak_workers, workers)
        self.peak_kib = max(self.peak_kib, jvm + total)

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak_kib / 1024


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, over all CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


# --- session ------------------------------------------------------------------

def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def start_session(run_dir: str):
    """get_spark on local[<cores>] plus one pandas-UDF round trip.
    Returns (spark, session.start_s, session.udf_worker_warm_s)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the Python workers must import the engine whatever the cwd is
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    from yandex_tracker_exporter_spark.session import get_spark

    heap = _driver_memory_mib()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap (-Xms = max heap): a growing heap makes resident
        # memory depend on when the collector chose to expand it
        "spark.driver.memory": f"{heap}m",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap}m",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # keep every job of a run in the status store for the layer scrape
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    t0 = time.time()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    start_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    t0 = time.time()
    plus_one = F.pandas_udf(_plus_one, "long")
    got = sorted(r[0] for r in spark.range(0, 4, numPartitions=1).select(plus_one("id")).collect())
    if got != [1, 2, 3, 4]:
        raise RuntimeError(f"pandas UDF round trip returned {got}")
    return spark, start_s, time.time() - t0


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited
    (the JVM exits when its stdin closes; the workers follow it)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = _children_map()
    todo, pids = list(kids.get(proc.pid, ())), []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, ()))
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{pid}") for pid in pids):
        time.sleep(0.1)


def run_workload(args) -> int:
    try:  # the engine must be importable from the checkout
        sys.path.insert(0, ROOT)
        import yandex_tracker_exporter_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    spec = _benchmark_spec()
    os.environ["TZ"] = "UTC"
    time.tzset()
    stamp = {"loadavg_start": os.getloadavg()}
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(os.getcwd(), ".perfbench_run")
    run_dir = os.path.join(base, run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        spark, start_s, udf_s = start_session(run_dir)
        setup_s = time.time() - _process_start_epoch()
        from spans import Tracer

        if args.workload == "etl":
            import etl_workload as workload
        else:
            import contract_workload as workload
        from bench import _other_jvms  # live JVMs, exited ones excluded

        jvm_pid = spark.sparkContext._gateway.proc.pid
        stamp["other_jvms_start"] = [p for p in _other_jvms() if p != jvm_pid]
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        ctx = types.SimpleNamespace(spark=spark, seed=args.seed, seconds=args.seconds, run_dir=run_dir,
                                    tracer=tracer, tiny=args.tiny, plant=args.plant)
        sampler = MemorySampler(jvm_pid)
        sampler.start()
        steal0, total0 = _cpu_ticks()
        t0 = time.time()
        out = workload.run(ctx)
        wall = time.time() - t0
        steal1, total1 = _cpu_ticks()
        peak_mb = sampler.stop()
        # CPU time the hypervisor gave to other guests: the host's own load
        steal_share = (steal1 - steal0) / max(total1 - total0, 1)
        others = [p for p in _other_jvms() if p != jvm_pid]
        stamp.update(cpu_steal_share=steal_share, steady=steal_share <= STEADY_STEAL_SHARE,
                     loadavg_end=os.getloadavg(), other_jvms_end=others,
                     cores=_cores(), driver_heap_mib=_driver_memory_mib(), workload_wall_s=wall,
                     peak_jvm_pss_mb=sampler.peak_jvm_kib / 1024, peak_python_workers=sampler.peak_workers)
        if tracer.enabled:
            tracer.dump(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(out["failures"])  # failed operations: each is listed once
    attempted = max(out["attempted"], 1)
    print("stamp " + json.dumps(stamp))
    if not stamp["steady"]:
        print(f"perfbench: not steady: {stamp['cpu_steal_share']:.1%} of the CPU time went to other "
              f"guests of the host (limit {STEADY_STEAL_SHARE:.0%})", file=sys.stderr)
    print("workload " + json.dumps(out["corpus"]))
    for op, problems in out["failures"].items():
        print(f"FAILED {op}: " + "; ".join(problems))
    named = list(out["named"]) + [
        ("setup_s", setup_s, "s", "lower"),
        ("peak_rss_mb", peak_mb, "MB", "lower"),
        ("failed_ops_ratio", failed / attempted, "ratio", "lower"),
    ]
    if args.trace:
        layers = {**out["layers"], "session.start_s": start_s, "session.udf_worker_warm_s": udf_s,
                  "trace.op_p50_s": out["op_p50_s"]}
        metrics = {}
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
    else:
        values = {"setup_s": setup_s, "peak_rss_mb": peak_mb, "op_p50_s": out["op_p50_s"],
                  "bulk_s": out["bulk_s"]}
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for name, value, unit, better in named:
        if name not in metrics:
            print(f"metric {name} {value:.6g} {unit} {better}-is-better")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] in metrics:
            print(f"metric {m['name']} {metrics[m['name']]['value']:.6g} {m['unit']} {m['better']}-is-better")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload untraced and traced; prints named metrics and the
    tracing overhead (traced minus untraced op_p50_s)."""
    status = 0
    for workload in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            if args.tiny:
                cmd.append("--tiny")
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                status = 1
                continue
            results[trace] = json.loads(lines[-1])
            for line in lines[:-1]:
                if trace == 0 or line.startswith(("FAILED", "workload")):
                    print(f"[{workload} trace={trace}] {line}")
        if 0 in results and 1 in results:
            untraced = results[0]["metrics"]["op_p50_s"]["value"]
            traced = results[1]["metrics"]["trace.op_p50_s"]["value"]
            print(f"[{workload}] metric tracing_overhead_s {traced - untraced:.6g} s "
                  f"(traced op_p50 {traced:.4g} s vs untraced {untraced:.4g} s)")
            for trace, res in results.items():
                print(f"[{workload} trace={trace}] correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']}")
    return status


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=5)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--tiny", action="store_true", help="smallest inputs (self-tests)")
    parser.add_argument("--plant", action="store_true",
                        help="plant one wrong expected output (self-tests: must fail one op)")
    args = parser.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
