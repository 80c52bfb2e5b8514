"""Engine benchmark: one workload, measured passes in one Spark session.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``, at ``--scale`` times the sf0.1 test tables' row counts,
under ``.perfbench_work/`` and removed at exit. The program
is driven only through its public entry points: the algorithm registry
(``operators.base.REGISTRY``), the ``__spark_entry__.queries()``
registry and ``session.build_session``.

A run: import the engine, build the session, generate inputs, run one
pass of every op that warms the session and checks each op's output
(registry entries against their ``oracle_sql()`` on DuckDB, lake
targets against DuckDB over the generated inputs), then timed passes
until ``--seconds`` have passed, at least one. ``setup_s`` is the time
to a warmed session: import, build and the warm-up pass. ``run_s`` is
the median timed pass, ``op_p50_s`` the median op execution in them.

``--trace 1`` runs the passes traced: spans around each call into a
layer, job counts per op execution (each has its own job group) and an
uncompressed, non-rolling event log. Per-layer metrics come from those
passes. It then stops that session and runs untraced passes in a new
one without the event log, as ``--trace 0`` does; ``trace.overhead_s``
is the median traced pass minus the median untraced one. Each of the
two sessions gets half of ``--seconds``.

The last stdout line is the JSON result; the lines before it name every
metric with its unit, plus ``failed_op_ratio`` and, for
``lake_ingest``, ``stored_bytes_per_input_byte``. A full record with
the host fingerprint and every op execution goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import copy
import gc
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from inputs import write_star  # noqa: E402
from lake import Lake, tree_bytes  # noqa: E402
from spans import (  # noqa: E402
    EXECUTOR_KEYS, Tracer, covered, parse_event_log, walk_target)

# Half the host's vCPUs, at most 4 in all: the rest are left to the
# driver JVM's own threads (GC, JIT, scheduler), the Python driver and
# the host, so that a run measures the engine rather than the scheduler.
CORES = max(1, min(4, os.cpu_count() or 1) // 2)
SCALE = 0.3

# Iterative entries from the registry whose time is in building the
# frame: checkpointed peeling rounds (kcore_nodes), checkpointed
# propagation rounds (label_spread) and a candidate-bounded verify
# (lsh_calibration), 5-17 Spark jobs each before the action. Three of
# the ten such entries fit the time budget of one run.
ITERATIVE = ["lsh_calibration", "kcore_nodes", "label_spread"]
WORKLOADS = ("lake_ingest", "iterative_dedup")

END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "session.build_s": "s", "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "operators.prepare_s": "s", "operators.read_s": "s",
    "operators.transform_s": "s", "operators.write_s": "s",
    "operators.stats_s": "s", "operators.write_driver_s": "s",
    "operators.jobs": "count",
    "entry.build_s": "s", "entry.build_jobs": "count",
    "entry.persisted_rdds_after": "count",
    "entry.action_s": "s", "entry.action_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "executor.tasks": "count", "executor.run_s": "s", "executor.cpu_s": "s",
    "executor.gc_s": "s", "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes", "executor.spill_bytes": "bytes",
    "executor.peak_mem_bytes": "bytes", "executor.failed_tasks": "count",
    "executor.core_busy_ratio": "ratio",
    "writers.files_written": "count", "writers.bytes_written": "bytes",
    "writers.partitions_written": "count", "writers.leftover_paths": "count",
    "writers.stored_bytes_per_input_byte": "ratio",
    "trace.overhead_s": "s", "trace.unaccounted_s": "s",
}
_PHASES = (("prepare", "prepare"), ("read", "read"), ("transform", "transform"),
           ("write", "write"), ("stats", "update_statistics"))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="input rows as a share of the sf0.1 test tables")
    return ap.parse_args(argv)


def import_engine() -> float:
    """Import the engine from the checkout root; seconds taken."""
    t = time.perf_counter()
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401
    import m3d_engine_spark.cli  # noqa: F401  (populates REGISTRY)
    return time.perf_counter() - t


def heap_mb() -> int:
    """Driver heap: an eighth of host memory, within 1-4 GiB."""
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])
    return max(1024, min(4096, kb // 1024 // 8))


def start_session(work: str, event_log: str | None):
    """Build the engine's session sized to the host; returns (spark, seconds)."""
    from m3d_engine_spark.session import build_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: HotSpot writes its perf file to /tmp whatever
        # java.io.tmpdir says, and the benchmark writes only to its checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{CORES}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        line = next(x for x in fh if x.startswith("VmHWM:"))
    return int(line.split()[1]) / 1024


def jobs_in_group(sc, group: str) -> int:
    """Spark jobs launched so far under ``group``."""
    return len(sc.statusTracker().getJobIdsForGroup(group))


def cleanup(spark) -> None:
    """Isolation between ops: SQL cache, persisted RDDs (checkpoint
    blocks survive clearCache), then a GC so broadcast blocks whose
    references died get freed."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


class Run:
    """One workload: its inputs, passes, per-op records and spans."""

    def __init__(self, args, spark, work: str):
        self.args = args
        self.attach(spark)
        self.tracer = Tracer()
        self.records: list[dict] = []   # one per op execution
        self.attempted = 0
        self.failed = 0
        self.stored_ratio: float | None = None
        rnd = random.Random(args.seed)
        self.star_dir = os.path.join(work, "star")
        star = write_star(args.seed, args.scale, self.star_dir)
        if args.workload == "lake_ingest":
            from m3d_engine_spark.config import ParamsFile
            from m3d_engine_spark.operators.base import REGISTRY

            self.ParamsFile, self.REGISTRY = ParamsFile, REGISTRY
            self.lake = Lake(os.path.join(work, "lake_root"), star, args.seed)
            self.lake.write_inputs()
            chains = self.lake.ops()
            rnd.shuffle(chains)
            self.ops = [op for chain in chains for op in chain]
        else:
            import __spark_entry__

            self.registry = __spark_entry__.queries()
            self.ops = list(ITERATIVE)
            rnd.shuffle(self.ops)
            self.expected = self._start_oracles(__spark_entry__.oracle_sql())

    def attach(self, spark) -> None:
        self.spark, self.sc = spark, spark.sparkContext

    # --------------------------------------------------------------- ops
    def _group(self, pass_id: int, name: str) -> str:
        group = f"p{pass_id}:{name}:{uuid.uuid4().hex[:8]}"
        self.sc.setJobGroup(group, f"perfbench {self.args.workload} {name}")
        return group

    def registry_op(self, name: str, mode: str, pass_id: int, check: bool) -> dict:
        traced = mode == "traced"
        span = self.tracer.span if traced else (lambda *a, **k: nullcontext())
        rec = {"op": name, "pass": pass_id, "mode": mode}
        rec["group"] = group = self._group(pass_id, name)
        t0 = time.perf_counter()
        with span(name, name) as op_span:
            with span("entry.build", name):
                df = self.registry[name](self.spark, self.star_dir)
            if traced:
                rec["build_jobs"] = jobs_in_group(self.sc, group)
            with span("entry.action", name):
                df.write.format("noop").mode("overwrite").save()
            if traced:
                rec["jobs"] = jobs_in_group(self.sc, group)
                with span("catalyst", name):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    rec["catalyst"] = {
                        p: phases.apply(p).durationMs() / 1e3
                        for p in ("analysis", "optimization", "planning")
                        if phases.contains(p)
                    }
        rec["wall"] = time.perf_counter() - t0
        if traced:
            rec["span"] = op_span["id"]
            rec["persisted"] = len(self.sc._jsc.getPersistentRDDs())
        if check:
            # before the cleanup: checkpointed inputs of df are still live
            t = time.perf_counter()
            cols = sorted(df.columns)
            rows = Counter(tuple(_norm(r[c]) for c in cols) for r in df.collect())
            rec["ok"] = self.expected.result()[name] == (cols, rows)
            if not rec["ok"]:
                print(f"output mismatch: {name}", file=sys.stderr)
            rec["check_s"] = time.perf_counter() - t
        return rec

    def _start_oracles(self, sql: dict[str, str]):
        """A future of each op's ``oracle_sql()`` rows from DuckDB,
        computed in a background thread while the untimed warm-up pass
        runs."""
        import duckdb

        def expected() -> dict:
            out = {}
            # the vCPUs the Spark tasks leave; the pass runs alongside
            threads = max(1, (os.cpu_count() or 1) - CORES)
            with duckdb.connect(config={"threads": threads}) as con:
                for t in os.listdir(self.star_dir):
                    con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(self.star_dir, t)}')")
                for name in self.ops:
                    rel = con.sql(sql[name])
                    cols = rel.columns
                    idx = [cols.index(c) for c in sorted(cols)]
                    out[name] = sorted(cols), Counter(
                        tuple(_norm(r[i]) for i in idx) for r in rel.fetchall())
            return out

        self.pool = ThreadPoolExecutor(max_workers=1)
        return self.pool.submit(expected)

    def close(self) -> None:
        if getattr(self, "pool", None) is not None:
            self.pool.shutdown(wait=True)

    def lake_op(self, op, mode: str, pass_id: int) -> dict:
        name, cli, params, target = op
        traced = mode == "traced"
        rec = {"op": name, "pass": pass_id, "mode": mode}
        algo = self.REGISTRY[cli](self.spark, self.ParamsFile(copy.deepcopy(params)))
        rec["group"] = group = self._group(pass_id, name)
        span = self.tracer.span if traced else (lambda *a, **k: nullcontext())
        since = time.time()
        t0 = time.perf_counter()
        with span(name, name) as op_span:
            if traced:
                for layer, method in _PHASES:
                    setattr(algo, method, self.tracer.wrap(
                        f"operators.{layer}", getattr(algo, method), name))
            algo.run()
        rec["wall"] = time.perf_counter() - t0
        if traced:
            rec["span"] = op_span["id"]
            rec["jobs"] = jobs_in_group(self.sc, group)
            rec["writers"] = walk_target(target, since)
        return rec

    # ------------------------------------------------------------ passes
    def run_pass(self, mode: str, pass_id: int, check: bool = False) -> None:
        lake = self.args.workload == "lake_ingest"
        if lake:
            self.lake.reset(self.spark)
            os.sync()   # the copy's writeback would otherwise land in the pass
        recs = {}
        for op in self.ops:
            self.attempted += 1
            try:
                if lake:
                    rec = self.lake_op(op, mode, pass_id)
                else:
                    rec = self.registry_op(op, mode, pass_id, check)
            except Exception:
                name = op[0] if lake else op
                print(f"op failed: {name}\n{traceback.format_exc()}", file=sys.stderr)
                rec = {"op": name, "pass": pass_id, "mode": mode, "ok": False}
            if not rec.get("ok", True):
                self.failed += 1
            self.records.append(rec)
            recs[rec["op"]] = rec
            t = time.perf_counter()
            cleanup(self.spark)
            rec["cleanup_s"] = time.perf_counter() - t
        if lake and check:
            for name in self.lake.check():
                print(f"output mismatch: {name}", file=sys.stderr)
                if recs[name].get("ok", True):   # an op that raised counts once
                    recs[name]["ok"] = False
                    self.failed += 1
            self.stored_ratio = tree_bytes(self.lake.lake) / self.lake.landing_bytes()

    def execute(self, mode: str, first_pass: int, check: bool,
                seconds: float) -> int:
        """An untimed first pass warms the session (and with ``check``
        checks each op's output); then ``mode`` passes run until
        ``seconds`` have passed, at least one. Returns the next pass id."""
        self.run_pass("warmup" if check else "rewarm", first_pass, check=check)
        deadline = time.perf_counter() + seconds
        n = first_pass + 1
        while n == first_pass + 1 or time.perf_counter() < deadline:
            self.run_pass(mode, n)
            n += 1
        return n

    # ----------------------------------------------------------- metrics
    def passes(self, mode: str) -> list[list[dict]]:
        by: dict[int, list[dict]] = {}
        for r in self.records:
            if r["mode"] == mode and "wall" in r:
                by.setdefault(r["pass"], []).append(r)
        return list(by.values())

    def end_to_end(self, mode: str) -> dict[str, float]:
        ps = self.passes(mode)
        return {
            "run_s": statistics.median(sum(r["wall"] for r in p) for p in ps),
            "op_p50_s": statistics.median(r["wall"] for p in ps for r in p),
        }

    def per_layer(self, events: dict[str, dict]) -> dict[str, float]:
        samples = []
        for p in self.passes("traced"):
            m = {k: 0.0 for k in PER_LAYER}
            job_wall = 0.0
            unaccounted = 0.0
            for r in p:
                ev = events.get(r["group"], {})
                jobs = ev.get("jobs", [])
                job_wall += sum(b - a for a, b in jobs)
                for k in EXECUTOR_KEYS:
                    m[f"executor.{k}"] += ev.get(k, 0)
                children = self.tracer.children(r["span"])
                unaccounted += r["wall"] - sum(c["end"] - c["start"] for c in children)
                for c in children:
                    d = c["end"] - c["start"]
                    if c["name"] == "catalyst":
                        continue
                    m[c["name"] + "_s"] += d
                    if c["name"] == "operators.write":
                        m["operators.write_driver_s"] += d - covered(
                            jobs, c["start"], c["end"])
                if "writers" in r:
                    m["operators.jobs"] += r["jobs"]
                    for k, v in r["writers"].items():
                        m[f"writers.{k}"] += v
                else:
                    m["entry.build_jobs"] += r["build_jobs"]
                    m["entry.action_jobs"] += r["jobs"] - r["build_jobs"]
                    m["entry.persisted_rdds_after"] += r["persisted"]
                    for ph, v in r["catalyst"].items():
                        m[f"catalyst.{ph}_s"] += v
            if job_wall > 0:
                m["executor.core_busy_ratio"] = m["executor.run_s"] / (CORES * job_wall)
            m["trace.unaccounted_s"] = unaccounted
            samples.append(m)
        out = {k: statistics.median(s[k] for s in samples) for k in PER_LAYER}
        out["trace.overhead_s"] = (
            self.end_to_end("traced")["run_s"] - self.end_to_end("timed")["run_s"])
        if self.stored_ratio is not None:
            out["writers.stored_bytes_per_input_byte"] = self.stored_ratio
        return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def fingerprint(seed: int) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    with open("/proc/meminfo") as fh:
        ram_kb = int(fh.readline().split()[1])
    return {"nproc": os.cpu_count(), "cores_used": CORES,
            "ram_mb": ram_kb // 1024, "driver_heap_mb": heap_mb(),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "commit": commit, "seed": seed}


def main(argv=None) -> int:
    args = parse_args(argv)
    steal0, total0 = cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    try:
        try:
            import_s = import_engine()
        except ImportError as e:
            print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        event_dir = os.path.join(work, "eventlog") if args.trace else None
        spark, build_s = start_session(work, event_dir)
        app_id = spark.sparkContext.applicationId
        harness = {"import_s": import_s, "build_s": build_s}
        run = None
        try:
            t = time.perf_counter()
            run = Run(args, spark, work)
            harness["inputs_s"] = time.perf_counter() - t
            # a traced run splits --seconds between its two sessions
            seconds = args.seconds / 2 if args.trace else args.seconds
            n = run.execute("traced" if args.trace else "timed", 0, True, seconds)
            rss = jvm_peak_rss_mb(spark)
            if args.trace:
                # the untraced passes of trace.overhead_s run in a second
                # session without the event log, as a --trace 0 run does
                stop_session(spark)
                spark = None
                spark, harness["rebuild_s"] = start_session(work, None)
                run.attach(spark)
                run.execute("timed", n, False, seconds)
            harness["passes_s"] = time.perf_counter() - t - harness["inputs_s"]
        finally:
            if run is not None:
                run.close()
            if spark is not None:
                stop_session(spark)
        warmup_s = sum(r.get("wall", 0) for r in run.records if r["mode"] == "warmup")
        # process start to a warmed session: import, build, warm-up pass
        e2e = {"setup_s": import_s + build_s + warmup_s}
        e2e.update(run.end_to_end("timed"))
        layer = {}
        if args.trace:
            layer = run.per_layer(parse_event_log(os.path.join(event_dir, app_id)))
            layer["session.build_s"] = build_s
            layer["session.warmup_s"] = warmup_s
            layer["session.jvm_peak_rss_mb"] = rss
        failed_ratio = run.failed / run.attempted
        shown = dict(e2e, failed_op_ratio=failed_ratio)
        units = dict(END_TO_END, failed_op_ratio="ratio")
        if run.stored_ratio is not None:
            shown["stored_bytes_per_input_byte"] = run.stored_ratio
            units["stored_bytes_per_input_byte"] = "ratio"
        shown.update(layer)
        units.update(PER_LAYER)
        for k, v in shown.items():
            print(f"{args.workload:16s} {k:36s} {v:16.6f} {units[k]}")
        declared = PER_LAYER if args.trace else END_TO_END
        metrics = {k: {"value": (layer if args.trace else e2e)[k], "unit": u}
                   for k, u in declared.items()}
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests: a noisy-host sign
        harness["steal_ratio"] = (steal1 - steal0) / max(1, total1 - total0)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, tag + ".json"), "w") as fh:
            json.dump({"host": fingerprint(args.seed), "harness": harness,
                       "metrics": shown, "op_order": [
                           op[0] if isinstance(op, tuple) else op for op in run.ops],
                       "records": [{k: v for k, v in r.items() if k != "span"}
                                   for r in run.records]}, fh, indent=1)
        if args.trace:
            run.tracer.dump(os.path.join(out_dir, tag + ".spans.json"))
        print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}))
        return 0 if run.failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
