#!/usr/bin/env python3
"""Layered benchmark of the datawarehouse_spark engine.

    python3 perfbench/run.py --workload warehouse_mix --seed 1 --seconds 16 --trace 0

Runs one workload on ``local[<cores>]`` with one closed-loop client and
prints, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps every call in
per-layer spans (``layers.py``) and reports the per-layer metrics
instead. The line before it is a ``{"stamp": ...}`` object with the
run's facts (master, parallelism, versions, commit, seed, contention
evidence), and the full per-operation record, spans included, is
written to ``.perfbench/report-<workload>-seed<seed>-trace<t>.json``.

Workloads (see README.md for why each exists and what it predicts):

* ``warehouse_mix``  - warehouse-side registry entries, seeded order per pass.
* ``llm_corpus``     - corpus-side registry entries, same loop; run by
  hand, it is not in BENCHMARK.json's timed set (see README.md).
* ``snapshot_ingest`` - seeded MERGE batches into an orders-derived
  ``SnapshotTable``, each read back and checked; every fourth cycle
  runs ``optimize()`` then ``vacuum()``.

Inputs are generated from ``--seed`` (``datagen.py``); the engine sees
only the generated Parquet files. All files the run writes stay under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from datetime import datetime

from layers import CATALYST_PHASES, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: Input size: lineitem = 6,000,000 x SF rows. Small on purpose: these
#: entries are short queries whose fixed per-call cost (catalog,
#: Catalyst, job scheduling, checkpoints) is what the benchmark isolates.
SF = 0.001

#: Warehouse-side entries, one per query family: aggregate, conditional
#: multi-distinct aggregate, window, salted skew join, as-of join.
#: The window family is the raw member ``w3_w4_partition_count_sum``
#: (``QUERIES_RAW``), not its suite: the suite also carries a ~2 s
#: near-duplicate gate, which would set the pass time on its own.
WAREHOUSE_MIX = [
    "a1_pricing_summary",
    "a5_conditional_multi_distinct",
    "w3_w4_partition_count_sum",
    "j5_salted_skew_join",
    "j15_asof_join",
]

#: Corpus-side registry entries: SimHash pairs, n-gram near-dups and
#: MinHash LSH. Eager checkpoints and pins run at call time here.
LLM_CORPUS = [
    "llm_simhash_pairs",
    "llm_ngram_near_dup",
    "suite_minhash_lsh",
]

SETUPS = 3  # set-ups per run; setup_s is their median
WARM_PASSES = 4  # query workloads: unmeasured passes after the verifying one
MIN_PASSES = 5  # query workloads: measured passes over the entries, at least
MAINTAIN_EVERY = 4  # snapshot_ingest: optimize + vacuum every 4th cycle
MIN_CYCLES = 6  # snapshot_ingest: measured cycles, at least
WARM_CYCLES = 1  # snapshot_ingest: unmeasured cycles before timing

WORKLOADS = ("warehouse_mix", "llm_corpus", "snapshot_ingest")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat:
    time the hypervisor gave this VM's vCPUs to other tenants."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (statistics.quantiles, exclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


# -- session ---------------------------------------------------------------
def prepare_env(run_dir: str) -> None:
    """Make the run independent of the caller's cwd: the repo root goes
    on this process's sys.path and, through PYTHONPATH, on the Python
    workers' path (local-mode workers inherit the JVM's environment,
    which inherits this process's). Temp files stay in the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for p in (os.path.join(ROOT, "tests"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(run_dir: str):
    from datawarehouse_spark.session import get_spark

    n = cores()
    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            # a fixed-size heap: the JVM's peak RSS then tracks what the
            # run touches, not when the collector chose to grow the heap;
            # no hsperfdata file, which the JVM writes outside the run dir;
            # JIT compiler threads that live as long as the JVM, so
            # EngineCpu can subtract their CPU time (see there)
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python worker daemons it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def _cpu_ticks(stat_path: str) -> int:
    """utime + stime of a /proc process or thread, in clock ticks."""
    with open(stat_path) as fh:
        fields = fh.read().rpartition(")")[2].split()
    return int(fields[11]) + int(fields[12])


class EngineCpu:
    """CPU seconds the engine has used so far: every thread of the Spark
    JVM (exited ones included) except its JIT compiler threads, plus
    this Python driver. Python UDF workers are not counted; no entry of
    the timed workloads starts them.

    Why CPU time: on a 4-vCPU VM that shares its host, while other
    tenants are busy the hypervisor takes 5-13% of the VM's CPU time,
    which stretches the wall time of these short, hand-off-heavy
    operations by 20-55%. Time the hypervisor takes is not charged to
    the process, so CPU time moves about half as much as wall time
    (README.md). JIT compilation is left out because it is a warm-up
    cost whose amount swings from run to run."""

    def __init__(self, spark):
        self.pid = jvm_pid(spark)
        self.tck = os.sysconf("SC_CLK_TCK")
        task = f"/proc/{self.pid}/task"
        self.jit = []
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as fh:
                    name = fh.read()
            except FileNotFoundError:  # a short-lived thread that has exited
                continue
            if "CompilerThre" in name:
                self.jit.append(f"{task}/{tid}/stat")
        if not self.jit:
            raise RuntimeError("no JIT compiler thread found in the Spark JVM")

    def __call__(self) -> float:
        ticks = _cpu_ticks(f"/proc/{self.pid}/stat") - sum(map(_cpu_ticks, self.jit))
        return ticks / self.tck + time.process_time()


def jvm_peak_rss_mb(spark) -> float:
    pid = jvm_pid(spark)
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def reset_state(spark) -> int:
    """Carry no warm state into the next call: drop persisted RDDs
    (eager checkpoints left behind by returned DataFrames), cached
    tables, running streams and temp views, memory-sink views included.
    Returns how many persisted RDDs the call left behind."""
    leaked = spark.sparkContext._jsc.getPersistentRDDs()
    n = leaked.size()
    for jrdd in leaked.values():
        jrdd.unpersist(True)
    for q in spark.streams.active:
        q.stop()
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    return n


# -- facts stamped on every result -----------------------------------------
def stamp(spark, seed: int) -> dict:
    import duckdb
    import pyspark

    import bench

    commit = None  # an exported checkout is not a git repository
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": cores(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "commit": commit,
        "seed": seed,
        "sf": SF,
        "contention": bench.contention_probe(),
    }


# -- query workloads -------------------------------------------------------
class QueryLoop:
    """Closed loop over registry entries: one call at a time, each timed
    from the callable through the noop-sink write."""

    def __init__(self, spark, names: list[str], data_dir: str):
        from datawarehouse_spark.queries import ORACLES, ORACLES_RAW, QUERIES, QUERIES_RAW

        self.spark = spark
        self.names = names
        self.fns = {n: QUERIES.get(n) or QUERIES_RAW[n] for n in names}
        self.oracles = {n: ORACLES.get(n) or ORACLES_RAW[n] for n in names}
        self.data_dir = data_dir
        self.cpu = EngineCpu(spark)
        self.tracer = None
        self.records: list[dict] = []

    def verify(self) -> list[dict]:
        """Compare every entry's rows with its DuckDB oracle on this
        run's inputs. Also the entries' first (warm-up) call."""
        import duckdb
        from oracle_compare import compare_query

        import datagen

        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data_dir}/{t}.parquet'")
            out = []
            for n in self.names:
                try:
                    ok, msg = compare_query(self.spark, con, self.fns[n],
                                            self.oracles[n], self.data_dir)
                except Exception as exc:  # noqa: BLE001 - a raising call is a failed op
                    ok, msg = False, f"raised {exc!r}"[:500]
                reset_state(self.spark)
                if not ok:
                    log(f"verify FAILED {n}: {msg}")
                out.append({"entry": n, "ok": ok, "detail": msg})
            return out
        finally:
            con.close()

    def call(self, name: str) -> None:
        fn, spark, d = self.fns[name], self.spark, self.data_dir
        rec = {"entry": name, "ok": True}
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            if self.tracer is None:
                fn(spark, d).write.mode("overwrite").format("noop").save()
            else:
                tr = self.tracer
                with tr.op(name) as op:
                    with tr.span("queries", name):
                        df = fn(spark, d)
                    tr.catalyst(df)
                    with tr.span("exec", name):
                        df.write.mode("overwrite").format("noop").save()
                rec["span"] = op["id"]
        except Exception:  # noqa: BLE001 - counted, never re-timed
            rec["ok"] = False
            log(f"call FAILED {name}:\n{traceback.format_exc(limit=3)}")
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = self.cpu() - c0
        rec["leaked_rdds"] = reset_state(spark)
        self.records.append(rec)

    def warm(self) -> None:
        """WARM_PASSES unmeasured passes through the noop sink after the
        verifying first call: per-pass time falls by about a third over
        the first ten or so passes of a session (JIT), most of it in the
        first five."""
        for _ in range(WARM_PASSES):
            for n in self.names:
                self.fns[n](self.spark, self.data_dir).write.mode("overwrite").format("noop").save()
                reset_state(self.spark)

    def run(self, seconds: float, rng: random.Random) -> float:
        """Whole passes in a seeded order, at least MIN_PASSES of them and
        until ``seconds`` have passed; returns the measured wall time."""
        t0 = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - t0 < seconds:
            passes += 1
            order = list(self.names)
            rng.shuffle(order)
            for n in order:
                self.call(n)
        return time.perf_counter() - t0


# -- snapshot_ingest -------------------------------------------------------
class Ingest:
    """Seeded MERGE batches into an orders-derived SnapshotTable
    partitioned by order month, each followed by a checked read-back.

    A pure-Python model of the table (key -> month, price in cents)
    predicts every read-back's row count and price checksum."""

    def __init__(self, spark, data_dir: str, table_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.table_dir = table_dir
        self.cpu = EngineCpu(spark)
        self.tracer = None
        self.records: list[dict] = []
        self.table = None

    def create(self) -> bool:
        """Create the table from the generated orders; returns whether
        its read-back matches the model."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from datawarehouse_spark.sources.snapshot import SnapshotTable

        src = pq.read_table(os.path.join(self.data_dir, "orders.parquet"),
                            columns=["o_orderkey", "o_totalprice", "o_orderdate"])
        keys = src.column("o_orderkey").to_pylist()
        cents = [round(p * 100) for p in src.column("o_totalprice").to_pylist()]
        months = [d.strftime("%Y-%m") for d in src.column("o_orderdate").to_pylist()]
        self.model = {k: (m, c) for k, m, c in zip(keys, months, cents)}
        self.next_key = max(keys) + 1
        base = self.spark.read.parquet(os.path.join(self.data_dir, "orders.parquet"))
        base = base.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
        self.table = SnapshotTable.create(self.spark, base, self.table_dir,
                                          partition_col="o_month")
        return self.check()

    def batch(self, rng: random.Random) -> tuple[list[tuple], int]:
        """A change batch over three months: ~15% of their rows updated,
        ~5% deleted, and ~10% as many new orders inserted. Applies it
        to the model; returns (source rows, rows rewritten by merge)."""
        by_month: dict[str, list[int]] = {}
        for k, (m, _) in self.model.items():
            by_month.setdefault(m, []).append(k)
        # months with too few orders to update and delete in are skipped
        months = rng.sample(sorted(m for m, ks in by_month.items() if len(ks) >= 4), 3)
        rows = []
        for m in months:
            keys = sorted(by_month[m])
            picked = rng.sample(keys, max(2, len(keys) // 5))
            n_del = max(1, len(picked) // 4)
            day = datetime.strptime(m + "-01", "%Y-%m-%d")
            for k in picked[:n_del]:
                rows.append((k, 0, "F", 0.0, day, m, "D"))
                del self.model[k]
            for k in picked[n_del:]:
                c = rng.randrange(100_000, 50_000_000)
                rows.append((k, 0, rng.choice("FOP"), c / 100, day, m, "U"))
                self.model[k] = (m, c)
            for _ in range(max(1, len(keys) // 10)):
                k, c = self.next_key, rng.randrange(100_000, 50_000_000)
                self.next_key += 1
                rows.append((k, rng.randrange(1000), rng.choice("FOP"), c / 100, day, m, "I"))
                self.model[k] = (m, c)
        rewritten = sum(1 for m, _ in self.model.values() if m in months)
        return rows, rewritten

    def merge(self, rows: list[tuple]) -> None:
        schema = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
                  "o_totalprice double, o_orderdate timestamp, o_month string, "
                  "op string")
        src = self.spark.createDataFrame(rows, schema)
        self.table.merge(
            src, on="o_orderkey",
            update_set={"o_totalprice": "s.o_totalprice",
                        "o_orderstatus": "s.o_orderstatus"},
            update_when="s.op = 'U'", delete_when="s.op = 'D'")

    def check(self) -> bool:
        """Read the current snapshot back; compare row count and price
        checksum with the model's prediction."""
        from pyspark.sql import functions as F

        got = self.table.read().agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("c"),
        ).collect()[0]
        want = (len(self.model), sum(c for _, c in self.model.values()))
        ok = (got["n"], got["c"]) == want
        if not ok:
            log(f"read-back mismatch: got {(got['n'], got['c'])}, want {want}")
        return ok

    def _files(self) -> tuple[int, int, int]:
        """(live files, live bytes, stored bytes) of the table's data dir."""
        ddir = self.table._ddir
        live = self.table._manifest(self.table.current_version())["files"]
        live_bytes = sum(os.path.getsize(os.path.join(ddir, e["file"])) for e in live)
        stored = sum(os.path.getsize(os.path.join(ddir, f)) for f in os.listdir(ddir))
        return len(live), live_bytes, stored

    def _step(self, layer: str, fn):
        """Run fn; returns (its result, wall s, engine CPU s)."""
        c0, t0 = self.cpu(), time.perf_counter()
        if self.tracer is None:
            out = fn()
        else:
            with self.tracer.op(layer), self.tracer.span("snapshot", layer):
                out = fn()
        return out, time.perf_counter() - t0, self.cpu() - c0

    def cycle(self, i: int, rng: random.Random) -> None:
        rows, rewritten = self.batch(rng)
        rec = {"cycle": i, "changed_rows": len(rows), "rewritten_rows": rewritten,
               "ok": True}
        _, _, stored_before = self._files()
        try:
            _, rec["merge_s"], rec["merge_cpu_s"] = self._step("merge", lambda: self.merge(rows))
            _, live_bytes, stored = self._files()
            rec["bytes_written"] = stored - stored_before
            rec["changed_bytes"] = len(rows) * live_bytes / max(1, len(self.model))
            rec["ok"], rec["read_s"], _ = self._step("read", self.check)
            if i % MAINTAIN_EVERY == MAINTAIN_EVERY - 1:
                _, rec["optimize_s"], _ = self._step("optimize", self.table.optimize)
                _, rec["vacuum_s"], _ = self._step("vacuum", self.table.vacuum)
        except Exception:  # noqa: BLE001 - counted as a failed op
            rec["ok"] = False
            log(f"ingest cycle {i} FAILED:\n{traceback.format_exc(limit=3)}")
        rec["files_live"], live_bytes, stored = self._files()
        rec["stored_per_live"] = stored / max(1, live_bytes)
        reset_state(self.spark)
        self.records.append(rec)

    def run(self, seconds: float, rng: random.Random) -> float:
        t0 = time.perf_counter()
        i = 0
        while i < MIN_CYCLES or time.perf_counter() - t0 < seconds:
            self.cycle(i, rng)
            i += 1
        return time.perf_counter() - t0


# -- metrics ---------------------------------------------------------------
def end_to_end(cpu: list[float], cpu_total: float, setup: list[float],
               rss_mb: float) -> dict:
    """``cpu`` holds the engine CPU seconds of the operations that
    succeeded; ``cpu_total`` the engine CPU seconds of the whole measured
    window (state resets, read-backs and maintenance included)."""
    return {
        "setup_s": {"value": statistics.median(setup), "unit": "s"},
        "op_cpu_p50_s": {"value": statistics.median(cpu), "unit": "s"},
        "cpu_s_per_op": {"value": cpu_total / len(cpu), "unit": "s"},
        "driver_peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def ungated(lat: list[float], cpu: list[float], wall: float) -> dict:
    """Stamped on every result but not gated. Wall-clock latency and
    throughput move with the other tenants' load on a shared host; a
    90th percentile of 6-40 operations is one or a few of them."""
    return {"op_p50_s": statistics.median(lat), "op_p90_s": pct(lat, 90),
            "ops_per_min": 60.0 * len(lat) / wall, "op_cpu_p90_s": pct(cpu, 90)}


PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "catalog.load_tables.calls": "count", "catalog.load_tables.s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.core_busy_ratio": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.failed_tasks": "count", "exec.leaked_persisted_rdds": "count",
    "snapshot.merge_jobs": "count", "snapshot.rewritten_rows_per_changed_row": "ratio",
    "snapshot.read_s": "s", "snapshot.files_live": "count",
    "snapshot.optimize_s": "s", "snapshot.vacuum_s": "s",
    "snapshot.bytes_written_per_changed_byte": "ratio",
    "snapshot.changed_rows_per_s": "1/s", "snapshot.stored_bytes_per_live_byte": "ratio",
    "trace.op_wall_s": "s", "trace.ops_per_min": "1/min", "trace.overhead_ratio": "ratio",
}


def per_layer(tracer, records: list[dict], wall: float,
              setups: list[tuple[float, float]]) -> dict:
    """Per-operation means (sums over the measured window / operations)
    unless the name says otherwise; 0 where a layer is not on the
    workload's path. ``exec.*`` counts every job an operation ran,
    whichever layer's span it started in."""
    ops = len(records)
    spans = tracer.spans

    def total(key: str, layers=("queries", "catalyst", "exec", "snapshot")) -> float:
        return sum(s.get(key, 0) for s in spans if s["layer"] in layers)

    def dur(layer: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["layer"] == layer)

    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    m["session.start_s"] = statistics.median(s for s, _ in setups)
    m["session.warmup_s"] = statistics.median(w for _, w in setups)
    m["catalog.load_tables.calls"] = tracer.totals["catalog.load_tables.calls"] / ops
    m["catalog.load_tables.s"] = tracer.totals["catalog.load_tables.s"] / ops
    m["queries.build_s"] = dur("queries") / ops
    m["queries.build_jobs"] = total("jobs", ("queries",)) / ops
    for ph in CATALYST_PHASES:
        m[f"catalyst.{ph}_ms"] = total(f"{ph}_ms", ("catalyst",)) / ops
    m["exec.s"] = dur("exec") / ops
    for key in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes",
                "spill_bytes", "input_bytes"):
        m[f"exec.{key}"] = total(key) / ops
    m["exec.failed_tasks"] = total("failed_tasks")
    m["exec.core_busy_ratio"] = total("executor_run_s") / (wall * cores())
    m["exec.leaked_persisted_rdds"] = sum(r.get("leaked_rdds", 0) for r in records)
    merges = [s for s in spans if s["layer"] == "snapshot" and s["name"] == "merge"]
    if merges:
        cyc = [r for r in records if "merge_s" in r]
        changed = sum(r["changed_rows"] for r in cyc)
        m["snapshot.merge_jobs"] = sum(s["jobs"] for s in merges) / len(merges)
        m["snapshot.rewritten_rows_per_changed_row"] = \
            sum(r["rewritten_rows"] for r in cyc) / changed
        m["snapshot.read_s"] = statistics.median(r["read_s"] for r in cyc if "read_s" in r)
        m["snapshot.files_live"] = records[-1]["files_live"]
        for k in ("optimize_s", "vacuum_s"):
            vals = [r[k] for r in cyc if k in r]
            m[f"snapshot.{k}"] = statistics.median(vals) if vals else 0.0
        m["snapshot.bytes_written_per_changed_byte"] = \
            sum(r["bytes_written"] for r in cyc) / sum(r["changed_bytes"] for r in cyc)
        m["snapshot.changed_rows_per_s"] = changed / wall
        m["snapshot.stored_bytes_per_live_byte"] = \
            statistics.mean(r["stored_per_live"] for r in records)
    m["trace.op_wall_s"] = dur("op") / ops
    # same formula as the untraced run's stamped (ungated) ops_per_min;
    # the gap is the tracing cost
    m["trace.ops_per_min"] = 60.0 * sum(r["ok"] for r in records) / wall
    m["trace.overhead_ratio"] = tracer.overhead_s / wall
    return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in m.items()}


# -- entry point -----------------------------------------------------------
def warm_up(spark, data_dir: str) -> None:
    """The fixed warm-up each set-up ends with: catalog resolution of
    every table."""
    from datawarehouse_spark.catalog import load_tables

    load_tables(spark, data_dir)
    reset_state(spark)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark = None
    try:
        prepare_env(run_dir)
        # the package and the oracle comparator come from the checkout; a
        # checkout without them fails here, before any result is printed
        import datawarehouse_spark.queries  # noqa: F401
        import oracle_compare  # noqa: F401

        import bench
        import datagen

        data_dir = datagen.write(args.seed, SF, os.path.join(run_dir, "data"))
        setups: list[tuple[float, float]] = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(run_dir)
            t1 = time.perf_counter()
            warm_up(spark, data_dir)
            setups.append((t1 - t0, time.perf_counter() - t1))
        log(f"set-ups (start, warm-up) s: {[(round(a, 3), round(b, 3)) for a, b in setups]}")
        facts = stamp(spark, args.seed)

        rng = random.Random(args.seed)
        if args.workload != "snapshot_ingest":
            names = WAREHOUSE_MIX if args.workload == "warehouse_mix" else LLM_CORPUS
            loop = QueryLoop(spark, names, data_dir)
            t0 = time.perf_counter()
            verified = loop.verify()
            loop.warm()
            log(f"verified and warmed {len(verified)} entries in "
                f"{time.perf_counter() - t0:.1f} s")
        else:
            loop = Ingest(spark, data_dir, os.path.join(run_dir, "orders_snapshot"))
            verified = [{"entry": "create", "ok": loop.create()}]
            # unmeasured cycles first: the first merges of a session run cold
            for i in range(-WARM_CYCLES, 0):
                loop.cycle(i, rng)
                verified.append({"entry": f"warm-up cycle {i}", "ok": loop.records.pop()["ok"]})
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.wrap_catalog()
            loop.tracer = tracer
        steal0, total0 = steal_ticks()
        cpu0 = loop.cpu()
        wall = loop.run(args.seconds, rng)
        cpu_total = loop.cpu() - cpu0
        steal1, total1 = steal_ticks()
        facts["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        log(f"measured {len(loop.records)} ops in {wall:.1f} s, "
            f"{facts['steal_share']:.1%} of CPU time stolen")
        if tracer is not None:
            tracer.unwrap_catalog()
        records = loop.records
        if args.workload != "snapshot_ingest":
            done = [r for r in records if r["ok"]]
            lat, cpu = [r["s"] for r in done], [r["cpu_s"] for r in done]
        else:
            done = [r for r in records if r["ok"] and "merge_s" in r]
            lat, cpu = [r["merge_s"] for r in done], [r["merge_cpu_s"] for r in done]
        failed = sum(not r["ok"] for r in records) + sum(not v["ok"] for v in verified)
        attempted = len(records) + len(verified)
        rss = jvm_peak_rss_mb(spark)
        if not lat:
            raise RuntimeError("every measured operation failed")
        facts["ungated"] = ungated(lat, cpu, wall)
        if tracer is None:
            metrics = end_to_end(cpu, cpu_total, [a + b for a, b in setups], rss)
        else:
            metrics = per_layer(tracer, records, wall, setups)
        facts["contention_end"] = bench.contention_probe()
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "stamp": facts, "setups": setups, "wall_s": wall,
            "verified": verified, "records": records, "metrics": metrics,
            "spans": tracer.spans if tracer else [],
        }
        path = os.path.join(WORK, f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as fh:
            json.dump(report, fh, indent=1, default=str)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"stamp": facts}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
