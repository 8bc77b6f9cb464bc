"""purldb-spark benchmark: one closed-loop client on local[4].

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog_api --seed 1 --seconds 10 --trace 0

A run
  1. writes the seeded inputs (``inputs.py``) under ``.perfbench_work/``;
  2. sets up ``SETUP_REPS`` times -- start a Spark session, run one untimed
     pass over every op (which builds the fixtures the workload reads) --
     and reports the median as ``setup_s``;
  3. runs whole passes over the workload's ops, each pass in a seeded
     order, until ``--seconds`` of wall time have gone by and at least
     ``MIN_SAMPLES`` ops have run; ``ops_per_s`` is the median pass's
     throughput;
  4. checks every query result against its DuckDB oracle (or a committed
     digest), every write by reading it back, and every timed op's row
     count against the checked result.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The lines
before it list every metric by name with its unit. Each run also writes
an artifact, ``.perfbench_work/<workload>-trace<0|1>.json``, that
``record_trace.py`` collects into ``perfbench/TRACE.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict

from tracing import PYTHON_SQL_METRICS, SparkRest, Tracer, patched
from workloads import DRAIN_OP, WORKLOADS, WRITE_OP

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

CPUS = 4
SETUP_REPS = 2
# The timed loop runs at least this many ops, so that op_p90_s has two
# samples above it on the workload with the slowest ops.
MIN_SAMPLES = 20
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "write_p50_s": "s",
    "failed_frac": "fraction",
    "stored_bytes_per_user_byte": "ratio",
    "peak_rss_mb": "MB",
}

# Per-layer metrics of the traced run. Timed-loop sums are per pass (one
# run of every op of the workload); *_per_op values are per timed op; the
# set-up ones are medians over the set-up repetitions.
LAYER_UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.fixture_build_s": "s",
    "plans.fixtures_built": "count",
    "plans.fixture_lazy_build_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.write_s": "s",
    "catalog.write_bytes": "bytes",
    "catalog.write_files": "count",
    "spark.action_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.fetch_wait_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.core_busy_frac": "fraction",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "streaming.batches": "count",
    "streaming.rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
}

ENGINE_KEYS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s",
    "fetch_wait_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "input_mb", "failed_tasks",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale",
                   help="base data scale factor under perfbench/data "
                        "(default: the workload's)")
    p.add_argument("--self-check", action="store_true",
                   help="compare result digests of two seeds and exit")
    return p.parse_args(argv)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc. ``peak_rss_mb`` is the
    timed loop's window: the serving state, with every fixture built. The
    set-ups' window (recorded in the artifact) swings by a gigabyte from
    run to run with how many Python workers start at once."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = set(), [os.getpid()]
        while frontier:
            pid = frontier.pop()
            tree.add(pid)
            frontier.extend(c for c, pp in parent.items() if pp == pid)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _run(self):
        while not self._stop.is_set():
            rss = self._tree_rss()
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.interval)

    def take_peak(self) -> float:
        """Peak since the last call, in MB; starts a new window."""
        rss = self._tree_rss()
        with self._lock:
            peak, self.peak_bytes = max(self.peak_bytes, rss), rss
        return peak / 2**20

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Bench:
    """One benchmark run: a workload, its inputs and its Spark session."""

    def __init__(self, args, work_dir: str, sf_dir: str):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.work_dir = work_dir
        self.sf_dir = sf_dir
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.out_seq = 0
        self.packages = None
        self.packages_dir: str | None = None
        self.stream_groups: dict[str, str] = {}
        self.stream_progress: dict[str, list] = {}

    # ---- session -------------------------------------------------------
    def start_session(self):
        from purldb_spark.session import get_spark

        tmp = os.path.join(self.work_dir, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # A socket path may not exceed 107 bytes, and a checkout can sit
            # deep in the file system: name the directory relative to the
            # working directory, which the JVM and its Python workers share.
            "spark.python.unix.domain.socket.dir": os.path.relpath(tmp),
        }
        if self.args.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        return get_spark("perfbench", cpus=str(CPUS), extra_conf=conf)

    @contextlib.contextmanager
    def phase(self, op_id: str, phase: str, span: str):
        """Run one phase of an op under its own job group and span (traced
        runs only; untraced runs touch neither)."""
        if not self.tracer.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{op_id}:{phase}", phase, False)
        try:
            with self.tracer.span(span, op_id):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)  # null clears it

    # ---- ops -------------------------------------------------------------
    def next_out(self, kind: str) -> str:
        self.out_seq += 1
        return os.path.join(self.work_dir, "out", f"{kind}-{self.out_seq}")

    def run_op(self, name: str, op_id: str):
        """Run one op; returns the row count (queries) or output dir."""
        with self.tracer.span("op", op_id):
            if name == WRITE_OP:
                from pyspark.sql import functions as F

                from purldb_spark.catalog.writers import write_catalog_table

                out = self.next_out("catalog")
                with self.phase(op_id, "write", "catalog.write"):
                    write_catalog_table(
                        self.spark.read.parquet(self.packages_dir), out,
                        unique_key=["purl"], order_by=[F.desc("mining_level")],
                        partition_by=["type"], sort_by=["purl"],
                        bloom_columns=["purl"],
                    )
                return out
            if name == DRAIN_OP:
                from pyspark.sql.pandas.types import from_arrow_schema

                from purldb_spark.streaming.purl_sink import purl_sink
                from purldb_spark.streaming.queue import stream_queue

                out = self.next_out("published")
                with self.phase(op_id, "stream", "streaming.drain"):
                    q = stream_queue(
                        self.spark, self.packages_dir,
                        from_arrow_schema(self.packages.schema),
                        purl_sink(out), out + ".ckpt",
                    )
                    q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                if self.tracer.enabled:
                    self.stream_groups[str(q.runId)] = f"{op_id}:stream"
                    self.stream_progress[op_id] = q.recentProgress
                return out
            from purldb_spark.plans.registry import QUERIES

            with self.phase(op_id, "build", "plans.build"):
                df = QUERIES[name](self.spark, self.sf_dir)
            with self.phase(op_id, "action", "spark.action"):
                return df.count()

    def stage_packages(self, packages):
        """Write the mined package rows, the input of the write and drain
        ops, as ``CPUS`` parquet files."""
        import pyarrow.parquet as pq

        self.packages = packages
        self.packages_dir = os.path.join(self.work_dir, "packages")
        os.makedirs(self.packages_dir)
        step = -(-packages.num_rows // CPUS)
        for i in range(CPUS):
            pq.write_table(packages.slice(i * step, step),
                           os.path.join(self.packages_dir, f"part-{i}.parquet"))

    def engine_metrics(self) -> dict[str, dict[str, float]]:
        """Engine metrics per job group, with each streaming query's run id
        (the group its micro-batch jobs run under) renamed to its op."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for group, vals in SparkRest(self.spark).engine_metrics().items():
            for k, v in vals.items():
                out[self.stream_groups.get(group, group)][k] += v
        return out

    # ---- phases of a run ------------------------------------------------
    def setup_once(self) -> dict:
        from purldb_spark.plans.fixture_runtime import build_seconds_by_key

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.start", "setup"):
            self.spark = self.start_session()
        t_session = time.perf_counter() - t0
        before = build_seconds_by_key()
        op_s = {}
        for name in self.workload.ops:
            t_op = time.perf_counter()
            self.run_op(name, f"warm:{name}")
            op_s[name] = time.perf_counter() - t_op
        elapsed = time.perf_counter() - t0
        after = build_seconds_by_key()
        grown = {k: v - before.get(k, 0.0) for k, v in after.items()
                 if v > before.get(k, 0.0)}
        return {"setup_s": elapsed, "session_start_s": t_session,
                "fixture_build_s": sum(grown.values()),
                "fixtures_built": len(grown), "op_s": op_s}

    def timed_loop(self):
        """Whole passes until ``--seconds`` have gone by and at least
        ``MIN_SAMPLES`` ops have run. Returns the samples, the wall time of
        each pass and the fixture build seconds spent inside the loop."""
        from purldb_spark.plans.fixture_runtime import build_seconds_total

        rng = random.Random(self.args.seed)
        names = self.workload.ops
        samples = []  # (name, op_id, seconds, result, error)
        pass_s = []
        lazy0 = build_seconds_total()
        t_start = time.perf_counter()
        while True:
            t_pass = time.perf_counter()
            for name in rng.sample(names, len(names)):
                op_id = f"t{len(pass_s)}:{name}"
                t0 = time.perf_counter()
                try:
                    result, err = self.run_op(name, op_id), None
                except Exception as exc:  # an op failure is a measured outcome
                    result, err = None, f"{type(exc).__name__}: {exc}"
                samples.append((name, op_id, time.perf_counter() - t0, result, err))
            pass_s.append(time.perf_counter() - t_pass)
            if (time.perf_counter() - t_start >= self.args.seconds
                    and len(samples) >= MIN_SAMPLES):
                break
        return samples, pass_s, build_seconds_total() - lazy0


def result_digest(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(map(repr, pdf[cols].itertuples(index=False)))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_queries(bench: Bench) -> dict[str, dict]:
    """Compare each query's result with its DuckDB oracle on the same inputs
    (the order-insensitive, repr-strict rule of tests/conftest.py), or with
    the committed digest where no oracle exists."""
    import duckdb

    from purldb_spark.catalog.tables import TABLES
    from purldb_spark.plans.registry import ORACLES, QUERIES
    from tests.conftest import assert_same_result

    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        path = os.path.join(bench.sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    class _Rows:
        def __init__(self, pdf):
            self.pdf = pdf

        def toPandas(self):
            return self.pdf

    out = {}
    for name in bench.workload.queries:
        pdf = QUERIES[name](bench.spark, bench.sf_dir).toPandas()
        rec = {"rows": len(pdf), "digest": result_digest(pdf), "ok": True}
        try:
            if name in ORACLES:
                assert_same_result(_Rows(pdf), con, ORACLES[name])
            else:
                want = expected["digests"].get(bench.args.scale, {}).get(name)
                if rec["digest"] != want:
                    raise AssertionError(f"digest {rec['digest']} != committed {want}")
        except AssertionError as exc:
            rec.update(ok=False, detail=str(exc)[:500])
        out[name] = rec
    con.close()
    return out


def parquet_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, f))
                files += 1
    return size, files


def check_outputs(bench: Bench, samples) -> dict:
    """Read every write and drain back. A catalog write holds one row per
    distinct purl, the highest mining level of each; a drain publishes
    every queued row. Both have one ``type=`` directory per input type."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pkgs = bench.packages
    deduped = pa.Table.from_pandas(
        pkgs.to_pandas()
        .sort_values(["purl", "mining_level"], ascending=[True, False])
        .drop_duplicates("purl"),
        schema=pkgs.schema, preserve_index=False,
    )
    want_types = sorted(set(pkgs.column("type").to_pylist()))
    bad, stored = set(), []
    for name, op_id, _, out, err in samples:
        if err is not None or name not in (WRITE_OP, DRAIN_OP):
            continue
        back = pq.read_table(out)
        types = sorted(d[len("type="):] for d in os.listdir(out) if d.startswith("type="))
        if name == WRITE_OP:
            ok = (back.num_rows == deduped.num_rows
                  and pc.all(pc.equal(back["mining_level"], 2)).as_py())
            stored.append(parquet_bytes(out)[0] / deduped.nbytes)
        else:
            ok = back.num_rows == pkgs.num_rows
        if not ok or types != want_types:
            bad.add(op_id)
    return {"bad": bad, "stored_ratio": statistics.median(stored) if stored else None}


def quantile(values, q: int) -> float:
    """The q-th percentile (``statistics.quantiles`` with n=100)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def layer_metrics(bench: Bench, setups, samples, passes, lazy_s, engine) -> dict:
    timed_ids = {s[1] for s in samples}
    n_ops = len(samples)
    per_pass = lambda v: v / passes  # noqa: E731
    tr = bench.tracer
    m = {
        "session.start_s": statistics.median(s["session_start_s"] for s in setups),
        "plans.fixture_build_s": statistics.median(s["fixture_build_s"] for s in setups),
        "plans.fixtures_built": statistics.median(s["fixtures_built"] for s in setups),
        "plans.fixture_lazy_build_s": lazy_s,
        "plans.build_s": per_pass(tr.totals("plans.build", timed_ids)[1]),
        "spark.action_s": per_pass(tr.totals("spark.action", timed_ids)[1]),
        "catalog.write_s": per_pass(tr.totals("catalog.write", timed_ids)[1]),
    }
    calls, load_s = tr.totals("catalog.load", timed_ids)
    m["catalog.load_calls"] = per_pass(calls)
    m["catalog.load_s"] = per_pass(load_s)
    wbytes = wfiles = 0
    for name, _, _, out, err in samples:
        if err is None and name == WRITE_OP:
            b, f = parquet_bytes(out)
            wbytes, wfiles = wbytes + b, wfiles + f
    m["catalog.write_bytes"] = per_pass(wbytes)
    m["catalog.write_files"] = per_pass(wfiles)

    groups = {op_id: defaultdict(float) for op_id in timed_ids}
    build_jobs = 0.0
    for group, vals in engine.items():
        op_id, _, phase = group.rpartition(":")
        if op_id not in groups:
            continue
        for k, v in vals.items():
            groups[op_id][k] += v
        if phase == "build":
            build_jobs += vals.get("jobs", 0)
    total = defaultdict(float)
    for g in groups.values():
        for k, v in g.items():
            total[k] += v
    m["plans.build_jobs"] = per_pass(build_jobs)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = total[k] / n_ops
    for k in ENGINE_KEYS:
        m[f"spark.{k}"] = per_pass(total[k])
    for k in PYTHON_SQL_METRICS.values():
        m[k] = per_pass(total[k])
    op_wall = sum(s[2] for s in samples)
    m["spark.core_busy_frac"] = total["executor_run_s"] / (op_wall * CPUS)

    progress = [p for op_id, ps in bench.stream_progress.items() if op_id in timed_ids
                for p in ps]
    m["streaming.batches"] = per_pass(len(progress))
    m["streaming.rows"] = per_pass(sum(p.numInputRows for p in progress))
    m["streaming.trigger_s"] = per_pass(
        sum(p.durationMs.get("triggerExecution", 0) for p in progress) / 1e3)
    m["streaming.add_batch_s"] = per_pass(
        sum(p.durationMs.get("addBatch", 0) for p in progress) / 1e3)
    return {k: m[k] for k in LAYER_UNITS}


def per_op_table(bench: Bench, samples, engine) -> dict:
    """Per op: samples, median wall seconds, and the traced build/action
    split -- the per-query statistics a regression is triaged from."""
    rows: dict[str, dict] = {}
    spans = defaultdict(float)
    for s in bench.tracer.spans:
        if s["op_id"] and s["name"] in ("plans.build", "spark.action",
                                        "catalog.write", "streaming.drain"):
            spans[(s["op_id"], s["name"])] += s["end"] - s["start"]
    for name, op_id, sec, _, _ in samples:
        r = rows.setdefault(name, {"n": 0, "wall": [], "build_s": 0.0, "jobs": 0.0,
                                   "executor_run_s": 0.0, "python.run_s": 0.0})
        r["n"] += 1
        r["wall"].append(sec)
        r["build_s"] += spans[(op_id, "plans.build")]
        for phase in ("build", "action", "write", "stream"):
            g = engine.get(f"{op_id}:{phase}", {})
            r["jobs"] += g.get("jobs", 0)
            r["executor_run_s"] += g.get("executor_run_s", 0)
            r["python.run_s"] += g.get("python.run_s", 0)
    out = {}
    for name, r in sorted(rows.items()):
        n = r.pop("n")
        out[name] = {"samples": n, "wall_p50_s": statistics.median(r.pop("wall"))}
        out[name].update({k: v / n for k, v in r.items()})
    return out


def run(args) -> int:
    import inputs

    work_dir = prepare_work_dir(f"{args.workload}-{args.seed}-{os.getpid()}")
    sf_dir = os.path.join(work_dir, "inputs")
    sizes, packages = inputs.make_inputs(args.scale, args.seed, sf_dir)

    import purldb_spark.catalog.tables as tables
    from purldb_spark.plans.registry import load_inventory

    load_inventory()
    bench = Bench(args, work_dir, sf_dir)
    if bench.workload.writes:
        bench.stage_packages(packages)

    def traced_load(original):
        def load(*a, **kw):
            with bench.tracer.span("catalog.load"):
                return original(*a, **kw)
        return load

    try:
        with RssSampler() as rss, (
            patched(tables, "load", traced_load, "purldb_spark")
            if args.trace else contextlib.nullcontext()
        ):
            t0 = time.perf_counter()
            setups = [bench.setup_once() for _ in range(SETUP_REPS)]
            setup_peak_mb = rss.take_peak()
            t1 = time.perf_counter()
            samples, pass_s, lazy_s = bench.timed_loop()
            passes, wall = len(pass_s), sum(pass_s)
            timed_peak_mb = rss.take_peak()
            engine = bench.engine_metrics() if args.trace else {}
            t2 = time.perf_counter()
            checks = check_queries(bench)
            outputs = (check_outputs(bench, samples) if bench.workload.writes
                       else {"bad": set(), "stored_ratio": None})
            phases = {"setups_s": t1 - t0, "timed_s": t2 - t1,
                      "checks_s": time.perf_counter() - t2}

        failed_ids = set(outputs["bad"])
        errors = {}
        for name, op_id, _, result, err in samples:
            chk = checks.get(name)
            if err is not None:
                errors.setdefault(name, err)
                failed_ids.add(op_id)
            elif chk is not None and (not chk["ok"] or result != chk["rows"]):
                failed_ids.add(op_id)
        times = sorted(s[2] for s in samples)
        writes = [s[2] for s in samples if s[0] == WRITE_OP]
        e2e = {
            "setup_s": statistics.median(s["setup_s"] for s in setups),
            # the median pass's throughput: one slow pass, when the host
            # stalls, does not move it
            "ops_per_s": len(bench.workload.ops) / statistics.median(pass_s),
            "op_p50_s": statistics.median(times),
            "op_p90_s": quantile(times, 90),
            "write_p50_s": statistics.median(writes) if writes else None,
            "failed_frac": len(failed_ids) / len(samples),
            "stored_bytes_per_user_byte": outputs["stored_ratio"],
            "peak_rss_mb": timed_peak_mb,
        }
        layers = (layer_metrics(bench, setups, samples, passes, lazy_s, engine)
                  if args.trace else {})
        artifact = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "trace": args.trace, "cpus": CPUS, "seconds": args.seconds,
            "inputs": sizes, "passes": passes, "pass_s": pass_s,
            "samples": len(samples),
            "phases": phases, "setup_peak_rss_mb": setup_peak_mb,
            "setups": setups, "end_to_end": e2e, "per_layer": layers,
            "self_time": bench.tracer.self_time_table(
                {s[1] for s in samples}) if args.trace else {},
            "per_op": per_op_table(bench, samples, engine) if args.trace else {},
            "spans": bench.tracer.spans,
            "checks": checks, "errors": errors,
        }
        with open(os.path.join(WORK_ROOT, f"{args.workload}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump(artifact, fh, indent=1, sort_keys=True, default=float)
    finally:
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)

    for name, chk in checks.items():
        if not chk["ok"]:
            print(f"check failed: {name}: {chk.get('detail')}", file=sys.stderr)
    for name, err in errors.items():
        print(f"op failed: {name}: {err}", file=sys.stderr)
    print(f"workload {args.workload}: {len(samples)} ops in {passes} passes, "
          f"{wall:.2f} s timed, op_p90_s over {len(samples)} samples")
    for k, v in e2e.items():
        print(f"  {k:<28} {'n/a' if v is None else f'{v:.6g}'} {E2E_UNITS[k]}")
    for k, v in layers.items():
        print(f"  {k:<28} {v:.6g} {LAYER_UNITS[k]}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = spec["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": not failed_ids,
        "attempted": len(samples),
        "failed": len(failed_ids),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in listed},
    }))
    return 0


def self_check(args) -> int:
    """Two seeds must give identical result digests for every query."""
    import inputs

    from purldb_spark.plans.registry import ORACLES, load_inventory

    load_inventory()
    work_dir = prepare_work_dir(f"selfcheck-{os.getpid()}")
    digests = []
    try:
        for seed in (args.seed, args.seed + 1):
            sf_dir = os.path.join(work_dir, f"inputs-{seed}")
            inputs.make_inputs(args.scale, seed, sf_dir)
            bench = Bench(args, work_dir, sf_dir)
            bench.spark = bench.start_session()
            digests.append({n: c["digest"] for n, c in check_queries(bench).items()})
            bench.spark.stop()
    finally:
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
    diff = sorted(n for n in digests[0] if digests[0][n] != digests[1][n])
    print(json.dumps({"workload": args.workload, "seeds": [args.seed, args.seed + 1],
                      "queries": len(digests[0]), "differ": diff,
                      "no_oracle_digests": {n: d for n, d in digests[0].items()
                                            if n not in ORACLES}}))
    return 1 if diff else 0


def stop_jvm() -> None:
    """Stop the Spark session and its JVM, and wait for the JVM to exit
    (it exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def prepare_work_dir(name: str) -> str:
    """A fresh run directory under ``.perfbench_work``; Spark's scratch
    files and the JVM's temp files go to its ``tmp``."""
    work_dir = os.path.join(WORK_ROOT, name)
    shutil.rmtree(work_dir, ignore_errors=True)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # keep the JVMs' performance counters in memory, not in /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:+PerfDisableSharedMem"
    return work_dir


def main(argv=None) -> int:
    args = parse_args(argv)
    if sys.flags.optimize:
        print("run without -O: the result checks use assert", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import purldb_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    args.scale = args.scale or WORKLOADS[args.workload].scale
    os.makedirs(WORK_ROOT, exist_ok=True)
    return self_check(args) if args.self_check else run(args)


if __name__ == "__main__":
    sys.exit(main())
