#!/usr/bin/env python3
"""The repo's benchmark: two workloads of the migration and analytics
engine, each run from one process by one closed-loop client.

    python3 perfbench/run.py --workload migrate_batch --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/METHOD.md for why each is here):

* ``migrate_batch``  one op = one multi-table job of perfbench/spec.yaml
  (upsert, insert-if-not-exists and counter sinks) into parquet targets
  that already exist;
* ``analytics_mix``  one op = one registry query into the noop sink; ops
  run in whole passes over a fixed set of queries, each pass in a seeded
  order.

The tables are the repo's fixtures, copied under perfbench/fixtures; the
migration targets are derived from them with ``--seed`` inside the
checkout.  Outputs are checked outside the timed region.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` Spark's event log is on,
the engine's public functions are wrapped in spans, and the last line
carries the per-layer metrics.  The line before it is a full report of the
run (sample counts, exact job counts, checks, host sample).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
import types

_T_IMPORT = time.time()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
# import the benchmark's modules as ``perfbench.*`` from the checkout root
sys.path[0] = ROOT

from perfbench.layers import med  # noqa: E402
PKG = "cassandra_cql_streaming_db_migrator_spark"

# Knobs that would make the run measure something other than the default
# code path.  The benchmark refuses to start when one is set.
FORBIDDEN_ENV = (
    "SPARK_GRAFT_DEDUP_ENGINE",
    "SPARK_GRAFT_MIN_PARTITION_SIZE",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
)

# analytics_mix: the registry's read-only side, one query of each group — a
# round loop, an Arrow kernel, a join and a stateful streaming query —
# with the tables each query reads.  METHOD.md records the queries left out
# and why.
ANALYTICS = {
    "pagerank_trade": ("orders", "lineitem"),
    "minhash_pairs": ("documents",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "stream_drift_monitor": ("documents", "embeddings"),
}


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return _T_IMPORT


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def tree_pids() -> dict[int, int]:
    """This process and all its descendants (the Spark JVM and its Python
    workers), each with its start time so that a reused pid is not taken
    for it."""
    parents: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parents[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parents.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return {pid: start for pid in tree if (start := _start_ticks(pid)) is not None}


def _start_ticks(pid: int) -> int | None:
    """Start time of a live process, or None once it has ended (a zombie
    of this process is reaped on the way)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    if fields[0] == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass  # not ours: its own parent reaps it
        return None
    return int(fields[19])


def tree_peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of this process and all its descendants."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024.0


def stop_everything(spark) -> None:
    """Stop Spark, its gateway JVM and every process the run started, and
    wait until each has ended.  PySpark leaves the JVM running after
    ``spark.stop()`` and ends it only when this process exits, without
    waiting for it; the JVM's Python workers end after it."""
    started = {p: s for p, s in tree_pids().items() if p != os.getpid()}
    try:
        if spark is not None:
            spark.stop()
    except Exception as e:
        print(f"spark.stop(): {type(e).__name__}: {e}", file=sys.stderr)
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    gateway = SparkContext and SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # whatever is left (workers, anything they started): give it time to end
    # on its own, then terminate it, then kill it
    for sig, grace in ((None, 15.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        alive = [p for p, s in started.items() if _start_ticks(p) == s]
        if not alive:
            return
        if sig is not None:
            for p in alive:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.time() + grace
        while time.time() < deadline and any(_start_ticks(p) == s for p, s in started.items()):
            time.sleep(0.05)
    left = [p for p, s in started.items() if _start_ticks(p) == s]
    if left:
        print(f"processes still running after the run: {left}", file=sys.stderr)


# --- workloads ----------------------------------------------------------------


class Workload:
    name = ""
    sf = 0.01  # the fixture scale of the oracle gate
    warm_ops = 1  # untimed ops before the timed loop
    round = 1  # the timed loop stops only after a whole number of rounds
    min_ops = 1  # ... and not before this many ops, however slow they are

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.m = ctx.manifest
        self.tracer = ctx.tracer

    def setup(self) -> None:
        """State the ops share; part of set-up time."""

    def prepare(self, i: int) -> None:
        """Untimed: restore state the op mutates."""

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def check(self, i: int, result: dict) -> list[str]:
        """Untimed: failures of the op's output check."""
        return []


class MigrateBatch(Workload):
    name = "migrate_batch"
    # a job's wall time keeps falling over its first runs in a process
    # (JIT and codegen): cold ~10 s, then 2.5, 2.2, 2.1, 2.0 s, and 1.6-1.8 s
    # from the fifth on
    warm_ops = 4
    TARGETS = ["lineitem_v2.parquet", "orders_v2.parquet", "event_counters.parquet"]

    def setup(self):
        with open(os.path.join(HERE, "spec.yaml")) as fh:
            self.spec_text = fh.read()
        self.expected = None
        self.verified = os.path.join(self.ctx.work, "verified")

    def prepare(self, i):
        for n in self.TARGETS:
            dst = os.path.join(self.ctx.targets, n)
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(os.path.join(self.m["targets"], n), dst)

    def _sink(self, steps: list):
        from cassandra_cql_streaming_db_migrator_spark.sinks import sinks

        tracer, targets = self.tracer, self.ctx.targets

        def sink(df, table):
            path = os.path.join(targets, f"{table.target}.parquet")
            t0 = time.perf_counter()
            if table.counter_columns:
                with tracer.span("sinks.counter_merge"):
                    sinks.counter_merge_parquet(df, path, table.key_columns, table.counter_columns)
            elif table.insert_only_if_not_exist:
                with tracer.span("sinks.if_not_exists"):
                    sinks.write_parquet(df, path, mode="append")
            else:
                with tracer.span("sinks.upsert"):
                    sinks.upsert_parquet(df, path, table.key_columns)
            steps.append(time.perf_counter() - t0)
            return None  # rows come from the pipeline's observation

        return sink

    def op(self, i):
        from cassandra_cql_streaming_db_migrator_spark import pipeline
        from cassandra_cql_streaming_db_migrator_spark.plans import spec as spec_mod
        from cassandra_cql_streaming_db_migrator_spark.sources import parquet

        steps: list[float] = []
        sink = self._sink(steps)
        t0 = time.perf_counter()
        with self.tracer.span("plans.load_spec"):
            spec = spec_mod.load_spec(self.spec_text)
        with self.tracer.span("sources.load_table"):
            tables = {t.table_name: parquet.load_table(self.spark, self.m["tables"], t.table_name)
                      for t in spec.tables}
            targets = {t.target: parquet.load_table(self.spark, self.ctx.targets, t.target)
                       for t in spec.tables}
        with self.tracer.span("pipeline.run_pipeline"):
            results = pipeline.run_pipeline(self.spark, spec, tables, targets, sink)
        wall = time.perf_counter() - t0
        rows = sum(r.rows_read for r in results)
        return {"wall": wall, "rows": rows, "steps": steps,
                "merged": sum(r.rows_migrated for r in results), "tables": len(results)}

    def check(self, i, result):
        """Each target against DuckDB's result of the same job, by the strict
        canonical row form; once a target has passed, later ops' targets
        must hold exactly its rows (a cheaper, equally exact comparison)."""
        from perfbench import check

        if self.expected is None:
            self.expected = check.expected_batch(self.m)
        bad = []
        for t in self.TARGETS:
            name = t.removesuffix(".parquet")
            path = os.path.join(self.ctx.targets, t)
            if self.ctx.corrupt and i % 2:  # the 1st, 3rd, ... op: both checks below fail
                check.corrupt(path)
            good = os.path.join(self.verified, t)
            if os.path.isdir(good):
                if not check.same_rows(path, good):
                    bad.append(f"{name}: rows differ from the checked target")
                continue
            got = check.actual(path)
            if got != self.expected[name]:
                bad.append(f"{name}: {got[0]} rows, expected {self.expected[name][0]} "
                           "(or a value differs)")
            else:
                shutil.copytree(path, good)
        return bad

    def summarize(self, results):
        walls = [r["wall"] for r in results]
        steps = [s for r in results for s in r["steps"]]
        return {"op_p50_s": (med(walls), len(walls)), "step_p50_s": (med(steps), len(steps))}

    def units(self, results):
        return [{**r, "ops": [r]} for r in results]


class AnalyticsMix(Workload):
    name = "analytics_mix"

    def setup(self):
        from cassandra_cql_streaming_db_migrator_spark.queries import all_queries

        registry = all_queries()
        self.queries = {n: registry[n] for n in ANALYTICS}
        self.round = len(self.queries)  # ops run in whole passes
        # at least two samples per query (their mean is the median); a third
        # pass would make a run under CPU steal too long for the run budget
        self.min_ops = 2 * self.round
        self.streams = self.tracer.capture_streams() if self.tracer.enabled else None

    def warm(self) -> dict:
        """The warm pass: every query once, collected for its oracle check."""
        out = {}
        for name, q in self.queries.items():
            t0 = time.perf_counter()
            df = q.fn(self.spark, self.m["tables"])
            out[name] = (df.columns, df.collect())
            self.ctx.warm_walls.append(time.perf_counter() - t0)
        return out

    def check_warm(self, got: dict) -> list[str]:
        """Each query against its registry oracle over the fixture tables."""
        from perfbench import check

        bad = []
        for name, q in self.queries.items():
            have = check.canonical(*got[name])
            if self.ctx.corrupt and name == "q3_shipping_priority":
                have = (have[0], have[1][1:])
            want = check.oracle_rowset(self.m["tables"], q.oracle)
            if have != want:
                bad.append(f"{name}: {len(have[1])} rows, oracle {len(want[1])} "
                           "(or a value differs)")
        return bad

    def op(self, i):
        order = list(self.queries)
        random.Random(self.ctx.seed * 1000 + i // self.round).shuffle(order)
        name = order[i % self.round]
        n_streams = len(self.streams) if self.streams is not None else 0
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with self.tracer.span(f"queries.{name}.build"):
            df = self.queries[name].fn(self.spark, self.m["tables"])
        t1 = time.perf_counter()
        with self.tracer.span(f"queries.{name}.exec"):
            df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        progress = [p for q in (self.streams or [])[n_streams:]
                    for p in q.recentProgress if p["numInputRows"] > 0]
        return {"wall": wall, "query": name, "build": t1 - t0, "exec": wall - (t1 - t0),
                "progress": progress}

    def summarize(self, results):
        """A pass is the sum over its queries of each query's median wall
        time; a step is the median query, the median of those medians."""
        by_q: dict[str, list[float]] = {}
        for r in results:
            by_q.setdefault(r["query"], []).append(r["wall"])
        meds = [med(v) for v in by_q.values()]
        n = min((len(v) for v in by_q.values()), default=0)
        return {"op_p50_s": (sum(meds), n), "step_p50_s": (med(meds), n)}

    def units(self, results):
        """The per-layer unit is a pass: its queries' ops taken together
        (only whole passes count)."""
        passes: dict[int, list[dict]] = {}
        for r in results:
            passes.setdefault(r["index"] // self.round, []).append(r)
        return [{"ops": ops, "wall": sum(r["wall"] for r in ops),
                 "mark0": ops[0]["mark0"], "mark1": ops[-1]["mark1"],
                 "progress": [p for r in ops for p in r["progress"]]}
                for ops in passes.values() if len(ops) == self.round]


WORKLOADS = {w.name: w for w in (MigrateBatch, AnalyticsMix)}


# --- the run ------------------------------------------------------------------


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="input scale (default: the workload's own)")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: corrupt outputs before their check (every other "
                        "migrate op, the analytics oracle check)")
    return p.parse_args(argv)


def configure_env(work: str, ncpu: int) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    held = types.SimpleNamespace(spark=None, work=None)
    try:
        return run(argv, held)
    finally:
        stop_everything(held.spark)
        if held.work:
            shutil.rmtree(held.work, ignore_errors=True)


def run(argv, held) -> int:
    t_start = process_start()
    args = parse_args(argv)
    set_knobs = [k for k in FORBIDDEN_ENV if k in os.environ]
    if set_knobs:
        print(f"refusing to run: {', '.join(set_knobs)} set; the benchmark measures "
              "only the default code path", file=sys.stderr)
        return 2

    try:
        from cassandra_cql_streaming_db_migrator_spark import session as session_mod
    except ModuleNotFoundError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 3

    ncpu = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = held.work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    configure_env(work, ncpu)

    from perfbench import gen, tracing

    wl_cls = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl_cls.sf
    g0 = time.perf_counter()
    manifest = gen.generate(os.path.join(work, "inputs"), args.seed, sf)
    gen_s = time.perf_counter() - g0

    tracer = tracing.Tracer(bool(args.trace))
    # the JVM's temporary files go to the checkout too; -XX:-UsePerfData
    # stops it writing its perf-counter file under /tmp
    extra = {"spark.driver.extraJavaOptions":
             f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"}
    if args.trace:
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "true",
                      "spark.eventLog.dir": "file://" + ev_dir})
    s0 = time.perf_counter()
    s_wall = time.time()
    with tracer.span("session.build_session"):
        spark = session_mod.build_session(app_name=f"perfbench-{args.workload}",
                                          master=f"local[{ncpu}]", extra_conf=extra)
    held.spark = spark
    jvm_start_s = time.perf_counter() - s0

    ctx = types.SimpleNamespace(
        spark=spark, manifest=manifest, tracer=tracer, seed=args.seed, corrupt=args.corrupt,
        work=work, targets=os.path.join(work, "targets"), jobs=tracing.JobCounter(spark),
        warm_walls=[])
    tracer.install(PKG, {
        f"{PKG}.pipeline:build_observed_plan": "plans.build_plan",
        f"{PKG}.pipeline:_run_one": "pipeline.run_table",
        f"{PKG}.sources.parquet:load_table": "sources.load_table",
    })
    tracer.install_pipeline_counts()

    wl = wl_cls(ctx)
    failures: list[str] = []  # one message per failed op or check
    attempted = failed = 0
    worker_warm_s = 0.0
    if isinstance(wl, AnalyticsMix):
        # spawn every Python worker before the first timed op (one task
        # per core), as the engine's own bench does
        w0 = time.perf_counter()
        with tracer.span("session.worker_warm"):
            par = spark.sparkContext.defaultParallelism

            def identity(batches):
                yield from batches

            spark.range(0, par * 32, 1, par).mapInPandas(identity, "id long") \
                .write.format("noop").mode("overwrite").save()
        worker_warm_s = time.perf_counter() - w0
    wl.setup()
    # untimed warm ops, whose outputs are checked like every other op's;
    # check time is not set-up time
    check_s = 0.0
    for k in range(wl.warm_ops):
        attempted += 1
        try:
            if isinstance(wl, AnalyticsMix):
                got = wl.warm()
            else:
                wl.prepare(-1 - k)
                got = wl.op(-1 - k)
                ctx.warm_walls.append(got["wall"])
        except Exception as e:  # a failed op is counted, never dropped
            failures.append(f"warm op {k}: {type(e).__name__}: {e}")
            failed += 1
            continue
        c0 = time.time()
        bad = wl.check_warm(got) if isinstance(wl, AnalyticsMix) else wl.check(-1 - k, got)
        check_s += time.time() - c0
        failures += [f"warm op {k}: {b}" for b in bad]
        failed += bool(bad)
    setup_s = time.time() - t_start - gen_s - check_s

    # --- timed, closed loop ----------------------------------------------------
    results, window, i, streak = [], 0.0, 0, 0
    t_loop = time.time()
    steal0 = cpu_ticks()
    # closed loop: the next op starts when the previous one is done, until
    # the ops have used --seconds and the round in progress is finished
    while window < args.seconds or i % wl.round or i < wl.min_ops:
        wl.prepare(i)
        op_id = f"op{i}"
        tracer.op = op_id
        ctx.jobs.group(op_id)
        mark0 = ctx.jobs.mark()
        t0 = time.time()
        attempted += 1
        try:
            with tracer.span("op"):
                r = wl.op(i)
        except Exception as e:
            tracer.op = None
            failures.append(f"{op_id}: {type(e).__name__}: {e}")
            failed += 1
            window += time.time() - t0
            i += 1
            streak += 1
            if streak >= 3:  # the op keeps failing: stop rather than spin
                break
            continue
        streak = 0
        r.update(index=i, start=t0, mark0=mark0, mark1=ctx.jobs.mark(),
                 group_jobs=len(ctx.jobs.group_jobs(op_id)))
        tracer.op = None
        window += r["wall"]
        bad = wl.check(i, r)
        failures += [f"{op_id}: {b}" for b in bad]
        failed += bool(bad)
        results.append(r)
        i += 1

    t_loop_end = time.time()
    peak_rss_mb = tree_peak_rss_mb()
    import bench  # the engine's legacy bench: host sample and worker-pool probe

    steal1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the ops ran: the
    # op times inflate with it, and the benchmark cannot correct for it
    observation = {"host": bench._host_sample(),
                   "steal_pct_during_ops": 100.0 * (steal1[0] - steal0[0])
                   / max(1, steal1[1] - steal0[1])}
    if args.trace:  # the probe spawns Python workers: ~4 s a run, so traced runs only
        try:
            observation["probe"] = bench._probe_worker_pool(spark)
        except Exception as e:
            observation["probe"] = f"{type(e).__name__}: {e}"
    t_probe_end = time.time()
    held.spark = None
    stop_everything(spark)  # also flushes the event log
    t_stop_end = time.time()

    ok = failed == 0 and bool(results)
    summary = wl.summarize(results)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (summary["op_p50_s"][0], "s"),
        "step_p50_s": (summary["step_p50_s"][0], "s"),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": sf,
        "cpus": ncpu, "ops": len(results), "window_s": window,
        "warm_walls_s": ctx.warm_walls, "worker_warm_s": worker_warm_s,
        "op_walls_s": [r["wall"] for r in results],
        "op_queries": [r["query"] for r in results if "query" in r],
        "rows_read_per_op": sorted({r["rows"] for r in results if "rows" in r}),
        "samples": {"setup_s": 1, **{k: n for k, (_, n) in summary.items()}},
        "fail_ratio": failed / max(attempted, 1), "failures": failures[:20],
        "jobs_per_op": [r["mark1"][0] - r["mark0"][0] for r in results],
        "stages_per_op": [r["mark1"][1] - r["mark0"][1] for r in results],
        "group_jobs_per_op": [r["group_jobs"] for r in results],
        "gen_s": gen_s, "jvm_start_s": jvm_start_s, "peak_rss_mb": peak_rss_mb,
        "phases_s": {"before_session": s_wall - t_start, "loop": t_loop_end - t_loop,
                     "probe": t_probe_end - t_loop_end, "stop": t_stop_end - t_probe_end},
        "rows": manifest["rows"],
        "observation": observation,
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    if args.trace:
        from perfbench import layers

        ev = tracing.EventLog(os.path.join(work, "eventlog"))
        metrics = layers.per_layer(wl.units(results), tracer, ev, list(ANALYTICS), jvm_start_s,
                                   worker_warm_s, report, gen_s)
        tracer.write(os.path.join(out_dir, f"{run_id}.spans.json"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    report["metrics"] = metrics
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(json.dumps({k: v for k, v in report.items() if k != "metrics"}, default=str))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
