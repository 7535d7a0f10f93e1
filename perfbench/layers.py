"""Per-layer metrics of a traced run.

Layers are named by the engine's modules.  Each timing is the median over
the run's units of the per-unit total, a unit being one migrate job or one
analytics pass; counts are per unit (job counts repeat exactly between
runs; analytics stage counts vary by a few).  A layer a workload bypasses reads
0 there.  METHOD.md maps each metric to the end-to-end metric it should
move and the workload that exercises it.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.tracing import self_times, union_length

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def names(queries) -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    out = [
        ("session.jvm_start_s", "s"), ("session.worker_warm_s", "s"),
        ("plans.load_spec_s", "s"), ("plans.build_plan_s", "s"),
        ("pipeline.self_s", "s"), ("pipeline.jobs_per_table", "count"),
        ("pipeline.quarantine_count_s", "s"), ("pipeline.observation_recounts", "count"),
        ("sources.load_table_s", "s"), ("sources.rows_read_per_row_written", "ratio"),
        ("sinks.upsert_s", "s"), ("sinks.if_not_exists_s", "s"), ("sinks.counter_merge_s", "s"),
        ("sinks.bytes_written", "bytes"), ("sinks.rows_rewritten_per_row_merged", "ratio"),
        ("streaming.triggers", "count"),
        *((f"streaming.{p}_ms", "ms") for p in PHASES),
        ("streaming.bookkeeping_ms", "ms"),
        ("streaming.batch_tail_s", "s"), ("streaming.batch_tail_pct", "pct"),
        ("streaming.batch_samples", "count"),
    ]
    for q in queries:
        out += [(f"queries.{q}.build_s", "s"), (f"queries.{q}.exec_s", "s"),
                (f"queries.{q}.jobs", "count"), (f"queries.{q}.driver_gap_s", "s")]
    out += [
        ("functions.python_total_s", "s"), ("functions.python_boot_s", "s"),
        ("functions.python_init_s", "s"), ("functions.python_bytes_sent", "bytes"),
        ("engine.task_cpu_s", "s"), ("engine.executor_run_s", "s"),
        ("engine.shuffle_read_bytes", "bytes"), ("engine.shuffle_write_bytes", "bytes"),
        ("engine.spill_bytes", "bytes"), ("engine.gc_s", "s"),
        ("op.jobs", "count"), ("op.stages", "count"), ("op.driver_gap_s", "s"),
        ("trace.op_p50_s", "s"), ("trace.unattributed_s", "s"),
        ("trace.thread_s_per_wall_s", "ratio"),
        ("run.fail_ratio", "ratio"), ("run.gen_s", "s"), ("run.peak_rss_mb", "MB"),
    ]
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it: its
    value, the percentile and the sample count."""
    xs = sorted(values)
    n = len(xs)
    k = max(0, n - 11)
    return (xs[k] if xs else 0.0), (100.0 * (k + 1) / n if n else 0.0), n


def per_layer(units, tracer, ev, query_names, jvm_start_s, worker_warm_s, report,
              gen_s) -> dict:
    spans = tracer.spans
    self_s = self_times(spans)
    by_op: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["op"] is not None:
            by_op[s["op"]].append(s)

    per_unit: dict[str, list[float]] = defaultdict(list)
    layer_self: dict[str, list[float]] = defaultdict(list)
    for u in units:
        ops = u["ops"]
        us = [s for r in ops for s in by_op.get(f"op{r['index']}", [])]
        wall = u["wall"]
        total = defaultdict(float)  # span name -> summed self time
        dur = defaultdict(float)  # span name -> summed duration
        cnt = defaultdict(int)
        layers = defaultdict(float)
        for s in us:
            total[s["name"]] += self_s[s["id"]]
            dur[s["name"]] += s["end"] - s["start"]
            cnt[s["name"]] += 1
            if s["name"] != "op":
                layers[s["name"].split(".")[0]] += self_s[s["id"]]
        for layer, v in layers.items():
            layer_self[layer].append(v)
        (j0, st0), (j1, st1) = u["mark0"], u["mark1"]
        t = ev.totals(st0, st1)
        add = lambda k, v: per_unit[k].append(v)  # noqa: E731
        add("plans.load_spec_s", dur["plans.load_spec"])
        add("plans.build_plan_s", total["plans.build_plan"])
        add("pipeline.self_s", total["pipeline.run_pipeline"] + total["pipeline.run_table"])
        add("pipeline.jobs_per_table", _ratio(j1 - j0, u.get("tables", 0)))
        add("pipeline.quarantine_count_s", dur["pipeline.quarantine_count"])
        add("pipeline.observation_recounts", cnt["pipeline.observation_recount"])
        add("sources.load_table_s", total["sources.load_table"])
        add("sources.rows_read_per_row_written", _ratio(t["records_read"], t["records_written"]))
        add("sinks.upsert_s", total["sinks.upsert"])
        add("sinks.if_not_exists_s", total["sinks.if_not_exists"])
        add("sinks.counter_merge_s", total["sinks.counter_merge"])
        add("sinks.bytes_written", t["bytes_written"])
        add("sinks.rows_rewritten_per_row_merged",
            _ratio(t["records_written"], u.get("merged", 0)))
        prog = u.get("progress") or []
        add("streaming.triggers", len(prog))
        for p in PHASES:
            add(f"streaming.{p}_ms", med([float(x["durationMs"].get(p, 0)) for x in prog]))
        add("streaming.bookkeeping_ms", med([
            float(x["durationMs"]["triggerExecution"] - x["durationMs"].get("addBatch", 0))
            for x in prog]))
        gap = 0.0  # op wall time outside any of the op's Spark jobs
        for r in ops:
            (oj0, _), (oj1, _) = r["mark0"], r["mark1"]
            g = r["wall"] - union_length(ev.intervals(oj0, oj1), r["start"], r["start"] + r["wall"])
            gap += g
            if "query" in r:
                q = r["query"]
                add(f"queries.{q}.build_s", r["build"])
                add(f"queries.{q}.exec_s", r["exec"])
                add(f"queries.{q}.jobs", oj1 - oj0)
                add(f"queries.{q}.driver_gap_s", g)
        add("functions.python_total_s", t["python_total_ms"] / 1000.0)
        add("functions.python_boot_s", t["python_boot_ms"] / 1000.0)
        add("functions.python_init_s", t["python_init_ms"] / 1000.0)
        add("functions.python_bytes_sent", t["python_bytes_sent"])
        add("engine.task_cpu_s", t["cpu_ns"] / 1e9)
        add("engine.executor_run_s", t["run_ms"] / 1000.0)
        add("engine.shuffle_read_bytes", t["shuffle_read"])
        add("engine.shuffle_write_bytes", t["shuffle_write"])
        add("engine.spill_bytes", t["spill"])
        add("engine.gc_s", t["gc_ms"] / 1000.0)
        add("op.jobs", j1 - j0)
        add("op.stages", st1 - st0)
        add("op.driver_gap_s", gap)
        # the op span's own self time is what no layer call covers; the
        # self times of all spans sum to the thread-seconds spent in the
        # unit, so over its wall they give the mean number of busy threads
        add("trace.unattributed_s", total["op"])
        add("trace.thread_s_per_wall_s", _ratio(sum(self_s[s["id"]] for s in us), wall))

    triggers = [x["durationMs"]["triggerExecution"] / 1000.0
                for u in units for x in (u.get("progress") or [])]
    t_val, t_pct, t_n = tail(triggers)
    fixed = {
        "session.jvm_start_s": jvm_start_s,
        "session.worker_warm_s": worker_warm_s,
        "streaming.batch_tail_s": t_val,
        "streaming.batch_tail_pct": t_pct,
        "streaming.batch_samples": t_n,
        "trace.op_p50_s": report["e2e"]["op_p50_s"]["value"],
        "run.fail_ratio": report["fail_ratio"],
        "run.gen_s": gen_s,
        "run.peak_rss_mb": report["peak_rss_mb"],
    }
    report["layer_self_s"] = {k: statistics.median(v) for k, v in layer_self.items()}
    report["units"] = len(units)
    out = {}
    for name, unit in names(query_names):
        v = fixed[name] if name in fixed else med(per_unit.get(name, []))
        out[name] = {"value": float(v), "unit": unit}
    return out
