#!/usr/bin/env python
"""Interleaved, counterbalanced A/B timing for registry queries.

The host has documented multi-minute performance windows (2-6x on the
Python/Arrow worker path; see OPTIMIZATION_r12.md "Host-window noise"),
so single focused runs and order-biased A/Bs are untrustworthy.  This
harness runs two env-keyed variants of the same queries INTERLEAVED in
one session with a counterbalanced order (ABBA BAAB ...), a JVM-only
control job between reps (window-health evidence), and reports per-
variant min / median plus every raw sample.

Usage:
  python tools/ab_compare.py --b KEY=VAL[,KEY=VAL...] [--a KEY=VAL...] \
      [--reps 4] [--json out.json] query [query ...]

Variant env vars are set before each BUILD+RUN and removed after, so the
knob must be read at query-build time (e.g. SPARK_GRAFT_NO_MATERIALIZE).
Session-conf variants go through
--conf-a/--conf-b instead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandra_cql_streaming_db_migrator_spark.queries import all_queries
from cassandra_cql_streaming_db_migrator_spark.session import build_session


def parse_env(s: str) -> dict[str, str]:
    out = {}
    for kv in filter(None, (s or "").split(",")):
        k, _, v = kv.partition("=")
        out[k] = v
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--a", default="", help="variant A env (default: none)")
    ap.add_argument("--b", default="", help="variant B env KEY=VAL[,..]")
    ap.add_argument("--conf-a", default="", help="variant A SQL conf KEY=VAL[,..]")
    ap.add_argument("--conf-b", default="", help="variant B SQL conf KEY=VAL[,..]")
    ap.add_argument("--reps", type=int, default=4, help="reps PER VARIANT")
    ap.add_argument("--json", default=None, help="write full samples here")
    args = ap.parse_args()

    env_a, env_b = parse_env(args.a), parse_env(args.b)
    conf_a, conf_b = parse_env(args.conf_a), parse_env(args.conf_b)
    if not (env_b or conf_b):
        ap.error("need --b and/or --conf-b")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="ab_compare")
    qs = all_queries()

    # one warm pass (variant A) so JIT/codegen/worker-pool startup is not
    # billed to whichever variant runs first
    for name in args.queries:
        qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # counterbalanced order per rep-pair: ABBA BAAB ABBA ...
    order: list[str] = []
    for i in range(args.reps):
        order += ["A", "B"] if (i % 2 == 0) else ["B", "A"]

    results: dict[str, dict[str, list[float]]] = {
        n: {"A": [], "B": []} for n in args.queries
    }
    controls: list[float] = []
    ctl = spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 3 + 1) AS s")

    for step, variant in enumerate(order):
        env = env_a if variant == "A" else env_b
        conf = conf_a if variant == "A" else conf_b
        for name in args.queries:
            saved = {k: os.environ.get(k) for k in {**env_a, **env_b}}
            saved_conf = {k: spark.conf.get(k, None) for k in {**conf_a, **conf_b}}
            for k in saved:
                os.environ.pop(k, None)
            os.environ.update(env)
            for k, v in conf.items():
                spark.conf.set(k, v)
            try:
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = qs[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                results[name][variant].append(time.perf_counter() - t0)
            finally:
                for k, v in saved.items():
                    if v is None:
                        os.environ.pop(k, None)
                    else:
                        os.environ[k] = v
                for k, v in saved_conf.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
        t0 = time.perf_counter()
        ctl.write.format("noop").mode("overwrite").save()
        controls.append(time.perf_counter() - t0)

    report = {"sf_dir": sf_dir, "env_a": env_a, "env_b": env_b,
              "conf_a": conf_a, "conf_b": conf_b,
              "order": order, "jvm_control_sec": [round(c, 3) for c in controls],
              "queries": {}}
    for name in args.queries:
        a, b = results[name]["A"], results[name]["B"]
        report["queries"][name] = {
            "A": [round(x, 3) for x in a],
            "B": [round(x, 3) for x in b],
            "A_min": round(min(a), 3), "B_min": round(min(b), 3),
            "A_med": round(statistics.median(a), 3),
            "B_med": round(statistics.median(b), 3),
        }
        print(
            f"{name:34s} A min={min(a):6.2f} med={statistics.median(a):6.2f}"
            f" | B min={min(b):6.2f} med={statistics.median(b):6.2f}"
            f" | B/A med={statistics.median(b)/statistics.median(a):5.2f}"
        )
    print(f"jvm_control spread: min={min(controls):.2f} max={max(controls):.2f}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
