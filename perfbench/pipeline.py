"""Workload `pipeline_sf0.1`: three bench-tagged registered queries, cold.

The queries are the three that hold most of the engine's cold pipeline
time: `dedup_semantic_clusters` (k-means training inside query build),
`dedup_minhash_lsh_pairs` (MinHash bands, persists, narrow stages) and
`data_selection_dsir_topk` (hashed n-gram importance weights). The
other eleven bench queries are left out: a pass over all fourteen in a
fresh process would not fit the benchmark's time per run.

Inputs: the ten star-schema tables at sf0.1, generated from the seed
(gen_tables.py). Set-up: Spark session and registry load. Then one
pass, one closed-loop client, runs the three queries in a fixed order,
each cold: Spark's cache and the engine's result memos are cleared
before it. The pass is what a batch job pays in its own process, the
way pipeline jobs are submitted, so it includes the JVM's just-in-time
compilation, codegen and Python-worker start-up; a warm-up pass
would take longer than the pass it warms. The order is fixed because
the query that runs first pays the compilation the queries share:
with a seeded order the per-query times, and their median, would vary
with the order instead of the program. Passes repeat until the run's
seconds are used; one pass always uses them. Every result is checked
against the DuckDB oracle of its registry entry, computed once per run
outside the timed region.

The traced run replaces the timed pass by one traced pass (see
`_traced_op`).
"""

from __future__ import annotations

import os
import time

import checks
import gen_tables
from common import Op, Run, error_text
from spans import JobStats, Tracer

QUERIES = ("dedup_semantic_clusters", "dedup_minhash_lsh_pairs", "data_selection_dsir_topk")


def run(r: Run) -> None:
    data = os.path.join(r.work, "tables")
    gen_tables.write_tables(data, r.seed)

    t0 = time.perf_counter()
    session_s = r.start_spark()
    from wilayah_aceh_etl_spark.plans.registry import all_specs

    specs = {n: s for n, s in all_specs().items() if s.bench and n in QUERIES}
    if len(specs) != len(QUERIES):
        raise SystemExit(f"bench-tagged queries missing: {sorted(set(QUERIES) - set(specs))}")
    setup_s = time.perf_counter() - t0

    digests: dict[int, str] = {}  # id(op) -> result digest
    tracer, stats, per_op = Tracer(), None, {}
    if r.trace:
        stats = JobStats(r.spark)
        for name in QUERIES:
            per_op[name] = _traced_op(r, specs[name], data, tracer, stats, digests)
    else:
        start, passes = time.perf_counter(), 0
        while passes == 0 or time.perf_counter() - start < r.seconds:
            for name in QUERIES:
                op = Op(name, "query", passes)
                r.ops.append(op)
                r.cold_reset()
                try:
                    t = time.perf_counter()
                    df = specs[name].fn(r.spark, data)
                    rows = df.collect()
                    op.seconds = time.perf_counter() - t
                    digests[id(op)] = checks.digest(df.columns, rows)
                except Exception as exc:  # a failing query is reported, not fatal
                    op.error = error_text("timed", exc)
            passes += 1

    try:
        expected = checks.oracle_digests(
            data, gen_tables.TABLES, {n: s.oracle for n, s in specs.items()}
        )
    except Exception as exc:
        expected = {n: error_text("oracle", exc) for n in specs}
    for op in r.ops:
        if op.error is None and digests[id(op)] != expected[op.kind]:
            op.error = f"check: result {digests[id(op)]} != oracle {expected[op.kind]}"
            op.seconds = None
    r.detail["session_s"] = session_s
    if r.trace:
        _record_layers(r, per_op, tracer, stats, session_s)
    else:
        _record_e2e(r, setup_s)


def _record_e2e(r: Run, setup_s: float) -> None:
    r.detail["per_query_s"] = {
        n: [op.seconds for op in r.ops if op.kind == n and op.error is None] for n in QUERIES
    }
    r.record_e2e(setup_s)


def _traced_op(r: Run, spec, data: str, tracer: Tracer, stats: JobStats,
               digests: dict) -> dict:
    """One cold run with spans around the calls into each layer, then,
    outside the op's span, a warm rebuild-and-run that reuses every memo
    and persist the op left behind."""
    op = Op(spec.name, "query", 0)
    r.ops.append(op)
    r.cold_reset()
    before = r.persisted()
    try:
        with tracer.span("op", op=spec.name) as sp_op:
            with stats.group(f"{spec.name}:build"), tracer.span("plans.build") as sp_b:
                df = spec.fn(r.spark, data)
            with tracer.span("plans.plan") as sp_p:
                df._jdf.queryExecution().executedPlan()
            with stats.group(f"{spec.name}:action"), tracer.span("operators.action") as sp_a:
                rows = df.collect()
        op.seconds = Tracer.seconds(sp_op)
        digests[id(op)] = checks.digest(df.columns, rows)
        leaked = r.persisted() - before
        build_jobs = stats.jobs([f"{spec.name}:build"])
        action_jobs = stats.jobs([f"{spec.name}:action"])
        t = time.perf_counter()
        spec.fn(r.spark, data).collect()
        warm_s = time.perf_counter() - t
    except Exception as exc:
        op.error, op.seconds = error_text("traced", exc), None
        return {}
    action_s = Tracer.seconds(sp_a)
    return {
        **stats.summary(action_jobs),
        "op_s": op.seconds,
        "build_s": Tracer.seconds(sp_b),
        "build_jobs": len(build_jobs),
        "plan_s": Tracer.seconds(sp_p),
        "action_s": action_s,
        "driver_gap_s": stats.driver_gap(build_jobs + action_jobs, (sp_op["start"], sp_op["end"])),
        "collect_s": stats.collect_tail(action_jobs, sp_a["end"]),
        "rows_returned": len(rows),
        "persist_leaked": leaked,
        "warm_s": warm_s,
    }


def _record_layers(r: Run, per_op: dict[str, dict], tracer: Tracer, stats: JobStats,
                   session_s: float) -> None:
    ok = {op.kind for op in r.ops if op.error is None}
    recs = [rec for name, rec in per_op.items() if name in ok]
    r.record_op_layers(recs, session_s)
    r.record("trace.pass_s", sum(rec["op_s"] for rec in recs), "s")
    r.record("trace.overhead_s", tracer.overhead_s + stats.overhead_s, "s")
    r.record("trace.op_self_s", tracer.self_seconds().get("op", 0.0), "s")
    r.detail["per_op"] = per_op
    r.detail["self_s"] = tracer.self_seconds()
    r.detail["spans_file"] = r.write_spans(tracer)
