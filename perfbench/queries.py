"""``queries``: the query surface users pay for.

A fixed subset of ``REGISTRY`` runs once cold in a fresh session,
``WARMUP_PASSES`` more times untimed, then in warm passes for
``--seconds`` (at least ``MIN_WARM``), over a seeded row permutation of
the fixture.  The subset spans the three query modules and
covers joins and aggregation, Arrow UDFs (``applyInPandas``,
``mapInPandas``) and a table-format-backed scan.  Every output is
hash-compared with its DuckDB oracle over the same files.  ``cold_s``
sums each query's first run and ``warm_s`` each query's median warm run.
As the probe of the ``bulk_load`` workload's traced run (``probe=True``)
it makes the cold pass, one untimed and one traced pass, so that run
measures these layers too.  The streaming
parity queries are left out: one costs about 6 s cold and 1.7 s warm on a
4-core host, more than the run's time budget allows.
"""

from __future__ import annotations

import os
import statistics
import time

import checks
import inputs
from spans import op_metrics

SUBSET = (
    "tpch_q1_like",
    "join_inner",
    "events_user_zscore",
    "multimodal_decode",
    "iceberg_mor_delete_scan",
)
MIN_WARM = 6
# A query keeps getting faster for its first few runs after the cold one
# while the JIT compiles its plan's code: those runs are not timed.  With
# one untimed pass instead of three, every query still sped up through all
# six warm passes and warm_s spread 0.23 run to run on a 4-core host.
WARMUP_PASSES = 3
MODULES = ("relational", "extensions", "pipeline")

UNITS = {
    "session.start_s": "s",
    **{f"queries.{m}.{k}": "s" for m in MODULES for k in ("build_s", "execute_s")},
    "queries.catalyst_s": "s",
    "queries.cold_extra_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.driver_idle_s": "s",
    "arrow.to_python_bytes": "bytes",
    "arrow.from_python_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
}


def _catalyst_s(df) -> float:
    """Analysis + optimization + planning time of the frame's execution."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


def run(ctx, probe: bool = False):
    from lakehouse_loader_spark import catalog
    from lakehouse_loader_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    tr = ctx.tracer
    fx = os.path.join(ctx.work, "fixture")
    sizes = inputs.permute_fixture(catalog.DEFAULT_SF_DIR, fx, ctx.seed)
    oracle = checks.duckdb_oracle(fx, inputs.FIXTURE_TABLES, {n: REGISTRY[n].oracle for n in SUBSET})
    spark = ctx.start_spark()
    module = {n: REGISTRY[n].fn.__module__.rsplit(".", 1)[-1] for n in SUBSET}

    def once(name: str, tag: str):
        """Build and run one query; returns (build_s, execute_s, catalyst_s)
        or None when it failed or its output is wrong."""
        op = f"q:{name}:{tag}"
        mod = module[name]
        try:
            with tr.op(spark, op, f"query.{mod}"):
                t0 = time.perf_counter()
                with tr.span(f"queries.{mod}.fn"):
                    df = REGISTRY[name].fn(spark, fx)
                t1 = time.perf_counter()
                with tr.span(f"queries.{mod}.action"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
            ok = checks.frame_hash(pdf) == oracle[name]
            rows_out[name] = len(pdf)
            cat = _catalyst_s(df) if tr.enabled else 0.0
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
            ctx.record(False, f"{op}: {exc!r}"[:300])
            return None
        finally:
            spark.catalog.clearCache()
        ctx.record(ok, f"{op}: output differs from the DuckDB oracle")
        return (t1 - t0, t2 - t1, cat) if ok else None

    rows_out: dict[str, int] = {}
    tr.enabled = False  # the cold pass is never traced: tracing would warm it
    cold = {n: once(n, "cold") for n in SUBSET}
    ctx.mark("cold pass")
    for p in range(1 if probe else WARMUP_PASSES):
        for n in SUBSET:
            once(n, f"warmup{p}")
    ctx.mark("warm-up pass")
    tr.enabled = ctx.trace
    warm: dict[bool, dict[str, list[tuple]]] = {True: {}, False: {}}
    pass_s: dict[bool, list[float]] = {True: [], False: []}
    t_end = time.perf_counter() + (0 if probe else ctx.seconds)
    i = 0
    while i < (1 if probe else MIN_WARM) or time.perf_counter() < t_end:
        i += 1
        tr.enabled = ctx.trace and i % 2 == 1
        t0 = time.perf_counter()
        for n in SUBSET:
            r = once(n, f"warm{i}")
            if r is not None:
                warm[tr.enabled].setdefault(n, []).append(r)
        pass_s[tr.enabled].append(time.perf_counter() - t0)
    tr.enabled = ctx.trace
    ctx.mark("warm passes")

    med = statistics.median
    untraced = warm[False]
    metrics = {
        "cold_s": sum(r[0] + r[1] for r in cold.values() if r is not None),
        "warm_s": sum(med(r[0] + r[1] for r in untraced.get(n, [(0.0, 0.0)])) for n in SUBSET),
    }
    detail = {
        "units": UNITS,
        "inputs": sizes,
        "cold_s": {n: (r[0] + r[1] if r else None) for n, r in cold.items()},
        "warm_s": {n: [x[0] + x[1] for x in v] for n, v in untraced.items()},
        "counts": {"rows": rows_out},
    }
    per_layer = {}
    if ctx.trace:
        traced = warm[True]
        per_layer["session.start_s"] = ctx.session_s
        for m in MODULES:
            names = [n for n in SUBSET if module[n] == m and n in traced]
            per_layer[f"queries.{m}.build_s"] = sum(med(r[0] for r in traced[n]) for n in names)
            per_layer[f"queries.{m}.execute_s"] = sum(med(r[1] for r in traced[n]) for n in names)
        per_layer["queries.catalyst_s"] = sum(med(r[2] for r in v) for v in traced.values())
        per_layer["queries.cold_extra_s"] = sum(
            cold[n][0] + cold[n][1] - med(r[0] + r[1] for r in traced[n])
            for n in SUBSET
            if cold[n] is not None and n in traced
        )
        spark_m = op_metrics(spark, tr)
        ops = spark_m["per_op"].values()
        per_layer["spark.task_run_s"] = sum(o["task_run_s"] for o in ops)
        per_layer["spark.task_cpu_s"] = sum(o["task_cpu_s"] for o in ops)
        per_layer["spark.gc_s"] = sum(o["gc_s"] for o in ops)
        per_layer["spark.shuffle_bytes"] = sum(o["shuffle_bytes"] for o in ops)
        per_layer["spark.driver_idle_s"] = spark_m["driver_idle_s"]
        per_layer["arrow.to_python_bytes"] = spark_m["arrow_to_python_bytes"]
        per_layer["arrow.from_python_bytes"] = spark_m["arrow_from_python_bytes"]
        per_layer["trace.overhead_ratio"] = (
            med(pass_s[True]) / med(pass_s[False]) if pass_s[False] else 1.0
        )
        detail["per_op"] = spark_m["per_op"]
    return metrics, per_layer, detail
