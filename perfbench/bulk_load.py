"""``bulk_load``: the reference's own job.

Seeded lineitem-shaped rows are loaded through ``cli.do_main`` three ways
(parquet-to-delta, parquet-to-iceberg, pg-to-delta over the wire source
with one connection per core), each into a fresh table, in cycles: one
warm-up cycle, then cycles for ``--seconds`` (at least ``MIN_CYCLES``).
``cold_s`` sums the session's first load of each kind and its first
merge-on-read delete of each format; ``warm_s`` sums the median load of
each kind and the median round of full merged reads.
Every table must read back with the input's row count and per-column
checksums.  Then one merge-on-read delete runs on the last Delta and
Iceberg tables (after an untimed one on a warm-up table of each format,
so the timed one is not the session's first), followed by a checked merged
read, untimed warm-up reads and timed full merged reads.  The traced run
adds the in-process source probes, planned scans and the commit path
(``commits.py``), none of which the untraced run makes.  As the probe of
the ``queries`` workload's traced run (``probe=True``) it makes a warm-up
of one load per kind, one cycle and one merged read round, and every layer
probe, so that run measures these layers too.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time

import numpy as np

import checks
import commits
import inputs
from pg import PgServer, PgUnavailable
from spans import op_metrics

N_ROWS = 400_000  # parquet input
PG_ROWS = 200_000  # its first rows, in Postgres: the wire source decodes ~4x slower
MIN_CYCLES = 3
# The JIT keeps speeding parquet loads up for their first few loads; the
# first measured cycle still runs about 1.4x slower than the median, which
# the median of six samples per kind leaves out.  Two warm-up loads per
# parquet kind keep the run inside the benchmark's time budget.
WARMUP = ("delta", "iceberg") * 2 + ("pg",)
DELETE_SHARE = 0.02
# Merged reads per format: one checked read, then WARM_READS untimed and
# READS timed ones (the median is reported).  The first reads of a
# merge-on-read plan are slower while the JIT compiles it.
WARM_READS = 1
READS = 4
# planned point scans per format in the traced run: one untimed, then SCANS timed
SCANS = 3
# the probe: fewer repetitions of everything the layer figures do not need
PROBE_WARMUP = ("delta", "iceberg", "pg")
KINDS = ("delta", "iceberg", "pg")
# One measured cycle.  A parquet load takes about 0.6 s against 2 s for the
# pg load, so each cycle runs two of each parquet kind: their medians then
# rest on twice as many samples.
CYCLE = ("delta", "iceberg", "pg", "delta", "iceberg")

UNITS = {
    "session.start_s": "s",
    "sources.pgwire.decode_rows_per_s": "rows/s",
    "sources.pgwire.read_rows_per_s": "rows/s",
    "sources.readers.parquet_rows_per_s": "rows/s",
    "sinks.delta.write.spark_s": "s",
    "sinks.delta.write.driver_s": "s",
    "sinks.delta.write.files": "count",
    "sinks.delta.write.bytes": "bytes",
    "sinks.iceberg.write.spark_s": "s",
    "sinks.iceberg.write.driver_s": "s",
    "sinks.iceberg.write.files": "count",
    "sinks.iceberg.write.bytes": "bytes",
    "sinks.staging.promote_s": "s",
    "sinks.delta.scan.plan_s": "s",
    "sinks.delta.scan.exec_s": "s",
    "sinks.delta.scan.files_considered": "count",
    "sinks.delta.scan.files_selected": "count",
    "sinks.iceberg.scan.plan_s": "s",
    "sinks.iceberg.scan.exec_s": "s",
    "sinks.iceberg.scan.files_considered": "count",
    "sinks.iceberg.scan.files_selected": "count",
    "sinks.delta.dml.delete_s": "s",
    "sinks.iceberg.dml.delete_s": "s",
    **commits.UNITS,
    "sinks.dml.files_rewritten": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.driver_idle_s": "s",
    "arrow.to_python_bytes": "bytes",
    "arrow.from_python_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
}


def _data_files(root: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under a table root."""
    n = b = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and "_delta_log" not in d and "metadata" not in d:
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    return n, b


def _commits(root: str, kind: str) -> int:
    if kind == "iceberg":
        return sum(f.endswith(".metadata.json") for f in os.listdir(os.path.join(root, "metadata")))
    return sum(f.endswith(".json") for f in os.listdir(os.path.join(root, "_delta_log")))


def run(ctx, probe: bool = False):
    from lakehouse_loader_spark import cli
    from lakehouse_loader_spark.sinks import delta as D
    from lakehouse_loader_spark.sinks import iceberg as I
    from lakehouse_loader_spark.sinks import staging
    from lakehouse_loader_spark.sources import readers
    from pyspark.sql import DataFrame

    tr = ctx.tracer
    rows = inputs.lineitem_rows(N_ROWS, ctx.seed)
    sizes = inputs.write_lineitem(rows, PG_ROWS, ctx.work)
    src = sizes["lineitem_parquet"]["path"]
    keys = rows["l_orderkey"].to_numpy()
    k_lo, k_hi = int(keys[0]), int(keys[PG_ROWS - 1]) + 1  # the Postgres key range
    span = int(N_ROWS * DELETE_SHARE)
    i0 = int(np.random.default_rng(ctx.seed + 1).integers(0, N_ROWS - span))
    del_lo, del_hi = int(keys[i0]), int(keys[i0 + span - 1])
    n_deleted = span
    pred = f"l_orderkey BETWEEN {del_lo} AND {del_hi}"

    pg = PgServer(ctx.work)
    ctx.cleanups.append(pg.stop)
    url = None
    try:
        url = pg.start()
        pg.seed("lineitem", inputs.PG_DDL, sizes["lineitem_csv"]["path"])
        ctx.rss.extra_roots.add(pg.postmaster_pid())
    except PgUnavailable as exc:
        print(f"# postgres unavailable, pg-to-delta loads count as failed: {exc}", file=sys.stderr)
        url = None

    spark = ctx.start_spark()
    n_conn = int(os.environ["SPARK_GRAFT_CPUS"])
    src_df = spark.read.parquet(src)
    want_all = checks.table_checksums(src_df)
    want_load = {
        "delta": want_all,
        "iceberg": want_all,
        "pg": checks.table_checksums(src_df.filter(f"l_orderkey < {k_hi}")),
    }
    want_mor = checks.table_checksums(src_df.filter(f"NOT ({pred})"))
    n_loaded = {"delta": N_ROWS, "iceberg": N_ROWS, "pg": PG_ROWS}  # rows per load

    for mod, attr, name in (
        (readers, "read_parquet_source", "sources.readers.read_parquet_source"),
        (readers, "read_postgres_table_parallel", "sources.readers.read_postgres_table_parallel"),
        (D, "write_delta", "sinks.delta.write_delta"),
        (I, "write_iceberg", "sinks.iceberg.write_iceberg"),
        (staging, "promote_staged_files", "sinks.staging.promote_staged_files"),
        (D, "delete_from_delta", "sinks.delta.delete_from_delta"),
        (I, "delete_from_iceberg", "sinks.iceberg.delete_from_iceberg"),
        (D, "read_delta", "sinks.delta.read_delta"),
        (I, "read_iceberg", "sinks.iceberg.read_iceberg"),
        (D, "plan_delta_scan", "sinks.delta.plan_delta_scan"),
        (I, "plan_iceberg_scan", "sinks.iceberg.plan_iceberg_scan"),
        (D, "write_checkpoint", "sinks.delta.write_checkpoint"),
    ):
        tr.wrap(mod, attr, name)

    argv = {
        "delta": ["parquet-to-delta", src],
        "iceberg": ["parquet-to-iceberg", src],
        "pg": ["pg-to-delta", url or "", "-q", "SELECT * FROM lineitem", "--pg-driver", "wire",
               "--partition-column", "l_orderkey", "--num-partitions", str(n_conn),
               "--lower-bound", str(k_lo), "--upper-bound", str(k_hi)],
    }
    load_s: dict[str, list[float]] = {k: [] for k in KINDS}
    first_s: dict[str, float] = {}  # the session's first operation of each kind
    cycle_s: dict[bool, list[float]] = {True: [], False: []}
    tables: list[tuple[str, str, str]] = []  # (kind, target, op id)
    traced_ops: dict[str, list[str]] = {k: [] for k in KINDS}

    def load(kind: str, cycle: int) -> None:
        op = f"load:{kind}:{cycle}:{len(tables)}"
        target = os.path.join(ctx.work, "tables", op.replace(":", "-"))
        if kind == "pg" and url is None:
            ctx.record(False, f"{op}: no postgres server")
            return
        a = argv[kind]
        t0 = time.perf_counter()
        try:
            with tr.op(spark, op, f"load.{kind}"), tr.span("cli.do_main"):
                cli.do_main([a[0], a[1], target, *a[2:]])
        # the CLI exits on bad arguments and on sink errors: counted, not fatal
        except (Exception, SystemExit) as exc:  # noqa: BLE001
            ctx.record(False, f"{op}: {exc!r}"[:300])
            return
        ctx.record(True)
        dt = time.perf_counter() - t0
        first_s.setdefault(f"load.{kind}", dt)
        if cycle > 0:
            load_s[kind].append(dt)
        if tr.enabled and cycle > 0:
            traced_ops[kind].append(op)
        tables.append((kind, target, op))

    ctx.mark("expected checksums")
    tr.enabled = False  # the first operations of each kind are excluded, untraced
    for kind in PROBE_WARMUP if probe else WARMUP:
        load(kind, 0)
    ctx.mark("cold cycle")
    t_end = time.perf_counter() + (0 if probe else ctx.seconds)
    cycle = 0
    while cycle < (1 if probe else MIN_CYCLES) or time.perf_counter() < t_end:
        cycle += 1
        tr.enabled = ctx.trace and cycle % 2 == 1
        t0 = time.perf_counter()
        for kind in CYCLE:
            load(kind, cycle)
        cycle_s[tr.enabled].append(time.perf_counter() - t0)
    tr.enabled = ctx.trace
    ctx.mark("load cycles")

    # every table reads back equal to its input, checked over the union of
    # each kind's tables: one job per kind instead of one per table
    counts: dict[str, dict] = {}
    last = {k: t for k, t, _ in tables}
    for kind, target in last.items():
        mine = [t for k, t, _ in tables if k == kind]
        n = len(mine)
        want = checks.times(want_load[kind], n)
        reader = I.read_iceberg if kind == "iceberg" else D.read_delta
        try:
            got = checks.table_checksums(
                functools.reduce(DataFrame.unionByName, [reader(spark, t) for t in mine])
            )
        except Exception as exc:  # noqa: BLE001
            ctx.record(False, f"read-back:{kind}: {exc!r}"[:300])
            continue
        ctx.record(got == want, f"read-back:{kind}: {n} tables {got} != {want}")
        files, nbytes = _data_files(target)
        counts[f"load:{kind}"] = {
            "files": files, "bytes": nbytes, "rows": got["rows"] // n,
            "commits": _commits(target, "iceberg" if kind == "iceberg" else "delta"),
        }
    parquet_tables = [last[k] for k in ("delta", "iceberg") if k in last]
    bytes_ratio = sum(inputs.dir_bytes(t) for t in parquet_tables) / (
        max(len(parquet_tables), 1) * sizes["lineitem_parquet"]["bytes"]
    )

    ctx.mark("read-back checks")

    # merge-on-read delete, then repeated full merged reads
    dml_s: dict[str, float] = {}
    dml_res: dict[str, dict] = {}
    mor_tables = {k: last[k] for k in ("delta", "iceberg") if k in last}
    # the session's first merge-on-read delete of each format carries its
    # one-off JIT cost: it runs untimed on a warm-up table
    warm_tables: dict[str, str] = {}
    for kind, target, _ in tables:
        warm_tables.setdefault(kind, target)
    for warm in (True, False):
        for kind, target in mor_tables.items():
            op = f"delete:{kind}" + (":warmup" if warm else "")
            t0 = time.perf_counter()
            try:
                delete = D.delete_from_delta if kind == "delta" else I.delete_from_iceberg
                with tr.op(spark, op, f"dml.{kind}.delete"):
                    res = delete(spark, warm_tables[kind] if warm else target, pred, "merge-on-read")
            except Exception as exc:  # noqa: BLE001
                ctx.record(False, f"{op}: {exc!r}"[:300])
                continue
            ctx.record(res.get("deleted_rows") == n_deleted, f"{op}: {res} != {n_deleted}")
            if warm:
                first_s[f"delete.{kind}"] = time.perf_counter() - t0
            else:
                dml_s[kind] = time.perf_counter() - t0
                dml_res[kind] = res
    ctx.mark("mor deletes")
    for kind, target in mor_tables.items():  # first read, checked
        reader = I.read_iceberg if kind == "iceberg" else D.read_delta
        try:
            got = checks.table_checksums(reader(spark, target))
        except Exception as exc:  # noqa: BLE001
            ctx.record(False, f"read:{kind}: {exc!r}"[:300])
            continue
        ctx.record(got == want_mor, f"read:{kind}: {got} != {want_mor}")
    read_rates, read_s = [], []
    for i in range(0 if probe else -WARM_READS, 1 if probe else READS):
        secs = 0.0
        for kind, target in mor_tables.items():
            reader = I.read_iceberg if kind == "iceberg" else D.read_delta
            t0 = time.perf_counter()
            try:
                with tr.op(spark, f"read:{kind}:{i}", f"read.{kind}"):
                    reader(spark, target).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                ctx.record(False, f"read:{kind}:{i}: {exc!r}"[:300])
                continue
            secs += time.perf_counter() - t0
            ctx.record(True)
        if i >= 0:
            read_s.append(secs)
            read_rates.append(len(mor_tables) * want_mor["rows"] / secs)
    ctx.mark("merged reads")

    def rate(kind):
        return n_loaded[kind] / statistics.median(load_s[kind]) if load_s[kind] else 0.0

    # a kind with no sample (every load of it failed) adds nothing; the
    # failures are counted in success_rate
    steady = [statistics.median(v) for v in (*load_s.values(), read_s) if v]
    metrics = {"cold_s": sum(first_s.values()), "warm_s": sum(steady)}
    counts.update({f"delete:{k}": v for k, v in dml_res.items()})
    detail = {
        "units": UNITS,
        "inputs": {k: {kk: vv for kk, vv in v.items() if kk != "path"} for k, v in sizes.items()},
        "rates": {
            "delta_load_rows_per_s": rate("delta"),
            "iceberg_load_rows_per_s": rate("iceberg"),
            "pg_load_rows_per_s": rate("pg"),
            "mor_read_rows_per_s": statistics.median(read_rates) if read_rates else 0.0,
            "bytes_per_user_byte": bytes_ratio,
        },
        "first_s": first_s,
        "load_s": load_s,
        "read_s": read_s,
        "read_rates": read_rates,
        "dml": dml_res,
        "counts": counts,
    }
    per_layer = {}
    if ctx.trace:
        per_layer, extra_counts = _layers(ctx, spark, url, src, n_conn, k_lo, k_hi, del_lo,
                                         mor_tables, traced_ops, cycle_s, dml_s, dml_res, counts)
        counts.update(extra_counts)
        ctx.mark("trace probes")
    return metrics, per_layer, detail


def _layers(ctx, spark, url, src, n_conn, k_lo, k_hi, del_lo, mor_tables, traced_ops,
            cycle_s, dml_s, dml_res, counts):
    """Per-layer figures of the traced run, plus the in-process source
    probes that only the traced run makes."""
    from lakehouse_loader_spark.sinks import delta as D
    from lakehouse_loader_spark.sinks import iceberg as I
    from lakehouse_loader_spark.sources import pgwire, readers

    tr = ctx.tracer
    med = statistics.median
    out: dict[str, float] = {}
    probes: dict[str, dict] = {}
    out["session.start_s"] = ctx.session_s

    # sources, each measured on its own
    if url is not None:
        params = pgwire.parse_libpq_url(url)
        q = f"SELECT * FROM lineitem WHERE l_orderkey < {k_lo + (k_hi - k_lo) // 4}"
        fields = pgwire.describe_query(params, q)
        t0 = time.perf_counter()
        with tr.span("sources.pgwire.iter_copy_batches", op="probe:decode"):
            n = sum(len(b) for b in pgwire.iter_copy_batches(params, q, fields, 10_000))
        out["sources.pgwire.decode_rows_per_s"] = n / (time.perf_counter() - t0)
        probes["probe:decode"] = {"rows": n}
        t0 = time.perf_counter()
        with tr.op(spark, "probe:pgread", "sources.pgwire.read_postgres_wire"):
            n = pgwire.read_postgres_wire(
                spark, url, "SELECT * FROM lineitem", partition_column="l_orderkey",
                num_partitions=n_conn, lower_bound=k_lo, upper_bound=k_hi,
            ).count()
        out["sources.pgwire.read_rows_per_s"] = n / (time.perf_counter() - t0)
        probes["probe:pgread"] = {"rows": n}
    t0 = time.perf_counter()
    with tr.op(spark, "probe:parquet", "sources.readers.read_parquet_source"):
        readers.read_parquet_source(spark, src).write.format("noop").mode("overwrite").save()
    out["sources.readers.parquet_rows_per_s"] = N_ROWS / (time.perf_counter() - t0)

    # pruned scans through the planner: one untimed, then the median of SCANS
    pruned = [("l_orderkey", "between", del_lo, del_lo + (k_hi - k_lo) // 20)]
    for kind, target in mor_tables.items():
        plan_fn = D.scan_delta_with_plan if kind == "delta" else I.scan_iceberg_with_plan
        plan_s, exec_s = [], []
        for i in range(-1, SCANS):
            with tr.op(spark, f"probe:scan:{kind}:{i}", f"scan.{kind}"):
                t0 = time.perf_counter()
                df, plan = plan_fn(spark, target, pruned)
                t1 = time.perf_counter()
                n = df.count()
                t2 = time.perf_counter()
            if i >= 0:
                plan_s.append(t1 - t0)
                exec_s.append(t2 - t1)
        out[f"sinks.{kind}.scan.plan_s"] = med(plan_s)
        out[f"sinks.{kind}.scan.exec_s"] = med(exec_s)
        out[f"sinks.{kind}.scan.files_considered"] = plan["total"]
        out[f"sinks.{kind}.scan.files_selected"] = len(plan["files"])
        probes[f"probe:scan:{kind}"] = {"rows": n, "considered": plan["total"], "selected": len(plan["files"])}
        if kind in dml_s:
            out[f"sinks.{kind}.dml.delete_s"] = dml_s[kind]

    # the commit path: appends across checkpoints, updates and merges
    commit_out, commit_counts, append_ops = commits.run(ctx, spark)
    out.update(commit_out)
    probes.update(commit_counts)
    # files the timed DML wrote in place of existing ones: data files the
    # copy-on-write updates and merges rewrote, plus the deletion vectors
    # (Delta) and position-delete files (Iceberg) of the merge-on-read deletes
    out["sinks.dml.files_rewritten"] = (
        dml_res.get("delta", {}).get("dv_files", 0)
        + dml_res.get("iceberg", {}).get("delete_files", 0)
        + sum(c["dml_files_rewritten"] for c in commit_counts.values())
    )

    spark_m = op_metrics(spark, tr)
    per_op = spark_m["per_op"]
    for kind in ("delta", "iceberg"):
        ops = [per_op[o] for o in traced_ops[kind] if o in per_op]
        if ops:
            out[f"sinks.{kind}.write.spark_s"] = med(o["spark_s"] for o in ops)
            out[f"sinks.{kind}.write.driver_s"] = med(o["wall_s"] - o["spark_s"] for o in ops)
        out[f"sinks.{kind}.write.files"] = counts[f"load:{kind}"]["files"]
        out[f"sinks.{kind}.write.bytes"] = counts[f"load:{kind}"]["bytes"]
        appends = [per_op[o] for o in append_ops.get(kind, []) if o in per_op]
        if appends:
            out[f"sinks.{kind}.append.spark_s"] = med(o["spark_s"] for o in appends)
            out[f"sinks.{kind}.append.driver_s"] = med(o["wall_s"] - o["spark_s"] for o in appends)
    promote = [
        sum(s["end"] - s["start"] for s in tr.spans if s["name"] == "sinks.staging.promote_staged_files" and s["op"] == o)
        for k in KINDS for o in traced_ops[k]
    ]
    out["sinks.staging.promote_s"] = med(promote) if promote else 0.0
    out["spark.task_run_s"] = sum(o["task_run_s"] for o in per_op.values())
    out["spark.task_cpu_s"] = sum(o["task_cpu_s"] for o in per_op.values())
    out["spark.gc_s"] = sum(o["gc_s"] for o in per_op.values())
    out["spark.shuffle_bytes"] = sum(o["shuffle_bytes"] for o in per_op.values())
    out["spark.driver_idle_s"] = spark_m["driver_idle_s"]
    out["arrow.to_python_bytes"] = spark_m["arrow_to_python_bytes"]
    out["arrow.from_python_bytes"] = spark_m["arrow_from_python_bytes"]
    out["trace.overhead_ratio"] = (
        med(cycle_s[True]) / med(cycle_s[False]) if cycle_s[True] and cycle_s[False] else 1.0
    )
    return out, probes
