"""Commit path of the traced ``bulk_load`` run.

Small seeded appends to one Delta and one Iceberg table, enough of them
that Delta writes two checkpoints, then two updates and two merges per
format.  Per-commit driver work dominates here: log replay, checkpoints,
manifest and metadata writes.  Each figure leaves out the first operation
of its kind (the table's create, its first append, update and merge, and
the first checkpoint), which carries the session's one-off JIT cost.  A
pandas model of the same appends and DML checks the final tables and a
time-travel read of an earlier version.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import checks
import inputs

BATCH = 2_000  # rows per append
APPENDS = 21  # enough commits to pass two Delta checkpoints (v10, v20)
TRAVEL_APPEND = 5  # time travel back to the table as this append left it
DML_ROWS = 200  # rows each update and merge touches

UNITS = {
    **{f"sinks.{f}.append.{k}": "s" for f in ("delta", "iceberg") for k in ("driver_s", "spark_s")},
    "sinks.delta.checkpoint_s": "s",
    "sinks.delta.checkpoints": "count",
    "sinks.delta.log_bytes": "bytes",
    "sinks.iceberg.log_bytes": "bytes",
    **{f"sinks.{f}.dml.{k}_s": "s" for f in ("delta", "iceberg") for k in ("update", "merge")},
}


def _log_bytes(root: str, kind: str) -> int:
    return inputs.dir_bytes(os.path.join(root, "_delta_log" if kind == "delta" else "metadata"))


def _latest(kind: str, target: str) -> int:
    """The table's current Delta version or Iceberg snapshot id."""
    if kind == "delta":
        log = os.path.join(target, "_delta_log")
        return max(int(f.split(".")[0]) for f in os.listdir(log) if f.endswith(".json"))
    from lakehouse_loader_spark.sinks.iceberg import snapshot_ids

    return snapshot_ids(target)[-1]


def _read_at(spark, kind: str, read, target: str, ref: int | None):
    """The table, or its state at ``ref`` (a version or snapshot id)."""
    if ref is None:
        return read(spark, target)
    return read(spark, target, **{"version" if kind == "delta" else "snapshot_id": ref})


def run(ctx, spark) -> tuple[dict, dict, dict[str, list[str]]]:
    """Returns (per-layer figures, counts, the timed append ops of each
    format, whose Spark figures the caller reads from the status store)."""
    from lakehouse_loader_spark.sinks import delta as D
    from lakehouse_loader_spark.sinks import iceberg as I

    tr = ctx.tracer
    rows = inputs.lineitem_rows(BATCH * (APPENDS + 1) + 2 * DML_ROWS, ctx.seed + 2)
    batches = [rows.iloc[i * BATCH : (i + 1) * BATCH] for i in range(APPENDS + 1)]
    fresh = rows.iloc[(APPENDS + 1) * BATCH :]  # keys no batch has, for merge inserts
    rng = np.random.default_rng(ctx.seed + 3)
    fmt = {
        "delta": (D.write_delta, D.update_delta, D.merge_delta, D.read_delta),
        "iceberg": (I.write_iceberg, I.update_iceberg, I.merge_iceberg, I.read_iceberg),
    }
    out: dict[str, float] = {}
    counts: dict[str, dict] = {}
    append_ops: dict[str, list[str]] = {}
    for kind, (write, update, merge, read) in fmt.items():
        target = os.path.join(ctx.work, "tables", f"commits-{kind}")
        model = batches[0].copy()
        travel, travel_ref = None, -1
        ops: list[str] = []
        dml_s: dict[str, float] = {}
        dml_files = 0
        for i, batch in enumerate(batches):
            op = f"commit:{kind}:append:{i}"
            df = spark.createDataFrame(batch)
            try:
                with tr.op(spark, op, f"append.{kind}"):
                    write(df, target, append=i > 0)
            except Exception as exc:  # noqa: BLE001 — a failed commit is counted, not fatal
                ctx.record(False, f"{op}: {exc!r}"[:300])
                continue
            ctx.record(True)
            if i > 0:
                model = pd.concat([model, batch], ignore_index=True)
            if i > 1:  # neither the create nor the first append
                ops.append(op)
            if i == TRAVEL_APPEND:
                travel, travel_ref = model.copy(), _latest(kind, target)

        for j in range(2):  # two of each; the second is the one timed
            keys = model["l_orderkey"].to_numpy()
            lo = int(rng.integers(0, len(keys) - DML_ROWS))
            k_lo, k_hi = int(np.sort(keys)[lo]), int(np.sort(keys)[lo + DML_ROWS - 1])
            pred = f"l_orderkey BETWEEN {k_lo} AND {k_hi}"
            t0 = time.perf_counter()
            try:
                with tr.op(spark, f"commit:{kind}:update:{j}", f"dml.{kind}.update"):
                    res = update(spark, target, pred, {"l_quantity": "l_quantity + 1"})
            except Exception as exc:  # noqa: BLE001
                ctx.record(False, f"update:{kind}:{j}: {exc!r}"[:300])
                continue
            dml_s["update"] = time.perf_counter() - t0
            ctx.record(res.get("updated_rows") == DML_ROWS, f"update:{kind}:{j}: {res}")
            hit = model["l_orderkey"].between(k_lo, k_hi)
            model.loc[hit, "l_quantity"] += 1
            if j == 1:
                dml_files += res.get("rewritten_files", 0)

            old = model.iloc[rng.choice(len(model), DML_ROWS // 2, replace=False)].copy()
            old["l_tax"] = np.round(old["l_tax"] + 0.01, 2)
            new = fresh.iloc[j * DML_ROWS : j * DML_ROWS + DML_ROWS // 2]
            src = pd.concat([old, new], ignore_index=True)
            t0 = time.perf_counter()
            try:
                with tr.op(spark, f"commit:{kind}:merge:{j}", f"dml.{kind}.merge"):
                    res = merge(spark, target, spark.createDataFrame(src), "l_orderkey")
            except Exception as exc:  # noqa: BLE001
                ctx.record(False, f"merge:{kind}:{j}: {exc!r}"[:300])
                continue
            dml_s["merge"] = time.perf_counter() - t0
            ctx.record(
                (res.get("updated"), res.get("inserted")) == (len(old), len(new)),
                f"merge:{kind}:{j}: {res}",
            )
            model = pd.concat(
                [model[~model["l_orderkey"].isin(old["l_orderkey"])], src], ignore_index=True
            )
            if j == 1:
                dml_files += res.get("rewritten_files", 0)

        # the final table and an earlier version, against the model
        for ref, want_pdf in ((None, model), (travel_ref, travel)):
            what = f"commits:{kind}:{'final' if ref is None else f'append {TRAVEL_APPEND}'}"
            try:
                got = checks.table_checksums(_read_at(spark, kind, read, target, ref))
            except Exception as exc:  # noqa: BLE001
                ctx.record(False, f"{what}: {exc!r}"[:300])
                continue
            want = checks.table_checksums(spark.createDataFrame(want_pdf))
            ctx.record(got == want, f"{what}: {got} != {want}")

        append_ops[kind] = ops
        out[f"sinks.{kind}.log_bytes"] = _log_bytes(target, kind)
        for k, v in dml_s.items():
            out[f"sinks.{kind}.dml.{k}_s"] = v
        counts[f"commits:{kind}"] = {
            "rows": len(model),
            "commits": (
                sum(f.endswith(".json") for f in os.listdir(os.path.join(target, "_delta_log")))
                if kind == "delta"
                else len(I.snapshot_ids(target))
            ),
            "dml_files_rewritten": dml_files,
        }

    ckpt = [s["end"] - s["start"] for s in tr.spans if s["name"] == "sinks.delta.write_checkpoint"]
    out["sinks.delta.checkpoints"] = len(ckpt)
    if len(ckpt) > 1:
        out["sinks.delta.checkpoint_s"] = statistics.median(ckpt[1:])
    counts["commits:delta"]["checkpoints"] = len(ckpt)
    return out, counts, append_ops
