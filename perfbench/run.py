"""Benchmark of the lakehouse engine: one workload per invocation.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: with
``--trace 0`` every end-to-end metric of ``BENCHMARK.json``, with
``--trace 1`` every per-layer metric, taken from a separate traced run.
Both workloads report the same end-to-end metrics, each over its own
operations: ``cold_s`` (the session's first operation of each kind,
summed) and ``warm_s`` (each kind's median steady-state operation,
summed).  A traced run traces its workload, then runs the other workload
as a short probe in the same session, so that every layer is measured in
it; where both measure a layer figure (session, Spark, Arrow, tracing
overhead), the run's own workload gives it.  Everything the
run writes stays under ``.perfbench_work/`` (removed at the end) and
``.perfbench_out/`` (the run's detail record: host stamp, input sizes,
counts and, when traced, the spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A fixed heap (initial = maximum) keeps the JVM's resident size from
# depending on when its collector chose to grow the heap.
DRIVER_MEM = "2g"


# -- host stamp and memory ---------------------------------------------------


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def _bytes(size: str) -> int:
    return int(size[:-1]) << {"k": 10, "m": 20, "g": 30}[size[-1].lower()]


def host_stamp() -> dict:
    mem = {}
    for line in (_read("/proc/meminfo") or "").splitlines():
        k, _, v = line.partition(":")
        if k in ("MemTotal", "MemAvailable", "Cached"):
            mem[k] = int(v.split()[0]) * 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "mem_bytes": mem,
        "loadavg_1m": os.getloadavg()[0],
        "pressure_cpu": _read("/proc/pressure/cpu"),
    }


def _pss(pid: int) -> int:
    """Proportional resident bytes of ``pid``: shared pages are split among
    the processes sharing them, so a JVM's short-lived forks and the
    libraries every worker maps are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory (summed PSS) of this process's tree plus any
    extra roots (the Postgres server is daemonized, so it is not our
    descendant)."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.extra_roots: set[int] = set()
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
            comm[int(name)] = stat[stat.index("(") + 1 : stat.rindex(")")]
        parts: dict[str, int] = {}
        todo, seen = [os.getpid(), *self.extra_roots], set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            name = comm.get(pid, "?")
            parts[name] = parts.get(name, 0) + _pss(pid)
            todo.extend(children.get(pid, ()))
        return parts

    def run(self) -> None:
        while not self._stop_evt.is_set():
            parts = self.sample()
            total = sum(parts.values())
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(5)


# -- Spark session lifecycle -------------------------------------------------


def launch_session():
    """Fresh JVM, the program's session factory, and a first job.  A run
    sets up once: one set-up costs about 9.5 s on a 4-core host, and a
    second one per run would not fit 4 + 22 x 2 runs in the time the
    benchmark is given.  Returns
    (session, seconds from session start until the first job is done,
    seconds in the session factory alone)."""
    from lakehouse_loader_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0, t1 - t0


def stop_session(spark) -> None:
    """Stop the session, shut its JVM down and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(30)
        except Exception:  # noqa: BLE001 — JVM stuck: kill it, never leave it behind
            proc.kill()
            proc.wait(30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- entry -------------------------------------------------------------------


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, args, work: str, tracer, rss: RssSampler):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.rss = rss
        self.spark = None
        self.setup_s = 0.0
        self.session_s = 0.0
        self.cleanups: list = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.phases: list[tuple[str, float]] = []
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Note when ``phase`` ended, in seconds since the run started."""
        self.phases.append((phase, time.perf_counter() - self._t0))

    def start_spark(self):
        if self.spark is not None:  # the probe of a traced run shares the session
            return self.spark
        self.mark("inputs")
        self.spark, self.setup_s, self.session_s = launch_session()
        self.mark("setup")
        return self.spark

    def record(self, ok: bool, what: str = "") -> bool:
        """Count one operation; ``ok`` means it ran and passed its check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"# FAILED: {what}", file=sys.stderr)
        return ok


def _env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def manifest_names(trace: bool) -> set[str] | None:
    """Names of the metrics ``BENCHMARK.json`` asks a run to print."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except OSError:
        return None
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=("bulk_load", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import lakehouse_loader_spark.cli  # noqa: F401
    except ImportError as exc:
        print(f"program not found next to the benchmark: {exc}", file=sys.stderr)
        return 2

    from spans import Tracer

    import bulk_load
    import queries

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    _env(work)
    rss = RssSampler()
    ctx = Ctx(args, work, Tracer(bool(args.trace)), rss)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    stamp_before = host_stamp()
    rss.start()
    t_start = time.perf_counter()
    try:
        own, other = (bulk_load, queries) if args.workload == "bulk_load" else (queries, bulk_load)
        metrics, per_layer, detail = own.run(ctx)
        if args.trace:
            ctx.mark("workload")
            _, probe_layers, probe_detail = other.run(ctx, probe=True)
            for k, v in probe_layers.items():
                per_layer.setdefault(k, v)
            detail["units"].update(probe_detail.pop("units"))
            detail["counts"].update({f"probe:{k}": v for k, v in probe_detail.pop("counts").items()})
            detail["inputs"].update(probe_detail.pop("inputs"))
            detail["probe"] = probe_detail
    finally:
        ctx.tracer.unwrap_all()
        for fn in reversed(ctx.cleanups):
            try:
                fn()
            except Exception as exc:  # noqa: BLE001 — keep tearing down
                print(f"# cleanup failed: {exc!r}", file=sys.stderr)
        if ctx.spark is not None:
            stop_session(ctx.spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    metrics["setup_s"] = ctx.setup_s
    metrics["peak_rss_mb"] = rss.peak / 2**20
    metrics["success_rate"] = (ctx.attempted - ctx.failed) / max(ctx.attempted, 1)
    cached = stamp_before["mem_bytes"].get("Cached", 0)
    for size in detail.get("inputs", {}).values():
        size["of_driver_mem"] = size["bytes"] / _bytes(DRIVER_MEM)
        size["of_page_cache"] = size["bytes"] / cached if cached else None
    units = {"setup_s": "s", "peak_rss_mb": "MB", "success_rate": "ratio", "cold_s": "s", "warm_s": "s"}
    units.update(detail.pop("units", {}))
    detail.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        wall_s=time.perf_counter() - t_start,
        phases=ctx.phases,
        peak_rss_parts_mb={k: v / 2**20 for k, v in rss.peak_parts.items()},
        host_before=stamp_before,
        host_after={"loadavg_1m": os.getloadavg()[0], "pressure_cpu": _read("/proc/pressure/cpu")},
        errors=ctx.errors,
        end_to_end=metrics,
        per_layer=per_layer,
        spans=ctx.tracer.spans if args.trace else [],
    )
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    reported = per_layer if args.trace else metrics
    wanted = manifest_names(bool(args.trace))
    if wanted is not None and set(reported) != wanted:
        print(f"# metrics differ from BENCHMARK.json: missing {sorted(wanted - set(reported))}, "
              f"extra {sorted(set(reported) - wanted)}", file=sys.stderr)
        return 3
    result = {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()},
    }
    if "rates" in detail:
        print(f"# {args.workload} rates: {json.dumps(detail['rates'])}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
