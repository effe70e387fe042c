"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py checker
        Feeds the correctness checkers right and wrong tables and frames;
        exits non-zero unless every right one passes and every wrong one
        fails.

    python3 perfbench/selftest.py counts --workload bulk_load --seed 1
        Makes two traced runs with the same seed and exits non-zero unless
        every per-layer count (files and bytes written, commits, files
        considered and selected, rows per operation) repeats exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def checker() -> int:
    import pandas as pd

    from lakehouse_loader_spark.sinks.delta import read_delta, write_delta

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    run._env(work)
    spark = run.launch_session()[0]
    results = []

    def expect(name: str, ok: bool) -> None:
        results.append((name, ok))
        print(f"{'ok  ' if ok else 'FAIL'} {name}")

    try:
        rows = inputs.lineitem_rows(2_000, 7)
        src = spark.createDataFrame(rows)
        want = checks.table_checksums(src)

        write_delta(src, os.path.join(work, "right"))
        expect("right table passes", checks.table_checksums(read_delta(spark, os.path.join(work, "right"))) == want)

        changed = rows.copy()
        changed.loc[0, "l_quantity"] += 1
        write_delta(spark.createDataFrame(changed), os.path.join(work, "changed"))
        got = checks.table_checksums(read_delta(spark, os.path.join(work, "changed")))
        expect("table with one changed value fails", got != want)

        write_delta(spark.createDataFrame(rows.iloc[1:]), os.path.join(work, "short"))
        got = checks.table_checksums(read_delta(spark, os.path.join(work, "short")))
        expect("table missing one row fails", got != want)

        two = read_delta(spark, os.path.join(work, "right")).unionByName(src)
        expect("union of two right tables passes", checks.table_checksums(two) == checks.times(want, 2))
        two = read_delta(spark, os.path.join(work, "changed")).unionByName(src)
        expect("union with one changed table fails", checks.table_checksums(two) != checks.times(want, 2))

        frame = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 1.5, None], "s": ["c", "a", "b"]})
        same = frame.iloc[::-1].astype({"k": "int32"})[["s", "v", "k"]]
        expect("frame hash ignores row order, column order and int width",
               checks.frame_hash(frame) == checks.frame_hash(same))
        wrong = frame.copy()
        wrong.loc[1, "v"] = 1.25
        expect("frame hash sees a changed value", checks.frame_hash(frame) != checks.frame_hash(wrong))
        expect("frame hash sees a missing row", checks.frame_hash(frame) != checks.frame_hash(frame.iloc[1:]))
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if all(ok for _, ok in results) else 1


def counts(workload: str, seed: int, seconds: float) -> int:
    out = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace1.json")
    runs = []
    for _ in range(2):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
            check=True, stdout=subprocess.DEVNULL, timeout=600,
        )
        with open(out) as fh:
            runs.append(json.load(fh)["counts"])
    a, b = runs
    diff = {k: (a.get(k), b.get(k)) for k in sorted(set(a) | set(b)) if a.get(k) != b.get(k)}
    print(json.dumps({"counts": a, "differ": diff}, indent=1))
    return 1 if diff or not a else 0


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("test", choices=("checker", "counts"))
    p.add_argument("--workload", default="bulk_load", choices=("bulk_load", "queries"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    if args.test == "checker":
        return checker()
    return counts(args.workload, args.seed, args.seconds)


if __name__ == "__main__":
    sys.exit(main())
