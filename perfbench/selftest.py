#!/usr/bin/env python3
"""Self-test of the benchmark's input generation.

    python3 perfbench/selftest.py

Checks that the same seed writes byte-identical inputs and that another
seed writes different ones, for the query tables and the ETL inputs.
Writes only under ``.perfbench_work/`` in the checkout and removes it.
Exits 0 on success.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tables(out: str, seed: int) -> str:
    datagen.write_tables(out, seed)
    return datagen.digest(sorted(glob.glob(os.path.join(out, "*.parquet"))))


def _etl(out: str, seed: int) -> str:
    paths = datagen.write_etl_inputs(out, seed, share=0.1)
    return datagen.digest([paths[k] for k in sorted(paths)])


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    failures = []
    try:
        for kind, make in (("tables", _tables), ("etl", _etl)):
            a = make(os.path.join(work, f"{kind}-a"), 7)
            b = make(os.path.join(work, f"{kind}-b"), 7)
            c = make(os.path.join(work, f"{kind}-c"), 8)
            if a != b:
                failures.append(f"{kind}: seed 7 gave two different inputs")
            if a == c:
                failures.append(f"{kind}: seeds 7 and 8 gave the same input")
            print(f"{kind}: seed 7 {a[:12]} {b[:12]}, seed 8 {c[:12]}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # a benchmark run's work dir is still there
            pass
    for f in failures:
        print("FAIL", f)
    print("ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
