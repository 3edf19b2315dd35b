"""Open-loop load generator for the ``stream_paced`` workload.

Runs as its own process, separate from the Spark pipeline it feeds.
File ``i`` is due at ``start + i * period``, where ``start`` is ``lead``
seconds after the generator has loaded its inputs, and carries, for every
portfolio, the samples created in that period: ``seq`` values
``seq_lo..seq_hi`` (the same range for every portfolio) with the due
time as their creation timestamp. The schedule never waits for the
consumer; if a write runs late, the next file is still due on time.

Each file is written under a hidden name and renamed into place, with
strictly increasing modification times, and one ledger line records its
seq range, due time and write time.

Usage:
    python3 perfbench/generator.py --out DIR --ledger FILE --pool POOL.npy
        --portfolios 25 --rate 20 --period 0.5 --files 24 --lead 0.5
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import numpy as np
import pyarrow.parquet  # noqa: F401  (imported before the schedule starts, not on the first file)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data import paced_table, write_atomic  # noqa: E402
from harness import LEDGER_FIELDS, LedgerEntry  # noqa: E402


def per_file_counts(rate: float, period: float, files: int) -> list[int]:
    """Samples per portfolio in each file, so that the running total
    after file ``i`` is ``floor(rate * period * (i + 1))``."""
    per = rate * period
    return [math.floor(per * (i + 1) + 1e-9) - math.floor(per * i + 1e-9) for i in range(files)]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--ledger", required=True)
    ap.add_argument("--pool", required=True)
    ap.add_argument("--portfolios", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--lead", type=float, required=True)
    a = ap.parse_args(argv)

    pool = np.load(a.pool)
    counts = per_file_counts(a.rate, a.period, a.files)
    # the first parquet write pays pyarrow's lazy initialisation: pay it
    # outside the schedule and outside the watched directory
    warm_file = write_atomic(paced_table(pool, 1, 1, 1, 0.0),
                             os.path.dirname(os.path.abspath(a.ledger)), "generator-warmup.parquet")
    os.remove(warm_file)
    last_mtime = 0
    seq_lo = 1
    start = time.time() + a.lead
    with open(a.ledger, "w") as ledger:
        ledger.write(",".join(LEDGER_FIELDS) + "\n")
        for i, c in enumerate(counts):
            due = start + i * a.period
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            table = paced_table(pool, a.portfolios, seq_lo, c, due)
            last_mtime = max(time.time_ns(), last_mtime + 1_000_000)
            write_atomic(table, a.out, f"part-{i:05d}.parquet", last_mtime)
            entry = LedgerEntry(i, seq_lo, seq_lo + c - 1, due, time.time())
            ledger.write(entry.line())
            ledger.flush()
            seq_lo += c
    return 0


if __name__ == "__main__":
    sys.exit(main())
