"""Benchmark inputs: a seeded sample cache and the parquet layouts the
pipelines read.

Samples come from the engine's fixture generator
(``fixtures.generator.sample_returns``, the reference's truncated
multivariate-t model). The Gibbs sampler costs seconds per 100k
samples, so draws are cached on disk by ``(seed, n)`` and set-up times
exclude them.
"""

from __future__ import annotations

import os
import time

import numpy as np

ASSETS = 6


def cached_samples(cache_dir: str, seed: int, n: int) -> tuple[np.ndarray, float, bool]:
    """``n`` × 6 returns for ``seed``; returns (samples, seconds, was_cached)."""
    from psd_project_spark.fixtures.generator import sample_returns

    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"samples_s{seed}_n{n}.npy")
    t0 = time.perf_counter()
    if os.path.exists(path):
        return np.load(path), time.perf_counter() - t0, True
    x = sample_returns(n, seed=seed)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as fh:
        np.save(fh, x)
    os.replace(tmp, path)
    return x, time.perf_counter() - t0, False


def stats_rows(samples: np.ndarray) -> list[tuple[int, str, float]]:
    """Reference thresholds ``(series, measure, ref_value)`` from the
    generator's population statistics (the reference's ``stats.csv``)."""
    from psd_project_spark.fixtures.generator import stats_table, with_portfolio

    return [(s, m, v) for m, s, v in stats_table(with_portfolio(samples))]


def sample_table(samples: np.ndarray, pid: np.ndarray, seq: np.ndarray, created_s=None):
    import pyarrow as pa

    cols = {"pid": pa.array(pid, pa.int32()), "seq": pa.array(seq, pa.int64())}
    if created_s is not None:
        cols["created_s"] = pa.array(created_s, pa.float64())
    for i in range(ASSETS):
        cols[f"r{i + 1}"] = pa.array(samples[:, i], pa.float64())
    return pa.table(cols)


def paced_table(pool: np.ndarray, portfolios: int, seq_lo: int, count: int, created_s: float):
    """One open-loop file: ``count`` samples for each portfolio, ``seq``
    values ``seq_lo..seq_lo + count - 1``, all created at ``created_s``.
    Portfolio ``p`` reads the pool from offset ``p * stride``, so
    portfolios see different stretches of the same history."""
    n_pool = pool.shape[0]
    stride = max(1, n_pool // portfolios)
    pid = np.repeat(np.arange(portfolios, dtype=np.int32), count)
    seq = np.tile(np.arange(seq_lo, seq_lo + count, dtype=np.int64), portfolios)
    rows = pool[(pid.astype(np.int64) * stride + seq - 1) % n_pool]
    return sample_table(rows, pid, seq, np.full(pid.size, created_s))


def write_atomic(table, directory: str, name: str, mtime_ns: int | None = None) -> str:
    """Write ``table`` under a hidden name, then rename it into place,
    so a file source never lists a partial file."""
    import pyarrow.parquet as pq

    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, name)
    pq.write_table(table, tmp)
    if mtime_ns is not None:
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.rename(tmp, final)
    return final


def stage_history(samples: np.ndarray, directory: str, rows_per_file: int) -> list[str]:
    """One portfolio's history as consecutive files of ``rows_per_file``
    samples, with strictly increasing modification times."""
    os.makedirs(directory, exist_ok=True)
    n = samples.shape[0]
    seq = np.arange(1, n + 1, dtype=np.int64)
    pid = np.zeros(n, dtype=np.int32)
    base = time.time_ns() - 10**12
    paths = []
    for i, lo in enumerate(range(0, n, rows_per_file)):
        hi = min(lo + rows_per_file, n)
        t = sample_table(samples[lo:hi], pid[lo:hi], seq[lo:hi])
        paths.append(write_atomic(t, directory, f"part-{i:05d}.parquet", base + i * 10**6))
    return paths
