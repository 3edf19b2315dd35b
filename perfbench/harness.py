"""Measurement helpers shared by the alert-pipeline benchmark.

Everything here is plain Python with no Spark import, so the unit tests
in ``perfbench/tests`` run without a JVM:

- percentile selection (the highest percentile a sample count supports),
- the ``failed_frac`` arithmetic,
- the generator ledger (write, read, ``seq`` → creation-time lookup),
- an in-memory span tracer with per-layer self time,
- a ``/proc`` RSS sampler for a process tree.
"""

from __future__ import annotations

import math
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

#: Percentiles the benchmark reports, lowest first.
PERCENTILES = (50.0, 99.0)

#: A percentile is reported only if at least this many samples lie beyond it.
MIN_TAIL_SAMPLES = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def supported_percentile(n: int, candidates=PERCENTILES) -> float | None:
    """The highest candidate percentile with at least
    ``MIN_TAIL_SAMPLES`` of ``n`` samples beyond it, or None."""
    best = None
    for p in candidates:
        if n > 0 and n - _rank(n, p) >= MIN_TAIL_SAMPLES:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``p`` percent of the samples at or below it."""
    xs = np.sort(np.asarray(values, dtype=np.float64))
    if not xs.size:
        raise ValueError("percentile of an empty sample")
    return float(xs[_rank(xs.size, p) - 1])


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def failed_frac(ref_rows: int, exact: int, extra: int, errored: bool = False) -> float:
    """Share of alert rows the system under test got wrong.

    ``exact`` of the ``ref_rows`` reference rows were reproduced with
    identical values; the other ``ref_rows - exact`` are missing or
    wrong. ``extra`` output rows have no reference counterpart
    (spurious alerts or duplicates); they join the denominator, so the
    share stays within [0, 1] and equals (missing + wrong) / reference
    rows when nothing spurious is emitted. A query that errored counts
    as 1.0 whatever it emitted.
    """
    if not 0 <= exact <= ref_rows or extra < 0:
        raise ValueError(f"inconsistent counts: ref={ref_rows} exact={exact} extra={extra}")
    if errored:
        return 1.0
    if ref_rows + extra == 0:
        return 0.0
    return (ref_rows - exact + extra) / (ref_rows + extra)


# --- generator ledger ----------------------------------------------------------

LEDGER_FIELDS = ("file", "seq_lo", "seq_hi", "due_s", "written_s")


@dataclass(frozen=True)
class LedgerEntry:
    file: int
    seq_lo: int
    seq_hi: int
    due_s: float
    written_s: float

    def line(self) -> str:
        return f"{self.file},{self.seq_lo},{self.seq_hi},{self.due_s!r},{self.written_s!r}\n"


def read_ledger(path: str) -> list[LedgerEntry]:
    out = []
    with open(path) as fh:
        for raw in fh:
            if not raw.strip() or raw.startswith(LEDGER_FIELDS[0]):
                continue
            f, lo, hi, due, wr = raw.strip().split(",")
            out.append(LedgerEntry(int(f), int(lo), int(hi), float(due), float(wr)))
    return out


class Ledger:
    """Maps a per-portfolio ``seq`` to the file that carried it.

    Every file holds the same contiguous ``seq`` range for each
    portfolio, and a sample is created when its file is due, so the
    creation time of ``seq`` is the due time of that file.
    """

    def __init__(self, entries: list[LedgerEntry]):
        self.entries = sorted(entries, key=lambda e: e.seq_lo)
        for a, b in zip(self.entries, self.entries[1:]):
            if b.seq_lo != a.seq_hi + 1:
                raise ValueError(f"ledger gap or overlap between files {a.file} and {b.file}")
        self._los = np.asarray([e.seq_lo for e in self.entries], dtype=np.int64)
        self._his = np.asarray([e.seq_hi for e in self.entries], dtype=np.int64)
        self._due = np.asarray([e.due_s for e in self.entries], dtype=np.float64)

    def created_many(self, seqs) -> np.ndarray:
        """Creation time of each ``seq`` in an array; KeyError if any
        lies outside every file."""
        seqs = np.asarray(seqs, dtype=np.int64)
        idx = np.searchsorted(self._los, seqs, side="right") - 1
        if (idx < 0).any() or (seqs > self._his[np.clip(idx, 0, None)]).any():
            raise KeyError("seq outside the ledger")
        return self._due[idx]


# --- tracing -------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """In-memory spans; ``enabled=False`` makes every call a no-op."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def record(self, name: str, start: float, end: float, parent: int | None = None) -> int | None:
        """Add a finished span (e.g. one built from a progress event)."""
        if not self.enabled:
            return None
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(Span(sid, name, start, end, parent))
        return sid

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval covered by its children."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id]]
            )
            out[s.name] += max(0.0, (s.end - s.start) - covered)
        return dict(out)

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.id = None

    def __enter__(self):
        tr = self.tracer
        if tr.enabled:
            self.id = len(tr.spans)
            parent = tr._stack[-1] if tr._stack else None
            tr.spans.append(Span(self.id, self.name, time.time(), math.nan, parent))
            tr._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        if tr.enabled and self.id is not None:
            tr.spans[self.id].end = time.time()
            tr._stack.pop()
        return False


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- memory --------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` and all its descendants."""
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Samples the RSS of a process tree every ``interval`` seconds on a
    daemon thread and keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root, self.interval = root_pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling (idempotent) after one last sample."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
