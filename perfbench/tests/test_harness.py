"""Unit tests for the benchmark's measurement helpers (no Spark needed).

Run from the repository root:
    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from generator import per_file_counts  # noqa: E402
from harness import (  # noqa: E402
    Ledger,
    LedgerEntry,
    Tracer,
    failed_frac,
    percentile,
    read_ledger,
    supported_percentile,
)

# --- ledger lookup ---------------------------------------------------------------


def _ledger():
    return Ledger(
        [
            LedgerEntry(0, 1, 2, 100.0, 100.01),
            LedgerEntry(1, 3, 5, 100.5, 100.52),
            LedgerEntry(2, 6, 7, 101.0, 101.03),
        ]
    )


def test_ledger_maps_seq_to_due_time_of_its_file():
    led = _ledger()
    assert list(led.created_many(range(1, 8))) == [100.0, 100.0, 100.5, 100.5, 100.5, 101.0, 101.0]


def test_ledger_lookup_keeps_input_order():
    led = _ledger()
    assert list(led.created_many([7, 1, 3, 2, 6, 5])) == [101.0, 100.0, 100.5, 100.0, 101.0, 100.5]


def test_ledger_orders_entries_by_seq():
    led = Ledger(list(reversed(_ledger().entries)))
    assert list(led.created_many([1, 4, 7])) == [100.0, 100.5, 101.0]


@pytest.mark.parametrize("seq", [0, 8, -3])
def test_ledger_rejects_seq_outside_every_file(seq):
    led = _ledger()
    with pytest.raises(KeyError):
        led.created_many([1, seq])


def test_ledger_rejects_gaps():
    with pytest.raises(ValueError):
        Ledger([LedgerEntry(0, 1, 2, 0.0, 0.0), LedgerEntry(1, 4, 5, 0.5, 0.5)])


def test_ledger_round_trips_through_its_file(tmp_path):
    p = tmp_path / "ledger.csv"
    entries = _ledger().entries
    p.write_text("file,seq_lo,seq_hi,due_s,written_s\n" + "".join(e.line() for e in entries))
    assert read_ledger(str(p)) == entries


def test_generator_schedule_keeps_the_rate():
    counts = per_file_counts(rate=5.0, period=0.5, files=10)
    assert counts == [2, 3] * 5
    assert sum(counts) == 25


# --- percentile rule ---------------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (100, 50.0), (999, 50.0), (1000, 99.0), (100000, 99.0)],
)
def test_highest_percentile_with_ten_samples_beyond(n, expected):
    assert supported_percentile(n) == expected


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([3.0], 99) == 3.0
    assert percentile([5.0, 1.0, 4.0, 2.0, 3.0], 50) == 3.0


# --- failed_frac -------------------------------------------------------------------


def test_failed_frac_counts_missing_wrong_and_extra_rows():
    # 1000 reference rows: 990 exact, so 10 missing or wrong; 5 spurious
    assert failed_frac(1000, 990, 5) == pytest.approx(15 / 1005)
    # nothing spurious: (missing + wrong) / reference rows
    assert failed_frac(1000, 990, 0) == pytest.approx(0.01)
    assert failed_frac(1000, 1000, 0) == 0.0
    assert failed_frac(1000, 0, 0) == 1.0


def test_failed_frac_stays_within_one_when_output_is_mostly_spurious():
    assert failed_frac(100, 10, 900) == pytest.approx(990 / 1000)


def test_failed_frac_errored_query_is_total_failure():
    assert failed_frac(1000, 1000, 0, errored=True) == 1.0


def test_failed_frac_empty_reference():
    assert failed_frac(0, 0, 0) == 0.0
    assert failed_frac(0, 0, 3) == 1.0


def test_failed_frac_rejects_inconsistent_counts():
    with pytest.raises(ValueError):
        failed_frac(10, 11, 0)
    with pytest.raises(ValueError):
        failed_frac(10, 5, -1)


# --- tracer ------------------------------------------------------------------------


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    root = tr.record("pass", 0.0, 10.0)
    tr.record("a", 1.0, 4.0, parent=root)
    tr.record("b", 3.0, 6.0, parent=root)  # overlaps a
    st = tr.self_times()
    assert st["pass"] == pytest.approx(5.0)
    assert st["a"] == pytest.approx(3.0)
    assert st["b"] == pytest.approx(3.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.record("y", 0.0, 1.0) is None
    assert tr.spans == []
