"""Seeded inputs of etl_expand.

:func:`write_landing` writes a landing directory of dated interval CSVs in
the layout of the reference job (FIXTURES.md section 1), from the seed
alone: the same seed gives byte-identical files. There are several
``YYYYMMDD_measurement_data.csv`` files, one name without a date stamp,
and the edge rows (samples 0, NULL, zero-length interval, 3600) in the
latest file. The program receives only the path.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np

CSV_HEADER = "start_time,end_time,samples,temperature\n"

#: The edge rows the latest landing file carries (FIXTURES.md section 1).
EDGE_ROWS = [
    ("00:00:00", "00:01:00", "4", "21.5"),
    ("00:01:00", "00:02:40", "3", "21.7"),
    ("00:02:40", "00:02:40", "1", "21.7"),
    ("00:03:00", "00:04:00", "0", "21.9"),
    ("00:04:00", "00:05:00", "", "22.0"),
    ("00:05:00", "01:05:00", "3600", "22.1"),
]


def _fmt(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S")


def _interval_csv(rng: np.random.Generator, day: datetime, n: int,
                  edges: bool) -> str:
    """CSV text of ``n`` back-to-back random intervals from ``day`` on,
    after the edge rows when ``edges`` is set."""
    lines = [CSV_HEADER]
    if edges:
        for start, end, samples, temp in EDGE_ROWS:
            lines.append(f"{day:%Y-%m-%d} {start},{day:%Y-%m-%d} {end},"
                         f"{samples},{temp}\n")
        t = day + timedelta(hours=2)
    else:
        t = day
    gaps = rng.integers(0, 120, n)
    lengths = rng.integers(0, 3600, n)
    samples = rng.integers(1, 61, n)
    temps = np.round(rng.uniform(15.0, 30.0, n), 1)
    for gap, length, count, temp in zip(gaps, lengths, samples, temps):
        start = t + timedelta(seconds=int(gap))
        end = start + timedelta(seconds=int(length))
        lines.append(f"{_fmt(start)},{_fmt(end)},{count},{temp}\n")
        t = end
    return "".join(lines)


def write_landing(root: str, seed: int, intervals: int) -> str:
    """Write the landing directory; returns the path of the latest dated
    file, the one the reference job must pick."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root)
    month0 = int(rng.integers(1, 10))
    days = [datetime(2023, month0 + k, int(rng.integers(1, 29)))
            for k in range(3)]
    for k, day in enumerate(days):
        last = k == len(days) - 1
        text = _interval_csv(rng, day, intervals if last else intervals // 10,
                             edges=last)
        path = os.path.join(root, f"{day:%Y%m%d}_measurement_data.csv")
        with open(path, "w") as fh:
            fh.write(text)
    # a name without a date stamp: discovery must skip it even though its
    # rows are newer than everything else
    with open(os.path.join(root, "notes.csv"), "w") as fh:
        fh.write(_interval_csv(rng, datetime(2024, 1, 1), 20, edges=False))
    return path
