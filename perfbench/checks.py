"""Correctness checks. Each returns a list of mismatch descriptions; an
empty list means the output is correct."""

from __future__ import annotations

import datetime
import hashlib
import math
from collections import Counter


def compare_totals(got: dict, want: dict) -> list[str]:
    return [f"{k}: got {got.get(k)!r}, want {v!r}" for k, v in want.items() if got.get(k) != v]


def compare_aggregates(got: dict | None, want: dict) -> list[str]:
    """Per-key (count, sum) aggregates of one batch."""
    if got is None:
        return ["batch was never processed"]
    keys = sorted(set(got) | set(want))
    return [f"{k}: got {got.get(k)}, want {want.get(k)}" for k in keys if got.get(k) != want.get(k)]


def canon_cell(v) -> str:
    """One cell in the canonical text form the oracle sweep compares:
    floats by exact repr, timestamps as ISO strings, arrays element-wise,
    NULL and NaN alike."""
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, np.integer):
        v = int(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(pdf) -> tuple[list[str], Counter]:
    """Columns sorted by name plus the multiset of canonical rows."""
    cols = sorted(pdf.columns)
    rows = Counter(tuple(canon_cell(v) for v in row)
                   for row in pdf[cols].itertuples(index=False, name=None))
    return cols, rows


def compare_frames(got, want) -> list[str]:
    """Order-independent comparison of two pandas frames."""
    out = []
    if len(got) != len(want):
        out.append(f"row count: got {len(got)}, want {len(want)}")
    gcols, grows = canon_rows(got)
    wcols, wrows = canon_rows(want)
    if gcols != wcols:
        out.append(f"columns: got {gcols}, want {wcols}")
    elif grows != wrows:
        extra, missing = grows - wrows, wrows - grows
        out.append(f"values: {sum(extra.values())} unexpected rows (e.g. {next(iter(extra), None)}),"
                   f" {sum(missing.values())} missing rows (e.g. {next(iter(missing), None)})")
    return out


def digest(pdf) -> tuple:
    """Order-independent fingerprint of a frame from this engine: row
    count, columns and dtypes, and the sum of per-row hashes. Two results
    of the same query compare equal only if they hold the same rows."""
    import pandas as pd

    cols = sorted(pdf.columns)
    try:
        rows = int(pd.util.hash_pandas_object(pdf[cols], index=False).sum())
    except TypeError:  # unhashable cells, e.g. arrays
        rows = checksum(pdf, cols)[1]
    return len(pdf), tuple((c, str(pdf[c].dtype)) for c in cols), rows


def compare_digests(got: tuple, want: tuple) -> list[str]:
    names = ("row count", "columns", "rows")
    return [f"{n}: got {g!r}, want {w!r}" for n, g, w in zip(names, got, want) if g != w]


def checksum(pdf, cols: list[str]) -> tuple[int, str]:
    """(row count, order-independent digest) over ``cols``: the sum of
    per-row md5 digests mod 2**128, so row order and partitioning do not
    matter but a duplicated or dropped row does."""
    acc = 0
    for row in pdf[cols].itertuples(index=False, name=None):
        digest = hashlib.md5("|".join(canon_cell(v) for v in row).encode()).digest()
        acc = (acc + int.from_bytes(digest, "big")) % (1 << 128)
    return len(pdf), f"{acc:032x}"


def compare_checksums(got: tuple[int, str], want: tuple[int, str]) -> list[str]:
    out = []
    if got[0] != want[0]:
        out.append(f"row count: got {got[0]}, want {want[0]}")
    if got[1] != want[1]:
        out.append(f"checksum: got {got[1]}, want {want[1]}")
    return out
