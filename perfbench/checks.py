"""Order-insensitive result comparison: row count plus a value hash over
rows rendered at full precision (columns sorted by name, rows sorted)."""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return repr(v.tolist())
    return str(v)


def canonical(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha256 of the sorted, rendered rows)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)
    )
    digest = hashlib.sha256("\x1e".join([",".join(cols), *rows]).encode()).hexdigest()
    return len(rows), digest


def same_rows(got, want) -> bool:
    """Two Spark frames hold the same rows, in any order."""
    return canonical(got.toPandas()) == canonical(want.toPandas())
