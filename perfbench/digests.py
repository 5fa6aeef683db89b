"""Canonical digests of gate results.

Canonicalisation follows ``tools/check_correctness.py``: columns in
name order, rows sorted by every column, and an integer column never
equal to a float column (the correctness gate hashes values with their
dtype).
Floats are written with 6 significant digits so that last-bit noise
from a different summation order cannot change the digest.
"""

from __future__ import annotations

import hashlib
import math


def _cell(v, kind: str) -> str:
    if v is None:
        return "null"
    if kind == "f" or isinstance(v, float):
        f = float(v)
        if math.isnan(f):
            return "null"
        return "f:" + format(f + 0.0, ".6g")  # + 0.0 folds -0.0 into 0.0
    if kind in "iu" or (isinstance(v, int) and not isinstance(v, bool)):
        return f"i:{int(v)}"
    if kind == "b" or isinstance(v, bool):
        return f"b:{bool(v)}"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, dict, bytes, bytearray)):
        raise TypeError(f"non-scalar cell {type(v).__name__}: canonical "
                        "digests need scalar columns")
    try:
        if v != v:  # pandas NA / NaT
            return "null"
    except TypeError:
        return "null"
    return "s:" + str(v)


def canonical_rows(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    """``(sorted column names, sorted rows of canonical cells)``."""
    cols = sorted(pdf.columns)
    kinds = {c: pdf[c].dtype.kind for c in cols}
    rows = [
        tuple(_cell(v, kinds[c]) for c, v in zip(cols, rec))
        for rec in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return cols, rows


def digest(pdf) -> str:
    cols, rows = canonical_rows(pdf)
    h = hashlib.sha256()
    h.update(("\t".join(cols) + "\n").encode())
    for r in rows:
        h.update(("\t".join(r) + "\n").encode())
    return h.hexdigest()
