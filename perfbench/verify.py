"""Order-insensitive, float-tolerant fingerprints of query results.

A fingerprint is ``{"rows", "exact", "floats"}``:

- ``exact``: a multiset hash (sum mod 2**64 of per-row BLAKE2b digests)
  over every non-float column, rendered the way the repository's DuckDB
  parity check renders values (object columns through ``str``), so row
  order never matters and duplicate rows still count;
- ``floats``: per float column, the NaN count and the sum of each value
  weighted by a factor in [1, 2) drawn from its row's exact digest, which
  ties every float to its row without requiring bit equality.

Two fingerprints match when rows and ``exact`` are equal and every
weighted float sum agrees within ``REL_TOL`` of its magnitude.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

REL_TOL = 1e-6
_MASK = (1 << 64) - 1


def _digest(text: str) -> int:
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def fingerprint(df: pd.DataFrame) -> dict:
    cols = sorted(df.columns)
    float_cols = [c for c in cols if df[c].dtype.kind == "f"]
    exact_cols = [c for c in cols if c not in float_cols]
    exact_vals = [
        df[c].astype(str).tolist() if df[c].dtype == object else df[c].tolist()
        for c in exact_cols
    ]
    row_digests = [
        _digest(repr(tuple(str(col[i]) for col in exact_vals))) for i in range(len(df))
    ]
    floats = {}
    for c in float_cols:
        nan = 0
        weighted = magnitude = 0.0
        for d, x in zip(row_digests, df[c].tolist()):
            if x is None or math.isnan(x):
                nan += 1
                continue
            w = 1.0 + (d % 1_000_003) / 1_000_003
            weighted += w * x
            magnitude += w * abs(x)
        floats[c] = {"nan": nan, "sum": weighted, "mag": magnitude}
    return {
        "rows": len(df),
        "columns": cols,
        "exact": format(sum(row_digests) & _MASK, "016x"),
        "floats": floats,
    }


def mismatches(got: dict, want: dict) -> list[str]:
    """Human-readable differences between two fingerprints (empty = match)."""
    if got["columns"] != want["columns"]:
        return [f"columns {got['columns']} != {want['columns']}"]
    if got["rows"] != want["rows"]:
        return [f"rows {got['rows']} != {want['rows']}"]
    out = []
    if got["exact"] != want["exact"]:
        out.append("non-float values differ")
    for c, w in want["floats"].items():
        g = got["floats"].get(c)
        if g is None:
            out.append(f"column {c} is no longer floating point")
        elif g["nan"] != w["nan"]:
            out.append(f"column {c}: {g['nan']} NaN/null values, want {w['nan']}")
        elif abs(g["sum"] - w["sum"]) > REL_TOL * max(w["mag"], g["mag"]) + 1e-12:
            out.append(f"column {c}: weighted sum {g['sum']!r} != {w['sum']!r}")
    extra = set(got["floats"]) - set(want["floats"])
    if extra:
        out.append(f"columns {sorted(extra)} became floating point")
    return out
