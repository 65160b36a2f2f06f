"""Answer checks against DuckDB, with the repository's normalisation.

Row sets are compared with ``tools/check_oracle.py``'s order-insensitive
value hash (floats at 9 significant digits). When the hashes differ,
the rows are matched one to one and a float may differ from DuckDB's by
at most one unit in the last decimal place DuckDB printed: a sum that
lands on a rounding midpoint rounds either way depending on summation
order, and that is not a wrong answer. Every such match is counted, so
a run shows how often the fallback decided.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import duckdb

from tools.check_oracle import _py, norm_value, table_hash


@dataclass
class Verdict:
    ok: bool
    rounding_matches: int = 0
    detail: str = ""


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[dict], list[str]]:
    df = con.execute(sql).df()
    rows = [{k: _py(v) for k, v in r.items()} for r in df.to_dict("records")]
    return rows, list(df.columns)


def _last_place(v: float) -> float:
    r = repr(float(v))
    if "e" in r or "." not in r:
        return 0.0
    return 10.0 ** -len(r.split(".")[1])


def _close(a, b) -> tuple[bool, bool]:
    """(equal, equal only by the last-place rounding allowance)."""
    if norm_value(a) == norm_value(b):
        return True, False
    if isinstance(a, float) and isinstance(b, float) and math.isfinite(a) and math.isfinite(b):
        unit = _last_place(b)
        if unit and abs(a - b) <= unit * (1 + 1e-6):
            return True, True
    return False, False


def compare(got: list[dict], got_cols: list[str], want: list[dict], want_cols: list[str]) -> Verdict:
    if sorted(got_cols) != sorted(want_cols):
        return Verdict(False, detail=f"columns {sorted(got_cols)} != {sorted(want_cols)}")
    if len(got) != len(want):
        return Verdict(False, detail=f"rows {len(got)} != {len(want)}")
    if table_hash(got, got_cols) == table_hash(want, want_cols):
        return Verdict(True)
    cols = sorted(got_cols)
    key = lambda r: tuple(norm_value(r[c]) for c in cols)  # noqa: E731
    used = 0
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for c in cols:
            eq, by_rounding = _close(g[c], w[c])
            if not eq:
                return Verdict(False, detail=f"{c}: {g[c]!r} != {w[c]!r}")
            used += by_rounding
    return Verdict(True, rounding_matches=used)
