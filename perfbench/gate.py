"""Correctness gate: every answer the benchmark times is checked here.

* Operators are compared with their DuckDB oracle over the same parquet
  files, with the normalization of ``tests/compare.py``; operators that
  have no oracle get the rows-only check (at least one row).
* HTTP answers fully fixed by their SQL are compared exactly with a
  hand-written DuckDB query (doubles to 1e-9 relative, the two engines
  sum in different orders).  Row-capped "show all data" answers are
  checked with invariants that hold under both collapse orders.
* Streaming stores are compared with the one-shot batch sketch over the
  same rows.
"""

from __future__ import annotations

import functools
import importlib.util
import math
import os
from collections import Counter


@functools.cache
def _compare_module():
    """``tests/compare.py`` of the checkout, loaded by path (``tests`` is
    not a package)."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "compare.py")
    spec = importlib.util.spec_from_file_location("perfbench_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_views(con, sf_dir: str, tables) -> None:
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def operator_mismatch(spark_pdf, duck_pdf) -> str | None:
    """None when the two pandas frames hold the same rows (order-free),
    else a one-line reason."""
    to_rows = _compare_module().to_rows
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"row count {len(spark_pdf)} != {len(duck_pdf)}"
    a, b = to_rows(spark_pdf), to_rows(duck_pdf)
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return f"{bad} mismatched rows" if bad else None


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    if hasattr(v, "item"):
        return v.item()
    return v


def exact_mismatch(columns: list[str], rows: list[dict], want_cols: list[str], want_rows: list[tuple]) -> str | None:
    """Order-free comparison of an HTTP answer with the expected rows."""
    if columns != want_cols:
        return f"columns {columns} != {want_cols}"
    got = sorted((tuple(_norm(r[c]) for c in columns) for r in rows), key=repr)
    want = sorted((tuple(_norm(v) for v in w) for w in want_rows), key=repr)
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for g, w in zip(got, want):
        if not all(_close(x, y) for x, y in zip(g, w)):
            return f"row {g} != {w}"
    return None


def capped_mismatch(columns: list[str], rows: list[dict], collapsed: bool, base_cols: list[str], base_rows: list[tuple], cap: int) -> str | None:
    """Invariants of a row-capped ``SELECT *`` answer that hold whether
    duplicates are collapsed before or after the row cap: at most ``cap``
    rows, the table's columns (plus ``count`` when collapsed), every row
    present in the table, counts sorted descending and never above the
    row's multiplicity in the table."""
    if len(rows) > cap or not rows:
        return f"{len(rows)} rows, cap {cap}"
    want_cols = base_cols + (["count"] if collapsed else [])
    if columns != want_cols:
        return f"columns {columns} != {want_cols}"
    mult = Counter(tuple(_norm(v) for v in r) for r in base_rows)
    counts = []
    for r in rows:
        key = tuple(_norm(r[c]) for c in base_cols)
        if key not in mult:
            return f"row {key} not in the uploaded table"
        if collapsed:
            if r["count"] > mult[key]:
                return f"count {r['count']} above multiplicity {mult[key]} of {key}"
            counts.append(r["count"])
    if counts != sorted(counts, reverse=True):
        return "counts not sorted descending"
    return None


def same_rows(a, b) -> bool:
    return sorted(map(tuple, a)) == sorted(map(tuple, b))
