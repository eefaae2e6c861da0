"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import gate  # noqa: E402
import stats  # noqa: E402
from tracing import self_times  # noqa: E402


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write_star(str(a), 11, 0.001)
    datagen.write_star(str(b), 11, 0.001)
    datagen.write_star(str(c), 12, 0.001)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert len(fa) == 10 and fa == fb
    assert fa["lineitem.parquet"] != fc["lineitem.parquet"]
    datagen.write_csv(datagen.incidents(11, 300), str(a / "x.csv"))
    datagen.write_csv(datagen.incidents(11, 300), str(b / "x.csv"))
    assert (a / "x.csv").read_bytes() == (b / "x.csv").read_bytes()


def test_percentile_refuses_p90_below_100_samples():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([float(i) for i in range(99)], 90)
    assert stats.percentile([float(i) for i in range(101)], 90) == pytest.approx(90.0)
    assert stats.min_samples(90) == 100
    assert stats.median([3.0, 1.0, 2.0]) == 2.0


def _span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_self_time_reducer_on_nested_spans():
    spans = [
        _span("request", 0.0, 10.0, None),  # children cover 1-4 and 3-6 (union 5 s) and 8-9
        _span("engine", 1.0, 4.0, 0),
        _span("engine", 3.0, 6.0, 0),  # overlaps its sibling
        _span("materialize", 2.0, 3.5, 1),  # grandchild: only its parent's time
        _span("validate", 8.0, 9.0, 0),
        _span("late", 9.5, 12.0, 0),  # ends after its parent: clipped to 9.5-10
    ]
    got = self_times(spans)
    assert got == pytest.approx([10.0 - 5.0 - 1.0 - 0.5, 1.5, 3.0, 1.5, 1.0, 2.5])


def test_gate_rejects_an_altered_answer():
    cols = ["City", "count"]
    want = [("Delhi", 3), ("Pune", 2)]
    good = [{"City": "Pune", "count": 2}, {"City": "Delhi", "count": 3}]
    assert gate.exact_mismatch(cols, good, cols, want) is None
    altered = [{"City": "Pune", "count": 2}, {"City": "Delhi", "count": 4}]
    assert gate.exact_mismatch(cols, altered, cols, want) is not None
    assert gate.exact_mismatch(cols, good[:1], cols, want) is not None

    base_cols = ["City", "sev"]
    base = [("Delhi", 1), ("Delhi", 1), ("Pune", 2)]
    collapsed = [{"City": "Delhi", "sev": 1, "count": 2}, {"City": "Pune", "sev": 2, "count": 1}]
    assert gate.capped_mismatch(base_cols + ["count"], collapsed, True, base_cols, base, 200) is None
    # a count above the row's multiplicity, an unknown row, a wrong order
    over = [{"City": "Delhi", "sev": 1, "count": 3}]
    assert gate.capped_mismatch(base_cols + ["count"], over, True, base_cols, base, 200) is not None
    alien = [{"City": "Agra", "sev": 1, "count": 1}]
    assert gate.capped_mismatch(base_cols + ["count"], alien, True, base_cols, base, 200) is not None
    assert gate.capped_mismatch(base_cols + ["count"], collapsed[::-1], True, base_cols, base, 200) is not None
    assert gate.capped_mismatch(base_cols + ["count"], collapsed, True, base_cols, base, 1) is not None

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert gate.operator_mismatch(a, a[["v", "k"]].iloc[::-1]) is None
    b = a.copy()
    b.loc[1, "v"] = 1.5000000001
    assert gate.operator_mismatch(a, b) is not None
