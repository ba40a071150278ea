"""Unit tests of the span recorder and the input generator (no JVM).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import importlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.dirname(BENCH_DIR))

import datagen  # noqa: E402
import tracing  # noqa: E402


def test_spans_record_parents_and_share_the_query_id():
    tr = tracing.Tracer()
    tr.query = 7
    inner = tr.wrap("inner", lambda x: x + 1)
    assert tr.span("outer", lambda: inner(1) + inner(2)) == 5
    outer, a, b = tr.spans
    assert (outer.name, outer.parent) == ("outer", None)
    assert a.parent == b.parent == outer.id
    assert {s.query for s in tr.spans} == {7}
    assert outer.start <= a.start <= a.end <= b.start <= b.end <= outer.end


def test_a_span_closes_when_the_call_raises():
    tr = tracing.Tracer()
    with pytest.raises(ZeroDivisionError):
        tr.span("bad", lambda: 1 / 0)
    tr.span("next", lambda: None)
    assert tr.spans[0].end >= tr.spans[0].start
    assert tr.spans[1].parent is None


def test_every_traced_function_exists_in_the_package():
    for mod_name, attr, _ in tracing.TRACED_FUNCTIONS:
        assert callable(getattr(importlib.import_module(mod_name), attr)), (mod_name, attr)


def test_same_seed_same_tables_other_seed_other_values():
    a = datagen.make_tables(0.001, seed=3)
    b = datagen.make_tables(0.001, seed=3)
    c = datagen.make_tables(0.001, seed=4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}


def test_tables_have_the_fixture_names_and_row_counts():
    from datafusion_umami_spark.tables import TABLE_NAMES

    t = datagen.make_tables(0.01, seed=1)
    assert set(t) == set(TABLE_NAMES)
    assert t["lineitem"].num_rows == 60_000
    assert t["orders"].num_rows == 15_000
    assert t["events"].schema.field("ts").type == datagen.pa.timestamp("us")
    keys = t["orders"].column("o_orderkey").to_pylist()
    assert keys == sorted(set(keys))
