"""Span bookkeeping without Spark: parents, units, job groups, thread
pools and wrapped methods."""

import json
import os
from concurrent.futures import ThreadPoolExecutor

from perfbench import report
from perfbench.stats import self_times
from perfbench.tracing import Tracer


class Op:
    def fit(self, x):
        return x + 1

    def transform(self, x):
        return x * 2


def test_spans_only_inside_traced_units():
    groups = []
    tr = Tracer(groups.append)
    with tr.span("outside"):
        pass
    with tr.unit_span("u0", traced=False):
        with tr.span("untraced"):
            pass
    assert tr.spans == [] and groups == []
    with tr.unit_span("u1", traced=True) as unit:
        with tr.span("child") as child:
            pass
    assert [s["name"] for s in tr.spans] == ["child", "unit"]
    assert child["parent"] == unit["id"] and child["unit"] == "u1"
    # group set on entry of each span, restored to the parent on exit
    assert groups == [f"pb-{unit['id']}", f"pb-{child['id']}",
                      f"pb-{unit['id']}", None]


def test_pool_thread_spans_take_the_unit_threads_span_as_parent():
    tr = Tracer()
    tr.wrap_operator(Op)
    op = Op()
    with tr.unit_span("u0", traced=True):
        with tr.span("plans.CompiledPlan.run") as run:
            with ThreadPoolExecutor(2) as ex:
                assert sorted(ex.map(op.fit, [1, 2])) == [2, 3]
            assert op.transform(3) == 6
    fits = [s for s in tr.spans if s["name"] == "operators.Op.fit"]
    assert len(fits) == 2
    assert all(s["parent"] == run["id"] for s in fits)
    assert {s["unit"] for s in tr.spans} == {"u0"}
    own = self_times(tr.spans)
    assert all(v >= -1e-9 for v in own.values())


def test_nested_call_of_same_span_name_is_one_span():
    class Base:
        def transform(self, x):
            return x

    class Child(Base):
        def transform(self, x):
            return super().transform(x) + 1

    tr = Tracer()
    tr.wrap(Base, "transform", "operators.X.transform")
    tr.wrap(Child, "transform", "operators.X.transform")
    with tr.unit_span("u0", traced=True):
        assert Child().transform(1) == 2
    assert sum(s["name"] == "operators.X.transform" for s in tr.spans) == 1


def test_py4j_counting_skips_gc_commands_and_tracer_calls():
    tr = Tracer(lambda g: tr.count_py4j("c\nsetLocalProperty\n"))
    with tr.unit_span("u0", traced=True):
        with tr.span("plans.Workflow.transform") as sp:
            tr.count_py4j("c\no1\nschema\ne\n")
            tr.count_py4j("m\nd\no7\ne\n")
            tr.count_py4j("c\no1\ncolumns\ne\n")
    assert sp["py4j"] == 2


def test_benchmark_json_lists_what_the_benchmark_reports():
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e, _ = report.end_to_end(
        [{"fit_s": 1.0, "transform_s": 2.0, "total_s": 3.0}], 10,
        {"setup_s": 5.0}, [], 100.0)
    assert [m["name"] for m in spec["end_to_end"]] == list(e2e)

    class Log:
        def jobs_in(self, groups, window=None):
            return []

        def tasks_in(self, groups, window=None):
            return []

    layers = report.per_layer([], Log(), {"u1": 1.0}, {"u0": 1.0}, 4,
                              [1.0], 0)
    assert sorted(m["name"] for m in spec["per_layer"]) == sorted(layers)
