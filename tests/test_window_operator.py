"""Window ops (Lag, Lead, RollingBackfill, Sessionize, RollingAgg,
TimeDecay, DifferenceLag): shift validation, the adaptive partition
gate, the fused window plan and saved-workflow compatibility."""
import re
import uuid

import numpy as np
import pandas as pd
import pytest

import nvtabular_spark as nvt
from nvtabular_spark import ops
from nvtabular_spark.functions import planning
from nvtabular_spark.sources import tokenized_sequences, write_bucketed


@pytest.mark.parametrize("cls", [ops.Lag, ops.Lead])
@pytest.mark.parametrize("shift", [0, -1, [1, 0]])
def test_lag_lead_reject_shifts_below_one(cls, shift):
    # a lag of 0 is the row itself and a negative lag reads the future
    with pytest.raises(ValueError, match="shifts"):
        cls("e", "ts", shift)


def _window_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_window_gate_repartitions_large_inputs(spark, tmp_path,
                                               monkeypatch):
    """Inputs whose scan bytes exceed target x shuffle partitions are
    repartitioned on the window keys into min(needed, 8 x partitions)
    partitions; a table bucketed on the keys keeps its zero-Exchange
    plan."""
    path = str(tmp_path / "seqs")
    tokenized_sequences(spark, 5000, seed=42).write.parquet(path)
    src = spark.read.parquet(path)
    size = planning._leaf_scan_bytes(src)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wf = nvt.Workflow((["n_tok"] >> ops.Lag("entity_id", "ts", 1))
                      + ["doc_id"])

    def exchanges(df):
        return re.findall(r"Exchange hashpartitioning\((\w+)#\d+, (\d+)\)",
                          _window_plan(df))

    # every test-sized input stays under the default target
    assert exchanges(wf.transform(src)) == [("entity_id", str(parts))]
    for target in (size // (parts + 2), 1):
        monkeypatch.setattr(planning, "WINDOW_TARGET_BYTES", target)
        needed = size // target
        assert needed > parts
        assert exchanges(wf.transform(src)) == [
            ("entity_id", str(min(needed, 8 * parts)))]

    table = f"seqs_gate_{uuid.uuid4().hex[:8]}"
    write_bucketed(src, table, buckets=4, key="entity_id",
                   sort_cols=["ts"])
    try:
        plan = _window_plan(wf.transform(spark.table(table)))
        assert "Exchange" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.mark.parametrize("keys", [("entity_id", "source"),
                                  ("source", "entity_id")])
def test_window_gate_sizes_every_key_set_of_a_batch(spark, tmp_path,
                                                    monkeypatch, keys):
    """A batch mixing partition keys runs the gate on each key set, so
    every key's window shuffle is widened whatever the branch order."""
    path = str(tmp_path / "seqs")
    tokenized_sequences(spark, 5000, seed=42).write.parquet(path)
    src = spark.read.parquet(path)
    monkeypatch.setattr(planning, "WINDOW_TARGET_BYTES", 1)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wf = nvt.Workflow((["n_tok"] >> ops.Lag(keys[0], "ts", 1))
                      + (["n_tok"] >> ops.Lag(keys[1], "ts", 1)
                         >> ops.Rename(postfix="_b"))
                      + ["doc_id"])
    found = re.findall(r"Exchange hashpartitioning\((\w+)#\d+, (\d+)\)",
                       _window_plan(wf.transform(src)))
    assert sorted(found) == [("entity_id", str(8 * parts)),
                             ("source", str(8 * parts))]


def test_window_gate_runs_once_per_fused_batch(spark, monkeypatch):
    """The gate is looked up on the planning module at call time and
    runs once per batch of consecutive window ops."""
    calls = []
    gate = planning.scale_window_partitions

    def counting(df, keys):
        calls.append(list(keys))
        return gate(df, keys)

    monkeypatch.setattr(planning, "scale_window_partitions", counting)
    df = tokenized_sequences(spark, 200, seed=1)
    nvt.Workflow((["n_tok"] >> ops.Lag("entity_id", "ts", 1))
                 + (["n_tok"] >> ops.RollingAgg("entity_id", "ts",
                                                window_rows=3))
                 + (["ts"] >> ops.Sessionize("entity_id", gap=60.0))
                 + ["doc_id"]).transform(df)
    assert calls == [["entity_id"]]


def test_window_stack_fuses_into_two_windows_one_exchange(spark):
    """Six window ops over one entity key plan as exactly two Window
    operators (Sessionize's nested lag needs its own level) behind one
    hash Exchange."""
    df = tokenized_sequences(spark, 5000, seed=42)
    stack = ((["n_tok"] >> ops.Lag("entity_id", "ts", 1))
             + (["n_tok"] >> ops.Lead("entity_id", "ts", 1))
             + (["n_tok"] >> ops.RollingAgg("entity_id", "ts",
                                            window_rows=8, aggs=["mean"]))
             + (["n_tok"] >> ops.RollingBackfill("entity_id", "ts"))
             + (["n_tok"] >> ops.DifferenceLag("entity_id", order_by="ts"))
             + (["ts"] >> ops.Sessionize("entity_id", gap=1800.0))
             + ["doc_id"])
    plan = _window_plan(nvt.Workflow(stack).transform(df))
    assert len(re.findall(r"\bWindow \[", plan)) == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


#: constructor call and the params ``save_params()`` has always written
SAVED = [
    (ops.Lag, dict(partition_cols="e", order_by="ts", shifts=[1, 2]),
     {"partition_cols": ["e"], "order_by": ["ts"], "shifts": [1, 2]}),
    (ops.Lead, dict(partition_cols="e", order_by="ts", shifts=1),
     {"partition_cols": ["e"], "order_by": ["ts"], "shifts": [1]}),
    (ops.RollingBackfill, dict(partition_cols="e", order_by="ts"),
     {"partition_cols": ["e"], "order_by": ["ts"],
      "direction": "forward"}),
    (ops.Sessionize, dict(partition_cols="e", gap=15.0),
     {"partition_cols": ["e"], "gap": 15.0}),
    (ops.RollingAgg, dict(partition_cols="e", order_by="ts",
                          window_seconds=40, aggs=["sum", "count"]),
     {"partition_cols": ["e"], "order_by": ["ts"], "window_rows": None,
      "aggs": ["sum", "count"], "window_seconds": 40, "gap_seconds": 1}),
    (ops.TimeDecay, dict(partition_cols="e", order_by="ts",
                         half_life_seconds=20, window_seconds=60),
     {"partition_cols": ["e"], "order_by": ["ts"],
      "half_life_seconds": 20.0, "window_seconds": 60, "gap_seconds": 1,
      "aggs": ["sum"]}),
    (ops.DifferenceLag, dict(partition_cols="e", shift=[1, -1],
                             order_by="ts"),
     {"partition_cols": ["e"], "shifts": [1, -1], "order_by": ["ts"]}),
]


def test_saved_window_params_load_unchanged(spark):
    """Saved workflows keep loading: each op rebuilt by ``load_params``
    from its saved keys has the output names and the outputs of a
    freshly built op."""
    pdf = pd.DataFrame({
        "e": ["a"] * 5 + ["b"] * 3,
        "ts": pd.to_datetime([0, 10, 30, 31, 90, 5, 6, 50], unit="s"),
        "v": [1.0, np.nan, 3.0, 4.0, 5.0, 6.0, 7.0, np.nan],
        "rid": range(8)})
    df = spark.createDataFrame(pdf)

    def stack(op_list):
        node = ["rid"]
        for op in op_list:
            node = node + ([("ts" if isinstance(op, ops.Sessionize)
                             else "v")] >> op)
        return nvt.Workflow(node)

    fresh = [cls(**kwargs) for cls, kwargs, _ in SAVED]
    loaded = [cls.load_params(saved) for cls, _, saved in SAVED]
    sel = nvt.ColumnSelector(["v"])
    for (cls, _, saved), a, b in zip(SAVED, fresh, loaded):
        assert a.save_params() == saved, cls.__name__
        assert type(b) is cls
        assert b.output_column_names(sel) == a.output_column_names(sel)
    want = stack(fresh).transform(df).orderBy("rid").toPandas()
    got = stack(loaded).transform(df).orderBy("rid").toPandas()
    assert list(got.columns) == list(want.columns)
    assert len(want.columns) == 11
    pd.testing.assert_frame_equal(got, want)
