"""The DAG compiler: what one ``transform`` builds, what a fit reads,
and how a failed concurrent fit reports itself."""
from collections import Counter

import numpy as np
import pandas as pd
import pytest

import nvtabular_spark as nvt
from nvtabular_spark import ops
from nvtabular_spark.plans.graph import Node


@pytest.fixture()
def frame(spark):
    rng = np.random.RandomState(5)
    x = rng.randn(100)
    x[::7] = np.nan
    return spark.createDataFrame(pd.DataFrame({
        "cat": rng.choice(["a", "b", "c"], 100),
        "x": x,
        "y": rng.rand(100),
        "rid": np.arange(100, dtype="int64"),
        "fold": (np.arange(100) % 3).astype("int32"),
    }))


def test_output_columns_is_linear_in_chain_depth(monkeypatch):
    node = ["a"] >> ops.Rename(postfix="_r")
    for _ in range(15):
        node = node >> ops.Rename(postfix="_r")
    calls = []
    selector = Node.input_group_selector

    def counting(self):
        calls.append(self)
        return selector(self)

    monkeypatch.setattr(Node, "input_group_selector", counting)
    assert node.output_columns() == ["a" + "_r" * 16]
    assert len(calls) <= 16


def _count_transforms(monkeypatch, classes) -> Counter:
    calls: Counter = Counter()
    for cls in classes:
        def transform(self, ctx, df, _orig=cls.transform):
            calls[type(self).__name__] += 1
            return _orig(self, ctx, df)
        monkeypatch.setattr(cls, "transform", transform)
    return calls


def test_transform_runs_each_op_once(spark, frame, monkeypatch):
    """A transform-only run builds only the threaded frame: no op is
    replayed on the fit-only lean frame."""
    wf = nvt.Workflow(
        (["x", "y"] >> ops.FillMissing() >> ops.Clip(min_value=0)
         >> ops.LogOp())
        + (["cat"] >> ops.Categorify()) + ["rid"])
    wf.fit(frame)
    calls = _count_transforms(
        monkeypatch, [ops.FillMissing, ops.Clip, ops.LogOp, ops.Categorify])
    wf.transform(frame)
    assert calls == {"FillMissing": 1, "Clip": 1, "LogOp": 1,
                     "Categorify": 1}


def test_batched_fit_reads_the_lean_frame(spark, frame, monkeypatch):
    """Two Normalize fits around a JoinExternal branch share one agg
    job, and that job's input holds no join."""
    ext = spark.createDataFrame(pd.DataFrame({
        "cat": ["a", "b", "c"], "w": [1.0, 2.0, 3.0]}))
    wf = nvt.Workflow((["x"] >> ops.Normalize())
                      + (["cat"] >> ops.JoinExternal(ext, on="cat"))
                      + (["y"] >> ops.Normalize()) + ["rid"])
    frames = []
    classic = type(frame)
    agg = classic.agg

    def recording(self, *exprs):
        frames.append(self)
        return agg(self, *exprs)

    monkeypatch.setattr(classic, "agg", recording)
    wf.fit(frame)
    assert wf.plan.fit_report["batched_agg_jobs"] == 1
    assert len(frames) == 1

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "Join" in optimized(wf.transform(frame))
    assert "Join" not in optimized(frames[0])


class BrokenCategorify(ops.Categorify):
    def fit(self, ctx, df):
        raise RuntimeError("vocabulary scan failed")


def test_failed_concurrent_fit_names_its_op(spark, frame):
    wf = nvt.Workflow(
        (["x"] >> ops.Normalize())
        + ((["cat"] >> ops.TargetEncoding(
            target="y", fold_col="fold", fold_is_precomputed=True))
           - ["cat"])
        + (["cat"] >> BrokenCategorify()) + ["rid"])
    with pytest.raises(RuntimeError, match="vocabulary scan failed") as err:
        wf.fit(frame)
    counts = {k: v for k, v in wf.plan.fit_report.items()
              if k != "fused_plans"}
    assert counts == {"fused_groups": 1, "fused_requests": 1,
                      "standalone_fits": 1, "batched_agg_jobs": 1}
    assert err.value.__notes__ == [
        "raised by the fit of BrokenCategorify on ['cat']"]
