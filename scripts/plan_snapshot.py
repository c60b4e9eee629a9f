"""Snapshot the physical plans the engine builds, normalized so two
checkouts can be diffed.

    python scripts/plan_snapshot.py CHECKOUT OUT.json SF_DIR [SECTIONS]

Imports the engine, perfbench and tests/ of CHECKOUT. Snapshot the
parent commit and the change, then ``diff old.json new.json``: an
empty diff means the change kept every plan. SECTIONS is a comma list
(default all):

* ``queries`` — the ``executedPlan`` of every ``queries()`` leaf of
  ``__spark_entry__.py`` on the tables in SF_DIR;
* ``tw`` — perfbench's token_windows workflow: the plan of every
  action its fit runs (``collect``/``count``/parquet writes), its
  ``fit_report`` and the transform plan;
* ``serve`` — perfbench's serve_batches workflow: fit actions,
  ``fit_report`` and one request's plan;
* ``fusion`` — the ``fit_report`` (with ``fused_plans``) of every
  fitting run in the shared-key fusion tests of tests/test_workflow.py.

Normalization strips expression ids, ``plan_id``s, random hex
suffixes, file paths and the tail of truncated plan lines. Takes about
two minutes on 4 cores.
"""
import contextlib
import json
import os
import re
import shutil
import sys
import tempfile

from pyspark.sql import DataFrameWriter, SparkSession


def norm(text: str) -> str:
    text = re.sub(r"#\d+L?", "", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"[0-9a-f]{6,}", "H", text)
    text = re.sub(r"[^\s,\[]*\.\.\.(?=\n|$)", "...", text)
    return re.sub(r"file:[^\s,\]]*", "PATH", text)


def plan(df) -> str:
    return norm(df._jdf.queryExecution().executedPlan().toString())


@contextlib.contextmanager
def recording_actions(frame_cls, actions: list):
    """Record the plan of every action run inside the block."""
    originals = [(frame_cls, "collect"), (frame_cls, "count"),
                 (DataFrameWriter, "parquet"), (DataFrameWriter, "save")]
    saved = [getattr(cls, name) for cls, name in originals]
    for (cls, name), orig in zip(originals, saved):
        def recorded(self, *a, _orig=orig, _name=name, **k):
            df = getattr(self, "_df", self)
            actions.append(f"{_name}:{plan(df)}")
            return _orig(self, *a, **k)
        setattr(cls, name, recorded)
    try:
        yield
    finally:
        for (cls, name), orig in zip(originals, saved):
            setattr(cls, name, orig)


class _NoTracer:
    def span(self, name):
        return contextlib.nullcontext()


def fit_snapshot(wf, data, frame_cls, prefix: str, result: dict) -> None:
    actions: list = []
    with recording_actions(frame_cls, actions):
        wf.fit(data)
    report = dict(wf.plan.fit_report)
    report["fused_plans"] = sorted(norm(p) for p in
                                   report.get("fused_plans", []))
    result[f"{prefix}:fit_actions"] = sorted(actions)
    result[f"{prefix}:fit_report"] = report
    result[f"{prefix}:output_schema"] = repr(wf.output_schema)


def main() -> None:
    root, out, sf_dir = (os.path.abspath(a) for a in sys.argv[1:4])
    sections = (sys.argv[4] if len(sys.argv) > 4
                else "queries,tw,serve,fusion").split(",")
    sys.path.insert(0, root)
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .appName("plan-snapshot").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    frame_cls = type(spark.range(1))
    result: dict = {}
    scratch = tempfile.mkdtemp(prefix="plan_snapshot_")
    try:
        snapshot(spark, frame_cls, scratch, sf_dir, sections, result)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    spark.stop()


def snapshot(spark, frame_cls, scratch: str, sf_dir: str, sections: list,
             result: dict) -> None:
    import nvtabular_spark as nvt
    from perfbench import workloads
    if "queries" in sections:
        import __spark_entry__ as entry
        for name, fn in entry.queries().items():
            result[f"q:{name}"] = plan(fn(spark, sf_dir))
    if "tw" in sections:
        wl = workloads.TokenWindows(spark, _NoTracer(), scratch, 1)
        wl.generate()
        wl.prepare()
        wf = nvt.Workflow(wl.pipeline())
        fit_snapshot(wf, wl.data, frame_cls, "tw", result)
        result["tw:transform"] = plan(wf.transform(wl.data))
    if "serve" in sections:
        from nvtabular_spark import sources
        wl = workloads.ServeBatches(spark, _NoTracer(), scratch, 1)
        wl.generate()
        train = spark.read.parquet(os.path.join(wl.input_dir, "part=-1"))
        wf = nvt.Workflow(wl.pipeline())
        fit_snapshot(wf, train, frame_cls, "serve", result)
        batch = sources.read_dataset(
            spark, os.path.join(wl.input_dir, "part=0"))
        result["serve:request"] = plan(wf.transform(batch))
    if "fusion" in sections:
        result.update(fusion_reports(spark))


def fusion_reports(spark) -> dict:
    import numpy as np
    import pandas as pd
    from tests import test_workflow as tw
    from nvtabular_spark.plans.compiler import CompiledPlan
    reports: list = []
    run = CompiledPlan.run

    def reporting_run(self, df, fit=False, refit=False):
        out = run(self, df, fit=fit, refit=refit)
        if fit or refit:
            rep = dict(self.fit_report)
            rep["fused_plans"] = sorted(norm(p) for p in
                                        rep.get("fused_plans", []))
            reports.append(rep)
        return out

    rng = np.random.RandomState(5)
    frame = spark.createDataFrame(pd.DataFrame({
        "cat": rng.choice(["a", "b", "c"], 100),
        "x": rng.randn(100),
        "y": rng.rand(100),
        "rid": np.arange(100, dtype="int64"),
        "fold": (np.arange(100) % 3).astype("int32"),
    }))
    tests = {"test_shared_key_fit_fusion_single_scan": (spark, frame),
             "test_fusion_respects_distinct_keys": (spark, frame),
             "test_fusion_multi_column_keys": (spark, frame),
             "test_fused_fit_plan_shape": (spark, frame),
             "test_fused_joingroupby_dtype_and_precision_parity": (spark,)}
    out = {}
    CompiledPlan.run = reporting_run
    try:
        for name, args in tests.items():
            reports.clear()
            getattr(tw, name)(*args)
            out[f"fusion:{name}"] = list(reports)
    finally:
        CompiledPlan.run = run
    return out


if __name__ == "__main__":
    main()
