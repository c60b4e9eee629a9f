"""merge_fits: fit per partition + merge must equal fit on the union
(plans/merge.py) — the distributed-refit primitive. Exactness is the
contract: every assertion here is equality (or allclose at float
finalize precision), not approximation."""

import math

import numpy as np
import pandas as pd
import pytest

import nvtabular_spark as nvt
from nvtabular_spark import ops
from nvtabular_spark.plans.merge import WorkflowMergeError


def _events(spark, lo, hi, null_every=7):
    rows = []
    for i in range(lo, hi):
        v = None if i % null_every == 3 else float((i * 29) % 100) + 0.25
        rows.append((i, f"cat{i % 5}", v, float(i % 3), i % 4))
    return spark.createDataFrame(pd.DataFrame(
        rows, columns=["k", "cat", "x", "label", "fold"]))


def _dag():
    return ((["cat"] >> ops.Categorify())
            + (["x"] >> ops.Normalize() >> ops.Rename(postfix="_z"))
            + (["x"] >> ops.NormalizeMinMax() >> ops.Rename(postfix="_mm"))
            + (["cat"] >> ops.TargetEncoding(
                target="label", fold_col="fold", fold_is_precomputed=True,
                kfold=4, p_smooth=10) >> ops.Rename(postfix="_te"))
            + ["k"])


def _sorted(df):
    pdf = df.toPandas().sort_values("k").reset_index(drop=True)
    return pdf[sorted(pdf.columns)]


def test_merge_equals_union_fit(spark):
    a, b = _events(spark, 0, 60), _events(spark, 60, 150)
    union = a.unionByName(b)
    probe = _events(spark, 0, 150, null_every=5)   # fresh rows to score

    wf_a = nvt.Workflow(_dag()).fit(a)
    wf_b = nvt.Workflow(_dag()).fit(b)
    merged = nvt.merge_fits(wf_a, wf_b)
    wf_u = nvt.Workflow(_dag()).fit(union)

    got = _sorted(merged.transform(probe))
    want = _sorted(wf_u.transform(probe))
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        if got[c].dtype == object:
            assert got[c].tolist() == want[c].tolist(), c
        else:
            ga, wa = got[c].to_numpy("float64"), want[c].to_numpy("float64")
            import numpy as np
            assert np.allclose(ga, wa, rtol=1e-9, atol=1e-9,
                               equal_nan=True), c


def test_merge_value_count(spark):
    da = spark.createDataFrame(pd.DataFrame({"f": [[1, 2], [3]]}))
    db = spark.createDataFrame(pd.DataFrame({"f": [[1, 2, 3, 4]]}))
    wa = nvt.Workflow(["f"] >> ops.ValueCount()).fit(da)
    wb = nvt.Workflow(["f"] >> ops.ValueCount()).fit(db)
    merged = nvt.merge_fits(wa, wb)
    vc = merged.output_schema["f"].properties["value_count"]
    assert vc == {"min": 1, "max": 4}


def test_merge_value_count_after_load(spark, tmp_path):
    """After save/load the schema no longer shares the ops' property
    objects, so merge_fits must re-derive the merged properties."""
    da = spark.createDataFrame(pd.DataFrame({"f": [[1, 2], [3]]}))
    db = spark.createDataFrame(pd.DataFrame({"f": [[1, 2, 3, 4]]}))
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    nvt.Workflow(["f"] >> ops.ValueCount()).fit(da).save(pa)
    nvt.Workflow(["f"] >> ops.ValueCount()).fit(db).save(pb)
    merged = nvt.merge_fits(nvt.Workflow.load(pa), nvt.Workflow.load(pb))
    vc = merged.output_schema["f"].properties["value_count"]
    assert vc["min"] == 1 and vc["max"] == 4


def test_merge_refuses_order_statistics(spark):
    d = spark.createDataFrame(pd.DataFrame(
        {"x": [1.0, 2.0, None, 4.0], "k": [0, 1, 2, 3]}))
    wa = nvt.Workflow((["x"] >> ops.FillMedian()) + ["k"]).fit(d)
    wb = nvt.Workflow((["x"] >> ops.FillMedian()) + ["k"]).fit(d)
    with pytest.raises(WorkflowMergeError, match="not mergeable"):
        nvt.merge_fits(wa, wb)
    wa = nvt.Workflow((["x"] >> ops.QuantileBin(n_bins=2)) + ["k"]).fit(d)
    wb = nvt.Workflow((["x"] >> ops.QuantileBin(n_bins=2)) + ["k"]).fit(d)
    with pytest.raises(WorkflowMergeError, match="not mergeable"):
        nvt.merge_fits(wa, wb)


def test_merge_refuses_truncating_categorify(spark):
    d = spark.createDataFrame(pd.DataFrame(
        {"cat": ["a", "a", "b", "c"], "k": [0, 1, 2, 3]}))
    wa = nvt.Workflow((["cat"] >> ops.Categorify(freq_threshold=2))
                      + ["k"]).fit(d)
    wb = nvt.Workflow((["cat"] >> ops.Categorify(freq_threshold=2))
                      + ["k"]).fit(d)
    with pytest.raises(WorkflowMergeError, match="freq_threshold"):
        nvt.merge_fits(wa, wb)


def test_merge_refuses_mismatched_dags(spark):
    d = spark.createDataFrame(pd.DataFrame(
        {"x": [1.0, 2.0], "k": [0, 1]}))
    wa = nvt.Workflow((["x"] >> ops.Normalize()) + ["k"]).fit(d)
    wb = nvt.Workflow((["x"] >> ops.NormalizeMinMax()) + ["k"]).fit(d)
    with pytest.raises(WorkflowMergeError, match="mismatch"):
        nvt.merge_fits(wa, wb)
    # shared op instance across both workflows must be rejected
    shared = ops.Normalize()
    wc = nvt.Workflow((["x"] >> shared) + ["k"]).fit(d)
    wd_plan = (["x"] >> shared) + ["k"]
    wd = nvt.Workflow(wd_plan)
    wd.fit(d)
    with pytest.raises(WorkflowMergeError, match="SAME"):
        nvt.merge_fits(wc, wd)


def test_merge_param_mismatch_rejected(spark):
    d = spark.createDataFrame(pd.DataFrame(
        {"cat": ["a", "b"], "lbl": [1.0, 0.0], "k": [0, 1]}))
    wa = nvt.Workflow((["cat"] >> ops.TargetEncoding(
        target="lbl", fold_col="k", kfold=2)) + ["k"]).fit(d)
    wb = nvt.Workflow((["cat"] >> ops.TargetEncoding(
        target="lbl", fold_col="k", kfold=3)) + ["k"]).fit(d)
    with pytest.raises(WorkflowMergeError, match="params differ"):
        nvt.merge_fits(wa, wb)


def test_merge_after_save_load_round_trip(spark, tmp_path):
    """Moments/raw extrema must survive save/load so persisted fits
    from two runs can be merged later."""
    a, b = _events(spark, 0, 40), _events(spark, 40, 100)
    dag = ((["x"] >> ops.Normalize() >> ops.Rename(postfix="_z"))
           + (["x"] >> ops.NormalizeMinMax() >> ops.Rename(postfix="_mm"))
           + ["k"])
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    nvt.Workflow(dag).fit(a).save(pa)
    dag2 = ((["x"] >> ops.Normalize() >> ops.Rename(postfix="_z"))
            + (["x"] >> ops.NormalizeMinMax() >> ops.Rename(postfix="_mm"))
            + ["k"])
    nvt.Workflow(dag2).fit(b).save(pb)
    merged = nvt.merge_fits(nvt.Workflow.load(pa), nvt.Workflow.load(pb))
    wf_u = nvt.Workflow(
        (["x"] >> ops.Normalize() >> ops.Rename(postfix="_z"))
        + (["x"] >> ops.NormalizeMinMax() >> ops.Rename(postfix="_mm"))
        + ["k"]).fit(a.unionByName(b))
    got = _sorted(merged.transform(a))
    want = _sorted(wf_u.transform(a))
    import numpy as np
    for c in ("x_z", "x_mm"):
        assert np.allclose(got[c].to_numpy("float64"),
                           want[c].to_numpy("float64"), equal_nan=True), c
    # moments must actually survive save/load (not just the finalized
    # means): find the Normalize op and check its raw state is merged
    norm_ops = [n.op for n in merged.plan.order
                if type(n.op).__name__ == "Normalize"]
    assert norm_ops and norm_ops[0].moments
    n_rows_with_x = sum(1 for i in range(100) if i % 7 != 3)
    assert norm_ops[0].moments["x"][0] == n_rows_with_x


def test_merge_categorify_list_and_combo(spark):
    """Vocab merging must cover the list-column (exploded counts) and
    joint ('combo', multi-value-column vocab) shapes too."""
    def mk(lo, hi):
        rows = [(i, [f"u{(i + j) % 7}" for j in range(1 + i % 3)],
                 f"p{i % 4}", f"s{i % 2}") for i in range(lo, hi)]
        return spark.createDataFrame(pd.DataFrame(
            rows, columns=["k", "authors", "prio", "status"]))

    def dag():
        return ((["authors"] >> ops.Categorify())
                + ([["prio", "status"]] >> ops.Categorify(
                    encode_type="combo"))
                + ["k"])

    a, b = mk(0, 40), mk(40, 100)
    merged = nvt.merge_fits(nvt.Workflow(dag()).fit(a),
                            nvt.Workflow(dag()).fit(b))
    want = nvt.Workflow(dag()).fit(a.unionByName(b))
    probe = mk(0, 100)
    got_pdf = merged.transform(probe).orderBy("k").toPandas()
    want_pdf = want.transform(probe).orderBy("k").toPandas()
    assert [list(v) for v in got_pdf["authors"]] == \
           [list(v) for v in want_pdf["authors"]]
    assert got_pdf["prio_status"].tolist() == \
           want_pdf["prio_status"].tolist()


def test_merge_refusal_leaves_target_untouched(spark):
    """Two-phase validation: a refusal at ANY node must leave the
    target workflow exactly as fitted — never half-merged."""
    d1 = spark.createDataFrame(pd.DataFrame(
        {"x": [1.0, 2.0, 3.0], "y": [1.0, None, 3.0], "k": [0, 1, 2]}))
    d2 = spark.createDataFrame(pd.DataFrame(
        {"x": [10.0, 20.0], "y": [10.0, 20.0], "k": [3, 4]}))

    def dag():
        return ((["x"] >> ops.Normalize() >> ops.Rename(postfix="_z"))
                + (["y"] >> ops.FillMedian()) + ["k"])
    wa = nvt.Workflow(dag()).fit(d1)
    wb = nvt.Workflow(dag()).fit(d2)
    norm = [n.op for n in wa.plan.order
            if type(n.op).__name__ == "Normalize"][0]
    before = {k: list(v) for k, v in norm.moments.items()}
    with pytest.raises(WorkflowMergeError, match="not mergeable"):
        nvt.merge_fits(wa, wb)
    # Normalize (which COULD merge) was not mutated by the failed call
    assert {k: list(v) for k, v in norm.moments.items()} == before


def test_merge_randomized_partitions_equal_union(spark):
    """Randomized property: for random frames and random 3-way row
    partitions, chained merges (A+B)+C must equal the union fit —
    across Categorify, Normalize, MinMax and TargetEncoding."""
    import numpy as np
    rng = np.random.RandomState(31)
    for trial in range(3):
        n = int(rng.randint(30, 120))
        pdf = pd.DataFrame({
            "k": np.arange(n),
            "cat": rng.choice(list("abcdefg"), n),
            "x": np.where(rng.rand(n) < 0.15, np.nan, rng.randn(n) * 10),
            "label": rng.rand(n),
            "fold": rng.randint(0, 3, n),
        })
        parts = rng.randint(0, 3, n)
        frames = [spark.createDataFrame(pdf[parts == i])
                  for i in range(3)]
        union = spark.createDataFrame(pdf)

        fits = [nvt.Workflow(_dag()).fit(f) for f in frames
                if f.count() > 0]
        merged = fits[0]
        for other in fits[1:]:
            merged = nvt.merge_fits(merged, other)
        want = nvt.Workflow(_dag()).fit(union)

        got_pdf = _sorted(merged.transform(union))
        want_pdf = _sorted(want.transform(union))
        for c in got_pdf.columns:
            if got_pdf[c].dtype == object:
                assert got_pdf[c].tolist() == want_pdf[c].tolist(), \
                    (trial, c)
            else:
                assert np.allclose(
                    got_pdf[c].to_numpy("float64"),
                    want_pdf[c].to_numpy("float64"),
                    rtol=1e-8, atol=1e-8, equal_nan=True), (trial, c)


def test_merge_woe_and_expanding_te_equal_union_fit(spark):
    """WoE tables (pos, cnt per category) and the expanding-TE prior
    (count-weighted global mean) both merge EXACTLY: fit-per-partition
    + merge_fits must transform identically to the union fit."""
    rng = np.random.RandomState(31)
    def mk(start, n):
        return pd.DataFrame({
            "cat": rng.choice(["a", "b", "c"], n),
            "ent": rng.choice(["e1", "e2"], n),
            "ts": pd.to_datetime(
                np.arange(start, start + n) * 60, unit="s"),
            "y": rng.binomial(1, 0.4, n).astype("float64"),
            "rid": np.arange(start, start + n, dtype="int64"),
        })
    pa, pb = mk(0, 70), mk(70, 50)
    a, b = spark.createDataFrame(pa), spark.createDataFrame(pb)
    union = a.unionByName(b)

    def dag():
        return ((["cat"] >> ops.WoEEncoding(target="y", alpha=0.5))
                + (["ent"] >> ops.ExpandingTargetEncoding(
                    target="y", order_by="ts", p_smooth=3.0))
                + ["rid"])

    wf_a = nvt.Workflow(dag()).fit(a)
    wf_b = nvt.Workflow(dag()).fit(b)
    merged = nvt.merge_fits(wf_a, wf_b)
    wf_u = nvt.Workflow(dag()).fit(union)
    probe = spark.createDataFrame(mk(500, 40))
    got = merged.transform(probe).orderBy("rid").toPandas()
    want = wf_u.transform(probe).orderBy("rid").toPandas()
    for c in ("WOE_cat_y", "ETE_ent_y"):
        np.testing.assert_allclose(got[c].to_numpy("float64"),
                                   want[c].to_numpy("float64"),
                                   rtol=1e-12, err_msg=c)


def test_merge_woe_target_mismatch_refused(spark):
    pdf = pd.DataFrame({"cat": ["a", "b"], "y": [1.0, 0.0],
                        "z": [0.0, 1.0], "rid": [0, 1]})
    df = spark.createDataFrame(pdf)
    wf_a = nvt.Workflow((["cat"] >> ops.WoEEncoding(target="y"))
                        + ["rid"]).fit(df)
    wf_b = nvt.Workflow((["cat"] >> ops.WoEEncoding(target="z"))
                        + ["rid"]).fit(df)
    # the workflow-level param comparison rejects before the op-level
    # precheck (which guards direct op merges) gets a chance
    with pytest.raises(nvt.WorkflowMergeError,
                       match="params differ|targets differ"):
        nvt.merge_fits(wf_a, wf_b)
