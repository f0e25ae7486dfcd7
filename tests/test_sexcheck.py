"""M4 — sex inference + conflict report (SURVEY AGG8, F10-F12, JN4, FIL8)."""

from __future__ import annotations

from rgd_rnaseq_workflows_spark.functions.formatting import sentinel_inf
from rgd_rnaseq_workflows_spark.plans.sexcheck import (
    SEX_GENES, compute_sex, conflict_report)


def _idxstats(spark):
    # GSM1: ratio ~ (100000/1000)/(1000/1000) = 100 > 40 → F
    # GSM2: chrY mapped=0 → ratio Inf → F (ComputeSex_v5.sh:120-122)
    # GSM3: ratio exactly 40.0 → NOT > 40 → M (boundary, :125-129)
    rows = [
        ("GSM1", "chrX", 1000, 100000, 0), ("GSM1", "chrY", 1000, 1000, 0),
        ("GSM2", "chrX", 1000, 5000, 0), ("GSM2", "chrY", 1000, 0, 0),
        ("GSM3", "chrX", 1000, 40000, 0), ("GSM3", "chrY", 1000, 1000, 0),
        ("GSM1", "chr1", 1000, 99999, 0),   # ignored chromosome
        ("GSM1", "NW_1", 1000, 5, 0),       # scaffold, ignored
    ]
    return spark.createDataFrame(
        rows, ["sample", "chrom", "seq_length", "mapped", "unmapped"])


def _input_sex(spark):
    return spark.createDataFrame(
        [("GSM1", "F"), ("GSM2", "M"), ("GSM3", "M")],
        ["sample", "InputSex"])


def test_compute_sex_ratio_inf_and_boundary(spark):
    out = {r["SampleID"]: r for r in
           compute_sex(_idxstats(spark), _input_sex(spark)).collect()}
    assert out["GSM1"]["ComputedSex"] == "F"
    assert out["GSM1"]["Agreement"] == "Agree"
    # y coverage 0 → NULL ratio internally, computed F
    assert out["GSM2"]["Ratio"] is None
    assert out["GSM2"]["ComputedSex"] == "F"
    assert out["GSM2"]["Agreement"] == "Conflict"
    # exact threshold 40.0 is NOT > 40 → M
    assert out["GSM3"]["Ratio"] == 40.0
    assert out["GSM3"]["ComputedSex"] == "M"


def test_inf_sentinel_rendering(spark):
    sex = compute_sex(_idxstats(spark), _input_sex(spark))
    rendered = {r["SampleID"]: r["RatioStr"] for r in
                sex.withColumn("RatioStr", sentinel_inf("Ratio")).collect()}
    assert rendered["GSM2"] == "Inf"
    assert rendered["GSM3"] != "Inf"


def test_conflict_report_gene_slice(spark):
    sex = compute_sex(_idxstats(spark), _input_sex(spark))
    expr_rows = [("GSM%d" % i, g, float(i * 10 + j), 1.0)
                 for i in (1, 2, 3)
                 for j, g in enumerate(SEX_GENES)]
    expr_rows.append(("GSM1", "Actb", 999.0, 1.0))  # non-sex gene excluded
    expr = spark.createDataFrame(
        expr_rows, ["sample", "feature_id", "TPM", "expected_count"])
    rep = conflict_report(sex, expr)
    cols = rep.columns
    assert cols == ["SampleID", "InputSex", "ComputedSex", "XYRatio",
                    "Agreement", *SEX_GENES]
    row = {r["SampleID"]: r for r in rep.collect()}
    assert row["GSM1"]["Xist"] == 10.0
    assert row["GSM2"]["Eif2s3y"] == 25.0
    assert "Actb" not in cols


def test_compute_sex_calls_only_input_samples(spark):
    # a FAILed sample's idxstats still sit beside the PASS ones
    # (run_RNApipeline:461 iterates the PASS AccList only)
    extra = spark.createDataFrame(
        [("GSM9", "chrX", 1000, 100, 0), ("GSM9", "chrY", 1000, 100, 0)],
        ["sample", "chrom", "seq_length", "mapped", "unmapped"])
    out = compute_sex(_idxstats(spark).unionByName(extra), _input_sex(spark))
    assert [r["SampleID"] for r in out.collect()] == ["GSM1", "GSM2", "GSM3"]
