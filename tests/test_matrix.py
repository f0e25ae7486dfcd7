"""M3 — matrix pivot + validation (SURVEY AGG-P1, JN6) and invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rgd_rnaseq_workflows_spark.operators.matrix import (
    matrix_measure, pivot_matrix, unpivot_matrix, validate_feature_alignment)


def _long(spark):
    rows = []
    for s in ("s1", "s2", "s3"):
        for i, g in enumerate(("Xist", "Uty", "Sry")):
            rows.append((s, g, float(i + 1), float(10 * (i + 1))))
    return spark.createDataFrame(
        rows, ["sample", "feature_id", "TPM", "expected_count"])


def test_pivot_shape_and_values(spark):
    wide = pivot_matrix(_long(spark), "TPM")
    assert wide.columns == ["Symbol", "s1", "s2", "s3"]
    row = {r["Symbol"]: r for r in wide.collect()}
    assert row["Uty"]["s2"] == 2.0
    assert len(row) == 3


def test_pivot_preserves_per_sample_sum(spark):
    # SURVEY §5.4 property: pivot preserves Σ TPM per sample
    long_df = _long(spark)
    wide = pivot_matrix(long_df, "TPM")
    for s in ("s1", "s2", "s3"):
        total_wide = wide.agg(F.sum(s)).collect()[0][0]
        total_long = (long_df.filter(F.col("sample") == s)
                      .agg(F.sum("TPM")).collect()[0][0])
        assert total_wide == total_long


def test_unpivot_roundtrip(spark):
    long_df = _long(spark)
    wide = pivot_matrix(long_df, "TPM")
    back = unpivot_matrix(wide, measure_name="TPM")
    orig = {(r["sample"], r["feature_id"]): r["TPM"] for r in long_df.collect()}
    rt = {(r["sample"], r["feature_id"]): r["TPM"] for r in back.collect()}
    assert orig == rt


def test_validation_catches_missing_feature(spark):
    # the Perl builder's "Number of lines among samples are not equal!"
    long_df = _long(spark).filter(
        ~((F.col("sample") == "s2") & (F.col("feature_id") == "Sry")))
    with pytest.raises(ValueError, match=r"differ across samples: \['s2'\]"):
        validate_feature_alignment(long_df)


def test_validation_catches_same_size_different_set(spark):
    # equal per-sample counts, different sets: only the total can tell
    long_df = _long(spark).withColumn(
        "feature_id", F.when((F.col("sample") == "s3")
                             & (F.col("feature_id") == "Sry"), "Ddx3y")
        .otherwise(F.col("feature_id")))
    with pytest.raises(ValueError,
                       match=r"\['s1', 's2', 's3'\]"):
        validate_feature_alignment(long_df)


def test_validation_passes_aligned(spark):
    # the sample list it returns is the pivot's column list
    assert validate_feature_alignment(_long(spark)) == ["s1", "s2", "s3"]


def test_one_pivot_pass_carries_both_measures(spark):
    long_df = _long(spark)
    samples = validate_feature_alignment(long_df)
    wide = pivot_matrix(long_df, ["TPM", "expected_count"], samples=samples)
    for measure in ("TPM", "expected_count"):
        got = matrix_measure(wide, measure, samples)
        want = pivot_matrix(long_df, measure, samples=samples)
        assert got.columns == want.columns == ["Symbol", *samples]
        assert sorted(got.collect()) == sorted(want.collect())


def test_matrix_measure_quotes_dotted_sample_ids(spark):
    long_df = _long(spark).withColumn(
        "sample", F.concat(F.col("sample"), F.lit(".v1")))
    wide = pivot_matrix(long_df, ["TPM", "expected_count"],
                        samples=["s1.v1", "s2.v1", "s3.v1"])
    rows = {r["Symbol"]: r for r in
            matrix_measure(wide, "TPM", ["s1.v1", "s2.v1", "s3.v1"])
            .collect()}
    assert rows["Uty"]["s2.v1"] == 2.0


def test_pivot_width_ceiling(spark):
    from rgd_rnaseq_workflows_spark.operators.matrix import pivot_matrix
    import pytest
    long_df = spark.createDataFrame(
        [(f"s{i}", "g1", float(i)) for i in range(3)],
        ["sample", "feature_id", "tpm"])
    # under the ceiling: normal pivot
    wide = pivot_matrix(long_df, "tpm", max_width=3)
    assert wide.columns == ["Symbol", "s0", "s1", "s2"]
    # over the ceiling: refuse to build the unusable wide plan
    with pytest.raises(ValueError, match="max_width"):
        pivot_matrix(long_df, "tpm", max_width=2)
    # an explicit over-wide samples list is refused too
    with pytest.raises(ValueError, match="max_width"):
        pivot_matrix(long_df, "tpm", samples=["s0", "s1", "s2"],
                     max_width=2)
