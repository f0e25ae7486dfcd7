"""M2 — AccList dedup / PASS filter / grouping (SURVEY AGG2-AGG5, JN1, FIL1)."""

from __future__ import annotations

import pytest

from rgd_rnaseq_workflows_spark.plans.acclist import (
    ZeroPassError, clean_acclist, pass_filter, sample_groups, unique_acclist,
    write_pass_list)

COLS = ["Run", "geo_accession", "Tissue", "Strain", "Sex", "PMID",
        "GEOpath", "Title", "Sample_characteristics", "StrainInfo"]


def _acclist(spark):
    rows = [
        ("SRR2", "GSM1", "Liver", "BN", "M", "1", "u", "t", "c", "s"),
        ("SRR1", "GSM1", "Liver", "BN", "M", "1", "u", "t", "c", "s"),
        ("SRR3", "GSM2", "Brain", "SHR", "F", "1", "u", "t", "c", "s"),
        ("SRR4", "", "Brain", "SHR", "F", "1", "u", "t", "c", "s"),
        ("SRR5", "GSM3", "Heart", "BN", "F", "1", "u", "t", "c", "s"),
    ]
    return spark.createDataFrame(rows, COLS)


def _starqc(spark):
    rows = [("GSM1", 100, 10, 10.0, "PASS"),
            ("GSM2", 100, 60, 60.0, "FAIL"),
            ("GSM3", 100, 10, 10.0, "PASS")]
    return spark.createDataFrame(
        rows, ["SampleID", "Input_Reads", "Unmapped_Total",
               "Unmapped_Rate", "Status"])


def test_clean_drops_empty_gsm(spark):
    assert clean_acclist(_acclist(spark)).count() == 4


def test_unique_keeps_lexicographically_first_run(spark):
    # sort -u -k2,2 keeps the first run in byte order (run_RNApipeline:362-366)
    rows = {r["geo_accession"]: r["Run"]
            for r in unique_acclist(_acclist(spark)).collect()}
    assert rows == {"GSM1": "SRR1", "GSM2": "SRR3", "GSM3": "SRR5"}


def test_pass_filter_semi_join(spark):
    out = pass_filter(unique_acclist(_acclist(spark)), _starqc(spark))
    assert sorted(r["geo_accession"] for r in out.collect()) == ["GSM1", "GSM3"]


def test_zero_pass_aborts(spark, tmp_out):
    # the guard reads the row count observed on the PASS-list write
    passed = pass_filter(unique_acclist(_acclist(spark)), _starqc(spark))
    assert write_pass_list(passed, f"{tmp_out}/pass") == 2
    all_fail = _starqc(spark).replace("PASS", "FAIL", "Status")
    with pytest.raises(ZeroPassError):
        write_pass_list(pass_filter(unique_acclist(_acclist(spark)),
                                    all_fail), f"{tmp_out}/none")


def test_sample_groups(spark):
    rows = {r["geo_accession"]: r for r in
            sample_groups(_acclist(spark)).collect()}
    assert rows["GSM1"]["runs"] == "SRR1,SRR2"
    # AGG3: metadata from first (min Run) row
    assert rows["GSM1"]["Tissue"] == "Liver"
    assert rows["GSM1"]["unique_name"] == "Liver_BN_M_GSM1"
    assert set(rows) == {"GSM1", "GSM2", "GSM3"}
