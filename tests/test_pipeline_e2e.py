"""Golden end-to-end: the full analytic DAG of SURVEY §3.3 entry point C,
stages 4-9, on synthetic fixtures — files in, files out.

AccList → STARQC → PASS filter → RSEM long form → matrix pivot →
sex inference → conflict report, all one Spark lineage.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rgd_rnaseq_workflows_spark.operators.matrix import (
    pivot_matrix, validate_feature_alignment)
from rgd_rnaseq_workflows_spark.plans.acclist import (
    pass_filter, sample_groups, unique_acclist)
from rgd_rnaseq_workflows_spark.plans.sexcheck import (
    SEX_GENES, compute_sex, conflict_report)
from rgd_rnaseq_workflows_spark.plans.starqc import starqc_summary
from rgd_rnaseq_workflows_spark.sources.rsem import read_rsem_results
from rgd_rnaseq_workflows_spark.sources.star_log import read_star_logs

ACC_COLS = ["Run", "geo_accession", "Tissue", "Strain", "Sex", "PMID",
            "GEOpath", "Title", "Sample_characteristics", "StrainInfo"]

GENES = [*SEX_GENES, "Actb", "Gapdh"]

LOG = ("  Number of input reads |\t{n}\n"
       "  Number of reads unmapped: too many mismatches |\t{u}\n"
       "  Number of reads unmapped: too short |\t0\n"
       "  Number of reads unmapped: other |\t0\n")


def _fixtures(spark, root):
    # 3 samples; GSM3 fails STARQC (60% unmapped)
    acclist = spark.createDataFrame([
        ("SRR1", "GSM1", "Liver", "BN", "M", "1", "u", "t", "c", "s"),
        ("SRR2", "GSM1", "Liver", "BN", "M", "1", "u", "t", "c", "s"),
        ("SRR3", "GSM2", "Brain", "SHR", "M", "1", "u", "t", "c", "s"),
        ("SRR4", "GSM3", "Heart", "BN", "M", "1", "u", "t", "c", "s"),
    ], ACC_COLS)
    for gsm, unmapped in (("GSM1", 100), ("GSM2", 200), ("GSM3", 6000)):
        os.makedirs(f"{root}/logs/{gsm}", exist_ok=True)
        with open(f"{root}/logs/{gsm}/Log.final.out", "w") as f:
            f.write(LOG.format(n=10000, u=unmapped))
    os.makedirs(f"{root}/rsem", exist_ok=True)
    for si, gsm in enumerate(("GSM1", "GSM2"), start=1):  # GSM3 never quantified
        with open(f"{root}/rsem/{gsm}.genes.results", "w") as f:
            f.write("gene_id\ttranscript_id(s)\tlength\teffective_length\t"
                    "expected_count\tTPM\tFPKM\n")
            for gi, g in enumerate(GENES):
                f.write(f"{g}\tNM_{gi}\t1000\t900\t{10.0 * si}\t"
                        f"{float(gi + si)}\t1.0\n")
    idx = []
    # GSM1 male-like (low X/Y ratio), GSM2 chrY=0 → Inf → F
    idx += [("GSM1", "chrX", 1000, 2000, 0), ("GSM1", "chrY", 1000, 1000, 0)]
    idx += [("GSM2", "chrX", 1000, 5000, 0), ("GSM2", "chrY", 1000, 0, 0)]
    idxstats = spark.createDataFrame(
        idx, ["sample", "chrom", "seq_length", "mapped", "unmapped"])
    return acclist, idxstats


def test_full_pipeline(spark, tmp_out):
    acclist, idxstats = _fixtures(spark, tmp_out)

    # stage 4: dedup AccList (run_RNApipeline:362-366)
    unique = unique_acclist(acclist)
    assert unique.count() == 3

    # stage 5: STARQC over all logs in one scan (pSTARQC_v1.sh)
    kv = read_star_logs(spark, f"{tmp_out}/logs/*/Log.final.out")
    qc = starqc_summary(kv, unique.select(
        F.col("geo_accession").alias("sample")))
    statuses = {r["SampleID"]: r["Status"] for r in qc.collect()}
    assert statuses == {"GSM1": "PASS", "GSM2": "PASS", "GSM3": "FAIL"}

    # stage 6: PASS semi-join (run_RNApipeline:429-431)
    passed = pass_filter(unique, qc)
    pass_ids = sorted(r["geo_accession"] for r in passed.collect())
    assert pass_ids == ["GSM1", "GSM2"]

    # stage 7: sex inference — only PASS samples reach it
    input_sex = passed.select(F.col("geo_accession").alias("sample"),
                              F.col("Sex").alias("InputSex"))
    sex = compute_sex(idxstats, input_sex)
    srows = {r["SampleID"]: r for r in sex.collect()}
    assert srows["GSM1"]["ComputedSex"] == "M"
    assert srows["GSM1"]["Agreement"] == "Agree"
    assert srows["GSM2"]["Ratio"] is None          # Inf
    assert srows["GSM2"]["ComputedSex"] == "F"

    # stage 8-9: RSEM long form → validation → 2 matrices + conflict report
    expr = read_rsem_results(spark, f"{tmp_out}/rsem/*.genes.results")
    assert validate_feature_alignment(expr) == ["GSM1", "GSM2"]
    tpm = pivot_matrix(expr, "TPM")
    counts = pivot_matrix(expr, "expected_count")
    assert tpm.columns == ["Symbol", "GSM1", "GSM2"]
    trow = {r["Symbol"]: r for r in tpm.collect()}
    assert trow["Actb"]["GSM2"] == 8.0             # gi=6, si=2
    crow = counts.collect()[0]
    assert crow["GSM1"] == 10.0 and crow["GSM2"] == 20.0

    rep = conflict_report(sex, expr)
    rrows = {r["SampleID"]: r for r in rep.collect()}
    assert set(rrows) == {"GSM1", "GSM2"}
    assert rrows["GSM1"]["Xist"] == 1.0
    assert rrows["GSM2"]["Agreement"] == "Conflict"

    # run grouping metadata for the per-sample kernel stages (AGG2/AGG3)
    groups = {r["geo_accession"]: r["runs"]
              for r in sample_groups(acclist).collect()}
    assert groups["GSM1"] == "SRR1,SRR2"
