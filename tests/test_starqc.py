"""M1 — STARQC plan: semantics corners from SURVEY §5.1.

Fixtures model scripts/pSTARQC_v1.sh's inputs: missing log → NO_LOG,
zero input reads → INVALID_LOG, unmapped_pct == 50.0 → FAIL (strict <),
comma-grouped numbers stripped (F2).
"""

from __future__ import annotations

import os

from rgd_rnaseq_workflows_spark.plans.starqc import (
    KEYS, starqc_summary, write_starqc_summary)
from rgd_rnaseq_workflows_spark.sources.star_log import read_star_logs

LOG_TEMPLATE = """\
                                 Started job on |	Feb 13 04:00:00
                          Number of input reads |	{input_reads}
   Number of reads unmapped: too many mismatches |	{mism}
            Number of reads unmapped: too short |	{short}
                Number of reads unmapped: other |	{other}
"""


def _write_log(root, sample, input_reads, mism, short, other):
    d = os.path.join(root, sample)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "Log.final.out"), "w") as f:
        f.write(LOG_TEMPLATE.format(input_reads=input_reads, mism=mism,
                                    short=short, other=other))


def _expected(spark, samples):
    return spark.createDataFrame([(s,) for s in samples], ["sample"])


def test_starqc_statuses(spark, tmp_out):
    # healthy PASS (comma-grouped digits), exact 50% FAIL boundary,
    # INVALID_LOG (0 reads), NO_LOG (no file)
    _write_log(tmp_out, "GSM1", "24,776,293", "1,000", "2,000", "3,000")
    _write_log(tmp_out, "GSM2", "1,000", "200", "200", "100")   # 50.0 → FAIL
    _write_log(tmp_out, "GSM3", "0", "0", "0", "0")             # INVALID
    kv = read_star_logs(spark, f"{tmp_out}/*/Log.final.out")
    out = starqc_summary(kv, _expected(spark, ["GSM1", "GSM2", "GSM3", "GSM4"]))
    rows = {r["SampleID"]: r for r in out.collect()}

    assert rows["GSM1"]["Status"] == "PASS"
    assert rows["GSM1"]["Input_Reads"] == 24776293
    assert rows["GSM1"]["Unmapped_Total"] == 6000

    # pSTARQC_v1.sh:93-94 — PASS requires strictly < 50.0
    assert rows["GSM2"]["Unmapped_Rate"] == 50.0
    assert rows["GSM2"]["Status"] == "FAIL"

    assert rows["GSM3"]["Status"] == "INVALID_LOG"
    assert rows["GSM4"]["Status"] == "NO_LOG"
    assert rows["GSM4"]["Input_Reads"] is None


def test_kv_scan_trims_and_decommas(spark, tmp_out):
    _write_log(tmp_out, "GSMX", "5,000", "100", "100", "100")
    kv = read_star_logs(spark, f"{tmp_out}/*/Log.final.out")
    vals = {r["key"]: r["value"] for r in kv.collect()}
    assert vals[KEYS[0]] == "5000"
    assert all(k == k.strip() for k in vals)


def test_write_starqc_summary_counts(spark, tmp_out):
    """AGG5: the per-status counts (the reference's wc -l arithmetic) are
    observed on the summary's own write, statuses with no row left out,
    and the sink keeps the reference header and row order."""
    import glob
    _write_log(tmp_out, "GSM2", "1,000", "10", "0", "0")        # PASS
    _write_log(tmp_out, "GSM1", "1,000", "900", "0", "0")       # FAIL
    _write_log(tmp_out, "GSM3", "1,000", "10", "0", "0")        # PASS
    kv = read_star_logs(spark, f"{tmp_out}/*/Log.final.out")
    summary = starqc_summary(kv, _expected(spark, ["GSM3", "GSM1", "GSM2"]))
    counts = write_starqc_summary(summary, f"{tmp_out}/sum")
    assert counts == {"FAIL": 1, "PASS": 2}
    [part] = glob.glob(f"{tmp_out}/sum/part-*.csv")
    lines = open(part).read().split("\n")
    assert lines[0] == ("SampleID\tinput_reads\tunaligned_reads\t"
                        "Unmapped_Rate\tStatus")
    assert [line.split("\t")[0] for line in lines[1:4]] == \
        ["GSM1", "GSM2", "GSM3"]
