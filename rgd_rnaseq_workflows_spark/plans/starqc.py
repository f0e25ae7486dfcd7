"""M1 — STARQC: STAR alignment-log QC summary.

Reproduces ``scripts/pSTARQC_v1.sh:50-99``: for each sample's
``Log.final.out``, extract input reads and the three unmapped counts,
compute ``unmapped_total`` and ``Unmapped_Rate`` (%), classify:

- missing log           → Status NO_LOG     (``:73-76``)
- input reads == 0      → Status INVALID_LOG (``:84-87``)
- unmapped_pct < 50.0   → PASS else FAIL    (``:93-94``, strict <)

The engine computes all samples in one distributed plan: key-value scan
(SRC3) → pivot → arithmetic (AGG6) → CASE (FIL4). Missing logs surface via
a left join from the expected-sample list (FIL9 outer-join null handling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rgd_rnaseq_workflows_spark.operators.relational import sorted_report
from rgd_rnaseq_workflows_spark.sources.star_log import kv_long_to_wide
from rgd_rnaseq_workflows_spark.sources.tsv import write_tsv_observed

K_INPUT = "Number of input reads"
K_MISM = "Number of reads unmapped: too many mismatches"
K_SHORT = "Number of reads unmapped: too short"
K_OTHER = "Number of reads unmapped: other"
KEYS = [K_INPUT, K_MISM, K_SHORT, K_OTHER]
STATUSES = ("FAIL", "INVALID_LOG", "NO_LOG", "PASS")


def starqc_summary(star_kv: DataFrame, expected_samples: DataFrame,
                   pass_threshold: float = 50.0) -> DataFrame:
    """(sample,key,value) long table + expected-sample list → STARQC summary.

    ``expected_samples``: one ``sample`` column (the deduped AccList GSMs);
    samples with no parsed log rows become NO_LOG, matching the reference's
    file-existence guard as a relational outer join.
    """
    wide = kv_long_to_wide(star_kv, KEYS)
    for k, alias in [(K_INPUT, "input_reads"), (K_MISM, "unmapped_mism"),
                     (K_SHORT, "unmapped_short"), (K_OTHER, "unmapped_other")]:
        wide = wide.withColumn(alias, F.col(f"`{k}`").cast("long"))
    wide = wide.select("sample", "input_reads", "unmapped_mism",
                       "unmapped_short", "unmapped_other")

    joined = expected_samples.join(wide, "sample", "left")
    unmapped_total = (F.col("unmapped_mism") + F.col("unmapped_short")
                      + F.col("unmapped_other"))
    rate = F.round(unmapped_total * 100.0 / F.col("input_reads"), 2)
    status = (
        F.when(F.col("input_reads").isNull(), "NO_LOG")
        .when(F.col("input_reads") == 0, "INVALID_LOG")
        .when(rate < pass_threshold, "PASS")
        .otherwise("FAIL"))
    # the reference emits NA (typed NULL here) for the derived measures of
    # NO_LOG and INVALID_LOG rows (pSTARQC_v1.sh:74,85) — an INVALID row
    # still shows its literal 0 input_reads
    computable = ~status.isin("NO_LOG", "INVALID_LOG")
    return sorted_report(joined.select(
        F.col("sample").alias("SampleID"),
        F.col("input_reads").alias("Input_Reads"),
        F.when(computable, unmapped_total).alias("Unmapped_Total"),
        F.when(computable, rate).alias("Unmapped_Rate"),
        status.alias("Status")), "SampleID")


def write_starqc_summary(summary: DataFrame, path: str) -> dict[str, int]:
    """SNK1 — sink the summary under the reference's exact header
    (``pSTARQC_v1.sh:63``: ``SampleID input_reads unaligned_reads
    Unmapped_Rate Status``) and return the per-status counts (AGG5) of the
    rows written, statuses with no row left out.

    The internal names stay typed — the resume-path ``read_tsv`` parses
    by position against ``STARQC_SUMMARY``, so the alias is sink-only. The
    counts are observed on the write itself: no second action."""
    counts = write_tsv_observed(
        summary.select(F.col("SampleID"),
                       F.col("Input_Reads").alias("input_reads"),
                       F.col("Unmapped_Total").alias("unaligned_reads"),
                       "Unmapped_Rate", "Status"),
        path,
        {s: F.count(F.when(F.col("Status") == s, 1)) for s in STATUSES},
        single_file=True,
        sentinel_map={"input_reads": "NA", "unaligned_reads": "NA",
                      "Unmapped_Rate": "NA"},
        float_format={"Unmapped_Rate": 2})
    return {s: n for s, n in counts.items() if n}
