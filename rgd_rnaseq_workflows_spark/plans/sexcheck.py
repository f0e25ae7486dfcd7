"""M4 — sex inference from chrX/chrY coverage + conflict report.

Reproduces ``scripts/ComputeSex_v5.sh:82-172``:
- per sample: coverage = mapped / seq_length for chrX and chrY (bc scale=6
  truncation, ``:113,117``)
- ratio = x_cov / y_cov; y_cov == 0 → literal "Inf" (``:120-124``) —
  modeled as NULL internally, sentinel at sink
- ComputedSex: ratio > 40.0 → F else M; Inf → F (``:125-129``)
- Agreement: InputSex == ComputedSex → Agree else Conflict (``:133-138``)

And ``scripts/ConflictedSampleReport_v4.sh``: the sex table joined with the
TPM matrix slice of six sex genes (FIL8 ``:30``: Xist Uty Sry Ddx3y Kdm5d
Eif2s3y) — the reference's O(n²) grep loop (``:78-92``) becomes one pivot +
one equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rgd_rnaseq_workflows_spark.functions.formatting import bc_div_scaled
from rgd_rnaseq_workflows_spark.operators.relational import sorted_report

SEX_GENES = ("Xist", "Uty", "Sry", "Ddx3y", "Kdm5d", "Eif2s3y")

_SCALE = 6


def compute_sex(idxstats: DataFrame, input_sex: DataFrame,
                ratio_threshold: float = 40.0) -> DataFrame:
    """idxstats (sample, chrom, seq_length, mapped, unmapped) + input sex
    (sample, InputSex) → D7 sex_result table (Ratio nullable = Inf).

    All divisions run in exact scaled-integer arithmetic so coverage and
    Ratio match ``bc scale=6`` byte-for-byte (the chain is
    x_cov = trunc(x_mapped/x_len), y_cov likewise, ratio = trunc(x_cov/y_cov)
    — with scaled integers X, Y that last step is exactly (X·10^6) div Y).
    The 40.0 threshold compares scaled integers, so boundary samples can't
    flip on double rounding.

    Only samples with an ``input_sex`` row are called: ComputeSex_v5.sh
    iterates the PASS AccList (``run_RNApipeline:461``), while FAILed
    samples' idxstats files still sit in the same directory. The join
    runs before the pivot, which then groups by (sample, InputSex): one
    exchange, not a pivot exchange plus a join.
    """
    cov = (idxstats
           .filter(F.col("chrom").isin("chrX", "chrY"))
           .withColumn("cov", bc_div_scaled("mapped", "seq_length", _SCALE))
           .join(input_sex, "sample")
           .groupBy("sample", "InputSex")
           .pivot("chrom", ["chrX", "chrY"])
           .agg(F.first("cov")))
    ratio_scaled = F.when(F.col("chrY") == 0, F.lit(None)) \
                    .otherwise(bc_div_scaled("chrX", "chrY", _SCALE))
    with_ratio = (cov.withColumn("RatioScaled", ratio_scaled)
                  .withColumn("Ratio",
                              F.col("RatioScaled") / F.lit(float(10 ** _SCALE))))
    computed = F.when(F.col("RatioScaled").isNull()
                      | (F.col("RatioScaled")
                         > int(ratio_threshold * 10 ** _SCALE)),
                      "F").otherwise("M")
    out = (with_ratio
           .withColumn("ComputedSex", computed)
           .withColumn("Agreement",
                       F.when(F.col("InputSex") == F.col("ComputedSex"),
                              "Agree").otherwise("Conflict")))
    return sorted_report(out.select(
        F.col("sample").alias("SampleID"), "InputSex", "ComputedSex",
        "Ratio", "Agreement"), "SampleID")


def conflict_report(sex_result: DataFrame, expression_long: DataFrame,
                    genes: tuple[str, ...] = SEX_GENES,
                    how: str = "inner") -> DataFrame:
    """Sex table ⋈ pivoted six-gene TPM slice (JN4 + FIL8).

    Filter-then-pivot: only the six genes shuffle, not the whole matrix —
    at 100 TB the gene filter prunes before the exchange.

    ``how``: the PE pipeline drops sex rows absent from the matrix
    (``ConflictedSampleReport_v4.sh:78-92`` — inner); the SE mirror keeps
    them with ``NA`` gene values (``RGD_Illumina_SingleEnd_RNAseq_pipeline/
    ConflictedSampleReport_v5.sh:113-115`` — ``how="left"``, NULL gene
    columns that the TSV sink renders as NA).
    """
    slice_wide = (expression_long
                  .filter(F.col("feature_id").isin(*genes))
                  .groupBy(F.col("sample").alias("SampleID"))
                  .pivot("feature_id", list(genes))
                  .agg(F.first("TPM")))
    return sorted_report(
        sex_result.join(slice_wide, "SampleID", how)
        .select("SampleID", "InputSex", "ComputedSex",
                F.col("Ratio").alias("XYRatio"), "Agreement", *genes),
        "SampleID")
