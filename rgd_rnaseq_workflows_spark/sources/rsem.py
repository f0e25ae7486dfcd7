"""SRC5 — RSEM per-sample results scan.

The reference hardcodes column positions (TPM = 1-based col 6, counts col 5:
``dependencies/rsem-generate-data-matrix:16-17,28-43``) and extracts
``$1,$6`` with awk (``archive/illuminaPaired_multipleSRA_IDperSample_v3/
GeneTPMbed_v2.sh:72``). We read header-aware and select by NAME, fixing the
positional fragility, and derive the sample ID from the file path the same
way the matrix builder uses the file basename as the column header
(``dependencies/rsem-generate-data-matrix:72-77``, function F4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rgd_rnaseq_workflows_spark.schemas import (
    EXPRESSION_LONG, RSEM_GENES, RSEM_ISOFORMS)
from rgd_rnaseq_workflows_spark.sources.tsv import glob_source


def read_rsem_results(spark: SparkSession, glob_path: str,
                      feature_col: str = "gene_id",
                      isoforms: bool = False) -> DataFrame:
    """Distributed scan of many ``*.genes.results`` (or, with
    ``isoforms=True``, ``*.isoforms.results``/``*.transcripts.results``)
    files → long-form expression table (sample, feature_id, TPM,
    expected_count).

    One Spark job reads every per-sample file; the reference loops files
    serially in Perl. ``input_file_name()`` + basename (F4) recovers the
    sample; the ``.genes.results`` suffix is stripped as in
    ``scripts/ConflictedSampleReport_v4.sh:52`` (F3). The isoforms layout
    (transcript_id first, extra IsoPct column; ``dependencies/
    rsem-generate-data-matrix:16-17``) shares the measure columns.
    """
    schema = RSEM_ISOFORMS if isoforms else RSEM_GENES
    if isoforms and feature_col == "gene_id":
        feature_col = RSEM_ISOFORMS.fields[0].name
    path, options = glob_source(spark, glob_path)
    df = (spark.read.option("sep", "\t").option("header", True)
          .options(**options).schema(schema).csv(path)
          .withColumn("_path", F.input_file_name()))
    sample = F.regexp_replace(
        F.element_at(F.split(F.col("_path"), "/"), -1),
        r"\.(genes|isoforms|transcripts)\.results$", "")
    return (df.select(
        sample.alias("sample"),
        F.col(feature_col).alias("feature_id"),
        F.col("TPM").cast("double").alias("TPM"),
        F.col("expected_count").cast("double").alias("expected_count"))
        .select(*[f.name for f in EXPRESSION_LONG.fields]))
