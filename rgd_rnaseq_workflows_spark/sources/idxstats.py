"""SRC4 — samtools idxstats ingestion.

The reference pipes ``samtools idxstats`` through grep/awk per sample
(``scripts/ComputeSex_v5.sh:111-117``). The engine ingests the 4-column
output of all samples as one DataFrame (sample, chrom, seq_length, mapped,
unmapped); everything downstream (coverage ratios, sex inference) is
relational — see ``plans.sexcheck``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rgd_rnaseq_workflows_spark.sources.tsv import glob_source

IDXSTATS_FILE = T.StructType([
    T.StructField("chrom", T.StringType()),
    T.StructField("seq_length", T.LongType()),
    T.StructField("mapped", T.LongType()),
    T.StructField("unmapped", T.LongType()),
])


def read_idxstats(spark: SparkSession, glob_path: str,
                  sample_pattern: str = r"([^/]+)\.idxstats$") -> DataFrame:
    """Read per-sample idxstats TSVs (no header, 4 cols) into the D4 table."""
    path, options = glob_source(spark, glob_path)
    df = (spark.read.option("sep", "\t").options(**options)
          .schema(IDXSTATS_FILE).csv(path)
          .withColumn("sample",
                      F.regexp_extract(F.input_file_name(), sample_pattern, 1)))
    return df.select("sample", "chrom", "seq_length", "mapped", "unmapped")
