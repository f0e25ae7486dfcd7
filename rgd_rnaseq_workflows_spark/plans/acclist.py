"""M2 — AccList processing: dedup, PASS filtering, run→sample grouping.

Reproduces the controller's sample bookkeeping
(``scripts/run_RNApipeline_pairedG8_diskGuard.bash``):
- drop rows with empty geo_accession (FIL1, ``:262``)
- dedup to one row per GSM keeping the lexicographically-first Run
  (AGG4 ``sort -u -t$'\\t' -k2,2``, ``:362-366``) — pinned deterministic
- PASS semi-join against the STARQC report (JN1, ``:429-431``)
- zero-PASS abort on the written PASS list (AGG5, ``:434-449``); the
  per-status counts ride on the STARQC sink (``plans.starqc``)
- per-sample run grouping: all runs, first metadata (AGG2/AGG3, ``:281-290``)
- ``unique_name = Tissue_Strain_Sex_GSM`` (PRJ3/F1, ``:286``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rgd_rnaseq_workflows_spark.operators.relational import (
    collect_group_list, dedup_keep_first, first_per_group, semi_join_filter)
from rgd_rnaseq_workflows_spark.schemas import ACCLIST
from rgd_rnaseq_workflows_spark.sources.tsv import write_tsv_observed


class ZeroPassError(RuntimeError):
    """The reference aborts when no sample passes QC (``run_RNApipeline:445-449``)."""


def clean_acclist(acclist: DataFrame) -> DataFrame:
    """FIL1 — drop empty/null geo_accession rows."""
    return acclist.filter(
        F.col("geo_accession").isNotNull() & (F.col("geo_accession") != ""))


def unique_acclist(acclist: DataFrame) -> DataFrame:
    """AGG4 — one row per GSM, keeping the lexicographically-first Run."""
    return dedup_keep_first(clean_acclist(acclist),
                            ["geo_accession"], ["Run"])


def pass_filter(unique_acc: DataFrame, starqc: DataFrame) -> DataFrame:
    """JN1 — keep samples whose STARQC Status is PASS."""
    pass_ids = (starqc.filter(F.col("Status") == "PASS")
                .select(F.col("SampleID").alias("geo_accession")))
    return semi_join_filter(unique_acc, pass_ids, "geo_accession")


def write_pass_list(passed: DataFrame, path: str) -> int:
    """SNK1 + AGG5 — sink the PASS AccList and abort when it is empty.

    Like the reference's ``wc -l`` on the list it just wrote
    (``run_RNApipeline:434-449``), the guard reads the row count observed
    on the write, so it costs no action of its own; the list is written
    either way and the caller's completion marker is not. The column
    order is pinned to the reference's (Run first): the equi-join moves
    the key to the front, and the resume-path ``read_tsv`` parses by
    POSITION against ``ACCLIST``."""
    n = write_tsv_observed(passed.select(*[f.name for f in ACCLIST.fields]),
                           path, {"n": F.count(F.lit(1))},
                           single_file=True)["n"]
    if n == 0:
        raise ZeroPassError("no samples passed STAR QC")
    return n


def sample_groups(acclist: DataFrame) -> DataFrame:
    """AGG2 + AGG3 + PRJ3 — per-GSM run list, first metadata, unique_name."""
    cleaned = clean_acclist(acclist)
    runs = collect_group_list(cleaned, "geo_accession", "Run", alias="runs")
    meta = first_per_group(cleaned, "geo_accession", "Run",
                           ["Tissue", "Strain", "Sex"])
    return (meta.join(runs, "geo_accession")
            .withColumn("unique_name",
                        F.concat_ws("_", "Tissue", "Strain", "Sex",
                                    "geo_accession")))
