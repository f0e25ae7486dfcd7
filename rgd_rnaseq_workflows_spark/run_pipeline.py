"""CLI entry point: run the full RNA-seq analytic pipeline on a project.

The Spark-native equivalent of the reference's step-2 controller
(``run_RNApipeline_pairedG8_diskGuard.bash``): one driver program, one
Catalyst lineage, marker-based incremental skip. A user of the reference
points this at the same artifacts (AccList TSV, STAR ``Log.final.out``
directories, RSEM ``.genes.results``, idxstats TSVs) and gets the same
outputs (STARQC summary, PASS AccList, TPM/counts matrices, sex result
with ``Inf`` sentinels, conflict report).

Usage:
  python -m rgd_rnaseq_workflows_spark.run_pipeline \
      --acclist AccList.txt --star-logs 'scratch/logs' \
      --rsem 'scratch/rsem' --idxstats 'scratch/idxstats' --out out/PRJ1
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from rgd_rnaseq_workflows_spark.plans.acclist import (
    pass_filter, unique_acclist, write_pass_list)
from rgd_rnaseq_workflows_spark.plans.orchestrator import Orchestrator, ProjectRun, Stage
from rgd_rnaseq_workflows_spark.plans.sexcheck import compute_sex, conflict_report
from rgd_rnaseq_workflows_spark.plans.starqc import (
    starqc_summary, write_starqc_summary)
from rgd_rnaseq_workflows_spark.operators.matrix import (
    matrix_measure, pivot_matrix, validate_feature_alignment)
from rgd_rnaseq_workflows_spark.schemas import ACCLIST
from rgd_rnaseq_workflows_spark.session import get_spark
from rgd_rnaseq_workflows_spark.sources.idxstats import read_idxstats
from rgd_rnaseq_workflows_spark.sources.rsem import read_rsem_results
from rgd_rnaseq_workflows_spark.sources.star_log import read_star_logs
from rgd_rnaseq_workflows_spark.sources.tsv import read_tsv, write_tsv


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="rgd_rnaseq_workflows_spark.run_pipeline",
        description="Spark-native RNA-seq project pipeline (STARQC → PASS "
                    "filter → matrices → sex check → conflict report)")
    p.add_argument("--acclist", required=True, help="AccList TSV (D1 schema)")
    p.add_argument("--star-logs", required=True,
                   help="glob for per-sample Log.final.out files")
    p.add_argument("--rsem", required=True,
                   help="glob for per-sample .genes.results files")
    p.add_argument("--rsem-tx", default=None,
                   help="glob for per-sample .isoforms/.transcripts.results "
                        "files (optional; adds the TxMat pair — the "
                        "reference's 4-matrix output, RSEMmatrix_v5.sh)")
    p.add_argument("--idxstats", default=None,
                   help="glob for per-sample .idxstats files (optional; "
                        "sex check skipped when absent — non-critical, "
                        "matching the reference)")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--project", default="project", help="project ID")
    p.add_argument("--layout", choices=["PE", "SE"], default="PE",
                   help="which layout this pipeline instance processes "
                        "(the reference ships separate PE and SE pipelines; "
                        "SURVEY §7.3)")
    p.add_argument("--gene-bed", default=None,
                   help="optional gene-annotation BED4 path; enables the "
                        "per-sample BED9 TPM track sink (SNK5, "
                        "GeneTPMbed_v2.sh) — bgzip+tabix indexing runs "
                        "automatically when both tools are on PATH")
    p.add_argument("--alignments", default=None,
                   help="alignment parquet (sample, chrom, pos, read_len, "
                        "mapq) — adds the coverage stage: binned BPM "
                        "tracks (STAR_bigwig2.sh bamCoverage semantics) "
                        "written as bedGraph + chrom.sizes, encoded to "
                        ".bw when bedGraphToBigWig is on PATH")
    p.add_argument("--bin-size", type=int, default=10,
                   help="coverage bin size (with --alignments)")
    p.add_argument("--genome-sizes", default=None,
                   help="shared UCSC chrom.sizes file (BAM-header genome "
                        "bounds) for the coverage stage: the reference's "
                        "bamCoverage emits header-sized BigWigs "
                        "(STAR_bigwig2.sh), so every sample's chrom.sizes "
                        "uses these bounds instead of per-sample "
                        "coverage-derived ones")
    p.add_argument("--qc-scan-root", default=None,
                   help="optional scratch-dir root for the aggregate QC "
                        "report (SNK8): scanned for STAR/samtools/idxstats/"
                        "RSEM logs like the reference's final MultiQC pass "
                        "(RSEMmatrix_v5.sh:126-128)")
    p.add_argument("--fastq-inventory", default=None,
                   help="optional glob of FASTQ paths; enables SRC9 layout "
                        "routing — AccList runs whose detected layout "
                        "differs from --layout are excluded up front (the "
                        "reference's exit-2 contract, "
                        "SRA2QC_production.sh:227-247)")
    p.add_argument("--regen-sex-json", action="store_true",
                   help="regenerate the sex/conflict report, per-sample "
                        "track JSONs and the session document from an "
                        "already-completed run (the reference's "
                        "sex_json_regen_v2.sh utility: pass the CORRECTED "
                        "accession list after a manual sex fix; completed "
                        "upstream stages are reused via their markers)")
    return p


def run(args: argparse.Namespace) -> int:
    spark = get_spark(f"rnaseq-{args.project}")
    try:
        return _run(spark, args)
    finally:
        # the pipeline caches its stage handles (unique/qc/passed/expr/
        # sex/tx); Spark's CacheManager keys cached plans by LOGICAL
        # PLAN, so a second run() in the same session (--regen-sex-json
        # after a manual acclist correction, or test suites) would
        # silently resolve the re-read input to the PREVIOUS run's
        # materialized rows. The CLI owns its session, so dropping all
        # cache entries on exit is safe and makes re-runs read disk.
        spark.catalog.clearCache()


def _run(spark, args: argparse.Namespace) -> int:
    out = args.out.rstrip("/")

    acclist = read_tsv(spark, args.acclist, ACCLIST)
    if args.fastq_inventory:
        import glob as _glob
        from rgd_rnaseq_workflows_spark.sources.layout import (
            classify_layout, inventory_from_paths, route_by_layout)
        inv = inventory_from_paths(
            spark, sorted(_glob.glob(args.fastq_inventory, recursive=True)))
        routed = route_by_layout(acclist, classify_layout(inv))
        for other, df in routed.items():
            if other != args.layout:
                n = df.count()
                if n:
                    print(f"[layout] {n} run(s) routed away from "
                          f"{args.layout}: {other}", file=sys.stderr)
        acclist = routed[args.layout]
    unique = unique_acclist(acclist).cache()
    expected = unique.select(F.col("geo_accession").alias("sample"))

    state = {}

    # On an incremental re-run a completed stage is skipped via its marker,
    # so downstream stages re-load its artifact from disk instead of the
    # in-memory handle (the reference's contract: success = artifact
    # exists, run_RNApipeline:171-209).
    def get_qc():
        if "qc" not in state:
            from rgd_rnaseq_workflows_spark.schemas import STARQC_SUMMARY
            state["qc"] = read_tsv(spark, f"{out}/STAR_Align_sum",
                                   STARQC_SUMMARY)
        return state["qc"]

    def get_passed():
        if "passed" not in state:
            state["passed"] = read_tsv(spark, f"{out}/Unique_AccList_PASS",
                                       ACCLIST)
        return state["passed"]

    def get_expr():
        if "expr" not in state:
            expr = read_rsem_results(spark, args.rsem)
            passed_ids = get_passed().select(
                F.col("geo_accession").alias("sample"))
            state["expr"] = expr.join(passed_ids, "sample", "left_semi")
        return state["expr"]

    # Each stage spends one Spark action per artifact it writes; side
    # statistics (status counts, the zero-PASS guard) are observed on
    # those writes rather than computed by actions of their own.
    def stage_starqc():
        kv = read_star_logs(spark, args.star_logs,
                            sample_pattern=r"([^/]+)/Log\.final\.out$")
        qc = starqc_summary(kv, expected).cache()
        state["qc"] = qc
        stats = write_starqc_summary(qc, f"{out}/STAR_Align_sum")
        print(f"[starqc] {stats}", file=sys.stderr)

    def stage_pass():
        passed = pass_filter(unique, get_qc()).cache()
        state["passed"] = passed
        write_pass_list(passed, f"{out}/Unique_AccList_PASS")

    def write_matrices(long_df, prefix):
        # the alignment check runs (and fails) before either matrix is
        # written; its one collect also yields the pivot column list
        samples = validate_feature_alignment(long_df)
        measures = {"TPM": "TPM", "counts": "expected_count"}
        wide = pivot_matrix(long_df, list(measures.values()),
                            samples=samples).cache()
        for name, measure in measures.items():
            write_tsv(matrix_measure(wide, measure, samples),
                      f"{out}/{prefix}_{name}", single_file=True)
        wide.unpersist()

    def stage_matrix():
        expr = get_expr().cache()
        state["expr"] = expr
        write_matrices(expr, "GeneMat")
        if args.rsem_tx:
            tx = read_rsem_results(spark, args.rsem_tx, isoforms=True)
            passed_ids = get_passed().select(
                F.col("geo_accession").alias("sample"))
            write_matrices(tx.join(passed_ids, "sample", "left_semi").cache(),
                           "TxMat")

    def stage_sex():
        if not args.idxstats:
            raise RuntimeError("no idxstats provided")
        # compute_sex calls only the samples of input_sex, the PASS list
        input_sex = get_passed().select(
            F.col("geo_accession").alias("sample"),
            F.col("Sex").alias("InputSex"))
        sex = compute_sex(read_idxstats(spark, args.idxstats),
                          input_sex).cache()
        state["sex"] = sex
        write_tsv(sex, f"{out}/sex_result", single_file=True,
                  sentinel_map={"Ratio": "Inf"}, bc_format={"Ratio": 6})
        rep = conflict_report(sex, get_expr())
        write_tsv(rep, f"{out}/ConflictedSampleReport", single_file=True,
                  sentinel_map={"XYRatio": "Inf"}, bc_format={"XYRatio": 6})

    def stage_tracks():
        # steps 10-11 of the reference DAG: per-sample track JSON (SNK3,
        # BWjson_v7.sh) + the project session document (SNK4,
        # make_jbrowse_session_for_bioproject.py). Both non-critical like
        # the reference (BWJSON_REQUIRED / session afterok, :716-784).
        import json as _json
        import os as _os
        from rgd_rnaseq_workflows_spark.plans.session_json import build_session
        from rgd_rnaseq_workflows_spark.sources.track_json import track_document
        passed = get_passed()
        if "sex" in state:
            sex = state["sex"]
        else:
            from rgd_rnaseq_workflows_spark.schemas import SEX_RESULT
            try:
                sex = read_tsv(spark, f"{out}/sex_result", SEX_RESULT)
            except Exception:
                sex = None
        rows = passed.withColumn(
            "unique_name", F.concat_ws("_", "Tissue", "Strain", "Sex",
                                       "geo_accession"))
        if sex is not None:
            rows = rows.join(
                sex.select(F.col("SampleID").alias("geo_accession"),
                           "ComputedSex"), "geo_accession", "left")
        else:
            rows = rows.withColumn("ComputedSex",
                                   F.lit(None).cast("string"))
        docs = rows.select(
            "geo_accession", "unique_name",
            F.to_json(track_document(args.project)).alias("doc")).collect()
        import glob as _glob
        for r in docs:                      # per-project: a handful of rows
            d = f"{out}/tracks/{r['geo_accession']}"
            _os.makedirs(d, exist_ok=True)
            # the filename embeds unique_name (tissue_strain_SEX_geo):
            # a regen after a sex correction mints a NEW name, so stale
            # docs must go or the session builder would pick up both
            for stale in _glob.glob(f"{d}/RNAseq_*.json"):
                _os.remove(stale)
            with open(f"{d}/RNAseq_{r['unique_name']}.json", "w") as f:
                f.write(r["doc"])
        session = build_session(spark, args.project, f"{out}/tracks")
        with open(f"{out}/session.json", "w") as f:
            _json.dump(session, f, indent=2)

    def stage_bed():
        # GeneTPMbed_v2.sh end-to-end: per-PASS-sample sorted BED9 TPM
        # track (SNK5), then the reference's bgzip/tabix post-step
        # (:139-161) executed via subprocess when htslib is on PATH —
        # the binary codecs stay outside the engine, but the CLI now
        # completes the served-track contract in one command
        import shutil as _shutil
        import subprocess as _subprocess
        from rgd_rnaseq_workflows_spark.plans.tracks import tpm_bed9
        from rgd_rnaseq_workflows_spark.sources.bed import (
            read_bed, write_indexed_bed)
        bed = read_bed(spark, args.gene_bed)
        expr = get_expr()
        samples = [r["sample"] for r in
                   expr.select("sample").distinct().orderBy("sample")
                   .collect()]
        have_tools = bool(_shutil.which("bgzip")
                          and _shutil.which("tabix"))
        if not have_tools:
            print("[bed] bgzip/tabix not on PATH; leaving sorted BEDs "
                  "unindexed", file=sys.stderr)
        for s in samples:           # per-project: bounded by sample count
            track = tpm_bed9(bed, expr.filter(F.col("sample") == s))
            cmds = write_indexed_bed(track, f"{out}/beds/{s}",
                                     bed_name=f"RNAseq_{s}_TPM.bed")
            if have_tools:
                for cmd in cmds:
                    _subprocess.run(cmd, check=True)
        print(f"[bed] {len(samples)} track(s) -> {out}/beds "
              f"(indexed={have_tools})", file=sys.stderr)

    def stage_multiqc():
        # the reference's final MultiQC aggregate over the scratch tree
        # (RSEMmatrix_v5.sh:126-128); || exit in the reference but the
        # pipeline artifacts already exist by then — non-critical here
        from rgd_rnaseq_workflows_spark.plans.multiqc import write_multiqc_report
        path = write_multiqc_report(spark, args.qc_scan_root, out,
                                    args.project)
        print(f"[multiqc] report: {path}", file=sys.stderr)

    def stage_coverage():
        # STAR_bigwig2.sh end-to-end: binned BPM coverage per sample
        # (AGG7 — oracle-checked operator), bedGraph + chrom.sizes sink,
        # then the reference's binary BigWig encoding executed via
        # subprocess when bedGraphToBigWig (UCSC tools) is on PATH —
        # same tool-gated contract as the bgzip/tabix BED stage
        import shutil as _shutil
        import subprocess as _subprocess
        from rgd_rnaseq_workflows_spark.operators.coverage import (
            binned_coverage)
        from rgd_rnaseq_workflows_spark.sources.bigwig import (
            read_chrom_sizes, write_bigwig_track)
        aln = spark.read.parquet(args.alignments)
        genome = (read_chrom_sizes(spark, args.genome_sizes)
                  if args.genome_sizes else None)
        # persist the aggregated coverage: each sample's sink runs two
        # actions (bedGraph write + chrom.sizes collect) — without the
        # cache every action would re-read and re-aggregate the whole
        # alignments table, scaling the stage as samples × full scans
        cov = binned_coverage(aln, bin_size=args.bin_size).persist()
        try:
            samples = [r["sample"] for r in
                       cov.select("sample").distinct().orderBy("sample")
                       .collect()]
            have_tool = bool(_shutil.which("bedGraphToBigWig"))
            if not have_tool:
                print("[coverage] bedGraphToBigWig not on PATH; leaving "
                      "bedGraph tracks unencoded", file=sys.stderr)
            for s in samples:       # per-project: bounded by sample count
                cmds = write_bigwig_track(
                    cov.filter(F.col("sample") == s).drop("sample"),
                    f"{out}/coverage/{s}", name=f"RNAseq_{s}",
                    bin_size=args.bin_size, genome_sizes=genome)
                if have_tool:
                    for cmd in cmds:
                        _subprocess.run(cmd, check=True)
        finally:
            cov.unpersist()
        print(f"[coverage] {len(samples)} track(s) -> {out}/coverage "
              f"(bigwig={have_tool})", file=sys.stderr)

    stages = [
        Stage("starqc", stage_starqc),
        Stage("pass", stage_pass),
        Stage("matrix", stage_matrix),
        # sex check is non-critical, run_RNApipeline:485-488
        Stage("sex", stage_sex, critical=False),
        # visualization artifacts, non-critical (run_RNApipeline:716-784)
        Stage("tracks", stage_tracks, critical=False),
    ]
    if args.gene_bed:
        # BED track generation is non-critical like the other
        # visualization artifacts (BWJSON_REQUIRED pattern, :716-784)
        stages.append(Stage("bed", stage_bed, critical=False))
    if args.alignments:
        # coverage tracks are visualization artifacts, non-critical
        stages.append(Stage("coverage", stage_coverage, critical=False))
    if args.qc_scan_root:
        stages.append(Stage("multiqc", stage_multiqc, critical=False))
    orch = Orchestrator(f"{out}/.markers")
    if args.regen_sex_json:
        # sex_json_regen_v2.sh:303-310,225-290,355-388 — re-run exactly
        # the conflict-report + track-JSON + session steps against the
        # (hand-corrected) accession list; everything upstream is reused
        # through its completion marker. The utility needs the sex
        # inputs, so missing idxstats is a loud error here even though
        # the stage itself is non-critical in a full run.
        if not args.idxstats:
            raise SystemExit(
                "--regen-sex-json requires --idxstats (the regenerated "
                "conflict report recomputes sex from idxstats)")
        # "pass" re-runs too (it reuses the QC artifact, so it is one
        # semi-join): the corrected Sex column must flow from the new
        # accession list into Unique_AccList_PASS, which is where the
        # sex stage's InputSex and the tracks' unique_name come from.
        # QC and matrices stay marker-skipped, like the reference.
        for st in ("pass", "sex", "tracks"):
            orch.clear(args.project, st)
    # run_project never reads the sample count, and counting would cost
    # a Spark job; the first stage to use ``unique`` fills its cache
    run_ = ProjectRun(args.project, 0, stages)
    ok = orch.run_project(run_)
    for entry in orch.log:
        print(f"[orchestrator] {entry}", file=sys.stderr)
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    return run(build_parser().parse_args(argv))


if __name__ == "__main__":
    raise SystemExit(main())
