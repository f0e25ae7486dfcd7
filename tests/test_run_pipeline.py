"""CLI pipeline runner: full run, output shapes, and marker-based resume."""

from __future__ import annotations

import glob
import os

from rgd_rnaseq_workflows_spark import run_pipeline

GENES = ["Xist", "Uty", "Sry", "Ddx3y", "Kdm5d", "Eif2s3y", "Actb"]


def _fixtures(root):
    acc = ["Run\tgeo_accession\tTissue\tStrain\tSex\tPMID\tGEOpath\tTitle\t"
           "Sample_characteristics\tStrainInfo"]
    for i, (gsm, sex) in enumerate([("GSM1", "M"), ("GSM2", "M"),
                                    ("GSM3", "F")]):
        acc.append(f"SRR{i}\t{gsm}\tLiver\tBN\t{sex}\t1\tu\tt\tc\ts")
    with open(f"{root}/AccList.txt", "w") as f:
        f.write("\n".join(acc) + "\n")
    for gsm, unmapped in [("GSM1", 100), ("GSM2", 7000), ("GSM3", 200)]:
        os.makedirs(f"{root}/logs/{gsm}", exist_ok=True)
        with open(f"{root}/logs/{gsm}/Log.final.out", "w") as f:
            f.write(f"  Number of input reads |\t10,000\n"
                    f"  Number of reads unmapped: too many mismatches |\t{unmapped}\n"
                    f"  Number of reads unmapped: too short |\t0\n"
                    f"  Number of reads unmapped: other |\t0\n")
    os.makedirs(f"{root}/rsem", exist_ok=True)
    for si, gsm in enumerate(["GSM1", "GSM3"], 1):
        with open(f"{root}/rsem/{gsm}.genes.results", "w") as f:
            f.write("gene_id\ttranscript_id(s)\tlength\teffective_length\t"
                    "expected_count\tTPM\tFPKM\n")
            for gi, g in enumerate(GENES):
                f.write(f"{g}\tNM_{gi}\t1000\t900\t{10 * si}.00\t"
                        f"{gi + si}.00\t1.0\n")
    os.makedirs(f"{root}/idx", exist_ok=True)
    with open(f"{root}/idx/GSM1.idxstats", "w") as f:
        f.write("chrX\t1000\t2000\t0\nchrY\t1000\t1000\t0\n")
    with open(f"{root}/idx/GSM3.idxstats", "w") as f:
        f.write("chrX\t1000\t5000\t0\nchrY\t1000\t0\t0\n")


def _read_single(path_glob):
    [p] = glob.glob(path_glob)
    with open(p) as f:
        return f.read().strip().split("\n")


def _argv(root, out):
    return ["--acclist", f"{root}/AccList.txt",
            "--star-logs", f"{root}/logs/*/Log.final.out",
            "--rsem", f"{root}/rsem/*.genes.results",
            "--idxstats", f"{root}/idx/*.idxstats",
            "--out", out, "--project", "PRJT"]


def test_cli_layout_routing_excludes_se_runs(spark, tmp_out):
    """SRC9 end-to-end: a mixed-layout FASTQ inventory routes SE runs away
    from the PE pipeline instance (the reference's exit-2 contract)."""
    _fixtures(tmp_out)
    for run, files in [("SRR0", ["SRR0_1.fastq.gz", "SRR0_2.fastq.gz"]),
                       ("SRR1", ["SRR1_1.fastq.gz", "SRR1_2.fastq.gz"]),
                       ("SRR2", ["SRR2.fastq.gz"])]:       # GSM3: single-end
        os.makedirs(f"{tmp_out}/fastq/{run}", exist_ok=True)
        for fn in files:
            open(f"{tmp_out}/fastq/{run}/{fn}", "w").close()
    out = f"{tmp_out}/out_pe"
    argv = _argv(tmp_out, out) + [
        "--layout", "PE", "--fastq-inventory", f"{tmp_out}/fastq/*/*.fastq.gz"]
    assert run_pipeline.main(argv) == 0
    qc = _read_single(f"{out}/STAR_Align_sum/part*.csv")
    # GSM3's run is SE → excluded before STARQC; GSM1/GSM2 remain
    assert not any("GSM3" in line for line in qc)
    assert len(qc) == 3                                 # header + 2 samples
    passed = _read_single(f"{out}/Unique_AccList_PASS/part*.csv")
    assert len(passed) == 2 and "GSM1" in passed[1]     # GSM2 fails QC


def test_cli_se_instance_processes_only_se_runs(spark, tmp_out):
    """The SE pipeline instance (--layout SE) is the same engine with the
    routing inverted (SURVEY §7.3: downstream operators are identical;
    SRA2QC_SE_v1.sh:166-179 rejects paired runs symmetrically)."""
    _fixtures(tmp_out)
    for run, files in [("SRR0", ["SRR0.fastq.gz"]),          # GSM1: SE
                       ("SRR1", ["SRR1_1.fastq.gz", "SRR1_2.fastq.gz"]),
                       ("SRR2", ["SRR2.fastq.gz"])]:         # GSM3: SE
        os.makedirs(f"{tmp_out}/fastq/{run}", exist_ok=True)
        for fn in files:
            open(f"{tmp_out}/fastq/{run}/{fn}", "w").close()
    out = f"{tmp_out}/out_se"
    argv = _argv(tmp_out, out) + [
        "--layout", "SE", "--fastq-inventory", f"{tmp_out}/fastq/*/*.fastq.gz"]
    assert run_pipeline.main(argv) == 0
    qc = _read_single(f"{out}/STAR_Align_sum/part*.csv")
    # GSM2's run is paired → routed away from the SE instance
    assert not any("GSM2" in line for line in qc)
    passed = _read_single(f"{out}/Unique_AccList_PASS/part*.csv")
    # both SE samples pass QC (GSM1 100, GSM3 200 unmapped of 10k)
    assert len(passed) == 3
    tpm = _read_single(f"{out}/GeneMat_TPM/part*.csv")
    assert tpm[0] == "Symbol\tGSM1\tGSM3"


def test_cli_full_run_and_resume(spark, tmp_out):
    _fixtures(tmp_out)
    out = f"{tmp_out}/out"
    assert run_pipeline.main(_argv(tmp_out, out)) == 0

    qc = _read_single(f"{out}/STAR_Align_sum/part*.csv")
    assert qc[0].startswith("SampleID\t")
    assert any(line.endswith("FAIL") and "GSM2" in line for line in qc)

    passed = _read_single(f"{out}/Unique_AccList_PASS/part*.csv")
    assert passed[0].split("\t")[0] == "Run"       # reference column order
    assert len(passed) == 3                         # header + 2 PASS samples

    sex = _read_single(f"{out}/sex_result/part*.csv")
    assert any("Inf" in line for line in sex)       # GSM3 chrY=0 sentinel

    tpm = _read_single(f"{out}/GeneMat_TPM/part*.csv")
    assert tpm[0] == "Symbol\tGSM1\tGSM3"

    # steps 10-11: per-sample track JSONs + session document
    import json
    tracks = sorted(glob.glob(f"{out}/tracks/*/RNAseq_*.json"))
    assert len(tracks) == 2                          # GSM1 + GSM3 (PASS)
    doc = json.load(open(tracks[0]))
    assert doc["type"] == "FeatureTrack" and doc["trackId"].startswith("RNAseq_")
    assert doc["metadata"]["Computed Sex"] in ("M", "F", "Unknown")
    session = json.load(open(f"{out}/session.json"))
    assert len(session["session"]["sessionTracks"]) == 2
    assert {t["configuration"] for t in
            session["session"]["views"][0]["tracks"][1:]} == \
        {d["trackId"] for d in map(json.load, map(open, tracks))}

    markers = sorted(os.listdir(f"{out}/.markers"))
    assert markers == ["PRJT.matrix_complete", "PRJT.pass_complete",
                       "PRJT.sex_complete", "PRJT.starqc_complete",
                       "PRJT.tracks_complete"]

    # resume: drop matrix marker + artifact; stage recomputes from disk
    os.remove(f"{out}/.markers/PRJT.matrix_complete")
    import shutil
    shutil.rmtree(f"{out}/GeneMat_TPM")
    assert run_pipeline.main(_argv(tmp_out, out)) == 0
    tpm2 = _read_single(f"{out}/GeneMat_TPM/part*.csv")
    assert sorted(tpm2) == sorted(tpm)


def test_cli_multiqc_stage(spark, tmp_out):
    """SNK8 wired as the final non-critical stage: --qc-scan-root points at
    the scratch tree like the reference's final MultiQC pass
    (RSEMmatrix_v5.sh:126-128)."""
    _fixtures(tmp_out)
    out = f"{tmp_out}/out_mq"
    argv = _argv(tmp_out, out) + ["--qc-scan-root", tmp_out]
    assert run_pipeline.main(argv) == 0
    html = open(f"{out}/PRJT_multiQC_report.html").read()
    assert "GSM1" in html and "GSM3" in html
    gen = _read_single(
        f"{out}/PRJT_multiQC_report_data/multiqc_general_stats.txt/part*")
    assert gen[0].startswith("sample\t")
    assert len(gen) == 4                            # header + GSM1..GSM3
    assert os.path.exists(f"{out}/.markers/PRJT.multiqc_complete")


def test_cli_bed_stage_runs_index_post_step(spark, tmp_out, monkeypatch):
    """SNK5 end-to-end through the CLI: --gene-bed produces a per-PASS-
    sample sorted BED9 track and executes the bgzip/tabix post-step
    (GeneTPMbed_v2.sh:139-161) when the tools are on PATH. htslib is
    absent in CI, so stub executables with the reference tools' observable
    contract (bgzip -f: file -> file.gz; tabix -p bed: file.gz ->
    file.gz.tbi) gate-check the wiring; against real htslib the same
    stage emits genuine indexes."""
    import gzip
    import stat
    import sys as _sys
    _fixtures(tmp_out)
    gbed = f"{tmp_out}/genes.bed"
    with open(gbed, "w") as f:
        f.write("chr1\t100\t200\tXist\nchr2\t50\t150\tUty\n"
                "NW_1\t1\t2\tSry\nchr3\t7\t8\tActb\n")
    bin_dir = f"{tmp_out}/bin"
    os.makedirs(bin_dir, exist_ok=True)
    with open(f"{bin_dir}/bgzip", "w") as f:
        f.write(f"""#!{_sys.executable}
import gzip, os, sys
path = sys.argv[-1]
with open(path, 'rb') as src, gzip.open(path + '.gz', 'wb') as dst:
    dst.write(src.read())
os.remove(path)
""")
    with open(f"{bin_dir}/tabix", "w") as f:
        f.write(f"""#!{_sys.executable}
import sys
open(sys.argv[-1] + '.tbi', 'wb').write(b'TBI\\x01')
""")
    for t in ("bgzip", "tabix"):
        os.chmod(f"{bin_dir}/{t}", os.stat(f"{bin_dir}/{t}").st_mode
                 | stat.S_IXUSR)
    monkeypatch.setenv("PATH", f"{bin_dir}:{os.environ['PATH']}")
    out = f"{tmp_out}/out_bed"
    argv = _argv(tmp_out, out) + ["--gene-bed", gbed]
    assert run_pipeline.main(argv) == 0
    for gsm in ("GSM1", "GSM3"):                     # the PASS samples
        bgz = f"{out}/beds/{gsm}/RNAseq_{gsm}_TPM.bed.gz"
        assert os.path.exists(bgz), "bgzip artifact missing"
        assert os.path.exists(f"{bgz}.tbi"), "tabix artifact missing"
        assert not os.path.exists(bgz[:-3]), "plain BED should be replaced"
        body = gzip.open(bgz, "rt").read().strip().split("\n")
        # scaffold row filtered; remaining rows sorted BED9 with RGB col
        assert all(len(line.split("\t")) == 9 for line in body)
        assert [line.split("\t")[0] for line in body] == \
            sorted(line.split("\t")[0] for line in body)
        assert not any(line.startswith("NW_") for line in body)
    assert os.path.exists(f"{out}/.markers/PRJT.bed_complete")


def test_cli_coverage_stage_writes_tracks(spark, tmp_out):
    """--alignments adds the coverage stage: per-sample bedGraph +
    chrom.sizes land under out/coverage (bigwig encoding tool-gated)."""
    _fixtures(tmp_out)
    aln = spark.createDataFrame(
        [("GSM1", "chr1", 5, 10, 255), ("GSM1", "chr1", 12, 5, 255),
         ("GSM3", "chr2", 0, 10, 255)],
        ["sample", "chrom", "pos", "read_len", "mapq"])
    aln.write.mode("overwrite").parquet(f"{tmp_out}/aln.parquet")
    out = f"{tmp_out}/out"
    rc = run_pipeline.main(_argv(tmp_out, out)
                           + ["--alignments", f"{tmp_out}/aln.parquet"])
    assert rc == 0
    for s in ("GSM1", "GSM3"):
        bg = open(f"{out}/coverage/{s}/RNAseq_{s}.bedGraph").read()
        assert bg.count("\n") >= 1
        assert os.path.exists(f"{out}/coverage/{s}/chrom.sizes")


def test_cli_coverage_stage_uses_shared_genome_sizes(spark, tmp_out):
    """VERDICT r6 task 6: with --genome-sizes, every sample's
    chrom.sizes carries the SHARED BAM-header bounds (the reference's
    bamCoverage emits header-sized BigWigs), identical across samples,
    not per-sample coverage-derived maxima."""
    _fixtures(tmp_out)
    aln = spark.createDataFrame(
        [("GSM1", "chr1", 5, 10, 255), ("GSM1", "chr1", 12, 5, 255),
         ("GSM3", "chr1", 100, 10, 255), ("GSM3", "chr2", 0, 10, 255)],
        ["sample", "chrom", "pos", "read_len", "mapq"])
    aln.write.mode("overwrite").parquet(f"{tmp_out}/aln.parquet")
    with open(f"{tmp_out}/genome.chrom.sizes", "w") as fh:
        fh.write("chr1\t248956422\nchr2\t242193529\n")
    out = f"{tmp_out}/out_gs"
    rc = run_pipeline.main(
        _argv(tmp_out, out)
        + ["--alignments", f"{tmp_out}/aln.parquet",
           "--genome-sizes", f"{tmp_out}/genome.chrom.sizes"])
    assert rc == 0
    sizes = {}
    for s in ("GSM1", "GSM3"):
        with open(f"{out}/coverage/{s}/chrom.sizes") as fh:
            for line in fh.read().strip().split("\n"):
                chrom, size = line.split("\t")
                sizes.setdefault(chrom, set()).add((s, int(size)))
    # chr1 appears in both samples with the SAME header-derived bound
    assert {sz for _, sz in sizes["chr1"]} == {248956422}
    assert len(sizes["chr1"]) == 2
    assert {sz for _, sz in sizes["chr2"]} == {242193529}


def test_cli_regen_sex_json_after_manual_correction(spark, tmp_out):
    """sex_json_regen_v2.sh twin: after a manual sex correction in the
    accession list, --regen-sex-json re-runs EXACTLY the conflict
    report + per-sample track JSONs + session (markers cleared), reuses
    everything upstream via its markers, and the regenerated artifacts
    reflect the corrected sex."""
    import json
    import pytest

    _fixtures(tmp_out)
    out = f"{tmp_out}/out_regen"
    assert run_pipeline.main(_argv(tmp_out, out)) == 0
    tpm_before = _read_single(f"{out}/GeneMat_TPM/part*.csv")
    qc_mtime = os.path.getmtime(
        glob.glob(f"{out}/STAR_Align_sum/part*.csv")[0])

    # the manual correction: GSM1 was mislabeled M, the curator fixes
    # the accession list to F (the reference's use case verbatim)
    with open(f"{tmp_out}/AccList.txt") as f:
        acc = f.read()
    with open(f"{tmp_out}/AccList.txt", "w") as f:
        f.write(acc.replace("SRR0\tGSM1\tLiver\tBN\tM",
                            "SRR0\tGSM1\tLiver\tBN\tF"))

    assert run_pipeline.main(
        _argv(tmp_out, out) + ["--regen-sex-json"]) == 0

    # the conflict report reflects the corrected input sex: GSM1's
    # idxstats say male (X/Y reads 2000/1000 → ratio 2), input now F
    sex = _read_single(f"{out}/sex_result/part*.csv")
    [gsm1] = [line for line in sex if line.startswith("GSM1")]
    assert "\tF\t" in gsm1 and "\tM" in gsm1    # InputSex=F, ComputedSex=M
    rep = _read_single(f"{out}/ConflictedSampleReport/part*.csv")
    assert any("GSM1" in line for line in rep)

    # the track metadata regenerated off the corrected unique_name
    tracks = sorted(glob.glob(f"{out}/tracks/*/RNAseq_*.json"))
    assert any("Liver_BN_F_GSM1" in t for t in tracks)
    session = json.load(open(f"{out}/session.json"))
    assert len(session["session"]["sessionTracks"]) == 2

    # upstream stages were NOT re-run (markers honored): QC artifact
    # untouched, matrix identical
    assert os.path.getmtime(
        glob.glob(f"{out}/STAR_Align_sum/part*.csv")[0]) == qc_mtime
    assert _read_single(f"{out}/GeneMat_TPM/part*.csv") == tpm_before

    # fail-loud contract: regen without the sex inputs is an error
    argv_noidx = [a for i, a in enumerate(_argv(tmp_out, out))
                  if a != "--idxstats"
                  and (i == 0 or _argv(tmp_out, out)[i - 1] != "--idxstats")]
    with pytest.raises(SystemExit):
        run_pipeline.main(argv_noidx + ["--regen-sex-json"])


def _stage_log(capsys):
    return [line for line in capsys.readouterr().err.splitlines()
            if line.startswith("[orchestrator]")]


def test_cli_zero_pass_stops_before_downstream(spark, tmp_out, capsys):
    """No sample passes STAR QC: the zero-PASS guard (observed on the
    PASS-list write) fails the critical pass stage, so main returns 1,
    no pass marker is written and no downstream stage runs."""
    _fixtures(tmp_out)
    for gsm in ("GSM1", "GSM3"):                    # GSM2 already fails
        with open(f"{tmp_out}/logs/{gsm}/Log.final.out", "w") as f:
            f.write("  Number of input reads |\t10,000\n"
                    "  Number of reads unmapped: too many mismatches |\t9000\n"
                    "  Number of reads unmapped: too short |\t0\n"
                    "  Number of reads unmapped: other |\t0\n")
    out = f"{tmp_out}/out"
    assert run_pipeline.main(_argv(tmp_out, out)) == 1
    assert os.listdir(f"{out}/.markers") == ["PRJT.starqc_complete"]
    assert any("'pass', 'failed: no samples passed STAR QC'" in line
               for line in _stage_log(capsys))
    assert not os.path.exists(f"{out}/GeneMat_TPM")
    assert not os.path.exists(f"{out}/sex_result")


def test_cli_feature_set_mismatch_fails_matrix_before_writing(
        spark, tmp_out, capsys):
    """A sample whose RSEM feature set differs fails the matrix stage
    with the offender named, and neither GeneMat matrix is written."""
    _fixtures(tmp_out)
    path = f"{tmp_out}/rsem/GSM3.genes.results"
    with open(path) as f:
        lines = f.read().splitlines()
    with open(path, "w") as f:                      # GSM3 loses Actb
        f.write("\n".join(lines[:-1]) + "\n")
    out = f"{tmp_out}/out"
    assert run_pipeline.main(_argv(tmp_out, out)) == 1
    assert any("'matrix', \"failed: feature sets differ across samples: "
               "['GSM3']\"" in line for line in _stage_log(capsys))
    assert not os.path.exists(f"{out}/GeneMat_TPM")
    assert not os.path.exists(f"{out}/GeneMat_counts")
    assert not os.path.exists(f"{out}/.markers/PRJT.matrix_complete")


def test_cli_glob_matching_no_file_fails(spark, tmp_out, capsys):
    """An RSEM or idxstats glob over an existing directory that matches no
    file fails its stage as a missing path; it never yields an empty
    matrix or sex table."""
    _fixtures(tmp_out)
    out = f"{tmp_out}/out_rsem"
    argv = _argv(tmp_out, out)
    argv[argv.index("--rsem") + 1] = f"{tmp_out}/rsem/*.isoforms.results"
    assert run_pipeline.main(argv) == 1
    assert any("'matrix', 'failed: [PATH_NOT_FOUND]" in line
               for line in _stage_log(capsys))
    assert not os.path.exists(f"{out}/GeneMat_TPM")

    out = f"{tmp_out}/out_idx"
    argv = _argv(tmp_out, out)
    argv[argv.index("--idxstats") + 1] = f"{tmp_out}/idx/*.idx"
    assert run_pipeline.main(argv) == 0             # sex is non-critical
    assert any("'sex', 'failed: [PATH_NOT_FOUND]" in line
               for line in _stage_log(capsys))
    assert not os.path.exists(f"{out}/sex_result")
    assert not os.path.exists(f"{out}/.markers/PRJT.sex_complete")


# Spark jobs of one run on the 3-sample fixture. Each stage spends one
# action per artifact it writes; under adaptive execution an action is
# one job per shuffle or cache it materializes, plus its result job.
# A side action (a count, a probe, a discovery collect) raises this.
MAX_PIPELINE_JOBS = 31


def test_cli_job_count(spark, tmp_out):
    _fixtures(tmp_out)
    sc = spark.sparkContext
    group = f"job-count-{os.getpid()}"
    sc.setJobGroup(group, "run_pipeline job count")
    try:
        assert run_pipeline.main(_argv(tmp_out, f"{tmp_out}/out")) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= MAX_PIPELINE_JOBS, (
        f"run_pipeline ran {n} Spark jobs (bound {MAX_PIPELINE_JOBS})")
