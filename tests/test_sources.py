"""Sources: TSV sentinel round-trip, RSEM reader, idxstats reader."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from rgd_rnaseq_workflows_spark.schemas import SEX_RESULT
from rgd_rnaseq_workflows_spark.sources.idxstats import read_idxstats
from rgd_rnaseq_workflows_spark.sources.rsem import read_rsem_results
from rgd_rnaseq_workflows_spark.sources.tsv import read_tsv, write_tsv

RSEM_HEADER = ("gene_id\ttranscript_id(s)\tlength\teffective_length\t"
               "expected_count\tTPM\tFPKM\n")


def test_tsv_sentinel_roundtrip(spark, tmp_out):
    schema = T.StructType([
        T.StructField("SampleID", T.StringType()),
        T.StructField("Ratio", T.DoubleType()),
        T.StructField("Note", T.StringType()),
    ])
    df = spark.createDataFrame(
        [("GSM1", 1.5, "x"), ("GSM2", None, None)], schema)
    out_dir = os.path.join(tmp_out, "out")
    write_tsv(df, out_dir, sentinel_map={"Ratio": "Inf", "Note": "NA"},
              single_file=True)
    txt = ""
    for f in os.listdir(out_dir):
        if f.endswith(".csv"):
            txt = open(os.path.join(out_dir, f)).read()
    assert "Inf" in txt and "NA" in txt
    # read side: sentinels become NULLs again
    schema_str = T.StructType([
        T.StructField("SampleID", T.StringType()),
        T.StructField("Ratio", T.StringType()),
        T.StructField("Note", T.StringType()),
    ])
    back = read_tsv(spark, out_dir, schema_str, null_sentinels=("Inf", "NA"))
    row = {r["SampleID"]: r for r in back.collect()}
    assert row["GSM2"]["Ratio"] is None and row["GSM2"]["Note"] is None
    assert row["GSM1"]["Ratio"] == "1.5"


def test_rsem_reader_derives_sample_from_path(spark, tmp_out):
    for sample, tpm in (("GSMA", "10.50"), ("GSMB", "0.00")):
        with open(os.path.join(tmp_out, f"{sample}.genes.results"), "w") as f:
            f.write(RSEM_HEADER)
            f.write(f"Xist\tNM_1\t1000\t900\t50.00\t{tpm}\t8.0\n")
            f.write(f"Uty\tNM_2\t1000\t900\t10.00\t1.00\t1.0\n")
    df = read_rsem_results(spark, f"{tmp_out}/*.genes.results")
    assert df.columns == ["sample", "feature_id", "TPM", "expected_count"]
    rows = {(r["sample"], r["feature_id"]): r["TPM"] for r in df.collect()}
    assert rows[("GSMA", "Xist")] == 10.5
    assert rows[("GSMB", "Xist")] == 0.0
    assert len(rows) == 4


def test_idxstats_reader(spark, tmp_out):
    with open(os.path.join(tmp_out, "GSM9.idxstats"), "w") as f:
        f.write("chrX\t1000\t500\t3\nchrY\t900\t0\t0\n")
    df = read_idxstats(spark, f"{tmp_out}/*.idxstats")
    rows = {r["chrom"]: r for r in df.collect()}
    assert rows["chrX"]["sample"] == "GSM9"
    assert rows["chrX"]["mapped"] == 500
    assert rows["chrY"]["mapped"] == 0


def test_sex_result_schema_shape():
    names = [f.name for f in SEX_RESULT.fields]
    assert names == ["SampleID", "InputSex", "ComputedSex", "Ratio", "Agreement"]


def test_rsem_isoforms_reader(spark, tmp_out):
    hdr = ("transcript_id\tgene_id\tlength\teffective_length\t"
           "expected_count\tTPM\tFPKM\tIsoPct\n")
    with open(os.path.join(tmp_out, "GSMT.isoforms.results"), "w") as f:
        f.write(hdr)
        f.write("NM_1\tXist\t1000\t900\t50.00\t12.50\t8.0\t100.00\n")
        f.write("NM_2\tUty\t800\t700\t10.00\t1.25\t1.0\t40.00\n")
    df = read_rsem_results(spark, f"{tmp_out}/*.isoforms.results",
                           isoforms=True)
    rows = {(r["sample"], r["feature_id"]): r["TPM"] for r in df.collect()}
    # feature grain is the TRANSCRIPT id for the Tx matrices
    assert rows == {("GSMT", "NM_1"): 12.5, ("GSMT", "NM_2"): 1.25}


def test_write_tsv_bc_format_bytes(spark, tmp_out):
    """The bc_format sink path renders bc's exact strings (ComputeSex
    writes bc output verbatim): fixed 6 decimals, no leading zero under
    1, bare 0, Inf sentinel for NULL."""
    import glob
    from rgd_rnaseq_workflows_spark.sources.tsv import write_tsv
    df = spark.createDataFrame(
        [("a", 2.5), ("b", 0.000249), ("c", 0.0), ("d", None),
         ("e", 41.666666)],
        "k string, Ratio double")
    out = f"{tmp_out}/bc_sink"
    write_tsv(df.orderBy("k"), out, single_file=True,
              sentinel_map={"Ratio": "Inf"}, bc_format={"Ratio": 6})
    [part] = glob.glob(f"{out}/part*.csv")
    lines = open(part).read().strip().split("\n")
    assert lines[1:] == ["a\t2.500000", "b\t.000249", "c\t0",
                         "d\tInf", "e\t41.666666"]


def test_glob_source_reads_file_name_glob_as_directory(spark, tmp_out):
    """A glob whose only wildcard is in the file name is read as its
    directory plus pathGlobFilter; every other shape passes through."""
    from rgd_rnaseq_workflows_spark.sources.tsv import glob_source
    d = os.path.join(tmp_out, "rsem")
    os.makedirs(d)
    for name in ("GSM1.genes.results", "GSM2.genes.results", "notes.txt",
                 ".GSMX.genes.results"):
        open(os.path.join(d, name), "w").close()
    assert glob_source(spark, f"{d}/*.genes.results") == \
        (d, {"pathGlobFilter": "*.genes.results"})
    assert glob_source(spark, f"file://{d}/GSM?.genes.results") == \
        (f"file://{d}", {"pathGlobFilter": "GSM?.genes.results"})
    unchanged = [
        [f"{d}/GSM1.genes.results", f"{d}/GSM2.genes.results"],  # a list
        f"{d}/GSM1.genes.results",                  # no wildcard
        f"{tmp_out}/*/GSM1.genes.results",          # wildcard in a dir
        f"{d}/GSM[12].genes.results",               # beyond * and ?
        f"{d}/*.isoforms.results",                  # matches nothing
        f"{d}/.*.genes.results",                    # only a hidden match
        f"{tmp_out}/missing/*.genes.results",       # no such directory
        f"hdfs://nn/{d}/*.genes.results",           # not local
    ]
    for path in unchanged:
        assert glob_source(spark, path) == (path, {}), path
    # a subdirectory (RSEM's <sample>.stat/) keeps the plain glob, so
    # nothing below the directory is ever read
    os.makedirs(os.path.join(d, "GSM1.stat"))
    assert glob_source(spark, f"{d}/*.genes.results") == \
        (f"{d}/*.genes.results", {})


def test_rsem_and_idxstats_readers_skip_subdirectories(spark, tmp_out):
    """Both readers see the same files through either listing path: the
    matched top-level files only, never files in a subdirectory."""
    d = os.path.join(tmp_out, "in")
    os.makedirs(os.path.join(d, "GSM9.stat"))
    for sample in ("GSMA", "GSMB"):
        with open(os.path.join(d, f"{sample}.genes.results"), "w") as f:
            f.write(RSEM_HEADER + "Xist\tNM_1\t1000\t900\t5.00\t1.00\t8.0\n")
        with open(os.path.join(d, f"{sample}.idxstats"), "w") as f:
            f.write("chrX\t1000\t20\t0\n")
    with open(os.path.join(d, "GSM9.stat", "GSM9.genes.results"), "w") as f:
        f.write(RSEM_HEADER + "Xist\tNM_1\t1000\t900\t5.00\t1.00\t8.0\n")
    import shutil
    for subdir in (True, False):
        if not subdir:
            shutil.rmtree(os.path.join(d, "GSM9.stat"))
        rsem = read_rsem_results(spark, f"{d}/*.genes.results")
        assert sorted(r["sample"] for r in rsem.collect()) == ["GSMA", "GSMB"]
        idx = read_idxstats(spark, f"{d}/*.idxstats")
        assert sorted(r["sample"] for r in idx.collect()) == ["GSMA", "GSMB"]
