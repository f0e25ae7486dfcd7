"""Seeded inputs for the benchmark: RNA-seq projects and a document corpus.

Everything is derived from the seed, so the same seed writes the same
bytes. Each generator also returns what the program's outputs must be
(``ProjectTruth``/``CorpusTruth``); the program itself only sees the files.

RNA-seq projects follow FIXTURES.md §1-3: an AccList with multi-run GSMs
and one row without a GSM, STAR ``Log.final.out`` files with
comma-grouped values, RSEM ``genes.results`` with the six sex genes, and
idxstats over chr1-chr20, chrX, chrY and ``NW_*`` scaffolds. Every project
carries the edge cases: a missing log (NO_LOG), zero input reads
(INVALID_LOG), a sample at exactly 50.00% unmapped (FAIL), a PASS sample
with chrY = 0 (ratio ``Inf``), a PASS sample at an X/Y ratio of exactly
40 (computed M), and real rat strain names with and without ``/`` and a
``, extra`` suffix.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np

SEX_GENES = ("Xist", "Uty", "Sry", "Ddx3y", "Kdm5d", "Eif2s3y")
# FIXTURES.md §1's example strain comes first: every project has a PASS
# sample of that strain.
STRAINS = ("BN/NHsdMcwi", "SHR/NCrl", "WKY/NCrl", "F344/NHsd",
           "SS/JrHsdMcwi", "Sprague Dawley", "Wistar", "Lewis",
           "SHR/NCrl, spontaneously hypertensive",
           "Sprague Dawley, Crl:CD(SD)")
TISSUES = ("Liver", "Heart", "Kidney", "Brain", "Lung", "Adrenal gland",
           "Skeletal muscle", "Spleen")
# rn7 lengths of the sex chromosomes; autosomes get plausible sizes
CHRX_LEN = 152_453_651
CHRY_LEN = 18_315_841
ACCLIST_HEADER = ("Run", "geo_accession", "Tissue", "Strain", "Sex", "PMID",
                  "GEOpath", "Title", "Sample_characteristics", "StrainInfo")
STAR_KEYS = ("Number of input reads",
             "Number of reads unmapped: too many mismatches",
             "Number of reads unmapped: too short",
             "Number of reads unmapped: other")


@dataclass
class SampleTruth:
    gsm: str
    first_run: str
    strain: str
    input_sex: str
    status: str
    computed_sex: str | None = None     # PASS samples only
    ratio_inf: bool = False


@dataclass
class ProjectTruth:
    project: str
    root: str
    genes: list[str]
    samples: dict[str, SampleTruth] = field(default_factory=dict)

    @property
    def acclist(self) -> str:
        return f"{self.root}/AccList.txt"

    @property
    def pass_ids(self) -> list[str]:
        return sorted(s.gsm for s in self.samples.values()
                      if s.status == "PASS")

    def status_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.samples.values():
            out[s.status] = out.get(s.status, 0) + 1
        return out

    def pipeline_argv(self, out: str) -> list[str]:
        return ["--acclist", self.acclist,
                "--star-logs", f"{self.root}/logs/*/Log.final.out",
                "--rsem", f"{self.root}/rsem/*.genes.results",
                "--idxstats", f"{self.root}/idx/*.idxstats",
                "--out", out, "--project", self.project]


def _grouped(n: int) -> str:
    return f"{n:,}"


def _bc_scaled(numer: int, denom: int) -> int:
    """``bc scale=6`` quotient as a scaled integer (truncating)."""
    return numer * 10**6 // denom


def _star_log(input_reads: int, unmapped: tuple[int, int, int]) -> str:
    mism, short, other = unmapped
    uniq = max(input_reads - mism - short - other, 0)
    rows = [
        ("Started job on", "Jan 01 00:00:00"),
        ("Started mapping on", "Jan 01 00:01:00"),
        ("Finished on", "Jan 01 00:31:00"),
        ("Mapping speed, Million of reads per hour", "48.00"),
        ("Number of input reads", _grouped(input_reads)),
        ("Average input read length", "300"),
        ("UNIQUE READS:", None),
        ("Uniquely mapped reads number", _grouped(uniq)),
        ("MULTI-MAPPING READS:", None),
        ("Number of reads mapped to multiple loci", "0"),
        ("UNMAPPED READS:", None),
        ("Number of reads unmapped: too many mismatches", _grouped(mism)),
        ("Number of reads unmapped: too short", _grouped(short)),
        ("Number of reads unmapped: other", _grouped(other)),
    ]
    lines = []
    for key, val in rows:
        if val is None:
            lines.append(f"{key}")
        else:
            lines.append(f"{key.rjust(48)} |\t{val}")
    return "\n".join(lines) + "\n"


def _idxstats(rng: random.Random, x_mapped: int, y_mapped: int) -> str:
    lines = []
    for c in range(1, 21):
        length = 60_000_000 + rng.randrange(200_000_000)
        lines.append(f"chr{c}\t{length}\t{rng.randrange(10**5, 10**7)}\t0")
    lines.append(f"chrX\t{CHRX_LEN}\t{x_mapped}\t0")
    lines.append(f"chrY\t{CHRY_LEN}\t{y_mapped}\t0")
    for k in range(3):
        lines.append(f"NW_02340{k}.1\t{10_000 + k * 977}\t"
                     f"{rng.randrange(50)}\t0")
    lines.append(f"*\t0\t0\t{rng.randrange(10**4)}")
    return "\n".join(lines) + "\n"


def _sex_counts(rng: random.Random, role: str, sex: str) -> tuple[int, int]:
    """(chrX mapped, chrY mapped) for a sample of the given role."""
    if role == "inf":
        return rng.randrange(10**6, 10**7), 0
    if role == "ratio40":
        # X_cov / Y_cov == 40.000000 exactly under bc truncation → M
        y = rng.randrange(10**4, 10**5)
        y_cov = _bc_scaled(y, CHRY_LEN)
        target = 40 * y_cov
        x = -(-target * CHRX_LEN // 10**6)
        while _bc_scaled(x, CHRX_LEN) < target:
            x += 1
        return x, y
    x = rng.randrange(10**6, 10**7)
    if sex == "F":      # a few Y reads: ratio far above 40
        return x, rng.randrange(1, 200)
    return x, rng.randrange(x // 40, x // 4)    # M: ratio about 1-10


def _computed_sex(x: int, y: int) -> tuple[str, bool]:
    y_cov = _bc_scaled(y, CHRY_LEN)
    if y_cov == 0:
        return "F", True
    ratio = _bc_scaled(_bc_scaled(x, CHRX_LEN), y_cov)
    return ("F" if ratio > 40 * 10**6 else "M"), False


def write_project(root: str, project: str, n_samples: int, n_genes: int,
                  seed: int) -> ProjectTruth:
    """Write one paired-end project under ``root`` and return its truth.

    ``n_samples`` counts GSMs (at least 6, for the edge cases); a third of
    them have two or three runs.
    """
    if n_samples < 6:
        raise ValueError("a project needs at least 6 samples")
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    genes = list(SEX_GENES) + [f"Gene{i:05d}" for i in range(n_genes - 6)]
    truth = ProjectTruth(project, root, genes)

    gsms = [f"GSM{4_000_000 + i}" for i in range(n_samples)]
    roles = ["no_log", "invalid", "fail50", "inf", "ratio40", "slash"]
    n_fail = n_samples // 20
    roles += ["fail"] * n_fail + ["pass"] * (n_samples - len(roles) - n_fail)
    rng.shuffle(roles)

    acc_rows = []
    run_no = rng.randrange(10**7, 9 * 10**7)
    for gsm, role in zip(gsms, roles):
        sex = rng.choice("MF")
        strain = STRAINS[0] if role == "slash" else rng.choice(STRAINS)
        tissue = rng.choice(TISSUES)
        runs = [f"SRR{run_no + k}" for k in
                range(rng.choice((1, 1, 1, 1, 2, 3)))]
        run_no += len(runs) + rng.randrange(1, 5)
        for r in runs:
            acc_rows.append((r, gsm, tissue, strain, sex, "33012345",
                             "https://www.ncbi.nlm.nih.gov/geo/query/"
                             f"acc.cgi?acc=GSE{seed % 10**6}",
                             f'Effect of "diet" on {tissue.lower()}',
                             f"age: {rng.randrange(6, 20)} weeks;  "
                             f"treatment:   {rng.choice(('control', 'HS'))}",
                             "https://rgd.mcw.edu/rgdweb/report/strain/"
                             f"main.html?id={rng.randrange(10**5)}"))
        status = {"no_log": "NO_LOG", "invalid": "INVALID_LOG",
                  "fail50": "FAIL", "fail": "FAIL"}.get(role, "PASS")
        truth.samples[gsm] = SampleTruth(gsm, min(runs), strain, sex, status)

        if role != "no_log":
            reads = 0 if role == "invalid" else 2 * rng.randrange(
                10**7, 4 * 10**7)
            if role == "fail50":
                unmapped = reads // 2
            elif role == "fail":
                unmapped = reads * rng.randrange(55, 90) // 100
            else:
                unmapped = reads * rng.randrange(2, 30) // 100
            a = rng.randrange(unmapped + 1)
            b = rng.randrange(unmapped - a + 1)
            os.makedirs(f"{root}/logs/{gsm}", exist_ok=True)
            with open(f"{root}/logs/{gsm}/Log.final.out", "w") as f:
                f.write(_star_log(reads, (a, b, unmapped - a - b)))

        sex_role = role if role in ("inf", "ratio40") else "normal"
        # a tenth of the normal samples are annotated with the wrong sex
        true_sex = sex if rng.random() > 0.1 else ("M" if sex == "F" else "F")
        x, y = _sex_counts(rng, sex_role, true_sex)
        os.makedirs(f"{root}/idx", exist_ok=True)
        with open(f"{root}/idx/{gsm}.idxstats", "w") as f:
            f.write(_idxstats(rng, x, y))
        if status == "PASS":
            s = truth.samples[gsm]
            s.computed_sex, s.ratio_inf = _computed_sex(x, y)

    # a row without a GSM, dropped by the AccList cleaning
    acc_rows.append((f"SRR{run_no}", "", "Liver", "Wistar", "M", "33012345",
                     "", "orphan run", "", ""))
    rng.shuffle(acc_rows)
    with open(truth.acclist, "w") as f:
        f.write("\t".join(ACCLIST_HEADER) + "\n")
        for row in acc_rows:
            f.write("\t".join(row) + "\n")

    _write_rsem(f"{root}/rsem", gsms, genes, nrng)
    return truth


def _write_rsem(d: str, gsms: list[str], genes: list[str],
                nrng: np.random.Generator) -> None:
    """One ``genes.results`` per sample, identical gene order (the
    invariant ``rsem-generate-data-matrix`` asserts); about a third of
    the values are exactly zero."""
    os.makedirs(d, exist_ok=True)
    n = len(genes)
    length = nrng.integers(300, 12_000, n)
    eff = np.maximum(length - nrng.integers(50, 250, n), 1)
    prefix = [f"{g}\tNM_{i:06d}\t{ln}.00\t{e}.00\t"
              for i, (g, ln, e) in enumerate(zip(genes, length, eff))]
    base = nrng.lognormal(3.0, 2.0, n)
    header = ("gene_id\ttranscript_id(s)\tlength\teffective_length\t"
              "expected_count\tTPM\tFPKM\n")
    for gsm in gsms:
        counts = np.round(base * nrng.lognormal(0.0, 0.5, n), 2)
        counts[nrng.random(n) < 0.33] = 0.0
        rpk = counts / eff
        tpm = np.round(rpk / max(rpk.sum(), 1e-9) * 1e6, 2)
        fpkm = np.round(tpm * 0.8, 2)
        body = "".join(f"{p}{c:.2f}\t{t:.2f}\t{q:.2f}\n" for p, c, t, q in
                       zip(prefix, counts.tolist(), tpm.tolist(),
                           fpkm.tolist()))
        with open(f"{d}/{gsm}.genes.results", "w") as f:
            f.write(header + body)


# --- corpus -----------------------------------------------------------------

STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "du"),
}
CONTENT = ("spark", "window", "merge", "table", "column", "vector", "stream",
           "value", "data", "small", "join", "filter", "big", "group", "hash",
           "customer", "sort", "order", "slow", "line", "part", "fast", "row",
           "agg", "key", "query", "scan", "batch", "gene", "sample", "read",
           "liver", "strain", "count", "matrix", "track", "genome", "index")
CORPUS_CONTENT_SEED = 20_240_501


@dataclass
class CorpusTruth:
    path: str
    n_docs: int


def corpus_rows(n_docs: int) -> list[dict]:
    """A fixed corpus shaped like sf0.1 ``documents``: 10-100 tokens,
    20 sources, five language labels (one without a stopword list, so
    its documents fail the language check), about 4% exact and 6% near
    duplicates, some of them chained."""
    rng = random.Random(CORPUS_CONTENT_SEED)
    langs = ("en", "en", "es", "de", "fr", "zh")
    rows: list[dict] = []
    for i in range(n_docs):
        r = rng.random()
        if rows and r < 0.04:                       # exact duplicate
            src = rng.choice(rows)
            text, lang = src["text"], src["lang"]
        elif rows and r < 0.10:                     # near duplicate
            src = rng.choice(rows[-200:])
            toks = src["text"].split()
            j = rng.randrange(len(toks))
            toks[j] = rng.choice(CONTENT)
            text, lang = " ".join(toks), src["lang"]
        else:
            lang = rng.choice(langs)
            stop = STOPWORDS.get(lang, ("lorem",))
            n = rng.randrange(10, 101)
            text = " ".join(rng.choice(stop) if rng.random() < 0.3
                            else rng.choice(CONTENT) for _ in range(n))
        rows.append({"doc_id": i, "text": text, "lang": lang,
                     "source": f"src{i % 20}", "n_chars": len(text)})
    return rows


def write_corpus(path: str, seed: int, n_docs: int) -> CorpusTruth:
    """Write the fixed corpus as parquet in a seed-dependent row order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = corpus_rows(n_docs)
    random.Random(seed).shuffle(rows)
    table = pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path)
    return CorpusTruth(path, n_docs)
