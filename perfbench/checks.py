"""Checks of the program's outputs against what the generator implies.

Each check returns a list of mismatches; an empty list means correct.
"""

from __future__ import annotations

import glob
import os

from gen import SEX_GENES, ProjectTruth

PIPELINE_STAGES = ("starqc", "pass", "matrix", "sex", "tracks")
CONFLICT_COLUMNS = ["SampleID", "InputSex", "ComputedSex", "XYRatio",
                    "Agreement", *SEX_GENES]


def _single(path: str) -> list[list[str]]:
    """Rows of a single-file TSV sink (``<path>/part-*.csv``)."""
    parts = glob.glob(f"{path}/part-*.csv")
    if len(parts) != 1:
        raise FileNotFoundError(f"{path}: {len(parts)} part files")
    with open(parts[0]) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def check_project(out: str, truth: ProjectTruth) -> list[str]:
    """STAR_Align_sum status counts, PASS rows, both matrices' shape
    (genes × PASS samples), one sex row per PASS sample with the computed
    sex and agreement the idxstats imply, and the conflict report's
    columns and rows."""
    errs: list[str] = []
    try:
        qc = _single(f"{out}/STAR_Align_sum")
        counts: dict[str, int] = {}
        for row in qc[1:]:
            counts[row[-1]] = counts.get(row[-1], 0) + 1
        if counts != truth.status_counts():
            errs.append(f"STAR_Align_sum status counts {counts} != "
                        f"{truth.status_counts()}")

        passed = _single(f"{out}/Unique_AccList_PASS")
        got = sorted((r[1], r[0]) for r in passed[1:])
        want = [(g, truth.samples[g].first_run) for g in truth.pass_ids]
        if got != want:
            errs.append(f"Unique_AccList_PASS: {len(got)} rows, "
                        f"{len(want)} expected, or wrong first runs")

        header = ["Symbol", *truth.pass_ids]
        for name in ("GeneMat_TPM", "GeneMat_counts"):
            m = _single(f"{out}/{name}")
            if m[0] != header:
                errs.append(f"{name}: header of {len(m[0])} columns "
                            f"!= Symbol + {len(truth.pass_ids)} PASS samples")
            if sorted(r[0] for r in m[1:]) != sorted(truth.genes):
                errs.append(f"{name}: {len(m) - 1} gene rows, "
                            f"{len(truth.genes)} expected")
            if any(len(r) != len(header) for r in m):
                errs.append(f"{name}: ragged rows")

        sex = _single(f"{out}/sex_result")
        want_sex = {}
        for g in truth.pass_ids:
            s = truth.samples[g]
            want_sex[g] = (s.input_sex, s.computed_sex, s.ratio_inf,
                           "Agree" if s.input_sex == s.computed_sex
                           else "Conflict")
        got_sex = {r[0]: (r[1], r[2], r[3] == "Inf", r[4]) for r in sex[1:]}
        if len(sex) - 1 != len(truth.pass_ids) or got_sex != want_sex:
            errs.append(f"sex_result: {len(sex) - 1} rows for "
                        f"{len(truth.pass_ids)} PASS samples, or a wrong "
                        f"InputSex/ComputedSex/Inf/Agreement")

        rep = _single(f"{out}/ConflictedSampleReport")
        if rep[0] != CONFLICT_COLUMNS:
            errs.append(f"ConflictedSampleReport columns {rep[0]}")
        if sorted(r[0] for r in rep[1:]) != truth.pass_ids:
            errs.append(f"ConflictedSampleReport: {len(rep) - 1} rows for "
                        f"{len(truth.pass_ids)} PASS samples")
    except (OSError, IndexError) as e:
        errs.append(f"unreadable output: {e}")
    return errs


def stage_calls(marker_dir: str, project: str,
                stages: tuple[str, ...]) -> tuple[int, int]:
    """(attempted, failed) orchestrator stages, from the completion
    markers the orchestrator writes after each stage that succeeds."""
    failed = sum(not os.path.exists(f"{marker_dir}/{project}.{s}_complete")
                 for s in stages)
    return len(stages), failed


def corpus_counts(out: str) -> dict[str, int]:
    """Row counts of the curated set and of every report."""
    import pyarrow.parquet as pq

    counts = {"curated": pq.read_table(f"{out}/curated").num_rows}
    for name in ("stats", "neardup_keepers", "neardup_pagerank",
                 "neardup_leakage"):
        counts[name] = len(_single(f"{out}/{name}")) - 1
    return counts


def check_corpus(out: str, first: dict[str, int], n_docs: int) -> list[str]:
    """Every count equals the first run's; the curated set is a proper,
    non-empty subset of the input."""
    try:
        got = corpus_counts(out)
    except (OSError, IndexError) as e:
        return [f"unreadable output: {e}"]
    errs = []
    if got != first:
        errs.append(f"counts {got} != first run {first}")
    if not 0 < got["curated"] < n_docs:
        errs.append(f"curated {got['curated']} of {n_docs} docs")
    return errs
