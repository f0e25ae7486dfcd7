"""The seeded generators: same seed, same bytes; the edge cases present."""

from __future__ import annotations

import os
import random
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_project_bytes_follow_the_seed(tmp_path):
    a = _tree(gen.write_project(str(tmp_path / "a"), "P", 8, 40, 7).root)
    b = _tree(gen.write_project(str(tmp_path / "b"), "P", 8, 40, 7).root)
    c = _tree(gen.write_project(str(tmp_path / "c"), "P", 8, 40, 8).root)
    assert a == b
    assert a != c


def test_corpus_bytes_follow_the_seed(tmp_path):
    def read(name, seed):
        path = str(tmp_path / name)
        gen.write_corpus(path, seed, n_docs=300)
        with open(path, "rb") as f:
            return f.read()
    assert read("a.parquet", 3) == read("b.parquet", 3)
    assert read("a.parquet", 3) != read("c.parquet", 4)


def test_project_carries_every_edge_case(tmp_path):
    t = gen.write_project(str(tmp_path / "p"), "P", 40, 20, 11)
    assert t.status_counts() == {"NO_LOG": 1, "INVALID_LOG": 1, "FAIL": 3,
                                 "PASS": 35}
    passing = [t.samples[g] for g in t.pass_ids]
    assert any(s.ratio_inf and s.computed_sex == "F" for s in passing)
    assert any(s.strain == "BN/NHsdMcwi" for s in passing)
    strains = {s.strain for s in t.samples.values()}
    assert any("/" not in s for s in strains)
    assert any(", " in s for s in strains)
    logs = []
    for d, _, files in os.walk(f"{t.root}/logs"):
        for name in files:
            with open(os.path.join(d, name)) as f:
                logs.append(f.read())
    assert len(logs) == 39                      # the NO_LOG sample has none
    invalid = [s for s in logs if "Number of input reads |\t0\n" in s]
    assert len(invalid) == 1
    assert all(re.search(r"\|\t\d{1,3}(,\d{3})+\n", s)
               for s in logs if s not in invalid)     # comma-grouped
    with open(t.acclist) as f:
        gsms = [line.split("\t")[1] for line in f][1:]
    assert "" in gsms                           # a run without a GSM
    assert len(set(gsms) - {""}) == 40
    assert len(gsms) > 41                       # multi-run GSMs
    for g in t.samples:
        with open(f"{t.root}/idx/{g}.idxstats") as f:
            chroms = [line.split("\t")[0] for line in f]
        assert {"chr1", "chr20", "chrX", "chrY"} <= set(chroms)
        assert any(c.startswith("NW_") for c in chroms)
        with open(f"{t.root}/rsem/{g}.genes.results") as f:
            genes = [line.split("\t")[0] for line in f][1:]
        assert genes == t.genes and set(gen.SEX_GENES) <= set(genes)


def test_fifty_percent_unmapped_is_the_fail_boundary(tmp_path):
    t = gen.write_project(str(tmp_path / "p"), "P", 6, 20, 5)
    rates = []
    for g, s in t.samples.items():
        if s.status != "FAIL":
            continue
        with open(f"{t.root}/logs/{g}/Log.final.out") as f:
            kv = {k.strip(): int(v.strip().replace(",", ""))
                  for k, v in (line.split("|") for line in f if "|" in line
                               and line.split("|")[0].strip() in
                               gen.STAR_KEYS)}
        unmapped = sum(kv[k] for k in gen.STAR_KEYS[1:])
        rates.append(unmapped * 100 / kv[gen.STAR_KEYS[0]])
    assert 50.0 in rates


def test_ratio_forty_is_computed_male():
    x, y = gen._sex_counts(random.Random(1), "ratio40", "F")
    assert gen._computed_sex(x, y) == ("M", False)
    scaled = gen._bc_scaled(gen._bc_scaled(x, gen.CHRX_LEN),
                            gen._bc_scaled(y, gen.CHRY_LEN))
    assert scaled == 40 * 10**6
