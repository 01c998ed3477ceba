"""Deterministic input generators for the benchmark workloads.

Every generator takes the workload seed and nothing else that varies, so
the same seed always writes byte-identical inputs. The program under test
only ever sees the files written here; the returned expectation objects
stay on the benchmark side and drive the output checks.
"""
from __future__ import annotations

import dataclasses
import pathlib

import numpy as np

ILLNESSES = ("Healthy", "T1D", "T2D", "UNKNOWN")
PLATFORMS = ("GPL96", "GPL570")


@dataclasses.dataclass
class StudyData:
    accession: str
    samples: list[str]
    genes: list[str]          # whitelisted genes present in the study
    matrix: np.ndarray        # len(genes) x len(samples), NaN = empty cell


@dataclasses.dataclass
class StudySet:
    root: pathlib.Path        # holds studies/<GSE>/... and genes.tsv
    studies: list[StudyData]

    @property
    def fact_rows(self) -> int:
        return sum(int(np.isfinite(s.matrix).sum()) for s in self.studies)

    @property
    def empty_share(self) -> float:
        """Share of whitelisted cells left empty (0 for dense studies)."""
        cells = sum(s.matrix.size for s in self.studies)
        return float(sum(np.isnan(s.matrix).sum() for s in self.studies)) / cells

    @property
    def n_genes(self) -> int:
        """Whitelisted genes with at least one value in some study."""
        return len({
            g for s in self.studies
            for g, row in zip(s.genes, s.matrix) if np.isfinite(row).any()
        })

    @property
    def n_samples(self) -> int:
        return sum(len(s.samples) for s in self.studies)


def _study_rng(seed: int, idx: int) -> np.random.Generator:
    return np.random.default_rng([seed, idx])


def write_studies(
    root: pathlib.Path,
    seed: int,
    *,
    n_studies: int,
    n_samples: int,
    n_genes: int,
    n_kept: int,
    n_whitelist: int,
    empty_frac: float = 0.0,
) -> StudySet:
    """Write ``n_studies`` wide gene x sample TSV studies plus a whitelist.

    Each study holds ``n_kept`` whitelisted genes (a seeded subset of the
    ``n_whitelist`` ids) among ``n_genes`` rows; the other rows are filler
    genes the whitelist drops. A share ``empty_frac`` of the whitelisted
    cells is left empty, which makes the study ragged for the correlation
    router. Values carry three decimals, so the TSV text round-trips
    exactly to the float the reference computes on.
    """
    whitelist = [f"ENSG{i:011d}" for i in range(n_whitelist)]
    studies_dir = root / "studies"
    studies_dir.mkdir(parents=True)
    (root / "genes.tsv").write_text(
        "gene_symbol\tensembl_id\n"
        + "".join(f"G{i}\t{g}\n" for i, g in enumerate(whitelist))
    )
    out: list[StudyData] = []
    for s in range(n_studies):
        rng = _study_rng(seed, s)
        acc = f"GSE{9000 + s}"
        samples = [f"GSM{s:02d}{j:06d}" for j in range(n_samples)]
        kept_idx = np.sort(rng.choice(n_whitelist, size=n_kept, replace=False))
        kept = [whitelist[i] for i in kept_idx]
        fillers = [f"ENSGX{s:02d}{i:08d}" for i in range(n_genes - n_kept)]
        values = rng.integers(0, 15_000, size=(n_genes, n_samples)) / 1000.0
        rows = kept + fillers
        order = rng.permutation(n_genes)
        matrix = values[:n_kept].copy()
        if empty_frac:
            matrix[rng.random(matrix.shape) < empty_frac] = np.nan
            values[:n_kept] = matrix
        d = studies_dir / acc
        d.mkdir()
        md = [
            "refinebio_accession_code\texperiment_accession\trefinebio_age\t"
            "refinebio_sex\tcharacteristics_ch1_Illness\trefinebio_platform"
        ]
        for j, gsm in enumerate(samples):
            md.append(
                f"{gsm}\t{acc}\t{int(rng.integers(1, 80))} yrs\t"
                f"{('male', 'female')[j % 2]}\t{ILLNESSES[j % len(ILLNESSES)]}\t"
                f"{PLATFORMS[s % len(PLATFORMS)]}"
            )
        (d / f"metadata_{acc}.tsv").write_text("\n".join(md) + "\n")
        row_fmt = "\t".join(["%.3f"] * n_samples)
        with open(d / f"expression_{acc}.tsv", "w") as f:
            f.write("Gene\t" + "\t".join(samples) + "\n")
            for r in order:
                if r < n_kept and empty_frac:
                    cells = "\t".join(
                        "" if np.isnan(v) else f"{v:.3f}" for v in values[r]
                    )
                else:
                    cells = row_fmt % tuple(values[r])
                f.write(f"{rows[r]}\t{cells}\n")
        out.append(StudyData(acc, samples, kept, matrix))
    return StudySet(root, out)


def expected_dim_counts(studies: StudySet) -> dict[str, int]:
    """Row counts the star schema must hold after one load of ``studies``."""
    n = len(studies.studies)
    n_samples = max(len(s.samples) for s in studies.studies)
    illnesses = {ILLNESSES[j % len(ILLNESSES)] for j in range(n_samples)}
    return {
        "dim_study": n,
        "dim_gene": studies.n_genes,
        "dim_sample": studies.n_samples,
        "dim_illness": len(illnesses - {"UNKNOWN"}),
        "dim_platform": len({PLATFORMS[s % len(PLATFORMS)] for s in range(n)}),
        "fact_expression": studies.fact_rows,
    }
