"""AGG-P1 — the flagship pivot: N per-sample tables → feature × sample matrix.

Reference: ``scripts/RSEMmatrix_v5.sh:76-113`` loops sample files and a Perl
column-binder (``dependencies/rsem-generate-data-matrix:56-89``) zips them
positionally, hard-failing if feature-ID columns differ row-by-row
(``:46-54,66-69``). The engine keeps the long form canonical (SURVEY §7.2:
wide matrices at extreme sample counts don't scale) and pivots lazily with
an explicit column list; the positional assert becomes a relational
validation (full-outer null check, JN6).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validate_feature_alignment(long_df: DataFrame,
                               sample_col: str = "sample",
                               feature_col: str = "feature_id") -> list[str]:
    """JN6 validation — every sample must carry the identical feature set
    (the Perl builder's "Number of lines among samples are not equal!",
    ``dependencies/rsem-generate-data-matrix:46-54``).

    Returns the sorted sample list, the column list a pivot needs, and
    raises ``ValueError`` naming the offending samples. One action: a
    ``rollup`` counts distinct features per sample and, in its grand-total
    row, over all samples — no N-way join, no second job for the total.
    """
    rows = (long_df.rollup(sample_col)
            .agg(F.grouping(sample_col).alias("_total"),
                 F.countDistinct(feature_col).alias("n_features"))
            .collect())
    n_total = next((r["n_features"] for r in rows if r["_total"]), 0)
    per_sample = sorted((r[sample_col], r["n_features"])
                        for r in rows if not r["_total"])
    offenders = [s for s, n in per_sample if n != n_total]
    if offenders:
        raise ValueError(f"feature sets differ across samples: {offenders}")
    return [s for s, _ in per_sample]


def pivot_matrix(long_df: DataFrame, measure: str | Sequence[str],
                 sample_col: str = "sample",
                 feature_col: str = "feature_id",
                 samples: list[str] | None = None,
                 max_width: int = 10_000) -> DataFrame:
    """Long (sample, feature, measure) → wide feature × sample matrix.

    ``samples`` pins the pivot column list (and its order, matching the
    reference's AccList ordering) — without it Spark runs an extra job to
    discover values, and column order would be nondeterministic.
    One shuffle on feature_id; ``first`` matches the reference's
    one-value-per-(sample, feature) grain.

    ``measure`` may name several measures: one pivot pass then carries
    all of them, sample ``s``'s column for measure ``m`` is named
    ``f"{s}_{m}"`` (Spark's pivot naming), and :func:`matrix_measure`
    projects one measure back out. Cache the wide frame to sink several.

    WIDTH CEILING: a pivot materializes one output column per sample, so
    driver plan size and row width grow linearly with sample count — wide
    pivots stop scaling around O(10^4) columns (Spark's own
    ``spark.sql.pivotMaxValues`` guard defaults to 10000, for the same
    reason). Sample discovery is therefore capped: more than ``max_width``
    distinct samples raises ``ValueError`` instead of building an
    unusable plan. The reference's matrices are per-project (dozens to
    hundreds of samples); beyond the ceiling keep the LONG form — the
    canonical representation in this engine — and pivot an explicit
    ``samples`` slice per consumer.
    """
    if samples is None:
        rows = (long_df.select(sample_col).distinct().orderBy(sample_col)
                .limit(max_width + 1).collect())
        samples = [r[0] for r in rows]
    if len(samples) > max_width:
        raise ValueError(
            f"pivot_matrix: {len(samples)}+ distinct '{sample_col}' values "
            f"exceed max_width={max_width}; keep the long form (or pivot "
            f"an explicit samples slice) at this scale")
    if isinstance(measure, str):
        aggs = [F.first(measure)]
    else:
        aggs = [F.first(m).alias(m) for m in measure]
    return (long_df.groupBy(F.col(feature_col).alias("Symbol"))
            .pivot(sample_col, samples)
            .agg(*aggs))


def matrix_measure(wide: DataFrame, measure: str,
                   samples: list[str]) -> DataFrame:
    """One measure of a several-measure :func:`pivot_matrix` frame, as a
    plain ``Symbol`` + one column per sample matrix."""
    def quoted(name: str) -> str:       # sample ids may hold dots
        return "`" + name.replace("`", "``") + "`"
    return wide.select("Symbol", *[F.col(quoted(f"{s}_{measure}")).alias(s)
                                   for s in samples])


def format_reference_matrix(wide: DataFrame, suffix: str = ".genes.results",
                            decimals: int = 2) -> DataFrame:
    """Render a wide matrix byte-compatible with the Perl builder's output
    (``dependencies/rsem-generate-data-matrix:76-89``): feature ids
    double-quoted, sample columns renamed ``"<sample><suffix>"`` (the
    builder headers columns with the quoted input file basename, F4), and
    values printed ``%.Nf`` (RSEM emits 2-decimal fixed point, which the
    builder copies verbatim)."""
    # format_number adds thousands separators; reference values are bare
    # numerics — strip before aliasing (the aliases contain dots/quotes,
    # so post-hoc F.col() references would need backtick gymnastics)
    return wide.select(
        F.concat(F.lit('"'), F.col("Symbol"), F.lit('"')).alias("Symbol"),
        *[F.regexp_replace(F.format_number(F.col(c), decimals), ",", "")
          .alias(f'"{c}{suffix}"')
          for c in wide.columns if c != "Symbol"])


def unpivot_matrix(wide: DataFrame, feature_col: str = "Symbol",
                   measure_name: str = "TPM") -> DataFrame:
    """Inverse of :func:`pivot_matrix` — wide matrix back to canonical long
    form (used when ingesting reference-produced ``.matrix`` files for the
    merge workflow). ``stack``-based unpivot, no Python."""
    sample_cols = [c for c in wide.columns if c != feature_col]
    return wide.unpivot(feature_col, sample_cols, "sample", measure_name) \
               .withColumnRenamed(feature_col, "feature_id")
