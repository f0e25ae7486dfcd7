"""Generic relational operators mapped one-to-one from SURVEY §2.

Each function reproduces the *semantics* of a coreutils/awk idiom in the
reference as a declarative DataFrame transform; Catalyst picks the physical
strategy (broadcast vs sort-merge, partial aggregation, pushdown). The awk
hash-in-memory joins become broadcast hash joins; the coreutils
``sort | join`` becomes a shuffled sort-merge join; the O(n²) grep loop of
the conflict report becomes a real equi-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- joins (SURVEY §2.3) -----------------------------------------------------

def semi_join_filter(df: DataFrame, keys: DataFrame, on) -> DataFrame:
    """JN1 — hash semi-join: keep rows of ``df`` whose key appears in
    ``keys`` (awk ``NR==FNR{pass[$1]=1} ($2 in pass)``,
    ``run_RNApipeline_pairedG8_diskGuard.bash:429-431``). ``left_semi``
    never duplicates rows, matching the awk hash behavior; the small key
    set auto-broadcasts under AQE."""
    return df.join(keys, on, "left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on) -> DataFrame:
    """SET3 — the FAIL/leftover set the reference derives arithmetically
    (``run_RNApipeline:434-436``), made explicit as ``left_anti``."""
    return df.join(keys, on, "left_anti")


def broadcast_annotate(big: DataFrame, small: DataFrame, on,
                       how: str = "inner") -> DataFrame:
    """JN2 — annotation join with a small build side (the awk in-memory
    gene→TPM map at ``GeneTPMbed_v2.sh:96``): explicit ``broadcast`` so no
    shuffle of the big side at any scale."""
    return big.join(F.broadcast(small), on, how)


def lookup_with_default(left: DataFrame, right: DataFrame, on,
                        col: str, default: str) -> DataFrame:
    """JN5 — left-join scalar lookup with default for misses
    (``BWjson_v7.sh:79-87``: absent sample → ``"Unknown"``)."""
    return (left.join(right, on, "left")
            .withColumn(col, F.coalesce(F.col(col), F.lit(default))))


class LossMetrics:
    """Lazy row-loss metrics backed by ``df.observe``: populated by the
    FIRST action on the merged DataFrame (zero extra jobs — the eager
    version cost two anti-join passes on top of the merge itself).

    ``get`` reflects only that first action and FAILS FAST if read before
    any action has run (``Observation.get`` would otherwise block the
    caller forever). API note: ``merge_with_loss_metrics`` returns this
    object, not a plain dict, since the lazy rewrite."""

    def __init__(self, observation):
        self._obs = observation

    @property
    def get(self) -> dict:
        jo = getattr(self._obs, "_jo", None)
        if jo is not None and jo.getRowOrEmpty().isEmpty():
            raise RuntimeError(
                "LossMetrics read before any action ran on the merged "
                "DataFrame — run an action (write/count/collect) on the "
                "merge result first; metrics reflect that first action")
        m = self._obs.get
        return {"lost_left": m["lost_left"], "lost_right": m["lost_right"]}


_MERGE_OBS_COUNTER = iter(range(1, 1 << 30))


def merge_with_loss_metrics(m1: DataFrame, m2: DataFrame,
                            on: str) -> tuple[DataFrame, LossMetrics]:
    """JN3 + AGG10 — inner matrix merge plus the reference's row-loss
    warning (``combine_multStrategy_Directories.bash:242-256``).

    Single pass: one full-outer join with presence markers; an
    ``observe`` node counts the one-sided rows while the inner filter
    streams past — no separate anti-join jobs, no second/third scan of
    either matrix. Read ``metrics.get`` after acting on the result."""
    from pyspark.sql import Observation
    a = m1.withColumn("_l", F.lit(1))
    b = m2.withColumn("_r", F.lit(1))
    obs = Observation(f"merge_loss_{next(_MERGE_OBS_COUNTER)}")
    full = (a.join(b, on, "full_outer")
            .observe(obs,
                     F.count(F.when(F.col("_r").isNull(), 1)).alias("lost_left"),
                     F.count(F.when(F.col("_l").isNull(), 1)).alias("lost_right")))
    merged = (full.filter(F.col("_l").isNotNull() & F.col("_r").isNotNull())
              .drop("_l", "_r"))
    return merged, LossMetrics(obs)


def file_inventory_join(meta: DataFrame, inventory: DataFrame,
                        key_pattern: str, on: str,
                        path_col: str = "path",
                        how: str = "left") -> DataFrame:
    """JN7 — metadata ⋈ file-listing join (``run_RNApipeline:289-290``
    builds STAR inputs from ``ls ${run}/*_1.fastq.gz`` per AccList row).

    ``key_pattern`` extracts the join key from each path (group 1); paths
    aggregate to a sorted ``paths`` array per key (the reference's
    comma-joined FASTQ lists are ``concat_ws(",", paths)``). A left join
    keeps keyless rows with NULL paths — the FIL9 missing-file contract."""
    keyed = (inventory
             .withColumn(on, F.regexp_extract(F.col(path_col),
                                              key_pattern, 1))
             .filter(F.col(on) != ""))
    files = keyed.groupBy(on).agg(
        F.array_sort(F.collect_list(path_col)).alias("paths"))
    return meta.join(files, on, how)


def order_by_source_file(df: DataFrame,
                         alias: str = "_source_file") -> DataFrame:
    """SRT3 — deterministic file-order sort
    (``make_jbrowse_session_for_bioproject.py:70`` sorts track files
    before first-appearance color ranking): attach ``input_file_name()``
    and order by it. The column is kept under ``alias`` so downstream
    windows (WIN1) can rank over it explicitly."""
    return (df.withColumn(alias, F.input_file_name())
            .orderBy(alias))


def sorted_report(df: DataFrame, *cols: str) -> DataFrame:
    """SRT — a per-project report (one row per sample) sorted inside one
    partition, the shape its single-file sink writes anyway. A global
    ``orderBy`` would range-partition first: a sampling job plus a
    shuffle, for a table of a few hundred rows."""
    return df.coalesce(1).sortWithinPartitions(*cols)


# --- dedup / per-group selection (SURVEY §2.4/2.5) ----------------------------

def dedup_keep_first(df: DataFrame, key_cols: Sequence[str],
                     order_cols: Sequence[str]) -> DataFrame:
    """AGG4/WIN2 — ``sort -u -t$'\\t' -k2,2`` keeps the lexicographically
    first row per key (``run_RNApipeline:362-366``); ``dropDuplicates``
    keeps an *arbitrary* row, so pin determinism with a row_number window."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def first_per_group(df: DataFrame, key: str,
                    order_col: str, value_cols: Sequence[str]) -> DataFrame:
    """AGG3 — first matching row's metadata per group
    (awk ``{print; exit}``, ``run_RNApipeline:284``), deterministic via
    min_by on the order column."""
    return df.groupBy(key).agg(
        *[F.min_by(c, order_col).alias(c) for c in value_cols])


def collect_group_list(df: DataFrame, key: str, item: str,
                       alias: str = "items") -> DataFrame:
    """AGG2 — runs-per-sample list (``run_RNApipeline:281,289-290``),
    sorted for determinism, joined with commas like the reference's FASTQ
    path lists."""
    return df.groupBy(key).agg(
        F.concat_ws(",", F.transform(
            F.array_sort(F.collect_list(item)),
            lambda x: x.cast("string"))).alias(alias))


# --- windows / ranking (SURVEY §2.5) ------------------------------------------

def dense_rank_palette(df: DataFrame, group_cols: Sequence[str],
                       palette_size: int = 10,
                       alias: str = "palette_idx",
                       rank_distinct: bool = True) -> DataFrame:
    """WIN1 — deterministic categorical color assignment
    (``make_jbrowse_session_for_bioproject.py:33-39,81-145``): rank the
    distinct group keys in sorted order, cycle a fixed palette with modulo.

    SCALE GUARD: a partition-less ``Window.orderBy`` funnels its input
    through ONE task, so with ``rank_distinct`` (the default) the window
    runs over the DISTINCT group keys only — bounded by key cardinality
    (a palette's worth of track types, languages, sources…), never by
    input rows — and the (key → palette_idx) assignment broadcast-joins
    back (null-safe, so a null key keeps its rank exactly as the plain
    window gives it). ``rank_distinct=False`` keeps the single-task
    whole-input window: acceptable ONLY for driver-bounded inputs like
    per-project track metadata (at most a few thousand rows)."""
    w = Window.orderBy(*group_cols)
    idx = F.pmod(F.dense_rank().over(w) - 1, F.lit(palette_size))
    if not rank_distinct:
        return df.withColumn(alias, idx)
    keys = (df.select(*group_cols).distinct()
            .select(*[F.col(c).alias(f"_k_{c}") for c in group_cols]))
    wk = Window.orderBy(*[F.col(f"_k_{c}") for c in group_cols])
    ranked = keys.withColumn(
        alias, F.pmod(F.dense_rank().over(wk) - 1, F.lit(palette_size)))
    cond = None
    for c in group_cols:
        e = df[c].eqNullSafe(F.col(f"_k_{c}"))
        cond = e if cond is None else cond & e
    return (df.join(F.broadcast(ranked), cond)
            .drop(*[f"_k_{c}" for c in group_cols]))


def topk_per_group(df: DataFrame, part_cols: Sequence[str],
                   order_by: Sequence[Column], k: int) -> DataFrame:
    """Top-K per group via ranking window — the natural extension of the
    reference's head/tail limits (SURVEY §2.6); Spark optimizes rank-filter
    windows to a per-partition top-K (no full sort)."""
    w = Window.partitionBy(*part_cols).orderBy(*order_by)
    return (df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k).drop("_rk"))


# --- binned aggregation (SURVEY AGG7) -----------------------------------------

def binned_rate(df: DataFrame, group_cols: Sequence[str], value_col: str,
                bin_width: float, alias: str = "per_million") -> DataFrame:
    """AGG7 — BPM-style binned aggregation (``bamCoverage --binSize 10
    --normalizeUsing BPM``, ``scripts/STAR_bigwig2.sh:245-251``): count per
    (group, bin), normalized ×1e6 / total. Partial aggregation map-side,
    one shuffle; the total is a scalar broadcast, not a second shuffle of
    the data."""
    binned = df.withColumn(
        "bin", F.floor(F.col(value_col) / F.lit(bin_width)).cast("long"))
    counts = binned.groupBy(*group_cols, "bin").agg(F.count("*").alias("n"))
    total = counts.select(F.sum("n").alias("t"))
    return (counts.crossJoin(F.broadcast(total))
            .withColumn(alias, F.round(F.col("n") * 1e6 / F.col("t"), 4))
            .drop("t"))
