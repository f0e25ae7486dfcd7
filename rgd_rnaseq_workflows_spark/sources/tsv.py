"""TSV source/sink with header, comments, and sentinel↔NULL conversion.

Reference behavior being reproduced (citations into /root/reference/):
- SRC1 header-skipping TSV scan: ``scripts/run_RNApipeline_pairedG8_diskGuard.bash:557``,
  ``scripts/pSTARQC_v1.sh:66``.
- SRC2 comment/blank-line filter: ``scripts/bulk_orchestrator_production_diskGuard.bash:221-223``.
- SNK1 atomic TSV sink with header: ``scripts/pSTARQC_v1.sh:63,96,99`` —
  Spark's FileOutputCommitter (_temporary + rename) is the same ``.tmp``+``mv``
  idiom the reference hand-rolls.
- Sentinels: the reference writes ``NA``/``Inf``/``Unknown`` strings where a
  typed engine holds NULL (``pSTARQC_v1.sh:74``, ``ComputeSex_v5.sh:120-124``,
  ``BWjson_v7.sh:87``). We convert to NULL on read and re-materialize on write
  so TSV outputs stay byte-compatible while internal plans stay typed.
"""

from __future__ import annotations

import fnmatch
import os
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SENTINELS = ("NA", "Inf", "Unknown", "")


def glob_source(spark: SparkSession,
                path: str | list[str]) -> tuple[str | list[str], dict]:
    """``(path, reader options)`` for scanning the files ``path`` names.

    A glob whose only wildcards (``*``/``?``) sit in the file name, over a
    local directory with no subdirectories and at least one visible match,
    becomes the directory plus ``pathGlobFilter``. Spark then lists one
    directory on the driver; handed the glob, it lists every matched file
    again, and above ``parallelPartitionDiscovery.threshold`` (32) paths
    that listing is a Spark job. Anything else — a list of paths, a
    wildcard in a directory component, a remote filesystem, a directory
    with subdirectories or a glob with no match — passes through
    unchanged, so a glob that matches nothing still fails as before
    instead of reading an empty directory scan."""
    if not isinstance(path, str):
        return path, {}
    directory, pattern = os.path.split(path)
    # fnmatch agrees with Hadoop's glob on * and ? only
    if (not set("*?") & set(pattern) or set("[]{}\\") & set(pattern)
            or set("*?[]{}") & set(directory)):
        return path, {}
    url = urlparse(directory)
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS", "file:///")
    if url.scheme not in ("", "file") or (
            not url.scheme and not default_fs.startswith("file:")):
        return path, {}
    try:
        entries = list(os.scandir(url.path))
    except OSError:
        return path, {}
    # Spark skips names starting with "_" or "." in both listings
    visible = [e for e in entries if not e.name.startswith(("_", "."))]
    if (any(e.is_dir() for e in entries)
            or not any(fnmatch.fnmatchcase(e.name, pattern)
                       for e in visible)):
        return path, {}
    return directory, {"pathGlobFilter": pattern}


def read_tsv(spark: SparkSession, path: str, schema: T.StructType,
             comment: str | None = None,
             null_sentinels: tuple[str, ...] = ()) -> DataFrame:
    """Header-aware TSV scan with explicit schema (never inferred —
    SURVEY §1.3) and optional sentinel→NULL conversion on string columns."""
    reader = (spark.read.option("sep", "\t").option("header", True)
              .schema(schema))
    if comment:
        reader = reader.option("comment", comment)
    df = reader.csv(path)
    if null_sentinels:
        for field in schema.fields:
            if isinstance(field.dataType, T.StringType):
                df = df.withColumn(
                    field.name,
                    F.when(F.col(field.name).isin(*null_sentinels), F.lit(None))
                    .otherwise(F.col(field.name)))
    return df


def write_tsv(df: DataFrame, path: str,
              sentinel_map: dict[str, str] | None = None,
              single_file: bool = False,
              float_format: dict[str, int] | None = None,
              bc_format: dict[str, int] | None = None) -> None:
    """TSV sink with header; NULLs re-materialized as reference sentinels.

    ``sentinel_map`` maps column name → sentinel string for NULLs in that
    column (e.g. ``{"Ratio": "Inf"}`` per ``ComputeSex_v5.sh:120-124``).
    ``float_format`` maps column → decimal places, reproducing the
    reference's ``printf %.Nf`` sink rounding (``pSTARQC_v1.sh:90-91``).
    ``bc_format`` maps column → bc ``scale=N``: the double (an exact
    scaled-integer / 10^N, see ``formatting.bc_div``) is rendered exactly
    as bc prints — ``2.500000``, ``.000249``, ``0`` — instead of Spark's
    minimal double repr (``ComputeSex_v5.sh:113-124`` writes bc output
    verbatim).
    ``single_file`` coalesces to one part for report-style outputs the
    reference treats as single files; leave False for large tables.
    """
    from rgd_rnaseq_workflows_spark.functions.formatting import bc_fixed_str
    out = df
    if bc_format:
        for col, scale in bc_format.items():
            scaled = F.round(F.col(col) * (10 ** scale)).cast("long")
            out = out.withColumn(
                col, F.when(F.col(col).isNull(), F.lit(None))
                .otherwise(bc_fixed_str(scaled, scale)))
    if float_format:
        for col, places in float_format.items():
            out = out.withColumn(col, F.format_number(F.col(col), places))
            # format_number inserts thousands separators; the reference
            # strips commas from numerics (pSTARQC_v1.sh:55-56) — keep bare.
            out = out.withColumn(col, F.regexp_replace(F.col(col), ",", ""))
    if sentinel_map:
        for col, sentinel in sentinel_map.items():
            out = out.withColumn(
                col, F.coalesce(F.col(col).cast("string"), F.lit(sentinel)))
    if single_file:
        out = out.coalesce(1)
    (out.write.mode("overwrite").option("sep", "\t").option("header", True)
     .option("emptyValue", "").csv(path))


def write_tsv_observed(df: DataFrame, path: str,
                       metrics: dict[str, Column], **kwargs) -> dict:
    """:func:`write_tsv` that also returns ``metrics`` (name → aggregate
    expression) over the written rows. A ``df.observe`` on the write
    computes them, so the statistics cost no second Spark action."""
    obs = Observation()
    write_tsv(df.observe(obs, *[c.alias(k) for k, c in metrics.items()]),
              path, **kwargs)
    return obs.get


def promote_single_part(part_dir: str, target_path: str,
                        cleanup: bool = False) -> str:
    """Rename the single Spark part file written under ``part_dir`` to
    ``target_path`` — the shared single-file-sink step the reference's
    report contracts need (one named TSV/BED/bedGraph, not a part
    directory). ``cleanup=True`` removes ``part_dir`` afterwards (for
    staging subdirectories). Exactly one part file must exist — a
    multi-part write means the caller forgot ``coalesce(1)``."""
    import glob as _glob
    import os
    import shutil as _shutil
    parts = _glob.glob(os.path.join(part_dir, "part-*"))
    if len(parts) != 1:
        raise ValueError(
            f"expected exactly one part file in {part_dir}, "
            f"found {len(parts)} — single-file sinks must coalesce(1)")
    _shutil.move(parts[0], target_path)
    if cleanup:
        _shutil.rmtree(part_dir)
    return target_path
