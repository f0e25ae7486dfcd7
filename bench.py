"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: median_sec}, "runs": {name: [sec, ...]}, "sf": ...}.

Each query is fully materialized through the noop sink (measures the whole
plan including result production, without driver-collect overhead).

Ambient run-to-run variance on this box is ±15% (three identical r4 runs:
119.2/157.2/142.7 s), which swamps most real regressions — so the suite
runs $SPARK_GRAFT_BENCH_PASSES full passes (default 3) and reports the
per-query MEDIAN as the headline, with the raw per-pass walls alongside.
Cross-round comparisons should use the medians.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rgd_rnaseq_workflows_spark.registry import REGISTRY  # noqa: E402
from rgd_rnaseq_workflows_spark.session import get_spark  # noqa: E402


COMPACT_BUDGET = 1800      # characters of the final stdout line


def compact_line(head: dict, timings: dict[str, float], pinned: list[str],
                 budget: int = COMPACT_BUDGET) -> dict:
    """``head`` plus a ``queries`` map of medians that fits ``budget``
    characters as JSON: every pinned name first, then the slowest other
    queries while they fit. Only that slowest-first fill is trimmed. When
    the pinned names alone overflow, the medians lose decimals (3 down to
    0) instead, so a pinned name is never evicted."""
    names = [n for n in pinned if n in timings]
    for digits in (3, 2, 1, 0):
        line = dict(head, queries={n: round(timings[n], digits)
                                   for n in names})
        if len(json.dumps(line)) <= budget:
            break
    else:
        return line
    for name in sorted(timings, key=lambda n: -timings[n]):
        if name in line["queries"]:
            continue
        line["queries"][name] = round(timings[name], digits)
        if len(json.dumps(line)) > budget:
            del line["queries"][name]
            break
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    # warm the JVM/codegen path once so per-query numbers measure the
    # plans, not first-call JIT + session setup
    REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write \
        .format("noop").mode("overwrite").save()
    # ... and the Python-worker/Arrow path (daemon spawn + serializer
    # init lands on the first pandas_udf/mapInPandas query otherwise)
    from pyspark.sql.functions import pandas_udf as _pudf
    _warm = _pudf(lambda s: s, "long")
    spark.range(32).select(_warm("id").alias("x")).write \
        .format("noop").mode("overwrite").save()

    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    runs: dict[str, list[float]] = {}
    gates = [n for n, s in REGISTRY.items() if not s.production]
    # Ambient-noise sentinel: the SAME fixed plan re-timed every
    # SENTINEL_EVERY queries. Its wall should be constant; drift in the
    # sentinel during a pass is a box slow phase, not a query
    # regression — this makes a single recording self-qualifying
    # (previously flags needed a manual interleaved A/B rerun).
    SENTINEL_EVERY = 15
    sentinel_spec = REGISTRY["q1_pricing_summary"]
    sentinel_runs: list[float] = []
    for _ in range(passes):
        for qi, (name, spec) in enumerate(REGISTRY.items()):
            if qi % SENTINEL_EVERY == 0:
                gc.collect()
                t0 = time.time()
                sentinel_spec.fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                sentinel_runs.append(round(time.time() - t0, 3))
            if not spec.production:
                # correctness-oracle gates (exact twins of approx/pruned
                # production paths) are driver-checked for values but are
                # not the engine a 100 TB deployment would run — keep them
                # out of the headline
                continue
            # free the previous query's DataFrame refs so the
            # ContextCleaner can drop its localCheckpoint RDDs /
            # broadcasts before timing, and drop persisted frames (kmeans
            # keeps its assignment cached) so a heavy query's residue
            # doesn't inflate its neighbors
            gc.collect()
            spark.catalog.clearCache()
            t0 = time.time()
            try:
                spec.fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                runs.setdefault(name, []).append(round(time.time() - t0, 3))
            except Exception as e:  # a failure must not sink the bench
                runs.setdefault(name, []).append(-1.0)
                print(f"bench error in {name}: {e}", file=sys.stderr)

    import statistics

    def median(xs: list[float]) -> float:
        ok = [x for x in xs if x >= 0]
        return round(statistics.median(ok), 3) if ok else -1.0

    timings = {name: median(xs) for name, xs in runs.items()}
    total = round(sum(t for t in timings.values() if t >= 0), 3)

    def cov(xs: list[float]) -> float:
        ok = [x for x in xs if x >= 0]
        if len(ok) < 2:
            return 0.0
        m = statistics.mean(ok)
        return round(statistics.stdev(ok) / m, 3) if m > 0 else 0.0

    # noise indicator: sentinel spread (same plan, so any spread is
    # ambient) + how many non-trivial queries saw high WARM-pass
    # variance. The first pass (and the first sentinel sample) run
    # each plan cold — per-query JIT/codegen systematically inflates
    # them ~1.5-2x — so noise stats use the warm samples only; the
    # median already lands on a warm pass. Cross-round comparisons
    # should distrust a recording whose sentinel_max_over_min is high
    # (>~1.5 = a slow phase hit the run) and re-check its flags A/B.
    def warm(xs: list[float]) -> list[float]:
        ok = [x for x in xs if x >= 0]
        return ok[1:] if len(ok) >= 3 else ok

    q_cov = {n: cov(warm(xs)) for n, xs in runs.items()}
    sent_w = warm(sentinel_runs)

    def sent_spread(xs: list[float]) -> float:
        ok = [x for x in xs if x > 0]
        return round(max(ok) / min(ok), 3) if ok else -1.0

    noise = {
        "sentinel_secs": sentinel_runs,
        "sentinel_median": median(sent_w),
        "sentinel_cov": cov(sent_w),
        "sentinel_max_over_min": sent_spread(sent_w),
        "high_cov_queries": sorted(
            n for n, c in q_cov.items()
            if c > 0.25 and timings.get(n, 0) > 0.3),
    }
    # Self-qualification (r11 verdict task 1): a sentinel spread > 1.5
    # means a box slow phase polluted some samples (bench.py's own
    # documented distrust rule). Run ONE extra full pass and fold its
    # samples into the medians — the median of 4 with <=2 polluted
    # samples lands on a quiet sample. The extra pass's own sentinel
    # spread then decides whether the record is trustworthy; if IT is
    # still turbulent, mark the whole record suspect so the
    # round-over-round comparison knows to distrust it.
    requalify: dict = {"attempted": False}
    if noise["sentinel_max_over_min"] > 1.5:
        requalify["attempted"] = True
        extra_sent: list[float] = []
        for qi, (name, spec) in enumerate(REGISTRY.items()):
            if qi % SENTINEL_EVERY == 0:
                gc.collect()
                t0 = time.time()
                sentinel_spec.fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                extra_sent.append(round(time.time() - t0, 3))
            if not spec.production:
                continue
            gc.collect()
            spark.catalog.clearCache()
            t0 = time.time()
            try:
                spec.fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                runs.setdefault(name, []).append(round(time.time() - t0, 3))
            except Exception as e:
                runs.setdefault(name, []).append(-1.0)
                print(f"bench error in {name}: {e}", file=sys.stderr)
        sentinel_runs = sentinel_runs + extra_sent
        timings = {name: median(xs) for name, xs in runs.items()}
        total = round(sum(t for t in timings.values() if t >= 0), 3)
        q_cov = {n: cov(warm(xs)) for n, xs in runs.items()}
        requalify["extra_pass_sentinel_secs"] = extra_sent
        requalify["extra_pass_sentinel_max_over_min"] = \
            sent_spread(warm(extra_sent))
        noise = {
            "sentinel_secs": sentinel_runs,
            "sentinel_median": median(warm(sentinel_runs)),
            "sentinel_cov": cov(warm(sentinel_runs)),
            "sentinel_max_over_min": noise["sentinel_max_over_min"],
            "high_cov_queries": sorted(
                n for n, c in q_cov.items()
                if c > 0.25 and timings.get(n, 0) > 0.3),
        }
    noise["record_suspect"] = bool(
        requalify["attempted"]
        and requalify.get("extra_pass_sentinel_max_over_min", 99) > 1.5)
    noise["requalify"] = requalify
    full = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "passes": passes,
        "sf": sf,
        "noise": noise,
        "query_cov": q_cov,
        "excluded_oracle_gates": gates,
    }
    # Full record: to a file + an early stdout line (for humans / the
    # judge). The recording harness keeps only the LAST ~2000 chars of
    # stdout and json-parses the line it finds there, so the FINAL line
    # must stay compact: headline numbers + as many of the slowest
    # query medians as fit the budget (descending, so the entries that
    # matter for regression triage survive), with a pointer to the full
    # record. BENCH_r01/r02 parsed fine at ~90 queries; r3-r6 fell to
    # "parsed: null" once the one-line record outgrew the tail window.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_local_last.json")
    with open(full_path, "w") as fh:
        json.dump(full, fh)
    print(json.dumps(full))
    compact = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "passes": passes,
        "n_queries": len(timings),
        "full_record": full_path,
        "noise": {
            "sentinel_cov": noise["sentinel_cov"],
            "sentinel_max_over_min": noise["sentinel_max_over_min"],
            "n_high_cov_queries": len(noise["high_cov_queries"]),
            "record_suspect": noise["record_suspect"],
        },
    }
    if noise["requalify"]["attempted"]:
        compact["noise"]["requalified_max_over_min"] = \
            noise["requalify"]["extra_pass_sentinel_max_over_min"]
    # Deterministic headline set (r11 verdict task 3): the compact line
    # only fits ~45 of 220+ medians, so a purely slowest-first list
    # churns round over round and fabricates "dropped_from_bench"
    # entries. Pin the previous round's headline names (stored in the
    # repo) first, then fill any remaining budget slowest-first.
    pinned_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_headline.json")
    pinned: list[str] = []
    if os.path.exists(pinned_path):
        with open(pinned_path) as fh:
            pinned = json.load(fh)
    compact = compact_line(compact, timings, pinned)
    sys.stdout.flush()
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
