"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints exactly ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall seconds across the TIER-1 headline queries (each
executed to completion via a noop-sink action, results not retained) —
the round-1 anchor definition, unchanged for cross-round continuity.
`queries` carries per-query timings for BOTH tiers; `tier2_total` is
the tier-2 wall total reported alongside. The run self-certifies on
TWO signals: pre/post calibration probes bracketing the timed passes
must agree within CALIB_DIVERGENCE_MAX (external drift), and no query's
max/min spread across its own passes may exceed PASS_SPREAD_MAX (a
storm entirely inside the timed window, which the bracketing probes
can't see). A failing attempt re-runs (bounded); the JSON line carries
`certified`, `calib_divergence`, `pass_spread_max`, and the per-attempt
history in `attempts`, and reports the least-contaminated attempt when
none certifies.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from demo_data_warehouse_spark.session import get_spark  # noqa: E402

# Tier 1 — the round-1 anchor set, one per operator family: scan-heavy
# agg, shuffle join, window, SCD2 composite, merge, dedup LSH, ANN,
# text sweep. DO NOT change its membership: headline_total_wall is
# compared against BENCH_r01.json per query, forever.
HEADLINE = [
    "agg_group",
    "join_multihop",
    "window_latest",
    "scd2_delta",
    "merge_upsert",
    "agg_cube",
    "dedup_minhash",
    "ann_cosine_topk",
    "text_quality",
    "flagship_report",
]

# Tier 2 — round 5-7 operator families with no round-over-round perf
# tracking before driver round 4: MV rewrite maintenance, file-level
# bloom index build+probe, inverted-index build+lookup, density
# clustering, and the end-to-end curation capstone. Timed at lower
# pass count (they are maintenance-shaped: they write data, so a pass
# costs seconds, and min-of-2 already removes scheduler noise).
HEADLINE_T2 = [
    "maintenance_mv_rewrite",
    "scan_bloom_index",
    "text_inverted_index",
    "ml_dbscan",
    "corpus_curate_mix",
]


def _run(qs, name, spark, sf_dir) -> None:
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def _calibrate(spark) -> dict:
    """Fixed synthetic probes for HOST-DRIFT normalization (SURVEY 6.2:
    the shared bench host drifts ±25-40% between hours, moving frozen
    -code queries with it). Two probes, data-independent and frozen
    forever: a single-thread numpy matmul (CPU/memory-bandwidth) and a
    pure-codegen Spark range aggregation (JVM/scheduler). Cross-round
    comparisons should divide query walls by these before concluding
    regression; the membership-frozen tier-1 set remains the in-vivo
    control group."""
    import numpy as np

    x = np.random.RandomState(0).standard_normal((512, 512))
    best_np = float("inf")
    for _ in range(3):
        t0 = time.time()
        y = x
        for _ in range(20):
            y = y @ x
            y /= np.abs(y).max()
        best_np = min(best_np, time.time() - t0)
    best_sp = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(30_000_000).selectExpr("sum(id * 2) as s").collect()
        best_sp = min(best_sp, time.time() - t0)
    return {"numpy_s": round(best_np, 4), "spark_range_s": round(best_sp, 4)}


# A clean run's pre/post probes agree within host jitter; a steal storm
# moves them 2x+ (measured 2026-08-15, both the r6 driver and judge runs).
# Above this ratio the walls are condemned and the passes re-run.
CALIB_DIVERGENCE_MAX = 1.5
MAX_ATTEMPTS = 3
# Second, INTERNAL contamination signal: a storm that starts after the
# pre-probe and subsides before the post-probe leaves the bracketing
# pair agreeing around inflated walls (the r6 storm half-recovered by
# run end). Such a storm cannot inflate every repetition of a query
# equally, so the max/min spread across a query's timed passes betrays
# it; a calm run's spread is scheduler jitter (~1.1-1.5x, occasionally
# ~2x on a sub-second query from one GC pause). A false positive only
# costs a bounded retry.
PASS_SPREAD_MAX = 3.0


_WINDOW_LOGGER = "org.apache.spark.sql.execution.window"


def _quiet_window_warnings(spark):
    """Silence WindowExec's 'No Partition Defined' warning for the bench
    passes only: the census/dim-bounded global windows that trigger it
    are sanctioned (SURVEY §6; plan audit NO FLAGS), and 30 repeats per
    run bury real warnings in the artifact tail (VERDICT r6 nit 3).

    Returns a zero-arg restore callable: log4j levels are JVM-global,
    so without a restore anything sharing the long-lived JVM after
    main() also loses the warnings (ADVICE r7). The restore re-applies
    the logger's pre-bench level (None = inherit from parent config)."""
    try:
        jvm = spark._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        prior = ctx.getConfiguration().getLoggerConfig(_WINDOW_LOGGER)
        # the prior explicit level only if a config for THIS logger name
        # exists; otherwise the logger inherited, and restore = remove
        # our override by resetting to the inherited effective level.
        prior_level = (
            prior.getLevel() if prior.getName() == _WINDOW_LOGGER else None
        )
        inherited_level = prior.getLevel()
        configurator.setLevel(
            _WINDOW_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
        )

        def restore():
            try:
                configurator.setLevel(
                    _WINDOW_LOGGER,
                    prior_level if prior_level is not None else inherited_level,
                )
            except Exception:
                pass

        return restore
    except Exception:
        return lambda: None  # logging backend differs — cosmetic only


def _calib_divergence(pre: dict, post: dict) -> float:
    """Worst pre/post ratio across the two probes (direction-agnostic).

    A probe missing from either side, or one that rounds to ~0, is a
    BROKEN probe, not a calm one — returning inf condemns the attempt
    instead of silently weakening the certification (ADVICE r7: the old
    `if a and b` guard excluded exactly the readings that should flag).
    """
    worst = 1.0
    eps = 1e-6
    for k in ("numpy_s", "spark_range_s"):
        a, b = pre.get(k), post.get(k)
        if a is None or b is None:
            # large finite (not inf: json.dumps would emit non-standard
            # `Infinity` into the artifact) — always fails certification
            return 999.0
        a, b = max(a, eps), max(b, eps)
        worst = max(worst, a / b, b / a)
    return round(worst, 3)


def _timed_passes(qs, spark, sf_dir) -> tuple[dict[str, float], float]:
    # min of N timed passes: wall-clock on a shared box is noisy; the
    # minimum is the reproducible steady-state engine time. The max/min
    # spread across a query's passes is kept as the intra-window storm
    # detector (see PASS_SPREAD_MAX).
    timings: dict[str, float] = {}
    spread_max = 1.0
    for tier, passes in ((HEADLINE, 3), (HEADLINE_T2, 2)):
        for name in tier:
            walls = []
            for _ in range(passes):
                # Measurement guard: Spark's CacheManager keys cached
                # data by LOGICAL PLAN, so a frame a query shares
                # (demo_data_warehouse_spark/reuse.py) and that the
                # warm-up or an earlier pass materialized would serve
                # the next pass from memory — min-of-passes would then
                # time cache READS, not an execution. The @query
                # wrapper's release() already drops the previous
                # query's shared frames on entry (pinned by
                # tests/unit/test_reuse.py); clearing here as well keeps
                # every timed pass computing from the parquet inputs
                # whatever else the session cached. The warm-up pass
                # (JIT, page cache, plan compile — per-process one-time
                # costs, not per-query costs) stays.
                spark.catalog.clearCache()
                t0 = time.time()
                _run(qs, name, spark, sf_dir)
                walls.append(time.time() - t0)
            timings[name] = round(min(walls), 3)
            spread_max = max(spread_max, max(walls) / max(min(walls), 1e-9))
    return timings, round(spread_max, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    spark = get_spark("ddw-bench")
    restore_window_log = _quiet_window_warnings(spark)
    # Warm-up pass BEFORE the first calibration: plan compile, JIT, and
    # OS page cache are one-time costs, not per-query costs on a
    # long-lived cluster — and the pre-probe must measure the same
    # steady state the post-probe does, or cold-start alone reads as
    # divergence and condemns clean runs (ADVICE r6).
    for name in HEADLINE + HEADLINE_T2:
        _run(qs, name, spark, sf_dir)

    # Calibrate BEFORE and AFTER the timed passes: the shared host's
    # drift moves WITHIN a bench run (measured 2026-08-15: a steal storm
    # hit mid-run, exploding tier-2 40x while the end-of-run calib had
    # already recovered). Diverging probes condemn the walls — both r6
    # recordings (driver and judge) failed this criterion and recorded
    # anyway, so the run now retries itself (VERDICT r6 item 2): bounded
    # re-runs until a pass whose pre/post probes agree, and an explicit
    # certified flag so the artifact is self-describing either way.
    attempts = []
    best = None  # least-contaminated attempt so far: (score, payload)
    for _ in range(MAX_ATTEMPTS):
        calib_pre = _calibrate(spark)
        timings, spread = _timed_passes(qs, spark, sf_dir)
        calib_post = _calibrate(spark)
        divergence = _calib_divergence(calib_pre, calib_post)
        attempts.append({"calib_divergence": divergence, "pass_spread": spread})
        certified = (
            divergence <= CALIB_DIVERGENCE_MAX and spread <= PASS_SPREAD_MAX
        )
        # When no attempt certifies, report the LEAST-divergent one —
        # the stormiest attempt happening to run last must not overwrite
        # the best evidence the run produced.
        score = (max(divergence / CALIB_DIVERGENCE_MAX, spread / PASS_SPREAD_MAX),)
        payload = (timings, calib_pre, calib_post, divergence, spread)
        if best is None or score < best[0]:
            best = (score, payload)
        if certified:
            break
    timings, calib_pre, calib_post, divergence, spread = best[1]
    certified = divergence <= CALIB_DIVERGENCE_MAX and spread <= PASS_SPREAD_MAX
    restore_window_log()  # JVM-global level: un-suppress after the passes

    total = round(sum(timings[n] for n in HEADLINE), 3)
    t2_total = round(sum(timings[n] for n in HEADLINE_T2), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "tier2_total": t2_total,
                "calib_pre": calib_pre,
                "calib": calib_post,
                "calib_divergence": divergence,
                "pass_spread_max": spread,
                "certified": certified,
                "attempts": attempts,
            }
        )
    )


if __name__ == "__main__":
    main()
