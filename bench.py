#!/usr/bin/env python
"""Headline benchmark: run the engine's query battery at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Every query is timed under ``write.format("noop")`` — a blackhole sink
that materializes every output column, so the full final-projection cost
is paid (a bare ``count()`` lets Catalyst prune expensive final
projections and under-reports projection-heavy queries; that
count-based series was the r1-r9 legacy metric, retired in round 10
per the r8/r9 verdicts).

Headline pair (round-10 VERDICT item #4):

- ``value`` — raw noop-sink battery total (best-of-N per query);
- ``value_canary_normalized`` — the same total divided by
  ``canary_drift_noop``, the drift of a 10-query untouched canary
  subset (``cfg/bench_canary.json``) against its quiet-box reference.
  ~1.0 drift = quiet box; the normalized number is the round-over-round
  comparable one on this shared box (observed ±40% environmental
  swings).

A 1-minute loadavg above ``SPARK_GRAFT_BENCH_MAX_LOAD`` (default 8.0)
is flagged as ``"env_hot": true`` in the artifact and warned on stderr;
set ``SPARK_GRAFT_BENCH_REFUSE=1`` to make that a hard exit instead
(the default stays soft so the driver's per-round run always yields a
line).

Usage: python bench.py [--config harness.yml]
(YAML keys: sf_dir, bench_rounds, queries — see config.HarnessConfig.)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ska_src_maltopuft_etl_spark.config import load_harness_config
from ska_src_maltopuft_etl_spark.engine import get_spark, release_all_persisted
from ska_src_maltopuft_etl_spark.plans import QUERIES


def _stage_run_ms(spark, since: int) -> tuple[int, int] | None:
    """``(newest stage id, executor run time in ms)`` of the stages newer
    than stage id ``since``.

    The run time is the sum of stage ``executorRunTime``, i.e. task time
    summed over tasks: it reads about cores x wall on a parallel query
    and about wall on a driver-bound one, which is what separates
    executor compute from driver overhead. (``ExecutorSummary.
    totalDuration`` does not: it grows with wall time.) Read from the
    app status store's stage list, newest first, after draining the
    listener bus so late task-end events land on the query that ran
    them. Returns None if the internal API is unavailable (the field is
    additive — wall timings are unaffected).
    """
    try:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            pass  # best-effort drain; ~ms-level attribution slack is fine
        stages = jsc.statusStore().stageList(
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None  # noqa: SLF001
        )
        newest, total = since, 0
        for i in range(stages.size()):
            stage = stages.apply(i)
            if stage.stageId() <= since:
                break
            newest = max(newest, stage.stageId())
            total += stage.executorRunTime()
        return newest, int(total)
    except Exception:
        return None


def _box_probe_sec(spark) -> float:
    """Pure box-speed probe: a fixed synthetic workload that never
    touches engine code (round-15 canary re-base, VERDICT r14 #8).

    The r7 "untouched query" canary stopped being a box probe the
    moment optimization rounds touched shared engine layers (session
    memo, table loading): its drift conflates box speed with real code
    wins and the r14 re-pin folded a measured code factor into the
    reference — structurally one bad measurement away from normalizing
    a regression. This probe is immune by construction: plain Spark API
    over ``range()`` data, fixed seed-free integer arithmetic, fixed
    partition counts, no engine imports — byte-frozen alongside the
    reference value in cfg/bench_canary.json (``box_probe_reference_sec``).
    Shape: one CPU-bound hash aggregate + one shuffle join, ~1 s on a
    quiet local[32] box. Timed best-of-2 (JVM/codegen warm by the time
    it runs — bench.py's warmup precedes it).
    """
    import time as _t

    best = None
    for _ in range(2):
        t0 = _t.time()
        left = (
            spark.range(0, 12_000_000, 1, 32)
            .selectExpr(
                "id % 100000 AS k",
                "(id * 2654435761) % 1000003 AS v",
            )
        )
        agg = left.groupBy("k").agg(
            F.sum("v").alias("s"),
            F.avg("v").alias("a"),
            F.max("v").alias("m"),
        )
        right = spark.range(0, 100_000, 1, 8).selectExpr(
            "id AS k", "id * 7 % 97 AS w"
        )
        agg.join(right, "k").selectExpr(
            "k", "s + w AS sw", "a", "m"
        ).write.format("noop").mode("overwrite").save()
        el = _t.time() - t0
        best = el if best is None else min(best, el)
    return round(best, 3)


def main() -> None:
    cfg_path = None
    if "--config" in sys.argv:
        cfg_path = sys.argv[sys.argv.index("--config") + 1]
    cfg = load_harness_config(cfg_path)
    sf_dir = cfg.sf_dir
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None

    # Quiesce check (round-7 VERDICT #3a): two rounds of
    # battery-to-battery deltas turned out to be co-tenant processes,
    # not code. The numbers go in the final JSON so the JUDGE can see
    # the environment, not just us.
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "8.0"))
    load_start = os.getloadavg()[0]
    env_hot = load_start > max_load
    if env_hot:
        print(
            f"[bench] WARNING: 1-min loadavg {load_start:.1f} > {max_load} "
            f"at start — box is not quiet; totals will not be comparable "
            f"(set SPARK_GRAFT_BENCH_REFUSE=1 to abort instead)",
            file=sys.stderr, flush=True,
        )
        if os.environ.get("SPARK_GRAFT_BENCH_REFUSE") == "1":
            print(json.dumps({
                "metric": "total_query_battery_noop_sink_sec",
                "value": None,
                "refused": f"loadavg_start {load_start:.2f} > {max_load}",
            }))
            sys.exit(3)

    spark = get_spark(app_name="bench", conf={"spark.ui.enabled": "false"})

    # Warm the JVM / codegen / parquet footer caches so the first timed
    # query doesn't absorb session startup.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    next(iter(QUERIES.values())).fn(spark, sf_dir).count()

    specs = {
        k: v
        for k, v in QUERIES.items()
        if not cfg.queries or k in set(cfg.queries)
    }

    # Per-query time = best of N full executions (default 3; round-5
    # judge item #4 — min-of-2 still let ±8-10% battery noise swamp
    # real code deltas). Min-of-N is the standard steady-state
    # estimator; each round still executes the complete plan from the
    # parquet scan up (cache cleared between).
    rounds = cfg.bench_rounds
    timings_noop: dict[str, float] = {}
    # Per-query executor aggregate task time (sec) — additive round-15
    # field (VERDICT r14 #2): recorded for the same round the best wall
    # time came from, so wall and task time describe one execution.
    task_sec: dict[str, float] = {}
    since = -1
    for name, spec in specs.items():
        # progress marker on stderr (stdout stays machine-parseable;
        # the driver keeps only the final stdout line): long scaled-tier
        # batteries die mid-run on resource walls, and without this the
        # failing QUERY is unidentifiable from stage numbers alone.
        print(f"[bench] {name}", file=sys.stderr, flush=True)
        best_noop = None
        for _ in range(rounds):
            mark = _stage_run_ms(spark, since)
            t0 = time.time()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
            run = _stage_run_ms(spark, mark[0]) if mark else None
            if run:
                since = run[0]
            if best_noop is None or elapsed < best_noop:
                # no stale round's task time next to this round's wall
                if run is None:
                    task_sec.pop(name, None)
                else:
                    task_sec[name] = round(run[1] / 1000.0, 3)
            best_noop = elapsed if best_noop is None else min(best_noop, elapsed)
            # queries are independent; drop any intermediates a query
            # pinned so later timings aren't distorted by cache/GC
            # pressure. clearCache only unpins catalog-cached frames —
            # localCheckpoint RDDs (the iterative/certification queries
            # use ~18 of them) live in RDD storage and otherwise
            # accumulate across the battery, degrading every later
            # query via GC pressure (measured +40% battery drift).
            release_all_persisted(spark)
        timings_noop[name] = round(best_noop, 3)
    total_noop = round(sum(timings_noop.values()), 3)

    # Round-15 box probe (VERDICT r14 #8): a synthetic, engine-free
    # workload timed against a quiet-box reference pinned in
    # cfg/bench_canary.json. This is the structural replacement for the
    # query canary below, whose "untouched" premise optimization rounds
    # keep breaking via shared-engine changes. Runs AFTER the battery so
    # it never warms the timed queries.
    box_probe_sec = None
    try:
        box_probe_sec = _box_probe_sec(spark)
    except Exception:
        pass
    load_end = os.getloadavg()[0]

    # Canary drift (round-7 VERDICT #3b): sum of the 10 untouched
    # canary queries vs their quiet-box reference. ~1.0 = quiet box,
    # comparable battery; >>1.0 = environmental inflation — the
    # normalized total divides it out. Since round 15 the headline
    # normalization uses the BOX PROBE drift (pure box speed by
    # construction); the legacy query-canary drift and its normalized
    # total are still emitted for round-over-round continuity.
    canary_drift_noop = None
    total_normalized_legacy = None
    canary_drift_box = None
    total_normalized = None
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "cfg", "bench_canary.json")
        ) as f:
            canary = json.load(f)
        ref_n = canary["reference_noop_sec"]
        if all(k in timings_noop for k in ref_n):
            canary_drift_noop = round(
                sum(timings_noop[k] for k in ref_n) / sum(ref_n.values()), 3
            )
            total_normalized_legacy = round(total_noop / canary_drift_noop, 3)
        box_ref = canary.get("box_probe_reference_sec")
        if box_probe_sec is not None and box_ref:
            canary_drift_box = round(box_probe_sec / float(box_ref), 3)
            total_normalized = round(total_noop / canary_drift_box, 3)
    except (OSError, ValueError, KeyError, ZeroDivisionError):
        pass
    if total_normalized is None:
        # Box probe unavailable — fall back to the legacy definition so
        # the contract key is always populated.
        total_normalized = total_normalized_legacy
    # Round 2 postmortem: the single-line JSON with all per-query
    # timings outgrew the driver's tail capture and the headline line was
    # truncated away ("parsed": null in BENCH_r02.json). Emit the full
    # map on its own (non-final) line for humans/archives, then a SHORT
    # final JSON line — same contract keys, but "queries" bounded to the
    # slowest 12 so the line stays well under any tail-capture limit.
    full = {
        "metric": "per_query_wall_sec_full",
        "queries_noop_sink": timings_noop,
        "queries_exec_task_sec": task_sec,
        "canary_drift_noop": canary_drift_noop,
        "canary_drift_box": canary_drift_box,
        "box_probe_sec": box_probe_sec,
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(load_end, 2),
        "env_hot": env_hot,
        "sf": sf_val,
        "rounds": rounds,
        "config": cfg_path,
    }
    print(json.dumps(full))
    # Also archive in-repo so every round's full battery is diffable
    # (the driver's BENCH_r{N}.json keeps only the final line). Subset
    # runs (--config queries: [...]) must not clobber the archive.
    if not cfg.queries:
        try:
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_FULL.json"), "w"
            ) as f:
                json.dump(full, f, indent=1, sort_keys=True)
        except OSError:
            pass
    slowest = dict(
        sorted(timings_noop.items(), key=lambda kv: kv[1], reverse=True)[:12]
    )
    print(
        json.dumps(
            {
                # PRIMARY metric since round 8: noop-sink total — every
                # output column materialized, final projections paid.
                # (count_total_sec_legacy retired in round 10.)
                "metric": "total_query_battery_noop_sink_sec",
                "value": total_noop,
                "unit": "sec",
                # The round-over-round comparable number on a shared
                # box: raw total divided by box drift (r15+: synthetic
                # box probe; legacy query-canary kept alongside).
                "value_canary_normalized": total_normalized,
                "value_canary_normalized_legacy": total_normalized_legacy,
                "canary_drift_noop": canary_drift_noop,
                "canary_drift_box": canary_drift_box,
                "loadavg_start": round(load_start, 2),
                "loadavg_end": round(load_end, 2),
                "env_hot": env_hot,
                "queries": slowest,
                # executor aggregate task time for the same 12 queries
                # (r15 scaling contract: task time scales with cores,
                # wall at sf0.1 is driver-bound — see VERDICT r14 #2).
                "queries_exec_task_sec": {
                    k: task_sec[k] for k in slowest if k in task_sec
                },
                "n_queries": len(timings_noop),
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
