"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Optional argv: query-name substrings to scope the run (isolation
re-timing of a single query: `python bench.py setop_building`). The
one-JSON-line contract is unchanged; "n_queries" reflects the scope.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(d: str) -> float:
    name = Path(d).name
    if name.startswith("sf"):
        try:
            return float(name[2:])
        except ValueError:
            pass
    return -1.0


# Composite queries whose legs are timed on their own: the index build,
# append and compaction are once-per-corpus maintenance that amortizes
# across probe runs, so drift is watched on the probe leg users pay
# repeatedly, not only on the blended total (VERDICT r09 item 5).
LEG_QUERIES = ("minhash_index_lifecycle", "minhash_index_probe")
_LEG_FNS = {
    "build_minhash_index": "build",
    "append_to_minhash_index": "append",
    "compact_minhash_index": "compact",
}


@contextmanager
def capture_legs():
    """Time the index-maintenance calls made inside the block by
    wrapping them on ``operators.dedup`` (the queries import them inside
    their bodies, so the wrapped attribute is what they call). Yields a
    dict that, on exit, holds seconds per leg; ``probe`` is the block's
    wall time minus the wrapped spans."""
    from hazelcast_jet_contrib_spark.operators import dedup

    legs: dict[str, float] = {}
    originals = {n: getattr(dedup, n) for n in _LEG_FNS}

    def timed(fn, leg):
        def call(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                legs[leg] = legs.get(leg, 0.0) + time.perf_counter() - t

        return call

    for n, leg in _LEG_FNS.items():
        setattr(dedup, n, timed(originals[n], leg))
    t0 = time.perf_counter()
    try:
        yield legs
    finally:
        for n, fn in originals.items():
            setattr(dedup, n, fn)
        legs["probe"] = time.perf_counter() - t0 - sum(legs.values())


def _run(fn, spark, name: str, subtimings: dict[str, dict[str, float]]):
    """Build and collect one query. For LEG_QUERIES the leg seconds are
    folded into ``subtimings`` keeping the MIN across samples in this
    process: a retimed query reports min(in_sweep, isolated), so its
    legs follow the same policy."""
    with capture_legs() if name in LEG_QUERIES else nullcontext({}) as legs:
        df = fn(spark, SF_DIR)
        df.collect()
    for leg, sec in legs.items():
        q = subtimings.setdefault(name, {})
        q[leg] = min(q.get(leg, sec), round(sec, 3))
    return df


def main() -> None:
    from hazelcast_jet_contrib_spark import get_spark
    from hazelcast_jet_contrib_spark.registry import QUERIES

    # Contention evidence (VERDICT r17 item 1/4): the r17 32-core driver
    # sweep read 37% slower than its own 8-core sweep minutes later —
    # distinguishable from a code regression only via the builder's
    # session logs. Sampling the 1-minute loadavg at sweep start/end
    # (this sandbox shows loadavg 3-7 from OUTSIDE the VM with zero
    # local processes during contention bursts) puts that evidence in
    # the driver-visible line itself.
    load_start = round(os.getloadavg()[0], 2)

    spark = get_spark(app_name="bench")

    # Untimed warmup: exercise the parquet reader, whole-stage codegen,
    # the window-exec path, and the Arrow/Python worker pool once, so
    # the alphabetically-first query doesn't absorb ~5s of JVM spin-up.
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(x):
        return x * 1.0

    warm = spark.read.parquet(f"{SF_DIR}/region.parquet")
    warm.groupBy("r_name").agg(F.count(F.lit(1))).withColumn(
        "w", F.row_number().over(Window.partitionBy("r_name").orderBy("r_name"))
    ).withColumn("p", _warm(F.col("w").cast("double"))).collect()
    # spawn the WHOLE Python worker pool (region is 1 partition — the
    # line above starts a single worker; the first wide UDF stage would
    # otherwise absorb ~3s forking the remaining 31)
    spark.range(0, 1 << 15, 1, 32).withColumn(
        "p", _warm(F.col("id").cast("double"))
    ).groupBy().sum("p").collect()

    # Generated-code paths (the 128-column min-aggregate + banding joins
    # of MinHash, the 64-vote SimHash aggregate, the composed curation
    # pipeline, the n-gram HOF pipelines, ...) pay up to ~10s of
    # one-time Janino compilation. Warm EVERY query IMMEDIATELY before
    # its timed run against the SMALLEST scale factor: the generated
    # Java is keyed by expression structure, not input path, so the
    # ~100-row warmup compiles exactly the classes the timed run needs.
    # get_spark sizes the compiled-class cache to hold every class of a
    # whole registry window (session.py), so other queries' codegen no
    # longer evicts the warmed classes; warming just-in-time keeps that
    # true under a session with Spark's 100-entry default. The timed
    # number is therefore steady-state execution at SF_DIR, which is the
    # quantity that scales to a real cluster (where JIT cost amortizes
    # to zero over a 100 TB scan).
    warm_dir = str(Path(SF_DIR).parent / "sf0.001")
    can_warm = Path(warm_dir).is_dir() and warm_dir != SF_DIR

    name_filters = sys.argv[1:]
    RETIME_SEC = 2.0
    # History-based noise guard (VERDICT r05 item 8): any query whose
    # fresh timing exceeds 1.5x its previous recorded timing gets a
    # retime even below the 2 s floor — sub-second drifts (r03
    # token_length_profile 1.9x) were previously unretimed and read as
    # regressions when they were host noise.
    RETIME_RATIO = 1.5
    prev_timings: dict[str, float] = {}
    prev_subtimings: dict[str, dict[str, float]] = {}
    try:
        with open(Path(REPO) / "BENCH_TIMINGS.json") as f:
            hist = json.load(f)
        # only comparable at the same scale factor — cross-SF history
        # would flag every query as a 1.5x drift
        if hist.get("sf") == _sf_from_dir(SF_DIR):
            prev_subtimings = hist.get("subtimings", {})
            prev_timings = {
                k: v for k, v in hist.get("queries", {}).items() if v > 0
            }
    except (OSError, ValueError):
        pass
    # Best-known-time tripwire (VERDICT r08 item 6): BENCH_BEST.json
    # keeps the per-query minimum ever recorded at this SF; any query
    # whose fresh timing exceeds 1.5x its best gets a retime EVEN BELOW
    # the 2 s floor (the r08 drifters — topk_customers_per_nation at
    # 1.79x — were invisible to the previous-sweep-only guard because
    # the drifted value became the next round's baseline), and the
    # sweep reports vs_best ratios + a "drifted" list so a real
    # regression is flagged at the sweep that introduces it.
    # Minima are keyed BY SF (ADVICE r09): a sweep at a different scale
    # factor updates only its own bucket instead of wiping the other
    # SF's best-known-time history. Legacy flat files ({"sf", "queries"})
    # migrate on first write.
    best_path = Path(REPO) / "BENCH_BEST.json"
    cur_sf = str(_sf_from_dir(SF_DIR))
    best_by_sf: dict[str, dict[str, float]] = {}
    legs_by_sf: dict[str, dict[str, float]] = {}
    try:
        with open(best_path) as f:
            bhist = json.load(f)
        if "by_sf" in bhist:
            best_by_sf = {
                sf: {k: v for k, v in qs.items() if v > 0}
                for sf, qs in bhist["by_sf"].items()
            }
            legs_by_sf = bhist.get("legs_by_sf", {})
        elif bhist.get("queries"):  # legacy single-SF format
            best_by_sf[str(bhist.get("sf"))] = {
                k: v for k, v in bhist["queries"].items() if v > 0
            }
    except (OSError, ValueError):
        pass
    best: dict[str, float] = dict(best_by_sf.get(cur_sf, {}))
    best_legs: dict[str, float] = dict(legs_by_sf.get(cur_sf, {}))
    retimed: list[str] = []
    timings: dict[str, float] = {}
    shuffles: dict[str, dict[str, float]] = {}
    retime_provenance: dict[str, dict[str, float]] = {}
    # per-leg seconds of the timed runs only: the sf0.001 warmup runs
    # outside capture_legs, so its tiny legs never reach the minima
    subtimings: dict[str, dict[str, float]] = {}
    for name in sorted(QUERIES):
        if name_filters and not any(f in name for f in name_filters):
            continue
        fn = QUERIES[name]
        if can_warm:
            try:
                # warm with .collect(), not .count(): count() plans a
                # column-pruned aggregate whose generated classes can
                # differ from the collect() the timed run executes
                fn(spark, warm_dir).collect()
            except Exception:
                pass
            spark.catalog.clearCache()
        # ok_df tracks the last SUCCESSFULLY collected DataFrame: shuffle
        # stats must come from a fully-executed plan, never from a retry
        # that threw mid-execution (its accumulators are partial).
        ok_df = None
        t0 = time.perf_counter()
        try:
            df = _run(fn, spark, name, subtimings)
            timings[name] = round(time.perf_counter() - t0, 3)
            ok_df = df
        except Exception as ex:  # keep the harness alive; surface per-query
            timings[name] = -1.0
            print(f"bench: {name} FAILED: {ex}", file=sys.stderr)
        # Noise guard for the heavy tail: a query whose first measurement
        # exceeds RETIME_SEC gets one fresh re-run and reports the MIN —
        # host-level interference (other tenants, GC alignment) inflates
        # long-running queries multiplicatively and a second sample
        # removes most of it. Explicitly recorded in the output
        # ("retimed") so the policy is never silent.
        if timings[name] > RETIME_SEC or (
            0 < timings[name]
            and name in prev_timings
            and timings[name] > RETIME_RATIO * prev_timings[name]
        ) or (
            0 < timings[name]
            and name in best
            and timings[name] > RETIME_RATIO * best[name]
        ):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t1 = time.perf_counter()
            try:
                df = _run(fn, spark, name, subtimings)
                second = round(time.perf_counter() - t1, 3)
                # provenance (VERDICT r06 item 7): keep BOTH samples so
                # round-over-round comparisons never silently mix
                # contended (in-sweep) and isolated values
                retime_provenance[name] = {
                    "in_sweep": timings[name],
                    "isolated": second,
                }
                if second < timings[name]:
                    timings[name] = second
                retimed.append(name)
                ok_df = df
            except Exception:
                pass
        # Measured shuffle volume of the last fully-executed run, read
        # from the executed plan's SQL metric accumulators AFTER the
        # timed window (pure py4j reads, no recomputation). This is the
        # per-query scale evidence: records/bytes that actually crossed
        # an exchange at this SF, comparable round-over-round.
        if ok_df is not None:
            try:
                from hazelcast_jet_contrib_spark.plans.audit import (
                    executed_shuffle_stats,
                )

                s = executed_shuffle_stats(ok_df)
                shuffles[name] = {
                    "records": s["shuffle_records"],
                    "mb": round(s["shuffle_bytes"] / 1e6, 2),
                }
            except Exception:
                pass
        # per-query isolation: the dedup/similarity queries persist
        # shared relations; letting them pile up makes later queries'
        # timings depend on accumulated executor memory pressure. The
        # explicit JVM GC drains the freed cache/shuffle buffers NOW so
        # a later heavy query doesn't absorb a full-GC pause that is
        # really the previous 70 queries' garbage (measured: the media
        # trio and the curation pipeline run 2x slower late in a full
        # sweep than in isolation without this). Gated on queries that
        # actually created pressure — a sub-half-second query's garbage
        # is negligible and 79 unconditional GCs would cost ~a minute of
        # harness wall time.
        spark.catalog.clearCache()
        if timings[name] > 0.5:
            spark.sparkContext._jvm.System.gc()

    ok = {k: v for k, v in timings.items() if v >= 0}
    # THE 2000-CHAR TAIL WINDOW IS THE SPEC (measured across
    # BENCH_r01-r05: the driver records exactly the last 2000 chars of
    # output, and a 98-entry timings dict alone is ~3.3 KB — r01-r05
    # all ended `parsed: null`). The driver line therefore carries only
    # scalars plus the SLOWEST-8 queries (schema-compatible "queries"
    # dict, bounded size); the full per-query timings move to the side
    # artifact BENCH_TIMINGS.json next to BENCH_SHUFFLE.json.
    if name_filters:
        shuffle_path = os.devnull  # scoped run: keep the full-sweep artifact
    else:
        shuffle_path = Path(REPO) / "BENCH_SHUFFLE.json"
    with open(shuffle_path, "w") as f:
        json.dump(
            {
                "sf": _sf_from_dir(SF_DIR),
                # measured shuffle volume per query (records / MB written
                # across every exchange of the executed plan, cached
                # subtrees counted once) — the round-over-round
                # scale-regression surface
                "shuffle": shuffles,
                # Measurement policy markers. "warmed": each query got a
                # just-in-time sf0.001 codegen warmup before its timed run
                # (round 2+; round-1 numbers warmed only 4 queries, so
                # totals aren't comparable across that boundary).
                # "cache_isolated": per-query clearCache() (round 2+).
                "warmed": can_warm,
                "cache_isolated": True,
                "retime_threshold_sec": RETIME_SEC,
                "retimed": sorted(retimed),
                # Sub-second queries are NOT retimed, so they carry
                # documented host-interference noise (r03 setop delta
                # attributed to host noise; see r04 isolation re-timing).
                "policy_notes": "sub-second queries exposed to host noise; setop r03 delta attributed (see BENCH_SHUFFLE.json history)",
            },
            f,
            indent=1,
        )
    # vs_best ratios against the all-time minima, then fold this sweep's
    # timings into the best file (minima only — a slow sweep can never
    # raise a best). Ratios are computed against the PRE-update best so
    # a drift is visible in the very sweep that introduces it.
    vs_best = {
        k: round(v / best[k], 2) for k, v in ok.items() if k in best
    }
    # Drift needs BOTH a ratio and an absolute-seconds trip (round 11):
    # a 0.25 s -> 0.42 s query is 1.7x "drift" that is pure fixed-cost
    # jitter (job launch, codegen cache) — unactionable and, measured
    # in isolation on a quiet host, unreproducible as anything else.
    # The ratio still appears in vs_best for every query, so nothing is
    # hidden; the drifted list is reserved for deltas a human should
    # chase (>= 0.5 s over the all-time best).
    DRIFT_ABS_SEC = 0.5
    drifted = sorted(
        k
        for k, r in vs_best.items()
        if r > RETIME_RATIO and ok[k] - best[k] >= DRIFT_ABS_SEC
    )
    # per-leg drift (VERDICT r09 item 5): each LEG_QUERIES leg is
    # tripwired against its ALL-TIME minimum (best_legs, kept in
    # BENCH_BEST like the headline timings) so a slow sweep can never
    # ratchet the leg baseline upward — plus the previous sweep as a
    # secondary signal.
    for q, legs in subtimings.items():
        for leg, sec in legs.items():
            ref = min(
                (x for x in (
                    best_legs.get(f"{q}:{leg}", 0),
                    prev_subtimings.get(q, {}).get(leg, 0),
                ) if x > 0),
                default=0,
            )
            if ref > 0 and sec > RETIME_RATIO * ref and sec - ref >= DRIFT_ABS_SEC:
                drifted.append(f"{q}:{leg}")
            best_legs[f"{q}:{leg}"] = min(
                best_legs.get(f"{q}:{leg}", sec), sec
            )
    drifted = sorted(drifted)
    for k, v in ok.items():
        best[k] = min(best.get(k, v), v)
    if not name_filters:
        best_by_sf[cur_sf] = best  # only THIS SF's bucket changes
        legs_by_sf[cur_sf] = best_legs
        with open(best_path, "w") as f:
            json.dump({"by_sf": best_by_sf, "legs_by_sf": legs_by_sf}, f, indent=1)
    if not name_filters:  # a scoped re-time must not truncate the history
        with open(Path(REPO) / "BENCH_TIMINGS.json", "w") as f:
            json.dump(
                {
                    "sf": _sf_from_dir(SF_DIR),
                    "n_queries": len(timings),
                    "retimed": sorted(retimed),
                    # both samples per retimed query (the reported value
                    # is min(in_sweep, isolated)): round-over-round
                    # deltas can be attributed to contention vs code
                    "retime_provenance": retime_provenance,
                    # final timing / best-ever timing at this SF; > 1.5
                    # entries are listed in "drifted" — the per-query
                    # regression tripwire (VERDICT r08 item 6)
                    "vs_best": vs_best,
                    "drifted": drifted,
                    # per-leg elapsed for composite queries (build vs
                    # probe for minhash_index_probe): the leg users pay
                    # repeatedly is drift-watched on its own
                    "subtimings": subtimings,
                    "queries": timings,
                },
                f,
                indent=1,
            )
    slowest = dict(sorted(ok.items(), key=lambda kv: -kv[1])[:8])
    # In-sweep contention markers (VERDICT r17 items 1/4), all cheap
    # scalars so the 1500-char tail budget holds:
    #   drifted_n        — queries >1.5x their all-time best AND >=0.5s
    #                      over it (the human-chase list's size)
    #   retime_gain_sec  — how much the min-of-two retime policy shaved
    #                      off in-sweep samples: large values mean the
    #                      sweep itself was contended, not the code
    #   load_start/end   — 1-min loadavg around the sweep (external
    #                      neighbors show up here with zero local
    #                      processes)
    retime_gain = round(
        sum(
            p["in_sweep"] - min(p["in_sweep"], p["isolated"])
            for p in retime_provenance.values()
        ),
        2,
    )
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
        "sf": _sf_from_dir(SF_DIR),
        "n_queries": len(timings),
        "n_failed": len(timings) - len(ok),
        "retimed_n": len(retimed),
        "drifted_n": len(drifted),
        "retime_gain_sec": retime_gain,
        "load_start": load_start,
        "load_end": round(os.getloadavg()[0], 2),
        "side_artifacts": "BENCH_TIMINGS.json,BENCH_SHUFFLE.json",
        "queries": slowest,
    }
    line = json.dumps(out)
    # Tail-budget enforcement (ADVICE r06): never a bare assert — it is
    # stripped under -O, and raising here would lose the whole sweep's
    # driver record AFTER all the work ran. On breach, shrink the
    # slowest-N payload until the line fits and say so on stderr.
    while len(line) >= 1500 and out["queries"]:
        out["queries"].popitem()
        line = json.dumps(out)
        print(
            f"bench: driver line over tail budget; shrank slowest-N to "
            f"{len(out['queries'])} entries",
            file=sys.stderr,
        )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
