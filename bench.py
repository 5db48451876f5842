"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line with per-query wall-times.

Usage: python bench.py [--repeat N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))


def _plan_diff(
    prev_plans: dict, plans: dict
) -> tuple[dict, dict]:
    """(regressions, info_deltas) between two per-query plan-metric
    dicts ({name: {shuffles, sorts, scans, broadcasts}}).

    A REGRESSION is a shuffle or sort count increase — the two node
    kinds that cost at scale. Scans (and broadcasts) going UP while
    shuffles hold or go DOWN is the durable store WORKING: stored
    index/certificate tables replace rebuilt subtrees, adding `Scan
    parquet` nodes while removing exchanges (the round-8 lane flagged
    3 such false positives). Scan/broadcast deltas are reported
    informationally so a genuine extra-pass regression stays visible,
    but they never trip the REGRESSIONS banner. Unit-pinned by
    tests/test_bench_plan_diff.py."""
    regressions = {}
    info_deltas = {}
    for name, m in plans.items():
        prev_m = prev_plans.get(name)
        if not prev_m:
            continue
        if any(m[k] > prev_m.get(k, 0) for k in ("shuffles", "sorts")):
            regressions[name] = {"prev": prev_m, "now": m}
        delta = {
            k: [prev_m.get(k, 0), m[k]]
            for k in ("scans", "broadcasts")
            if m[k] != prev_m.get(k, 0)
        }
        if delta:
            info_deltas[name] = delta
    return regressions, info_deltas
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    parser = argparse.ArgumentParser()
    # 5 reps: single-run numbers on the shared sandbox drift ±45% and
    # even 3-run medians flagged false regressions in round 3 — two
    # extra laps cost ~90 s and make the median robust to one noisy
    # neighbor-tenant burst spanning two runs
    parser.add_argument("--repeat", type=int, default=5)
    parser.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = parser.parse_args()

    from guagua_spark.session import get_spark

    spark = get_spark(
        app_name="guagua_bench",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()

    sf_dir = args.sf_dir
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    # COLD lane: the first full run per query, timed. This is the lap
    # that used to be an unmeasured warm-up — but several entries carry
    # legitimate per-dataset memo caches (k-means init, persisted LR/NN
    # inputs, IVF quantizer centroids) that the first run populates, so
    # discarding it made cold-start regressions in exactly those
    # entries invisible. Cold also absorbs JIT/codegen + parquet footer
    # caches; that's what a real first invocation pays too.
    #
    # Index attribution: shared memo builds (the MinHash pair graph,
    # quantizer, assets, feature inputs) land on whichever query runs
    # first, which made that query's cold number an index build and the
    # index's real consumers look free. Builders self-report via
    # guagua_spark.metrics; each build becomes its own `_index:*` cold
    # entry and is SUBTRACTED from the triggering query's time — so
    # per-query cold values are independent and cold_total still sums
    # to real wall time.
    from guagua_spark.metrics import drain_index_builds

    # Durable-store state at bench start (VERDICT r13 item 4): the
    # cold lane's absolute numbers depend on whether `_index:certload`
    # entries can be served from spark-warehouse/_guagua_cache, so any
    # cold-lane comparison must normalize on this. store_entries is
    # the entry-directory count at START of the run (0 == store-wiped
    # lane); the warm lane never touches the store either way.
    from guagua_spark import durable

    try:
        _root = durable.cache_root(spark)
        store_entries = sum(
            len(os.listdir(os.path.join(_root, d)))
            for d in os.listdir(_root)
            if os.path.isdir(os.path.join(_root, d))
        ) if os.path.isdir(_root) else 0
    except OSError:
        store_entries = -1

    drain_index_builds()  # discard anything from session setup
    cold: dict[str, float] = {}
    for name, fn in queries.items():
        t0 = time.monotonic()
        fn(spark, sf_dir).collect()
        elapsed = time.monotonic() - t0
        for iname, secs in drain_index_builds().items():
            cold[iname] = round(cold.get(iname, 0.0) + secs, 4)
            elapsed -= secs
        cold[name] = round(max(elapsed, 0.0), 4)

    # Lane hygiene (round 14, adjudicating the r13 trainer "warm
    # regression"): a controlled probe (OPTIMIZATION_r14.md, "VERDICT item
    # 1 — the trainer warm regression, ADJUDICATED") isolated a REAL but
    # transient post-cold-lane effect — right after the 50-query cold
    # lane the scheduling-sensitive engine trainers run ~10-15% slow
    # (lr 2.24→2.46, nn 2.28→2.63 median), and a forced full JVM GC
    # restores baseline (B3 ≡ A1); pinned session memos were REFUTED
    # as the mechanism (B1 ≡ A1 with all memos live). Collect the
    # cold lane's debris once here so the warm lane times queries,
    # not leftover allocation debt.
    import gc as _gc

    _gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)

    # WARM lane — median of N runs per query: single-run numbers on a
    # shared sandbox drifted ±45% round-to-round on untouched queries,
    # making regression analysis unattributable; the median of 3 is
    # noise-robust in both directions (min would hide genuine
    # slowdowns behind one lucky run)
    import re
    import statistics

    times: dict[str, float] = {}
    plans: dict[str, dict[str, int]] = {}
    for name, fn in queries.items():
        samples: list[float] = []
        df = None
        for _ in range(args.repeat):
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            df.collect()
            samples.append(time.monotonic() - t0)
        times[name] = round(statistics.median(samples), 4)
        # DRIFT-IMMUNE lane: structural metrics of the EXECUTED
        # (post-AQE) plan. Wall-clock on this box drifts up to ~1.9x
        # same-day on identical code (BENCH_NOTES round 6), so
        # round-over-round regression analysis keys on these counts —
        # "no query gained a shuffle/sort/scan" is checkable
        # mechanically regardless of neighbor-tenant noise. \bExchange\b
        # excludes BroadcastExchange; \bSort\b excludes SortMergeJoin /
        # SortAggregate (no word boundary inside either).
        p = df._jdf.queryExecution().executedPlan().toString()
        # AQE prints BOTH the final and the initial plan; keep the
        # final (what actually ran) so counts aren't doubled
        p = p.split("== Initial Plan ==")[0]
        plans[name] = {
            "shuffles": len(re.findall(r"\bExchange\b", p)),
            "broadcasts": p.count("BroadcastExchange"),
            "sorts": len(re.findall(r"\bSort\b", p)),
            "scans": p.count("Scan parquet"),
        }

    total = round(sum(times.values()), 4)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "cold": cold,
        "cold_total": round(sum(cold.values()), 4),
        "sf": sf,
    }
    # LOCAL lane (file only): one timed pass over every LOCAL_QUERIES
    # operator — the extension surface outside the 50-slot contract
    # (BM25, PQ/IVF-PQ, temperature mix, corpus diff, ...) gets cost
    # visibility too, with index builds attributed the same way.
    # Drain warm-lane residue first: any _index:* time recorded during
    # warm reps would otherwise be misattributed to (and subtracted
    # from) the first LOCAL entry.
    from guagua_spark.metrics import drain_plan_snapshots

    # Round-14 measurement fix (guide §1.4, VERDICT r13 item 8,
    # documented in OPTIMIZATION_r14.md + BENCH_NOTES): grid-sized
    # LOCAL outputs were timed through `.collect()`, which measures
    # driver-side row pickling (~6.6 s of the 7.7 s gapfill entry),
    # not the operator. Entries listed here are driven through the
    # noop sink instead — every column of every row is computed and
    # discarded, no driver transfer. Applied ONLY to entries whose
    # output is data-sized (not model/rollup-sized) so every other
    # LOCAL number stays methodology-comparable with r13.
    noop_sink = {"events_gapfill_hourly"}
    # same lane hygiene as cold→warm: don't charge the warm lane's
    # allocation debt to the first LOCAL entries
    _gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    drain_index_builds()
    drain_plan_snapshots()
    local: dict[str, float] = {}
    local_plans: dict[str, dict[str, int]] = {}
    for name, fn in entry_mod.local_queries().items():
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        if name in noop_sink:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        elapsed = time.monotonic() - t0
        for iname, secs in drain_index_builds().items():
            local[iname] = round(local.get(iname, 0.0) + secs, 4)
            elapsed -= secs
        local[name] = round(max(elapsed, 0.0), 4)
        # plan-metrics tripwire for the LOCAL lane (round 14, VERDICT
        # item 3): same structural counts as the warm lane. Operators
        # that return an eager localCheckpoint (a 1-node ExistingRDD
        # stub) snapshot their REAL pre-checkpoint executed plan via
        # metrics.record_plan; the drained snapshot overrides the stub.
        p = df._jdf.queryExecution().executedPlan().toString()
        p = p.split("== Initial Plan ==")[0]
        local_plans[name] = {
            "shuffles": len(re.findall(r"\bExchange\b", p)),
            "broadcasts": p.count("BroadcastExchange"),
            "sorts": len(re.findall(r"\bSort\b", p)),
            "scans": p.count("Scan parquet"),
        }
        for pname, pmetrics in drain_plan_snapshots().items():
            local_plans[pname] = pmetrics
    result["local"] = local
    result["local_total"] = round(sum(local.values()), 4)
    result["store_entries"] = store_entries

    # stdout is ONE compact line that must fit ENTIRELY inside the
    # driver's stdout capture window (the last 2000 bytes — BENCH_r05..
    # r07 all recorded "parsed": null because the full-precision line
    # with the cold dict ran ~4.4 KB and lost its opening brace to the
    # cut). Per-query values at 2dp, no cold/_index detail, minimal
    # separators: ~1.4 KB today with headroom. Full precision + cold +
    # plan metrics + the LOCAL lane live in BENCH_LOCAL.json.
    stdout_result = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in times.items()},
        "cold_total": result["cold_total"],
        "local_total": result["local_total"],
        "store_entries": store_entries,
        "sf": sf,
    }
    line = json.dumps(stdout_result, separators=(",", ":"))
    if len(line) > 1900:  # never regress past the capture window
        stdout_result.pop("queries")
        line = json.dumps(stdout_result, separators=(",", ":"))
    print(line)
    out_path = os.path.join(_REPO, "BENCH_LOCAL.json")
    prev_plans = {}
    try:
        with open(out_path) as f:
            prev = json.load(f)
        # only diff like-for-like: AQE may legitimately pick different
        # plans at a different scale factor
        if prev.get("sf") == sf:
            prev_plans = prev.get("plans", {})
            prev_plans.update(prev.get("local_plans", {}))
    except (OSError, ValueError):
        pass
    all_plans = dict(plans)
    all_plans.update(local_plans)
    regressions, info_deltas = _plan_diff(prev_plans, all_plans)
    result["plans"] = plans
    result["local_plans"] = local_plans
    result["plan_regressions"] = regressions
    result["plan_info_deltas"] = info_deltas
    if regressions:
        print(
            f"PLAN REGRESSIONS ({len(regressions)}): "
            + json.dumps(regressions),
            file=sys.stderr,
        )
    if info_deltas:
        print(
            f"plan info deltas, not regressions ({len(info_deltas)}): "
            + json.dumps(info_deltas),
            file=sys.stderr,
        )
    try:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # stdout line already carries the result
    spark.stop()


if __name__ == "__main__":
    main()
