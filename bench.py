"""Headline benchmark: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized through the noop sink
(``df.write.format("noop")``), which consumes EVERY output column —
under a bare ``count()`` Catalyst prunes the final Project and skips
computing unreferenced aggregate expressions entirely, silently
under-measuring (e.g. q1's decimal sums would never run).

By default (opt out with ``SPARK_GRAFT_BENCH_RECHECK=0``) every query
whose in-run timing exceeds 2x its recorded floor (BENCH_FLOORS.json)
is re-run once, isolated and warm, at the end; both numbers land in the
JSON line under ``rechecked``. This separates real plan regressions from the
documented session-level GC/background spikes (up to ~4.9x) on this
host. Default-on so the driver's committed BENCH_r{N}.json always
carries adjudicated numbers (VERDICT r6 item 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import dwh_spark.plans.all  # noqa: F401
from dwh_spark.plans.registry import QUERIES
from dwh_spark.session import get_spark


# Per-query recheck-threshold overrides (default 2.0x floor). These
# queries drift 1.4-1.8x in-run under suite GC/cache pressure but
# isolate at 1.06-1.27x floor — a tighter trigger makes the driver
# tail self-adjudicate instead of re-litigating them each round. The
# first three: r14 judge adjudication (4.25 / 2.23 / 5.24 s vs floors
# 3.74 / 2.00 / 4.92). av_audio_window_ledger: chronic 1.3-1.5x in-run
# drifter against its isolated 8.0 floor across r16-r17 (r17 in-run
# 11.77, isolated quiet probes 10.13 = 1.27x twice-adjudicated) —
# VERDICT r17 What's-wrong #4 asked for exactly this entry.
_RECHECK_THRESHOLD = {
    "docs_dedup_detector_agreement": 1.5,
    "docs_corpus_ingest_delta": 1.5,
    "av_video_corpus_ingest_triage": 1.4,
    "av_audio_window_ledger": 1.3,
}


def _recorded_floors() -> dict[str, float]:
    """Per-query floor seconds from BENCH_FLOORS.json (``_comment`` and
    any other non-numeric entry are skipped). A missing file means no
    floors; an unparseable one is reported on stderr and also yields
    none."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_FLOORS.json")) as fh:
            rows = json.load(fh)
    except OSError:
        return {}
    except json.JSONDecodeError as exc:
        print(f"# WARNING: BENCH_FLOORS.json unparseable, no floors: {exc}",
              file=sys.stderr)
        return {}
    return {
        name: float(val)
        for name, val in rows.items()
        if isinstance(val, (int, float))
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("dwh-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM, parquet footers, and every table's scan once so
    # per-query numbers measure the query, not session startup. Warm-up
    # failures must not kill the run — they only cost measurement noise.
    try:
        from dwh_spark.sources.catalog import load_tables

        for df in load_tables(spark, sf_dir).values():
            df.count()
        QUERIES["flagship_owned_orders"](spark, sf_dir).count()
        # warm the binary/codegen path too — av_wav runs first
        # alphabetically and was absorbing ~1-2 s of first-codegen cost
        QUERIES["av_wav_roundtrip_stats"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as exc:  # noqa: BLE001
        print(f"# warmup failed: {exc}", file=sys.stderr)

    # Per-query fault isolation: one crashing query must never zero the
    # file — failures are recorded as {"err": ...} and the JSON line is
    # always emitted.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in sorted(QUERIES):
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
            print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            errors[name] = str(exc).split("\n")[0][:300]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)

    rechecked: dict[str, dict[str, float]] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_RECHECK", "1") != "0":
        floors = _recorded_floors()
        suspects = [
            n for n, t in timings.items()
            if n in floors
            and t > _RECHECK_THRESHOLD.get(n, 2.0) * floors[n]
        ]
        for name in suspects:
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                iso = round(time.perf_counter() - t0, 4)
            except Exception:  # noqa: BLE001
                continue
            rechecked[name] = {
                "in_run": timings[name],
                "isolated": iso,
                "floor": floors[name],
            }
            print(
                f"# recheck {name}: in-run {timings[name]:.3f}s -> "
                f"isolated {iso:.3f}s (floor {floors[name]:.3f}s)",
                file=sys.stderr,
            )

    total = round(sum(timings.values()), 4)
    # The driver records only the LAST ~2KB of stdout (BENCH_r03.json
    # proves the JSON head is what truncation drops), so ordering is
    # retention policy: per-query timings ASCENDING by cost so the
    # surviving tail holds the expensive queries, then errors, then the
    # headline summary fields last so they always survive.
    queries_out: dict[str, object] = {
        name: timings[name]
        for name in sorted(timings, key=timings.__getitem__)
    }
    for name, err in errors.items():
        queries_out[name] = {"err": err}
    print(json.dumps({
        "queries": queries_out,
        **({"rechecked": rechecked} if rechecked else {}),
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "n_ok": len(timings),
        "n_err": len(errors),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
