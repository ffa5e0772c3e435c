#!/usr/bin/env python
"""Failure-and-timing sweep: runs every registry query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The full per-query maps go to BENCH_LOCAL.json. Per-query timing is
wall clock around a full action (count of the result — forces complete
execution without driver-side materialization of wide results).

Each query executes twice. The first run is recorded under
``queries_cold`` (includes codegen/JIT compilation and OS page-cache
misses). Operator caches are released, then the second run is timed as
the headline ``queries`` number: steady-state throughput. Warm entries
under 1 s and streaming entries (micro-batch scheduler variance) are
re-run twice more and the MEDIAN of the three warm passes is reported.

This sweep is a failure check with timings attached; the performance
gate is ``perfbench/`` (see BENCHMARK.json)."""

from __future__ import annotations

import json
import os
import sys
import time


def _rig_state() -> dict:
    """Machine-load snapshot for run provenance: load average, /proc
    PSI pressure and available memory, so drift between runs can be
    attributed to the host without re-running code. All fields
    best-effort."""
    state: dict = {"ts": round(time.time(), 1)}
    try:
        la1, la5, la15 = os.getloadavg()
        state["loadavg"] = [round(la1, 2), round(la5, 2), round(la15, 2)]
    except OSError:
        pass
    for res in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                # "some avg10=1.23 avg60=... avg300=... total=..."
                first = f.readline().split()
                state[f"psi_{res}_some_avg10"] = float(
                    first[1].split("=", 1)[1]
                )
        except (OSError, IndexError, ValueError):
            pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    state["mem_available_gb"] = round(
                        int(line.split()[1]) / 1048576, 1
                    )
                    break
    except (OSError, IndexError, ValueError):
        pass
    return state


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rig_start = _rig_state()
    from xorbits_sql_spark.queries import load_all
    from xorbits_sql_spark.session import get_spark

    spark = get_spark("xorbits-sql-spark-bench")
    specs = load_all()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    failures: dict[str, str] = {}
    # Warm up the JVM/IO path once (scan metadata, codegen) so q01 isn't
    # charged session startup. Guarded: a broken table/dir must surface
    # as per-query failures entries in the JSON, not kill the whole run
    # with no output.
    try:
        specs["q01_pricing_summary"].fn(spark, sf_dir).count()
    except Exception as exc:  # noqa: BLE001
        print(f"warm-up failed (continuing): {type(exc).__name__}: {exc}")

    from xorbits_sql_spark.operators.dedup import release_caches

    streaming = {
        name
        for name, spec in specs.items()
        if "streaming" in getattr(spec, "tags", ()) or "stream" in name
    }
    for name, spec in sorted(specs.items()):
        t0 = time.perf_counter()
        try:
            spec.fn(spark, sf_dir).count()
            cold[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001 - report, don't die
            failures[name] = f"{type(exc).__name__}: {exc}"
            release_caches()
            continue
        # Release persisted index/centroid/rank tables so the timed run
        # repeats the operator's full work (only codegen + page cache
        # stay warm), then time steady state.
        release_caches()
        try:
            warm = [_timed(spec.fn, spark, sf_dir, release_caches)]
            # Sub-second entries are jitter-dominated and streaming
            # entries swing with the micro-batch scheduler: median of 3.
            if warm[0] < 1.0 or name in streaming:
                warm.append(_timed(spec.fn, spark, sf_dir, release_caches))
                warm.append(_timed(spec.fn, spark, sf_dir, release_caches))
            timings[name] = round(sorted(warm)[len(warm) // 2], 4)
        except Exception as exc:  # noqa: BLE001
            failures[name] = f"{type(exc).__name__}: {exc}"
            release_caches()

    total = round(sum(timings.values()), 4)
    out = {
        "metric": "query_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "n_queries": len(timings),
        "failures": failures,
        "methodology": "warm (2nd run; 1st run in queries_cold warms codegen/page cache)",
        "value_cold": round(sum(cold.values()), 4),
        "queries_cold": cold,
        "rig": {"start": rig_start, "end": _rig_state()},
    }
    _persist_snapshot(out)
    # The full per-query maps overflow a consumer that keeps only the
    # last ~2000 chars of stdout: print a compact headline line and
    # keep the complete maps in BENCH_LOCAL.json.
    print(json.dumps(_compact(out), separators=(",", ":")))
    if failures:
        sys.exit(1)


def _compact(out: dict) -> dict:
    """Headline view of the bench result, sized to fit a 2000-char
    stdout tail: totals, failures, the TPC-H q01..q22 headline subset,
    and the 5 slowest queries. The full per-query warm/cold maps live
    in BENCH_LOCAL.json."""
    timings: dict[str, float] = out["queries"]
    headline = {
        n: s
        for n, s in timings.items()
        # exactly qNN_... with NN in 01..22 (q100_histogram must not match)
        if n[0] == "q" and n[1:3].isdigit() and n[3:4] == "_" and int(n[1:3]) <= 22
    }
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    return {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": out["n_queries"],
        "value_cold": out["value_cold"],
        "failures": dict(list(out["failures"].items())[:5]),
        "n_failures": len(out["failures"]),
        "queries": headline,
        "slowest": slowest,
        "full_results": "BENCH_LOCAL.json",
    }


def _timed(fn, spark, sf_dir: str, release_caches) -> float:
    """One full warm execution; operator caches released after."""
    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).count()
    finally:
        release_caches()
    return time.perf_counter() - t0


_SNAPSHOT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")


def _persist_snapshot(out: dict) -> None:
    """Write the full result to BENCH_LOCAL.json (best-effort)."""
    try:
        with open(_SNAPSHOT_PATH, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    except OSError:
        pass


if __name__ == "__main__":
    main()
