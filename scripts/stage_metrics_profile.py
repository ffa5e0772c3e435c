"""Per-query stage-metrics profile of the declared registry.

Wall-clock on this rig has a documented noise floor that repeatedly
produced contradictory A/Bs (OPTIMIZATION_r11.md); executor totals from
the status store do not share it — task counts and shuffle bytes are
deterministic for a fixed plan, and executorRunTime/CpuTime sum over
all tasks instead of racing the scheduler. This rig runs every declared
query twice (discard warm-up, then a measured run inside its own job
group) and writes one JSON map:

    {query: {run_s, cpu_s, input_mb, shw_mb, tasks, stages, wall_s}}

Usage:
    python scripts/stage_metrics_profile.py OUT.json [query ...]

With no query names, profiles the full registry. The Spark UI is
enabled for the REST status endpoint; retained-job/stage limits are
raised so a full-registry run is not evicted mid-profile. Use min-of-N
reruns of this script (fresh JVM each) when comparing code versions;
within one run, bytes/tasks are exact and run_s/cpu_s are per-task sums
(still somewhat load-sensitive, but far tighter than wall).

MEASURED CAVEAT (round 11): in local mode the driver IS the executor,
so the status store's own memory/GC pressure inflates late-suite
run_s/cpu_s when the full registry is profiled in one session with
100k retained stages — one entry's run_s read 12.6 s at suite position ~350
vs 1.6 s isolated in a fresh JVM (identical code, identical tasks).
Treat full-suite absolute numbers as NOT bench-comparable; compare
only side-by-side profiles taken the same way, or isolate the queries
under test into their own invocation (bytes/task counts are exact
either way).
"""
import json
import sys
import time
import urllib.request

sys.path.insert(0, ".")
import __spark_entry__ as e  # noqa: E402
from xorbits_sql_spark import get_spark  # noqa: E402
from xorbits_sql_spark.operators.dedup import release_caches  # noqa: E402

out_path = sys.argv[1]
qs = e.queries()
names = sys.argv[2:] or list(qs)

spark = get_spark(
    **{
        "spark.ui.enabled": "true",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
)
sc = spark.sparkContext
sf_dir = "/root/testdata/sf0.1"

walls: dict[str, float] = {}
failures: dict[str, str] = {}
for n in names:
    fn = qs[n]
    try:
        fn(spark, sf_dir).count()  # warm-up: codegen, page cache
        release_caches()
        sc.setJobGroup(f"m_{n}", n)
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        walls[n] = round(time.perf_counter() - t0, 3)
    except Exception as exc:  # noqa: BLE001 - record and continue
        failures[n] = f"{type(exc).__name__}: {exc}"[:200]
    finally:
        release_caches()
        sc.setJobGroup("other", "gap")

base, app = sc.uiWebUrl, sc.applicationId


def _get(path: str):
    return json.load(urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}"))


g2s: dict[str, set] = {}
for j in _get("/jobs?status=succeeded"):
    g = j.get("jobGroup", "")
    if g.startswith("m_"):
        g2s.setdefault(g[2:], set()).update(j.get("stageIds", []))
by_id: dict[int, dict] = {}
for s in _get("/stages?status=COMPLETE"):
    by_id.setdefault(s["stageId"], s)

profile = {}
for n, wall in walls.items():
    tot = {"run_s": 0.0, "cpu_s": 0.0, "input_mb": 0.0, "shw_mb": 0.0,
           "tasks": 0, "stages": 0}
    for sid in g2s.get(n, ()):
        s = by_id.get(sid)
        if not s:
            continue
        tot["run_s"] += s["executorRunTime"] / 1e3
        tot["cpu_s"] += s["executorCpuTime"] / 1e9
        tot["input_mb"] += s["inputBytes"] / 1e6
        tot["shw_mb"] += s["shuffleWriteBytes"] / 1e6
        tot["tasks"] += s["numCompleteTasks"]
        tot["stages"] += 1
    profile[n] = {k: round(v, 3) for k, v in tot.items()}
    profile[n]["wall_s"] = wall

with open(out_path, "w") as f:
    json.dump({"profile": profile, "failures": failures}, f, indent=1, sort_keys=True)
print(json.dumps({"n": len(profile), "n_failures": len(failures), "out": out_path}))
