#!/usr/bin/env python3
"""Benchmark of ``xorbits_sql_spark.execute()`` and the pipeline operators.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

One client, closed loop, Spark in ``local[nproc]`` mode. Inputs are
generated from ``--seed``; the package is imported from the checkout
this file sits in (the run fails if it is missing there). All scratch
output goes under ``.perfbench/`` in the checkout.

A run: a child process generates the inputs and the DuckDB-expected
results (untimed) -> this process loads the package, starts the session,
loads and registers the inputs (``setup_s``, from process start, minus
the child) -> warm-up passes -> measured passes for ``--seconds`` and at
least the workload's min_calls calls -> check every result -> print a report and, as
the last line, one JSON object.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced passes with passes under the span recorders of tracing.py, and
reports per-layer metrics and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(WORK, "data")
# Latency tail: the highest percentile with TAIL_BEYOND calls beyond it
# in the workload's min_calls calls. A run measures past --seconds until
# it has min_calls calls, but no longer than MAX_MEASURE_S.
TAIL_BEYOND = 10
MAX_MEASURE_S = 30.0
# Per-layer counts that only a pipeline workload produces; 0 elsewhere.
PIPELINE_COUNTS = {
    "operators.candidate_pairs": "count",
    "operators.dropped_per_pair": "ratio",
    "operators.cached_tables": "count",
    "sources.bytes_written": "B",
    "sources.files_written": "count",
    "sources.bytes_per_row": "B",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=16)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--prepare-only", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def rig_state() -> dict:
    """Machine-load snapshot: load average, /proc/pressure, free memory."""
    state: dict = {"ts": round(time.time(), 1)}
    try:
        state["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    for res in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                state[f"psi_{res}_some_avg10"] = float(f.readline().split()[1].split("=", 1)[1])
        except (OSError, IndexError, ValueError):
            pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    state["mem_available_gb"] = round(int(line.split()[1]) / 1048576, 1)
    except (OSError, ValueError):
        pass
    return state


def provenance(seed: int) -> dict:
    info = {"seed": seed, "nproc": len(os.sched_getaffinity(0)), "git_sha": None, "dirty": None}
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            info["git_sha"] = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
            ).stdout.strip() or None
            status = subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=no"],
                cwd=ROOT, capture_output=True, text=True, timeout=30,
            ).stdout
            info["dirty"] = bool(status.strip())
        except (OSError, subprocess.SubprocessError):
            pass
    return info


def percentile(values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile, and how many values lie beyond it."""
    s = sorted(values)
    rank = max(1, min(len(s), -(-pct * len(s) // 100)))
    return s[rank - 1], len(s) - rank


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds of ``pids`` (all their threads)."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, ValueError, IndexError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of ``pids``; ended processes count 0."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total / 1024.0


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_<user>.
    # SPARK_LAUNCHER_OPTS reaches the JVM that builds the Spark JVM's command line.
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = (
            os.environ.get(var, "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ).strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None


def import_package():
    """The package under test, from this checkout only."""
    sys.path.insert(0, ROOT)
    try:
        import xorbits_sql_spark
    except ImportError as exc:
        raise SystemExit(f"perfbench: cannot import xorbits_sql_spark from {ROOT}: {exc}")
    where = os.path.dirname(os.path.abspath(xorbits_sql_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise SystemExit(f"perfbench: xorbits_sql_spark resolves to {where}, not this checkout")


class TracedHooks:
    """Per-call job group, stage totals and plan metrics, used only in
    traced passes."""

    def __init__(self, sc, tracer) -> None:
        self.sc, self.tracer, self.n = sc, tracer, 0
        self.jobs = self.stages = self.tasks = 0
        self.plans: dict[str, float] = {}
        self.out_rows = 0

    def before(self, name: str) -> None:
        self.n += 1
        self.group = self.tracer.call = f"perfbench-{self.n}"
        self.sc.setJobGroup(self.group, name)

    def after(self, call) -> None:
        """Jobs, stages and tasks of the call's job group, with the shuffle
        and spill of every stage that ran (the operators' internal jobs
        included), from Spark's status store; scan rows from
        ``collect_metrics`` on the collected result."""
        from xorbits_sql_spark.plans import metrics

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(self.group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            self.jobs += 1
            for stage in info.stageIds:
                s = store.lastStageAttempt(stage)
                if s.status().toString() == "SKIPPED":
                    continue
                self.stages += 1
                self.tasks += s.numCompleteTasks()
                for key, v in (("shuffle_bytes", s.shuffleWriteBytes()),
                               ("shuffle_records", s.shuffleWriteRecords()),
                               ("spill_bytes", s.memoryBytesSpilled() + s.diskBytesSpilled())):
                    self.plans[key] = self.plans.get(key, 0) + v
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        if call.df is not None and call.error is None:
            scanned = metrics.collect_metrics(call.df)["scan_rows"]
            self.plans["scan_rows"] = self.plans.get("scan_rows", 0) + scanned
            self.out_rows += len(call.rows)


class NoHooks:
    def before(self, name: str) -> None:
        pass

    def after(self, call) -> None:
        pass


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_inputs(args) -> float:
    """Generate inputs and expected results in a child process, so that
    DuckDB and the generator's working memory stay out of this process's
    peak RSS. Returns the child's wall time."""
    t0 = time.perf_counter()
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--prepare-only"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if proc.returncode:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"perfbench: preparing {args.workload} inputs failed")
    return time.perf_counter() - t0


def run_prepare(args) -> int:
    sys.path.insert(0, HERE)
    import workloads

    workloads.WORKLOADS[args.workload](args.seed, DATA).prepare()
    return 0


def run_workload(args) -> dict:
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)} or 'all'")
    if not os.path.isfile(os.path.join(ROOT, "xorbits_sql_spark", "__init__.py")):
        raise SystemExit(f"perfbench: no xorbits_sql_spark package in {ROOT}")
    t0 = time.perf_counter()
    report = {"provenance": provenance(args.seed), "rig_start": rig_state()}
    untimed = time.perf_counter() - t0
    shutil.rmtree(DATA, ignore_errors=True)
    os.makedirs(DATA)
    spark = None
    try:
        report["prepare_s"] = prepare_inputs(args)
        untimed += report["prepare_s"]
        # Set-up: package import, session start (JVM launch included),
        # input load and registration, up to the first call being ready.
        prepare_environment()
        import_package()
        import numpy as np
        from xorbits_sql_spark import core, session

        wl = workloads.WORKLOADS[args.workload](args.seed, DATA)
        spark = session.get_spark()
        wl.setup(spark, core)
        setup_s = process_age_s() - untimed
        wl.load_expected()
        report["input_sizes"] = wl.sizes()
        report["setup_s"] = setup_s
        result = measure_workload(args, wl, core, spark, np.random.default_rng([args.seed, 7]))
        if not args.trace:
            result["metrics"] = {"setup_s": (setup_s, "s"), **result["metrics"]}
        report["rig_end"] = rig_state()
    finally:
        if spark is not None:
            teardown(spark)
        shutil.rmtree(DATA, ignore_errors=True)
        for d in ("tmp", "spark-local"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    result["report"].update(report)
    return result


def measure_workload(args, wl, core, spark, rng) -> dict:
    """Warm-up passes, then whole measured passes: untraced with
    ``--trace 0``, untraced and traced in turn with ``--trace 1``."""
    import tracing

    report: dict = {}
    failures: list[str] = []
    counts = {"attempted": 0, "failed": 0}

    def run_checked(hooks, measured: bool) -> tuple[float, list]:
        t = time.perf_counter()
        calls = wl.run_pass(core, rng, hooks)
        wall = time.perf_counter() - t
        for c in calls:
            problem = wl.check(c)
            c.rows = c.df = None
            if measured:
                counts["attempted"] += 1
                counts["failed"] += problem is not None
            if problem is not None:
                failures.append(f"{c.name}: {problem}")
        return wall, calls

    report["warmup_pass_s"] = [run_checked(NoHooks(), False)[0] for _ in range(wl.warmup_passes)]
    if not args.trace:
        walls, calls, cpus = [], [], []
        tree = process_tree(os.getpid())
        steal0 = steal_s()
        start = time.perf_counter()
        while not walls or (
            time.perf_counter() - start < args.seconds
            or (len(calls) < wl.min_calls and time.perf_counter() - start < MAX_MEASURE_S)
        ):
            c0 = cpu_s(tree)
            wall, done = run_checked(NoHooks(), True)
            cpus.append(cpu_s(tree) - c0)
            walls.append(wall)
            calls.extend(done)
        report["measure_s"] = time.perf_counter() - start
        report["steal_s"] = steal_s() - steal0
        report["pass_cpu_s"] = [round(c, 2) for c in cpus]
        lats = [c.latency_s for c in calls]
        by_name: dict[str, list[float]] = {}
        for c in calls:
            by_name.setdefault(c.name, []).append(c.latency_s)
        report["call_p50_s"] = {k: round(statistics.median(v), 4) for k, v in by_name.items()}
        report["passes"] = [round(w, 3) for w in walls]
        tail_pct = 100 * (wl.min_calls - TAIL_BEYOND) // wl.min_calls
        tail_s, beyond = percentile(lats, tail_pct)
        report["tail"] = f"p{tail_pct} of {len(lats)} calls, {beyond} beyond it"
        metrics = {
            "wall_s": (statistics.median(walls), "s"),
            "latency_p50_s": (statistics.median(lats), "s"),
            "latency_tail_s": (tail_s, "s"),
            "peak_rss_mb": (peak_rss_mb([os.getpid()]), "MB"),
        }
    else:
        # Untraced and traced passes alternate, so warm-up drift falls on
        # both sides of the tracing-overhead difference alike.
        tracer = tracing.Tracer()
        hooks = TracedHooks(spark.sparkContext, tracer)
        plain, walls = [], []
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < args.seconds:
            plain.append(run_checked(NoHooks(), True)[0])
            tracer.install()
            try:
                walls.append(run_checked(hooks, True)[0])
            finally:
                tracer.uninstall()
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        report["passes"] = {"untraced": [round(w, 3) for w in plain], "traced": [round(w, 3) for w in walls]}
        report["traced_pass_mean_s"] = statistics.mean(walls)
        metrics = layer_metrics(wl, tracer, hooks, walls, plain)
        jvm = spark.sparkContext._gateway.proc.pid
        metrics["exec.jvm_peak_rss_mb"] = (peak_rss_mb(process_tree(jvm)), "MB")
    report["failed_ratio"] = counts["failed"] / max(1, counts["attempted"])
    return {"report": report, "metrics": metrics, "failures": failures,
            "warmup_passes": wl.warmup_passes, **counts}


def layer_metrics(wl, tracer, hooks, walls: list[float], plain: list[float]) -> dict:
    n = len(walls)
    s = tracer.summary()
    tot, own, by_fn, calls = s["total"], s["self"], s["by_fn"], s["calls"]
    per = lambda v: v / n  # noqa: E731
    plans = hooks.plans
    m = {
        "core.execute_s": (per(tot.get("core", 0.0)), "s"),
        "table.register_s": (per(tot.get("table", 0.0)), "s"),
        "table.register_calls": (per(calls.get("register_tables", 0)), "count"),
        "table.rows_registered": (per(tracer.rows_registered), "count"),
        "dialect.transpile_s": (per(tot.get("dialect", 0.0)), "s"),
        "dialect.transpile_calls": (per(calls.get("transpile", 0)), "count"),
        "catalyst.analyze_s": (per(tot.get("catalyst", 0.0)), "s"),
        "exec.action_s": (per(tot.get("exec", 0.0)), "s"),
        "exec.jobs": (per(hooks.jobs), "count"),
        "exec.stages": (per(hooks.stages), "count"),
        "exec.tasks": (per(hooks.tasks), "count"),
        "plans.shuffle_bytes": (per(plans.get("shuffle_bytes", 0)), "B"),
        "plans.shuffle_records": (per(plans.get("shuffle_records", 0)), "count"),
        "plans.spill_bytes": (per(plans.get("spill_bytes", 0)), "B"),
        "plans.scan_rows": (per(plans.get("scan_rows", 0)), "count"),
        "plans.scan_rows_per_output_row": (plans.get("scan_rows", 0) / max(1, hooks.out_rows), "ratio"),
        "operators.pairs_s": (per(by_fn.get("ngram_jaccard_pairs", 0.0)), "s"),
        "operators.keepers_s": (per(by_fn.get("dedup_keepers", 0.0)), "s"),
        "sources.write_s": (per(by_fn.get("write_table", 0.0)), "s"),
    }
    m.update({name: (0.0, unit) for name, unit in PIPELINE_COUNTS.items()})
    m.update(wl.layer_counts())
    for layer in tracer.LAYERS:
        m[f"{layer}.self_s"] = (per(own.get(layer, 0.0)), "s")
    roots = sum(sp.end - sp.start for sp in tracer.spans if sp.parent < 0)
    m["bench.uncovered_s"] = (per(sum(walls) - roots), "s")
    m["trace.pass_s"] = (statistics.median(walls), "s")
    m["trace.overhead_s"] = (statistics.median(walls) - statistics.median(plain), "s")
    return m


def teardown(spark) -> None:
    """Stop the session, then the JVM, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - fall through to kill
                proc.kill()
                proc.wait(timeout=30)


def run_all(args) -> int:
    """Every workload, each in its own process, one after another."""
    sys.path.insert(0, HERE)
    import workloads

    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        sys.stderr.write(proc.stderr[-4000:] if proc.returncode else "")
        if proc.returncode or not lines:
            print(f"perfbench: workload {name} exited {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            out["metrics"][f"{name}.{k}"] = v
    print(json.dumps(out))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.prepare_only:
        return run_prepare(args)
    if args.workload == "all":
        return run_all(args)
    res = run_workload(args)
    rep = res["report"]
    print(f"# perfbench workload={args.workload} trace={args.trace} seed={args.seed}")
    print(f"# provenance {json.dumps(rep['provenance'])}")
    print(f"# rig_start {json.dumps(rep['rig_start'])}")
    print(f"# rig_end {json.dumps(rep['rig_end'])}")
    print(f"# input_sizes {json.dumps(rep['input_sizes'])}")
    print(f"# prepare_s {rep['prepare_s']:.3f} (child process: input generation + DuckDB "
          "expected results, not in setup_s)")
    print(f"# setup_s {rep['setup_s']:.3f} (process start to first call ready, one cold set-up)")
    print(f"# warm-up passes {res['warmup_passes']}: {[round(x, 3) for x in rep['warmup_pass_s']]} s")
    print(f"# measured passes (s) {rep['passes']}")
    if "measure_s" in rep:
        print(f"# measured for {rep['measure_s']:.1f} s")
    if "steal_s" in rep:
        print(f"# while measuring: CPU time stolen by the hypervisor {rep['steal_s']:.2f} s; "
              f"CPU time of each pass (s) {rep['pass_cpu_s']}")
    if "call_p50_s" in rep:
        print(f"# per-call median latency s {json.dumps(rep['call_p50_s'])}")
    if "tail" in rep:
        print(f"# latency_tail_s is {rep['tail']}")
    print(f"# failed_ratio {rep['failed_ratio']:.4f} ({res['failed']} of {res['attempted']})")
    if "traced_pass_mean_s" in rep:
        m = res["metrics"]
        covered = sum(v for k, (v, _) in m.items() if k.endswith(".self_s")) + m["bench.uncovered_s"][0]
        print(f"# layer self times + uncovered remainder = {covered:.4f} s "
              f"of a {rep['traced_pass_mean_s']:.4f} s mean traced pass")
    for f in res["failures"][:20]:
        print(f"# FAILED {f}")
    for name, (value, unit) in res["metrics"].items():
        print(f"{name:36s} {value:16.6f} {unit}")
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
