"""The engine's benchmark: one command, named workloads, checked outputs.

    python3 perfbench/run.py --workload curation_x10 --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process issues one query or
commit at a time (a closed loop with a single client) on
``local[nproc]``. A run:

1. pins the environment (cores, driver memory, working directories
   under ``perfbench/.work``, console progress bar off);
2. checks or builds the cached corpus (a one-time build is not charged
   to set-up);
3. starts the session and runs one untimed warm-up pass that also
   checks outputs: the first pass in a fresh JVM is about twice as slow
   as later ones, so it is charged to ``setup_s``;
4. runs timed passes until ``--seconds`` have elapsed (at least one;
   with ``--trace 1`` at least three, alternating untraced and traced).

The end-to-end metrics are CPU seconds (user + system) of the whole
process tree: this Python process, the JVM and the Python workers it
forks. Wall time on a shared virtual machine grows with the CPU time
the host steals, which comes in spells longer than a run; stolen time
is not charged to a process, so CPU time grows much less. Wall times
are per-layer metrics (``wall.*``) and are in the record line.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1`` (README.md lists
them). Exits 2 without a result when the engine package is not in the
working directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")


def _peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants, including descendants that have exited and been
    waited for, from ``/proc``."""
    used: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since the listing
            continue
        pid = int(entry)
        # after the command name: state, ppid, ... utime stime cutime cstime
        used[pid] = sum(int(x) for x in fields[11:15])
        children.setdefault(int(fields[1]), []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the hypervisor took from this host since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def pin_environment(run_dir: str) -> dict:
    """Settings every run uses; set before pyspark is imported."""
    ncpu = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(run_dir, "tmp")
    settings = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        # the session's 16g default exceeds small hosts' physical memory
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(phys_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f'"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={run_dir}/derby.log" pyspark-shell'
        ),
    }
    for d in (settings["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d)
    os.environ.update(settings)
    return dict(settings, nproc=ncpu, phys_gib=round(phys_gib, 1))


class Run:
    """What the runner and one workload share: arguments, session,
    tracer, operation records and per-layer values."""

    def __init__(self, args, run_dir: str) -> None:
        from spans import Tracer

        self.args = args
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.run_dir = run_dir
        self.cache_dir = os.path.join(WORK, "corpus")
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # (pass, name, wall seconds, CPU seconds); pass -1 is the warm-up
        self.ops: list[tuple[int, str, float, float]] = []
        self.job_groups: list[str] = []
        self.record: dict = {}
        self.layer: dict[str, float] = {}
        self.pass_index = -1  # set-up and warm-up

    def op(self, name: str, fn, *args, **kwargs):
        """Run and time one operation; a raise counts as a failed
        operation (timed until it raised) and the run goes on. Returns
        ``fn``'s result, or None when it raised."""
        self.attempted += 1
        sc = self.spark.sparkContext
        if self.trace and self.pass_index >= 0:
            group = f"perfbench-{self.pass_index}-{self.attempted}"
            self.job_groups.append(group)
            sc.setJobGroup(group, name)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        out = None
        try:
            with self.tracer.span(f"op.{name}"):
                out = fn(*args, **kwargs)
        except Exception as e:  # one failed operation must not end the run
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.ops.append((self.pass_index, name, time.perf_counter() - t0, tree_cpu_s() - c0))
        return out

    def fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(f"pass {self.pass_index}: {why}")
        print(f"perfbench: FAILED {why}", file=sys.stderr, flush=True)

    def check(self, name: str, got, want) -> None:
        """An output check counts as one operation; a mismatch fails it."""
        self.attempted += 1
        if got != want:
            self.fail(f"check {name}: got {got!r}, want {want!r}")

    def scheduling_counts(self) -> dict[str, float]:
        """Jobs, stages and tasks of the job groups opened since the
        last call, from Spark's status tracker."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        st = sc.statusTracker()
        jobs = stages = tasks = 0
        for group in self.job_groups:
            for job_id in st.getJobIdsForGroup(group):
                jobs += 1
                info = st.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    si = st.getStageInfo(stage_id)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
        self.job_groups.clear()
        return {"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks}


def measure(run: Run, workload) -> dict:
    """Corpus, session, warm-up, then timed passes."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    built = workload.prepare()
    build_cpu_s, build_s = (tree_cpu_s() - c0, time.perf_counter() - t0) if built else (0.0, 0.0)
    run.spark = workload.start_session()
    workload.setup()
    workload.warmup()
    setup_cpu_s = tree_cpu_s() - build_cpu_s
    setup_s = time.perf_counter() - T_START - build_s

    jvm = run.spark.sparkContext._jvm
    beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()

    def gc_s() -> float:
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    passes: list[dict] = []
    steal0 = _steal_s()
    t_measure = time.perf_counter()
    while True:
        i = len(passes)
        traced = run.trace and i % 2 == 1
        run.pass_index = run.tracer.trace_id = i
        if traced:
            workload.install_tracing()
            run.tracer.enabled = True
        gc0 = gc_s()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        workload.run_pass(i)
        dt, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        layer = {"jvm.gc_s": gc_s() - gc0}
        if traced:
            run.tracer.enabled = False
            run.tracer.uninstall()
        if run.trace:
            layer.update(run.scheduling_counts())
        passes.append({"traced": traced, "seconds": dt, "cpu_s": cpu, "layer": layer})
        run.pass_index = -1
        workload.after_pass(i)
        elapsed = time.perf_counter() - t_measure
        # traced runs end on an untraced pass (U T U ...), so a drift
        # across passes cancels out of tracing.overhead_s
        if elapsed >= run.args.seconds and (not run.trace or (len(passes) >= 3 and not traced)):
            break
    run.record["steal_s_while_timed"] = _steal_s() - steal0
    run.layer["jvm.peak_rss_mb"] = _peak_rss_mb(jvm_pid)
    run.layer["python.peak_rss_mb"] = _peak_rss_mb("self")
    workload.finish()
    return {"setup_s": setup_s, "setup_cpu_s": setup_cpu_s, "build_s": build_s, "passes": passes}


def op_medians(run: Run, warmup: bool = False, cpu: bool = False) -> dict[str, float]:
    """Median wall (or CPU) seconds of each operation name over the
    timed passes (or in the warm-up)."""
    by_name: dict[str, list[float]] = {}
    for p, name, wall_s, cpu_s in run.ops:
        if (p < 0) == warmup:
            by_name.setdefault(name, []).append(cpu_s if cpu else wall_s)
    return {k: statistics.median(v) for k, v in by_name.items()}


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def untraced_median(m: dict, key: str) -> float:
    return statistics.median(p[key] for p in m["passes"] if not p["traced"])


def end_to_end(run: Run, m: dict) -> dict[str, float]:
    return {
        "setup_s": m["setup_cpu_s"],
        "pass_cpu_s": untraced_median(m, "cpu_s"),
        "op_cpu_geomean_s": _geomean(op_medians(run, cpu=True).values()),
    }


def wall_times(run: Run, m: dict) -> dict[str, float]:
    return {
        "wall.setup_s": m["setup_s"],
        "wall.pass_s": untraced_median(m, "seconds"),
        "wall.op_geomean_s": _geomean(op_medians(run).values()),
    }


def per_layer(run: Run, m: dict, workload, names: list[str]) -> dict[str, float]:
    """Median over traced passes of each layer's per-pass value: span
    self times summed per name, plus the workload's counts."""
    values: dict[str, list[float]] = {}
    traced = [(i, p) for i, p in enumerate(m["passes"]) if p["traced"]]
    for i, p in traced:
        per_pass = {f"{name}_s": sum(selfs) for name, selfs in run.tracer.self_times(i).items()}
        per_pass.update(p["layer"])
        per_pass.update(workload.layer_values(i))
        for k, v in per_pass.items():
            values.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in values.items()}
    out["session.get_spark_s"] = sum(run.tracer.self_times(-1).get("session.get_spark", [0.0]))
    out["tracing.overhead_s"] = statistics.median(p["seconds"] for _, p in traced) - untraced_median(m, "seconds")
    out.update(wall_times(run, m))
    out.update(run.layer)
    return {k: float(out.get(k, 0.0)) for k in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny corpus and inputs (smoke test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import workloads

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, workloads.PACKAGE, "__init__.py")):
        print(f"perfbench: no {workloads.PACKAGE}/ under {root}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(1, root)

    classes = workloads.registry()
    if args.workload not in classes:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(classes)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_environment(run_dir)
    run = Run(args, run_dir)
    workload = classes[args.workload](run)
    try:
        m = measure(run, workload)
    finally:
        workload.stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)

    if run.trace:
        units = workloads.PER_LAYER_UNITS
        metrics = per_layer(run, m, workload, list(units))
    else:
        units = workloads.END_TO_END_UNITS
        metrics = end_to_end(run, m)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    run.record.update(
        workload=args.workload,
        seed=args.seed,
        env=env,
        loadavg=[round(x, 2) for x in os.getloadavg()],
        corpus_build_s=m["build_s"],
        wall=wall_times(run, m),
        passes=[{k: p[k] for k in ("traced", "seconds", "cpu_s")} for p in m["passes"]],
        op_median_s=op_medians(run),
        op_median_cpu_s=op_medians(run, cpu=True),
        warmup_op_s=op_medians(run, warmup=True),
        ops_failed_frac=run.failed / run.attempted,
        errors=run.errors[:20],
    )
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(dict(run.record, result=result), fh, indent=1)
    if run.trace:
        run.tracer.dump(stem + ".spans.json")

    print("perfbench record: " + json.dumps(run.record))
    for k, v in result["metrics"].items():
        print(f"perfbench {args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(f"perfbench {args.workload} ops_failed_frac = {run.failed}/{run.attempted} = "
          f"{run.failed / run.attempted:.4g} ({'outputs correct' if result['correct'] else 'OUTPUTS WRONG'})")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
