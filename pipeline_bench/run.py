"""Benchmark of the four-stage sensor pipeline (reformat, filter, acc,
activity) on seeded smartwatch data.

    python3 pipeline_bench/run.py --workload one_subject_raw --seed 1 --seconds 5 --trace 0

Run from the root of a checkout: the program is imported from there. The
inputs are generated in a separate process before any timing. With
``--trace 0`` the last stdout line is a JSON object with the end-to-end
metrics (setup_s, first_pass_cpu_s, pass_cpu_s, peak_rss_mb, peak_heap_mb); with
``--trace 1`` it holds the per-layer metrics, and spans plus metrics are
merged into ``pipeline_bench/work/trace.json``. Every pass's outputs are
checked; an operation is one stage of one pass.
"""

import time

#: Seconds since boot, on the clock /proc/self/stat's start time counts in.
T_MAIN = time.clock_gettime(time.CLOCK_BOOTTIME)

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sensomics_data_pipeline_spark"
#: Warm passes always measured, however short ``--seconds`` is. One: 48
#: runs must fit in 3420 s, which leaves no room for a second pass of
#: 10-14 s, and runs drift together with the host's load, so a second pass
#: in the same run narrows the run-to-run spread little.
MIN_WARM_PASSES = 1


def process_start_since_boot() -> float:
    """Start of this process in seconds since boot, from /proc (clock-tick
    resolution). Boot-relative like ``T_MAIN``, so neither the wall clock
    nor /proc/stat's whole-second ``btime`` enters ``setup_s``."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_session_conf(work: str) -> tuple[int, str, dict]:
    """``local[nproc]`` and a driver heap of a quarter of the host's RAM,
    at most 1 GiB, with all scratch space inside the checkout. The inputs
    need far less. The heap is committed and touched at start, so peak RSS
    measures the JVM's native memory and the Python driver, not how much
    of the capped heap the collector happened to touch. The program's heap
    use is therefore not in ``peak_rss_mb``; ``peak_heap_mb`` reports it."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    mem_mb = min(1024, total_kb // 1024 // 4)
    local = os.path.join(work, "spark-local")
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # and perf-data files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    # glibc's per-thread malloc arenas make the JVM's native RSS depend on
    # which threads happened to allocate; two arenas keep peak RSS steady
    os.environ["MALLOC_ARENA_MAX"] = "2"
    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Xms{mem_mb}m -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return cpus, f"{mem_mb}m", conf


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and every
    process under it: the Spark JVM, any Python workers it starts, and
    their reaped children. Time a process waits for a CPU, in this machine's
    run queue or while the host runs another guest on it (steal), is not
    counted, so this reads the work done, not the host's load."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while /proc was read
                continue
            stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))


def jvm_peak_heap_mb(spark) -> float:
    """Sum of the peak use of the JVM's heap pools since start, in MB. The
    pools peak at different times, so this bounds the heap's peak from
    above; the eden and old-gen peaks follow G1's sizing and marking
    threshold as much as the program's live data."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
               if pool.getType().name() == "HEAP") / 2**20


def jvm_gc_totals(spark) -> tuple[int, float]:
    """(collections, seconds) of every JVM garbage collector so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = list(mf.getGarbageCollectorMXBeans())
    return (sum(b.getCollectionCount() for b in beans),
            sum(b.getCollectionTime() for b in beans) / 1000)


class Verifier:
    """Checks each pass's outputs, stage by stage, and counts operations."""

    def __init__(self, workload: str, inp: str, out: str, truth: dict, acc_truth):
        self.workload, self.inp, self.out = workload, inp, out
        self.truth, self.acc_truth = truth, acc_truth
        self.attempted = self.failed = 0
        self.unexpected: list[str] = []

    def check_pass(self, result: dict) -> None:
        import checks
        from stages import STAGES

        f = checks.load_outputs(self.workload, self.inp, self.out)
        t = self.truth
        run = {
            "reformat": lambda: checks.check_reformat(
                f["meas"], f["ppg_rows"], f["ac_rows"], result.get("d_time_ms"), t),
            "filter": lambda: checks.check_filter(f["filter_in"], f["filtered"], t),
            "acc": lambda: checks.check_acc(f["acc"], self.acc_truth),
            "activity": lambda: checks.check_activity(
                f["act_in"], f["acc"], f["final"], f["thresholds"], t),
        }
        for stage in STAGES[self.workload]:
            self.attempted += 1
            err = result.get(stage)
            problems = [f"{stage} raised {err!r}"] if err is not None else run[stage]()
            if problems:
                self.failed += 1
                known = stage == "acc" and all(p.startswith(checks.ACC_PAIRING) for p in problems)
                if not known:
                    self.unexpected.extend(problems)
                print(f"operation failed: {stage}: {'; '.join(problems)}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("one_subject_raw", "cohort_extracts"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {os.path.relpath(HERE)}: run from a checkout "
              "of the program", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inp, out = os.path.join(work, "input"), os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload",
                    args.workload, "--seed", str(args.seed), "--out", inp], check=True)
    sys.path.insert(0, HERE)
    import numpy as np

    with open(os.path.join(inp, "truth.json")) as f:
        truth = json.load(f)
    acc_truth = dict(np.load(os.path.join(inp, "acc_truth.npz")))
    cpus, mem, conf = host_session_conf(work)
    print(f"session: local[{cpus}], spark.driver.memory={mem}", file=sys.stderr)

    # set-up: interpreter start, package import, session start
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    from sensomics_data_pipeline_spark import session
    from sensomics_data_pipeline_spark.plans import pipelines  # noqa: F401
    from sensomics_data_pipeline_spark.sources import readers, writers  # noqa: F401

    t_spark = time.perf_counter()
    spark = session.get_spark("pipeline_bench", cpus=cpus, extra_conf=conf)
    t_ready = time.perf_counter()
    setup_s = (T_MAIN - process_start_since_boot()) + (t_ready - t_setup)
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()

    from stages import run_pass

    verifier = Verifier(args.workload, inp, out, truth, acc_truth)
    cpu0 = cpu_times()
    try:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        result = run_pass(spark, args.workload, inp, out)
        first_pass_s, first_pass_cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
        verifier.check_pass(result)
        walls, cpus = [], []
        while len(walls) < MIN_WARM_PASSES or (not args.trace and sum(walls) < args.seconds):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            result = run_pass(spark, args.workload, inp, out)
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s() - c0)
            verifier.check_pass(result)
        if args.trace:
            import tracing

            tr = tracing.Tracer(spark)
            first_job = tr.next_job_id()
            gc0 = jvm_gc_totals(spark)
            t0 = time.perf_counter()
            with tr.layer("pass"):
                result = run_pass(spark, args.workload, inp, out, tr.layer)
            traced_s = time.perf_counter() - t0
            gc_n, gc_s = (b - a for a, b in zip(gc0, jvm_gc_totals(spark)))
            verifier.check_pass(result)
            per_layer = tracing.probe_layers(spark, tr, args.workload, inp, out, truth)
            per_layer["session.get_spark.wall_s"] = t_ready - t_spark
            per_layer["trace.first_pass_s"] = first_pass_s
            per_layer["trace.untraced_pass_s"] = statistics.median(walls)
            per_layer["trace.traced_pass_s"] = traced_s
            per_layer["trace.unattributed_jobs"] = tr.unattributed_jobs(first_job)
            per_layer["jvm.gc.collections"] = gc_n
            per_layer["jvm.gc.time_s"] = gc_s
            metrics = {k: {"value": v, "unit": tracing.PER_LAYER[k]} for k, v in per_layer.items()}
            path = os.path.join(HERE, "work", "trace.json")
            doc = {}
            if os.path.exists(path):
                with open(path) as f:
                    doc = json.load(f)
            doc[args.workload] = {"seed": args.seed, "metrics": per_layer, "spans": tr.spans}
            with open(path, "w") as f:
                json.dump(doc, f, indent=1)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "first_pass_cpu_s": {"value": first_pass_cpu_s, "unit": "s"},
                "pass_cpu_s": {"value": statistics.median(cpus), "unit": "s"},
                "peak_heap_mb": {"value": jvm_peak_heap_mb(spark), "unit": "MB"},
            }
        jvm_kb, py_kb = vm_hwm_kb(jvm_pid), vm_hwm_kb("self")
        if not args.trace:
            metrics["peak_rss_mb"] = {"value": (jvm_kb + py_kb) / 1024, "unit": "MB"}
        total, steal = (b - a for a, b in zip(cpu0, cpu_times()))
        print(f"first pass: {first_pass_s:.3f} s wall, {first_pass_cpu_s:.2f} s CPU; "
              f"warm passes: {[round(w, 3) for w in walls]} s wall, "
              f"{[round(c, 2) for c in cpus]} s CPU; peak RSS: JVM {jvm_kb // 1024} MB, "
              f"peak heap {jvm_peak_heap_mb(spark):.1f} MB, "
              f"Python {py_kb // 1024} MB; CPU steal {steal / max(total, 1):.1%}",
              file=sys.stderr)
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    for problem in verifier.unexpected:
        print(f"unexpected: {problem}", file=sys.stderr)
    print(json.dumps({"correct": not verifier.unexpected, "attempted": verifier.attempted,
                      "failed": verifier.failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
