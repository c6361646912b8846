"""Benchmark: one workload of `geotreehealth_spark` ops, timed end to end.

    python3 perfbench/run.py --workload match --seed 1 --seconds 10 --trace 0

Run from the repository root. The run:

1. generates the seeded inputs (perfbench/gen.py) under `.perfbench_work/`,
   and starts every op's DuckDB oracle over them in a background thread;
2. sets up three times: a Spark session on local[<cpus>], the input views,
   and the workload's first op as warm-up. The first set-up also launches
   the JVM and the SparkContext. `setup_s` is the median of the three;
3. verifies every op once, cold: the hash of its full output must equal the
   hash of its oracle's output. This pass also warms the ops up. It is not
   part of any timing;
4. runs the ops in a fixed order, one after another (a closed loop of one
   client), each through the full-output hash action, until `--seconds`
   have passed and at least MIN_PASSES passes ran. Caches are released
   between ops. Each op's wall time and the CPU time of the whole process
   tree (this process, the Spark JVM and its Python workers) are taken per
   op, and before each op a fixed reference loop is timed. `norm_cpu_s` sums
   each op's median CPU time over the passes, leaving out the JVM's JIT
   compiler threads, and scales it by REFERENCE_S / (the reference loop's
   median time). Every op must reproduce its verified hash;
5. with `--trace 1`, runs one more pass with spans around every call into a
   layer and prints the per-layer metrics (perfbench/tracing.py) instead of
   the end-to-end ones.

The end-to-end time metric is CPU time, not wall time. On a shared host the
hypervisor at times steals CPU from the benchmark's vCPUs, and other work may
share them: on a 4-vCPU VM, runs that lost 7-20% of their CPU that way, or
ran beside a second benchmark, took up to twice the wall time of quiet runs,
while their CPU time stayed within ~8% (the kernel accounts stolen time
apart, PARAVIRT_TIME_ACCOUNTING). The host's speed still drifts: on that VM
`features` runs took 12.5-17.4 CPU seconds at different times, and a fixed
pure-Python loop slowed and sped up with them (0.07-0.15 s), so the CPU time
is scaled by that loop's time in the same run; over ten seeds of `features`
the interquartile spread fell from 12% to 5% of the median. Raw CPU seconds
and the loop's samples are in the record. HotSpot's JIT compiler threads are
left out: Spark loads ~400 classes of generated code per `match` pass, and
compiling them costs about as much CPU as the rest of the pass while varying
~15% from pass to pass. The traced run reports them as `cpu.jit_s` and
`jit.classes`. Wall times are kept too: per op in the record, and summed
over the timed passes as the traced run's `trace.untraced_wall_s`.

An op that raises or whose hash does not match counts as failed; the run goes
on. The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}. The line before it is the run's full record (host, settings,
per-op times and hashes).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import check
import gen
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
BENCH_SIZE = 0.05  # x TPC-H-ish sf0.1 row counts, see gen.BASE_ROWS
SETUP_ROUNDS = 3
MIN_PASSES = 2
DRIVER_MEM = "2g"
# the reference loop's CPU time on an uncontended core of the 4-vCPU VM the
# benchmark was tuned on (0.07-0.15 s seen there as neighbours came and went)
REFERENCE_ITERS = 1_000_000
REFERENCE_S = 0.1
E2E_UNITS = {"setup_s": "s", "norm_cpu_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(cpus: int) -> None:
    """Process environment the JVM and its Python workers inherit; every
    scratch file goes under WORK."""
    for sub in ("spark-local", "tmp", "data", "trace"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # workers import the program by module path; started from outside the
    # repository they fail with ModuleNotFoundError without it
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the launcher JVM spark-submit starts first: no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the heap is committed and touched at full size from the start:
        # left to grow, G1 resizes it through the first minutes and pass
        # times drift ~25%; left untouched, the peak RSS depends on how much
        # of it the collector happened to cycle through (~15% apart).
        # Compiler threads stay alive, so their CPU time can be told apart.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads "
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
    }


def release_caches(spark) -> None:
    """Drop persisted DataFrames and checkpointed RDDs (as bench.py does)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def cache_usage(spark) -> tuple[float, int]:
    infos = list(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6, len(infos)


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _ticks(stat: str) -> tuple[str, int, int]:
    """(name, parent pid, user + system ticks incl. reaped children) from a
    /proc stat line."""
    name = stat[stat.index("(") + 1:stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2:].split()
    return name, int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """(CPU seconds, user + system, of this process and all its descendants:
    the benchmark, the Spark JVM and the JVM's Python workers; the part of
    it spent by the JVM's JIT compiler threads). Hypervisor-stolen time is
    not in these counters (PARAVIRT_TIME_ACCOUNTING)."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                _, ppid, t = _ticks(f.read())
        except OSError:  # exited while we looked
            continue
        children.setdefault(ppid, []).append(int(name))
        ticks[int(name)] = t
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    jit = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                thread, _, t = _ticks(f.read())
        except OSError:
            continue
        if thread.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            jit += t
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def reference_cpu_s() -> float:
    """CPU seconds this thread takes for a fixed pure-Python loop: how fast
    the host runs a fixed piece of work at the moment."""
    t = time.thread_time()
    x = 0
    for i in range(REFERENCE_ITERS):
        x = (x * 31 + i) & 0xFFFF
    return time.thread_time() - t


def loaded_classes(spark) -> int:
    """Classes the JVM has loaded so far; Spark's generated code adds some
    with every query whose code is not in its cache."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getClassLoadingMXBean().getTotalLoadedClassCount()


def dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """One benchmark run: oracles, set-up rounds, verification, timed passes."""

    def __init__(self, args, cpus: int):
        import pyarrow.parquet as pq

        import workloads  # imports the program: needs prepare_env first

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        self.args, self.cpus, self.workloads = args, cpus, workloads
        t = time.perf_counter()
        self.data_dir = gen.write(args.seed, BENCH_SIZE, os.path.join(WORK, "data"))
        self.gen_s = time.perf_counter() - t
        self.input_rows = {
            name: pq.ParquetFile(os.path.join(self.data_dir, f"{name}.parquet")).metadata.num_rows
            for name in workloads.INPUT_TABLES[args.workload]
        }
        self.ops = workloads.ops(args.workload)
        self.ctx = workloads.StageContext(
            base=os.path.join(WORK, f"ckpt-{os.getpid()}"),
            changed_part=workloads.changed_part(args.seed),
        )
        self.spark = None
        self.attempted = self.failed = 0
        self.expected: dict[str, str] = {}
        self.errors: list[str] = []
        self.once_times: dict[str, float] = {}
        self.traced_times: dict[str, float] = {}
        self.reference: list[float] = []
        self._con = None
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._oracles = self._pool.submit(self._run_oracles)

    def close(self) -> None:
        self._pool.shutdown()
        stop_spark(self.spark)
        shutil.rmtree(self.ctx.base, ignore_errors=True)
        if self._con is not None:
            self._con.close()

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)
        print(why, file=sys.stderr)

    # -- oracles -------------------------------------------------------------------
    def _run_oracles(self) -> dict:
        """Every fixed op's oracle output (or the error it raised); runs in a
        background thread, so it overlaps the JVM launch."""
        con = check.oracle_connection(self.data_dir, gen.TABLES)
        try:
            out = {}
            for op in self.ops:
                if op.varies:
                    continue
                try:
                    out[op.name] = con.sql(op.oracle(self.ctx)).df()
                except Exception as e:  # noqa: BLE001 - reported by verify
                    out[op.name] = e
            return out
        finally:
            con.close()

    def oracle_hash(self, op, schema) -> str:
        """Hash of a varying op's oracle output for the current stage state."""
        if self._con is None:
            self._con = check.oracle_connection(self.data_dir, gen.TABLES)
        return check.frame_hash(self.spark, self._con.sql(op.oracle(self.ctx)).df(), schema)

    # -- set-up ----------------------------------------------------------------------
    def setup(self) -> dict:
        """Set up SETUP_ROUNDS times: a session, the input views, and the
        first op as warm-up. The first round launches the JVM and the
        SparkContext; later rounds open a new session on it (fresh views and
        SQL conf), as restarting a context in-process breaks Python
        accumulators."""
        from geotreehealth_spark import session, synth

        rounds, registers = [], []
        first = self.ops[0]
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            if r == 0:
                self.spark = session.get_spark(app_name="perfbench", cores=self.cpus,
                                               extra_conf=spark_conf())
                self.spark.sparkContext.setLogLevel("ERROR")
                start_s = time.perf_counter() - t0
            else:
                self.spark = self.spark.newSession()
            t1 = time.perf_counter()
            synth.register_tpch_views(self.spark, self.data_dir)
            t2 = time.perf_counter()
            check.output_hash(first.build(self.spark, self.data_dir, self.ctx))
            release_caches(self.spark)
            rounds.append(time.perf_counter() - t0)
            registers.append(t2 - t1)
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return {
            "setup_s": statistics.median(rounds),
            "rounds_s": rounds,
            "session.start_s": start_s,
            "synth.register_s": statistics.median(registers),
        }

    # -- verification --------------------------------------------------------------
    def verify(self) -> float:
        """Run every op once, cold, and check its output against its oracle."""
        oracles = self._oracles.result()
        t_start = time.perf_counter()
        self.workloads.reset_stage(self.ctx)
        for op in self.ops:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                df = op.build(self.spark, self.data_dir, self.ctx)
                got = check.output_hash(df)
                self.once_times[op.name] = time.perf_counter() - t0
                self.expected[op.name] = got
                if op.varies:
                    want = self.oracle_hash(op, df.schema)
                elif isinstance(oracles[op.name], Exception):
                    raise oracles[op.name]
                else:
                    want = check.frame_hash(self.spark, oracles[op.name], df.schema)
                if got != want:
                    self._fail(f"verify {op.name}: hash {got} != oracle {want}")
            except Exception:  # noqa: BLE001 - a failing op is counted, the run goes on
                self._fail(f"verify {op.name}: " + traceback.format_exc())
            release_caches(self.spark)
        return time.perf_counter() - t_start

    # -- timed passes ----------------------------------------------------------------
    def run_pass(self, tracer=None) -> tuple[dict[str, float], dict[str, float],
                                             dict[str, float], dict]:
        """Every op but the once-only ones, in order, each through the hash
        action. Returns each op's wall seconds, its CPU seconds outside the
        JIT compiler and its JIT compiler CPU seconds (tree_cpu_s); the
        output check after each op is not timed."""
        times: dict[str, float] = {}
        cpu: dict[str, float] = {}
        jit: dict[str, float] = {}
        cache = {"cache.mb": 0.0, "cache.rdds": 0.0}
        for op in self.ops:
            if op.once:
                continue
            self.attempted += 1
            self.reference.append(reference_cpu_s())
            c0, j0 = tree_cpu_s(self.jvm_pid)
            t0 = time.perf_counter()

            def took(name=op.name, t0=t0, c0=c0, j0=j0) -> None:
                times[name] = time.perf_counter() - t0
                c1, j1 = tree_cpu_s(self.jvm_pid)
                cpu[name], jit[name] = (c1 - c0) - (j1 - j0), j1 - j0

            try:
                if tracer is None:
                    df = op.build(self.spark, self.data_dir, self.ctx)
                    got = check.output_hash(df)
                else:
                    with tracer.span("op", op.name, op=op.name):
                        df = op.build(self.spark, self.data_dir, self.ctx)
                        with tracer.span("action", "action.hash"):
                            got = check.output_hash(df)
                took()
                want = self.oracle_hash(op, df.schema) if op.varies else self.expected.get(op.name)
                if got != want:
                    self._fail(f"{op.name}: hash {got} != verified {want}")
            except Exception:  # noqa: BLE001 - a failing op is counted, the run goes on
                if op.name not in times:
                    took()
                self._fail(f"{op.name}: " + traceback.format_exc())
            if tracer is not None:
                mb, n = cache_usage(self.spark)
                cache["cache.mb"] = max(cache["cache.mb"], mb)
                cache["cache.rdds"] = max(cache["cache.rdds"], float(n))
            release_caches(self.spark)
        return times, cpu, jit, cache

    def timed(self) -> list[tuple[dict[str, float], dict[str, float], dict[str, float]]]:
        passes = []
        t_end = time.perf_counter() + self.args.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            passes.append(self.run_pass()[:3])
        return passes

    # -- traced pass -------------------------------------------------------------------
    def traced(self, untraced_wall: float, setup: dict) -> dict[str, float]:
        tracer = tracing.Tracer(self.spark.sparkContext)
        tracer.install()
        try:
            classes = loaded_classes(self.spark)
            times, cpu, jit, cache = self.run_pass(tracer)
            classes = loaded_classes(self.spark) - classes
        finally:
            tracer.uninstall()
        self.traced_times = times
        tracer.dump(os.path.join(WORK, "trace", f"{self.args.workload}-seed{self.args.seed}.json"))
        result_rows = sum(check.hash_rows(h) for h in self.expected.values())
        m = tracing.layer_metrics(tracer, tracing.read_store(self.spark), cpus=self.cpus,
                                  result_rows=result_rows, data_dir=self.data_dir, cache=cache)
        traced_wall = sum(times.values())
        m["session.start_s"] = setup["session.start_s"]
        m["synth.register_s"] = setup["synth.register_s"]
        m["trace.traced_wall_s"] = traced_wall
        m["trace.untraced_wall_s"] = untraced_wall
        m["trace.overhead_frac"] = traced_wall / untraced_wall - 1.0
        m["host.reference_s"] = statistics.median(self.reference)
        m["cpu.jit_s"] = sum(jit.values())
        m["cpu.other_s"] = sum(cpu.values())
        m["jit.classes"] = float(classes)
        m.update(self.stage_metrics(times))
        return m

    def stage_metrics(self, times: dict[str, float]) -> dict[str, float]:
        """The resumable stage's numbers (zero on workloads without it)."""
        m = {"lineage.cold_s": 0.0, "lineage.resume_s": 0.0, "lineage.recompute_frac": 0.0,
             "catalog.write_mb": 0.0, "catalog.files": 0.0, "catalog.write_amp": 0.0}
        if "stage_resume" not in times:
            return m
        from geotreehealth_spark import lineage

        written, files = dir_usage(self.ctx.base)
        stage_in = sum(os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
                       for t in ("lineitem", "events"))
        lin = lineage.read_lineage(self.spark, self.ctx.base, self.workloads.STAGE)
        parts = lin.select("part_key").distinct().count()
        last = lin.agg({"completed_at_ns": "max"}).collect()[0][0]
        m.update({
            "lineage.cold_s": self.once_times["stage_cold"],
            "lineage.resume_s": times["stage_resume"],
            "lineage.recompute_frac": lin.where(lin.completed_at_ns == last).count() / parts,
            "catalog.write_mb": written / 1e6,
            "catalog.files": float(files),
            "catalog.write_amp": written / stage_in,
        })
        return m


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    prepare_env(cpus)
    runner = Runner(args, cpus)
    try:
        setup = runner.setup()
        verify_s = runner.verify()
        passes = runner.timed()
        timed_ops = [op.name for op in runner.ops if not op.once]

        def per_op_median(i: int) -> float:
            return sum(statistics.median(p[i][name] for p in passes) for name in timed_ops)

        wall_s, cpu_s = per_op_median(0), per_op_median(1)
        reference_s = statistics.median(runner.reference)
        norm_cpu_s = cpu_s * REFERENCE_S / reference_s
        if args.trace:
            layer = runner.traced(wall_s, setup)
            metrics = {k: (layer[k], tracing.unit_of(k)) for k in tracing.PER_LAYER}
        else:
            values = {
                "setup_s": setup["setup_s"],
                "norm_cpu_s": norm_cpu_s,
                "peak_rss_mb": jvm_peak_rss_mb(runner.jvm_pid),
            }
            metrics = {k: (values[k], unit) for k, unit in E2E_UNITS.items()}
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "driver_heap": DRIVER_MEM,
            "loadavg": os.getloadavg(), "bench_size": BENCH_SIZE,
            "input_rows": runner.input_rows, "gen_s": runner.gen_s, "setup": setup,
            "verify_s": verify_s, "ops": [op.name for op in runner.ops],
            "wall_s": wall_s, "cpu_s": cpu_s, "norm_cpu_s": norm_cpu_s,
            "loadavg_end": os.getloadavg(),
            "pass_walls_s": [sum(p[0].values()) for p in passes],
            "pass_cpus_s": [sum(p[1].values()) for p in passes],
            "op_times_s": [p[0] for p in passes], "op_cpu_s": [p[1] for p in passes],
            "op_jit_s": [p[2] for p in passes], "reference_s": runner.reference,
            "once_op_times_s": runner.once_times, "traced_op_times_s": runner.traced_times,
            "hashes": runner.expected, "pythonpath": os.environ["PYTHONPATH"],
            "errors": runner.errors,
        }
        print(json.dumps({"record": record}))
    finally:
        runner.close()
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
