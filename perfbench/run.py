"""Benchmark for the etl_knlp_spark package: two seeded closed-loop
workloads on local[nproc], each output checked.

    python3 perfbench/run.py --workload reference_etl --seed 1 --seconds 20 --trace 0

Workloads (see workloads.py): ``reference_etl`` (the reference DAG)
and ``corpus_prep`` (the corpus chain). Run from any directory; the
program under test is the ``etl_knlp_spark`` package next to this
directory, and every file the run writes stays under
``<repo>/.perfbench/`` (inputs are cached there by workload, seed and
size; Spark's local, temp and warehouse directories live in a per-run
directory that is removed at exit).

``--trace 0`` prints the end-to-end metrics: set-up time (the cold
``get_spark``, which launches the JVM, the first table load and one
warm-up pass), median pass wall time, input records per second, and
the peak resident memory of the driver JVM plus its Python workers.
``--trace 1`` alternates untraced passes with traced ones, attributes
Spark's jobs, stages, SQL executions and Python-worker metrics to
spans, and prints the per-layer metrics plus the tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it holds the details (layout, generation time, every pass
time, CPU steal, failures).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The driver heap, through the program's own SPARK_GRAFT_DRIVER_MEM
# setting, with the initial size equal to the cap. Under its 8g default
# G1 grows the heap to 2.6-4.4 GB depending on when it collects, and
# peak_rss_mb spread by 0.27 (IQR over median, 5 seeds, local[4] on 4
# vCPUs). The initial heap otherwise defaults to 1/64 of the host's
# RAM, and G1 then grows it over the first 4-7 passes by a rule that
# uses GC time, so the pass where times settle varied from run to run;
# with -Xms at the cap they settle after 1-2 passes. The heap is not
# pre-touched: peak RSS still counts only the pages a run touches.
DRIVER_MEM = "1g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: time the hypervisor ran
    something else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _session_conf(run_dir: str) -> dict[str, str]:
    from spans import RETENTION_CONF

    return {
        **RETENTION_CONF,
        # Python workers import etl_knlp_spark from this checkout,
        # wherever the benchmark is launched from.
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


class Run:
    def __init__(self, args):
        from workloads import WORKLOADS

        self.args = args
        work = os.path.join(ROOT, ".perfbench")
        self.run_dir = os.path.join(work, f"run-{os.getpid()}")
        self.trace_dir = os.path.join(work, "traces")
        self.workload = WORKLOADS[args.workload](os.path.join(work, "cache"), args.seed, self.run_dir)
        self.cpus = _nproc()
        self.spark = None

    def setup(self, tracer) -> tuple[float, dict]:
        """Set-up time, as one invocation of the program pays it: the
        cold ``get_spark`` (it launches the JVM), the first table load
        and one warm-up pass."""
        from etl_knlp_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.start") as start:
            self.spark = get_spark(
                app_name=f"perfbench_{self.args.workload}",
                cpus=self.cpus,
                extra_conf=_session_conf(self.run_dir),
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(self.spark.sparkContext)
        with tracer.span("catalog.first_load") as load:
            self.workload.first_load(self.spark)
        with tracer.span("warmup") as warm:
            self.setup_ops = self.workload.run_pass(self.spark, tracer, layers=False)[1]
        parts = {"session_s": start.duration, "first_load_s": load.duration, "warmup_s": warm.duration}
        return time.perf_counter() - t0, parts

    def layout(self, loadavg) -> dict:
        import pyspark

        conf = self.spark.conf
        return {
            "nproc": self.cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": self.spark.sparkContext.master,
            "shuffle_partitions_after_first_load": conf.get("spark.sql.shuffle.partitions"),
            "aqe_after_first_load": conf.get("spark.sql.adaptive.enabled"),
            "driver_memory": conf.get("spark.driver.memory"),
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "loadavg_at_start": loadavg,
        }

    def _jvm_tree(self) -> list[int]:
        """The driver JVM's pid followed by its descendants (Python workers)."""
        return _proc_tree(self.spark._jvm.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> tuple[float, dict]:
        jvm, *workers = [_hwm_mb(p) for p in self._jvm_tree()]
        return jvm + sum(workers), {"jvm_mb": jvm, "python_workers_mb": workers}

    def settle(self, tracer) -> None:
        """The workload's untimed settle passes; their outputs are
        checked like every other pass."""
        for _ in range(self.workload.settle_passes):
            with tracer.span("settle"):
                self.setup_ops += self.workload.run_pass(self.spark, tracer, layers=False)[1]

    def measure(self, tracer, traced: bool):
        """Closed loop for --seconds, at least the workload's
        ``min_passes`` passes. With ``traced`` the passes alternate
        untraced, traced, untraced, ... and end on an untraced one."""
        deadline = time.perf_counter() + self.args.seconds
        plain, layered = [], []  # (pass seconds, ops, pass span)
        while True:
            layers = traced and len(layered) < len(plain)
            with tracer.span("pass.traced" if layers else "pass") as span:
                seconds, ops = self.workload.run_pass(self.spark, tracer, layers)
            (layered if layers else plain).append((seconds, ops, span))
            if traced:
                if time.perf_counter() >= deadline and layered and not layers:
                    return plain, layered
            elif time.perf_counter() >= deadline and len(plain) >= self.workload.min_passes:
                return plain, layered

    def stop(self):
        """Stop Spark, the py4j gateway JVM and its Python workers, and
        wait for each to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        workers = self._jvm_tree()[1:]
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.time() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)


def end_to_end(run: Run, setup_s, plain) -> tuple[dict, dict]:
    """Pass times as their median; a run has fewer than 20 passes, so no
    percentile above the median has ten samples beyond it."""
    wall = statistics.median(s for s, _, _ in plain)
    rss, rss_parts = run.peak_rss_mb()
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "records_per_s": (run.workload.records / wall, "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    details = {
        "passes": len(plain),
        "pass_s_each": [s for s, _, _ in plain],
        "peak_rss": rss_parts,
    }
    return metrics, details


def per_layer(run: Run, tracer, plain, layered) -> tuple[dict, dict]:
    from spans import StatusReader

    reader = StatusReader(run.spark, tracer.run_id)
    med = statistics.median
    per_pass: list[dict[str, float]] = []  # span name -> seconds, per traced pass
    attributed, quality_jobs = [], []
    for wall, _, span in layered:
        spans = tracer.descendants(span)
        seconds: dict[str, float] = {}
        for s in spans:
            seconds[s.name] = seconds.get(s.name, 0.0) + s.duration
        per_pass.append(seconds)
        # work of the pipeline itself: the timed pass, without its output checks
        work = {s.id for s in spans if s.name != "check"}
        attributed.append((wall, reader.attribute(work)))
        quality_jobs.append(reader.attribute({s.id for s in spans if s.name == "quality.checks"}).jobs)

    def span_s(name):
        return med(p.get(name, 0.0) for p in per_pass)

    def setup_s(name):
        return next(s.duration for s in tracer.spans if s.name == name)

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (setup_s("session.start"), "s"),
        "catalog.first_load_s": (setup_s("catalog.first_load"), "s"),
        "sources.parse_stage_s": (span_s("sources.parse_stage"), "s"),
        "sources.load_s": (span_s("sources.load"), "s"),
        "dimension.build_s": (span_s("dimension.build"), "s"),
        "quality.checks_s": (span_s("quality.checks"), "s"),
        "corpus.prefilter_s": (span_s("corpus.prefilter"), "s"),
        "dedup.minhash_s": (span_s("dedup.minhash"), "s"),
        "packing.pack_s": (span_s("packing.pack"), "s"),
        "sink.write_s": (span_s("sink.write"), "s"),
    }
    stats = run.workload.layer_metrics()
    units = {
        "sources.staged_bytes": "B",
        "sources.staged_files": "count",
        "dimension.rows_out": "count",
        "corpus.survival_ratio": "ratio",
        "dedup.candidate_pairs": "count",
        "dedup.verified_pairs": "count",
        "dedup.verify_yield": "ratio",
        "dedup.planted_recall": "ratio",
        "packing.fill_ratio": "ratio",
        "sink.bytes": "B",
    }
    for name, unit in units.items():
        m[name] = (med(stats[name]) if stats.get(name) else 0.0, unit)
    m["quality.jobs"] = (med(quality_jobs), "count")
    a = [x for _, x in attributed]
    walls = [w for w, _ in attributed]
    m.update(
        {
            "spark.jobs": (med(x.jobs for x in a), "count"),
            "spark.stages": (med(x.stages for x in a), "count"),
            "spark.tasks": (med(x.tasks for x in a), "count"),
            "spark.sql_executions": (med(x.sql_executions for x in a), "count"),
            "spark.executor_run_s": (med(x.executor_run_s for x in a), "s"),
            "spark.executor_cpu_s": (med(x.executor_cpu_s for x in a), "s"),
            "spark.gc_s": (med(x.gc_s for x in a), "s"),
            "spark.core_busy_ratio": (
                med(x.executor_run_s / (w * run.cpus) for w, x in zip(walls, a)),
                "ratio",
            ),
            "spark.shuffle_write_bytes": (med(x.shuffle_write_bytes for x in a), "B"),
            "spark.shuffle_read_bytes": (med(x.shuffle_read_bytes for x in a), "B"),
            "spark.spill_bytes": (med(x.spill_bytes for x in a), "B"),
            "udf.worker_start_s": (med(x.udf["worker_start_s"] for x in a), "s"),
            "udf.worker_run_s": (med(x.udf["worker_run_s"] for x in a), "s"),
            "udf.bytes_sent": (med(x.udf["bytes_sent"] for x in a), "B"),
            "udf.bytes_returned": (med(x.udf["bytes_returned"] for x in a), "B"),
        }
    )
    # The first untraced pass runs before any traced one and still pays
    # for JIT warm-up; the untraced passes after it each follow a traced
    # pass, so that warm-up does not count as tracing cost.
    untraced = med(s for s, _, _ in plain[1:])
    traced = med(s for s, _, _ in layered)
    m["tracing.overhead_s"] = (traced - untraced, "s")
    self_times: dict[str, float] = {}  # by span name, summed over the last traced pass
    for s in tracer.descendants(layered[-1][2]):
        self_times[s.name] = self_times.get(s.name, 0.0) + tracer.self_time(s)
    details = {
        "traced_passes": len(layered),
        "untraced_passes": len(plain),
        "jobs_attributed": len(reader.jobs),
        "self_time_s": self_times,
    }
    return m, details


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_knlp_spark", "__init__.py")):
        print(f"perfbench: no etl_knlp_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(args)
    shutil.rmtree(run.run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run.run_dir, sub))
    # Every temp file (Python's tempfile, streaming checkpoints, Spark
    # scratch) lands in the run directory.
    tmp = os.path.join(run.run_dir, "tmp")
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run.run_dir, "local"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", sys.executable),
        }
    )
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(run.run_dir)

    from spans import Tracer

    try:
        loadavg = os.getloadavg()
        t0 = time.perf_counter()
        run.workload.prepare()
        gen_s = time.perf_counter() - t0
        tracer = Tracer(f"r{os.getpid()}")
        setup_s, setup_details = run.setup(tracer)
        layout = run.layout(loadavg)
        run.settle(tracer)
        steal0 = _cpu_steal()
        plain, layered = run.measure(tracer, traced=bool(args.trace))
        steal1 = _cpu_steal()
        ops = [op for _, o, _ in plain + layered for op in o]
        bad = [op for op in run.setup_ops + ops if not op.ok]
        if args.trace:
            metrics, details = per_layer(run, tracer, plain, layered)
            leaked = [d for d in os.listdir(tmp) if d.startswith("etl_knlp_ckpt_")]
            metrics["streaming.leaked_ckpt_dirs"] = (len(leaked), "count")
        else:
            metrics, details = end_to_end(run, setup_s, plain)
        details["setup"] = setup_details
        os.makedirs(run.trace_dir, exist_ok=True)
        with open(os.path.join(run.trace_dir, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
            json.dump({"spans": tracer.dump()}, f)
        failed = sum(1 for op in ops if not op.ok)
        details.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "layout": layout,
                "gen_s": gen_s,
                "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
                "ops_failed_frac": failed / len(ops),
                "failures": [f"{op.name}: {op.error}" for op in bad][:20],
            }
        )
        print(json.dumps({"perfbench": details}, default=str))
        print(
            json.dumps(
                {
                    "correct": not bad,
                    "attempted": len(ops),
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        os.chdir(ROOT)
        run.stop()
        shutil.rmtree(run.run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
