"""Benchmark entry point.

    python3 perfbench/run.py --workload gold_queries --seed 1 --seconds 10 --trace 0

Runs one workload (see perfbench/README.md) against the engine's public
API on local[<cpus>] from this process, with one closed-loop client,
and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs untraced and then
traced passes of the op mix and reports the per-layer record.

Everything the run writes (inputs, zones, snapshot tables, indexes,
spark-warehouse, spill, temp files) goes under a per-run directory in
``.perfbench/`` at the checkout root, removed at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _export_env(run_dir: str) -> None:
    """Environment for this process, the JVM it launches and the Python
    workers the JVM forks; must run before pyspark is imported.  Python
    workers for the ``vexere_tickets`` source import the engine, so the
    checkout root goes on PYTHONPATH."""
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]
    for sub in ("tmp", "spill"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on the next temp file
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spill")
    # Spark tasks get half the CPUs; the rest serve the driver JVM's
    # scheduler, JIT and GC threads and this process.  With a task
    # thread per CPU, a host that steals CPU time from its guests
    # stalls every short stage: ann_serve's runs spread 0.27 (IQR over
    # median of five seeds) on local[4] against 0.13 on local[2] on a
    # 4-CPU guest, at about the same median.
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, cpus // 2)))


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result line."""
    print(f"[perfbench {time.time() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """One benchmark run: the Spark session, the op loop, job tagging,
    checks and the metrics record.  Workloads see it as ``ctx``."""

    def __init__(self, args, run_dir: str):
        from tracing import Tracer

        self.workload, self.seed, self.size = args.workload, args.seed, args.size
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.tracer = Tracer()
        self.session_build_s = 0.0
        self.phases: list[tuple[str, str, str, float, float]] = []  # op, kind, span, t0, t1
        self.op_tag = "setup"
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.spark = None

    # -- context used by workloads -----------------------------------------
    def start_spark(self) -> None:
        from vexere_lakehouse_pipeline_spark.session import build_session

        t0 = time.time()
        java_tmp = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        self.tracer.enabled = self.trace
        with self.tracer.span("session.build_session"):
            self.spark = build_session("perfbench", extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
                "spark.driver.extraJavaOptions": java_tmp,
                "spark.executor.extraJavaOptions": java_tmp,
            })
        self.tracer.enabled = False
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_build_s = time.time() - t0
        log(f"session up in {self.session_build_s:.3f}s")

    def _group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    @contextmanager
    def phase(self, kind: str, span: str):
        """One step of an op, of kind ``construct`` (building a DataFrame)
        or ``action`` (running it): its Spark jobs carry the job group
        ``<op>:<span>`` and its wall time is kept."""
        self._group(f"{self.op_tag}:{span}")
        t0 = time.time()
        try:
            with self.tracer.span(span):
                yield
        finally:
            self.phases.append((self.op_tag, kind, span, t0, time.time()))

    @contextmanager
    def untimed(self, label: str, traced: bool = False):
        """A set-up step; with ``traced`` its spans join a traced run's
        record (for set-up that is itself a measured layer call)."""
        self._group(f"bench:{label}")
        self.tracer.enabled = traced and self.trace
        try:
            yield
        finally:
            self.tracer.enabled = False

    log = staticmethod(log)

    def warm_up(self, op) -> None:
        self.op_tag = "warmup"
        t0 = time.time()
        result = op.run()
        t1 = time.time()
        self._group("bench:check")
        if not op.check(result):
            raise RuntimeError(f"warm-up op {op.name} produced a wrong result")
        log(f"warmup {op.name} {t1 - t0:.3f}s, check {time.time() - t1:.3f}s")

    # -- op loop --------------------------------------------------------------
    def run_ops(self, ops, records: list) -> None:
        for op in ops:
            self.op_tag = f"op{len(records)}"
            self.tracer.op = self.op_tag
            self._group(f"{self.op_tag}:op")
            t0 = time.time()
            wall, ok = None, False
            try:
                with self.tracer.span("bench.op"):
                    result = op.run()
                wall = time.time() - t0
                self._group("bench:check")
                ok = bool(op.check(result))
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                if wall is None:
                    wall = time.time() - t0
            records.append((op.name, wall, op.rows, ok, self.op_tag))
            log(f"{self.op_tag} {op.name} {wall:.3f}s {'ok' if ok else 'FAILED'}")


def _percentile_tail(walls: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it, as
    (value, percentile); (0, 0) with fewer than 11 samples."""
    n = len(walls)
    if n < 11:
        return 0.0, 0.0
    return sorted(walls)[n - 11], 100.0 * (n - 10) / n


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["gold_queries", "curation_batch", "daily_refresh", "ann_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the smoke test")
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    run = None
    try:
        _export_env(run_dir)
        run = Run(args, run_dir)
        result = _run(run, args)
    finally:
        if run is not None and run.spark is not None:
            _stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop_spark(spark) -> None:
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:  # the JVM ignored the close: kill it
        proc.kill()
        proc.wait()


def _run(run: Run, args) -> dict:
    import workloads

    run.start_spark()
    if run.trace:
        # installed before set-up so that traced set-up steps are seen;
        # disabled shims cost one attribute test per call
        from tracing import layer_hooks

        run.tracer.install(layer_hooks(run.tracer))
    wl = workloads.WORKLOADS[args.workload](run)
    wl.setup()
    setup_s = time.time() - PROCESS_START
    records: list = []
    if run.trace:
        metrics = _traced(run, wl, records)
    else:
        passes: list[list] = []
        while not passes or sum(r[1] for r in records) < args.seconds:
            start = len(records)
            run.run_ops(wl.passes(len(passes)), records)
            passes.append(records[start:])
        metrics = _end_to_end(passes, setup_s)
    failed = sum(1 for r in records if not r[3])
    return {"correct": failed == 0, "attempted": len(records), "failed": failed,
            "metrics": metrics}


def _peak_rss_mb(run: Run) -> float:
    jvm = run.spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def _end_to_end(passes: list[list], setup_s: float) -> dict:
    """``rows_per_s`` is the median over passes of a pass's rows (of the
    ops that passed their check) over its summed op wall, so that a
    stall of the host slows one pass, not the figure."""
    rates = [sum(r[2] for r in p if r[3]) / sum(r[1] for r in p) for p in passes]
    vals = {"setup_s": setup_s, "rows_per_s": statistics.median(rates)}
    return {name: {"value": vals[name], "unit": unit}
            for name, unit in metric_units("end_to_end").items()}


def _traced(run: Run, wl, records: list) -> dict:
    """Untraced passes, then as many traced (``TRACE_PASSES`` of the
    workload, default one); per-layer metrics come from the traced
    passes, tracing overhead is the wall difference."""
    from tracing import covered, spark_phase_metrics

    n = getattr(wl, "TRACE_PASSES", 1)
    for pass_no in range(n):
        run.run_ops(wl.passes(pass_no), records)
    untraced = list(records)
    run.tracer.enabled = True
    t_start = time.time()
    try:
        for pass_no in range(n, 2 * n):
            run.run_ops(wl.passes(pass_no), records)
    finally:
        run.tracer.enabled = False
        run.tracer.uninstall()
    traced = records[len(untraced):]
    groups, untagged = spark_phase_metrics(run.spark, t_start)
    run.tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{run.workload}.json"))

    tr, v = run.tracer, {"session.build_s": run.session_build_s}
    tags = {r[4] for r in traced}
    phases = [p for p in run.phases if p[0] in tags]
    op_groups = {g: m for g, m in groups.items() if g.split(":")[0] in tags}

    def spark_sum(key: str) -> float:
        return sum(m.get(key, 0.0) for m in op_groups.values())

    def phase_wall(span: str) -> float:
        return sum(t1 - t0 for _, _, s, t0, t1 in phases if s == span)

    actions = [(f"{tag}:{span}", t0, t1) for tag, kind, span, t0, t1 in phases
               if kind == "action"]
    action_s = sum(t1 - t0 for _, t0, t1 in actions)
    gap = sum((t1 - t0) - covered((t0, t1), op_groups.get(group, {}).get("stage_spans", []))
              for group, t0, t1 in actions)
    walls = [r[1] for r in untraced]
    tail, tail_pct = _percentile_tail(walls)
    v.update({
        "catalog.load_table_s": tr.total("catalog.load_table"),
        "catalog.load_table_calls": tr.calls("catalog.load_table"),
        "plans.construct_s": phase_wall("plans.construct"),
        "plans.construct_jobs": sum(m.get("jobs", 0) for g, m in op_groups.items()
                                    if g.endswith(":plans.construct")),
        "spark.action_s": action_s,
        "spark.jobs": spark_sum("jobs"),
        "spark.stages": spark_sum("stages"),
        "spark.tasks": spark_sum("tasks"),
        "spark.driver_gap_s": gap,
        "spark.task_run_s": spark_sum("task_run_s"),
        "spark.task_cpu_s": spark_sum("task_cpu_s"),
        "spark.shuffle_read_bytes": spark_sum("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": spark_sum("shuffle_write_bytes"),
        "spark.spill_bytes": spark_sum("spill_bytes"),
        "spark.input_bytes": spark_sum("input_bytes"),
        "spark.output_bytes": spark_sum("output_bytes"),
        "spark.untagged_jobs": untagged,
        "incremental.merge_s": tr.total("incremental.merge"),
        "incremental.merge_rows": tr.counts["incremental.merge_rows"],
        "incremental.overwrite_s": (tr.total("incremental.overwrite")
                                    + tr.total("incremental.overwrite_partitions")),
        "incremental.files_written": tr.counts["incremental.files_written"],
        "snapshots.commit_s": tr.total("snapshots.commit"),
        "snapshots.commit_bytes": tr.counts["snapshots.commit_bytes"],
        # incremental_gold_refresh plus the commit that stores its result
        "snapshots.refresh_s": (tr.total("snapshots.incremental_gold_refresh")
                                + tr.counts["snapshots.refresh_commit_s"]),
        "similarity.serve_construct_s": phase_wall("similarity.serve_construct"),
        "similarity.serve_action_s": action_s if run.workload == "ann_serve" else 0.0,
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail,
        "op_tail_pct": tail_pct,
        "op_samples": len(walls),
        "failed_ops_ratio": sum(1 for r in records if not r[3]) / len(records),
        "trace.overhead_s": sum(r[1] for r in traced) - sum(walls),
        "peak_rss_mb": _peak_rss_mb(run),
    })
    n = tr.counts["snapshots.changed_partition_ratio_n"]
    v["snapshots.changed_partition_ratio"] = (
        tr.counts["snapshots.changed_partition_ratio_sum"] / n if n else 0.0)
    for layer, s in tr.self_times().items():
        v[f"{layer}.self_s"] = s
    for kind in ("build", "save", "load"):
        v[f"ann_index.{kind}_s"] = tr.total(f"ann_index.ann_index_{kind}")
    v["ann_build_s"] = sum(v[f"ann_index.{k}_s"] for k in ("build", "save", "load"))
    v.update({"ann_index.bytes": 0.0, "recall_at_10": 0.0})  # ann_serve's own
    v.update(wl.layer_metrics(t_start))
    units = metric_units("per_layer")
    missing = sorted(set(units) - set(v))
    if missing:
        raise RuntimeError(f"layer metrics not computed: {missing}")
    extra = {name: val for name, val in v.items() if name not in units}
    if extra:
        log(f"results outside BENCHMARK.json: {json.dumps(extra)}")
    return {name: {"value": float(v[name]), "unit": unit} for name, unit in units.items()}


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


if __name__ == "__main__":
    sys.exit(main())
