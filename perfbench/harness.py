"""One benchmark run: session set-up, the workload's measured passes,
verification, and the result line.

Everything the run writes lives under ``<checkout>/.perfbench/<run>/``:
Spark's local and warehouse dirs, the JVM's and Python's temp dirs, the
sinks and the fake node's store. The directory is removed at exit, and
the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import contextlib
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

from . import workerspans
from .layers import END_TO_END, PER_LAYER

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _isolate(work: Path, root: Path) -> dict[str, str]:
    """Point every temp and scratch location at ``work``; return the extra
    Spark conf that does the same for the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers import the package and perfbench.fakenode from here
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _rss_mb(pid: int | None) -> float:
    """High-water RSS of ``pid`` (VmHWM), in MB; 0 when unreadable."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1e3
    except OSError:
        pass
    return 0.0


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _q(values, q):
    """Quantile ``q`` (0.5 or 0.75) of ``values``, inclusive method."""
    vals = sorted(values)
    if len(vals) == 1:
        return vals[0]
    cuts = statistics.quantiles(vals, n=4, method="inclusive")
    return {0.5: cuts[1], 0.75: cuts[2]}[q]


def run(root: Path, workload: str, seed: int, seconds: float, traced: bool,
        small: bool = False, t_start: float | None = None) -> dict:
    t_start = time.time() if t_start is None else t_start
    work = root / ".perfbench" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = _isolate(work, root)
    worker_log = work / "worker-spans"
    if traced:
        worker_log.mkdir()
        os.environ[workerspans.LOG_ENV] = str(worker_log)
        extra_conf["spark.python.daemon.module"] = "perfbench.workerspans"
    spark = None
    try:
        from graphsense_ethereum_etl_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        spark = get_spark(
            app_name=f"perfbench-{workload}", cores=cores,
            driver_memory="2g", extra_conf=extra_conf,
        )
        import graphsense_ethereum_etl_spark.cli  # noqa: F401  (registry too)
        import graphsense_ethereum_etl_spark.queries  # noqa: F401

        from .workloads import WORKLOADS

        ctx = Ctx(spark=spark, seed=seed, small=small, work=work, tracer=None)
        ctx.log(f"session and imports ready after {time.time() - t_start:.2f} s")
        with contextlib.redirect_stdout(sys.stderr):  # the CLI's own prints
            wl = WORKLOADS[workload](ctx)
            wl.setup()
            setup_s = time.time() - t_start
            ctx.log(f"set-up done after {setup_s:.2f} s")
            # Tracing overhead: on workloads whose passes are alike, the
            # traced passes sit between two untraced ones, so the warming
            # of the session between passes cancels out of the difference.
            untraced = []
            if traced and wl.warm_passes:
                untraced.append(wl.one_pass("untraced0"))
            if traced:
                from .trace import Tracer

                ctx.tracer = Tracer(spark)
                install_spans(ctx.tracer)
                workerspans.clear_log(str(worker_log))
            passes = []
            t_end = time.perf_counter() + seconds
            while not passes or time.perf_counter() < t_end:
                passes.append(wl.one_pass(f"p{len(passes)}"))
            tracer, side_ops = ctx.tracer, []
            if tracer:
                worker = workerspans.read_log(str(worker_log))
                side_ops = wl.traced_only()
                tracer.uninstall()
                ctx.tracer = None
                if wl.warm_passes:
                    untraced.append(wl.one_pass("untraced1"))
            wl.finish()
        pid = getattr(spark.sparkContext._gateway, "proc", None)
        peak_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1e3
        peak_rss += _rss_mb(pid.pid if pid else None)
        if tracer:
            tracer.dump(str(root / ".perfbench" / f"spans-{workload}-{seed}.jsonl"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = [op for p in passes for op in p.ops]
    good = [d for d, ok in ops if ok]
    checked = ops + [op for p in untraced for op in p.ops] + side_ops
    failed = sum(1 for _, ok in checked if not ok)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.wall for p in passes),
        # no successful operation: nothing to time (and ``correct`` is false)
        "op_s_p50": _q(good, 0.5) if good else 0.0,
    }
    _print_summary(workload, passes, ops, e2e, failed, peak_rss)
    if traced:
        metrics = _layer_values(tracer, passes, untraced, worker, cores)
        metrics["process.peak_rss_mb"] = peak_rss
    else:
        metrics = e2e
    return {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }


def install_spans(tracer) -> None:
    """The traced run's wrappers: every public function of the wrapped
    modules, plus the parquet writes the ingest loop makes itself."""
    from pyspark.sql import DataFrameWriter

    from .layers import WRITE_SPAN
    from .trace import INGEST_MODULES, OPERATOR_MODULES

    def table_of_self(args):
        return os.path.basename(args[0].root)

    tracer.wrap_modules(
        OPERATOR_MODULES + INGEST_MODULES,
        tag_fns={"versioned.VersionedTable.write_partitions": table_of_self},
    )
    incremental = "graphsense_ethereum_etl_spark.streaming.incremental"
    plain = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        if sys._getframe(1).f_globals.get("__name__") != incremental:
            return plain(self, path, *a, **k)
        with tracer.span(WRITE_SPAN, "streaming.incremental", os.path.basename(path)):
            return plain(self, path, *a, **k)

    tracer.patch(DataFrameWriter, "parquet", parquet)


def _layer_values(tracer, passes, untraced, worker, cores) -> dict:
    from .layers import per_layer

    n = len(passes)
    spans = [s for s in tracer.spans if s.op not in ("verify", "setup")]
    wall = sum(p.wall for p in passes)
    extra = {}
    for key in ("sink.mb", "versioned.live_ratio", "sources.rpc.response_mb",
                "sources.rpc.fake_node_s", "sources.rpc.calls"):
        vals = [p.extra[key] for p in passes if key in p.extra]
        if vals:
            extra[key] = sum(vals) / len(vals)
    calls = sum(p.extra.get("sources.rpc.calls", 0) for p in passes)
    unique = sum(p.extra.get("sources.rpc.unique", 0) for p in passes)
    extra["sources.rpc.useful_ratio"] = unique / calls if calls else 0.0
    for layer, figures in worker.items():
        extra[f"{layer}.self_s"] = figures["seconds"] / n
        extra[f"{layer}.calls"] = figures["calls"] / n
    traced = statistics.median(p.wall for p in passes)
    extra["trace.pass_s"] = traced
    if untraced:
        plain = statistics.mean(p.wall for p in untraced)
        extra["trace.overhead_s"] = traced - plain
        extra["trace.overhead_share"] = (traced - plain) / plain
    return per_layer(spans, n, wall, cores, extra)


def _print_summary(workload, passes, ops, e2e, failed, peak_rss) -> None:
    """The workload's figures under the names users know them by."""
    ingest = workload != "query_mix"
    good = [d for d, ok in ops if ok]
    # printed only: the 75th percentile of a pass's operations spread more
    # than any end-to-end bound allows across seeds (perfbench/README.md)
    p75 = _q(good, 0.75) if good else 0.0
    rows = [("setup_s", e2e["setup_s"], "s")]
    if ingest:
        for part in ("rpc", "versioned"):
            part_s = statistics.median(p.extra[f"{part}.pass_s"] for p in passes)
            rows.append((f"{part}.blocks_per_s", passes[0].extra[f"{part}.blocks"] / part_s,
                         "blocks/s"))
        rows += [
            ("batch_s_p50", e2e["op_s_p50"], "s"),
            ("batch_s_p75", p75, "s"),
            ("sink_mb", statistics.median(p.extra.get("sink.mb", 0.0) for p in passes), "MB"),
        ]
    else:
        rows += [
            ("mix_s", e2e["pass_s"], "s"),
            ("query_s_p50", e2e["op_s_p50"], "s"),
            ("query_s_p75", p75, "s"),
        ]
    rows += [
        ("fail_ratio", failed / len(ops) if ops else 0.0, f"failed/attempted ({failed}/{len(ops)})"),
        ("peak_rss_mb", peak_rss, "MB"),
        ("passes", len(passes), "count"),
        ("operations", len(good), "count"),
    ]
    for name, value, unit in rows:
        print(f"{workload} {name} = {value:.4f} {unit}")
