"""Metric catalogue and the per-layer figures computed from a traced run.

``END_TO_END`` and ``PER_LAYER`` are the single source of the names,
units and directions in ``BENCHMARK.json`` (the benchmark's tests check
that the two agree). A layer is a module of the package. Additive
per-layer figures are per pass: totals over the measured passes divided
by their number, so runs that fit a different number of passes compare.
"""

from __future__ import annotations

from .trace import OPERATOR_MODULES, SpanTree
from .workerspans import WORKER_MODULES

TABLES = ("block", "transaction", "log", "trace")

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("op_s_p50", "s", "lower"),
)


def _per_layer():
    out = [
        ("sources.generator.wall_s", "s", "lower"),
        ("sources.generator.jobs", "count", "lower"),
        ("sources.rpc.calls", "count", "lower"),
        ("sources.rpc.response_mb", "MB", "lower"),
        ("sources.rpc.fake_node_s", "s", "lower"),
        ("sources.rpc.useful_ratio", "ratio", "higher"),
        ("operators.pipelines.wall_s", "s", "lower"),
        ("streaming.incremental.resume_s", "s", "lower"),
        ("streaming.incremental.batch.self_s", "s", "lower"),
        ("streaming.incremental.hook_s", "s", "lower"),
        ("streaming.incremental.hook.jobs", "count", "lower"),
    ]
    for t in TABLES:
        for m, u in (("wall_s", "s"), ("jobs", "count"), ("executor_s", "s"),
                     ("shuffle_mb", "MB"), ("output_mb", "MB")):
            out.append((f"streaming.incremental.write.{t}.{m}", u, "lower"))
    for t in TABLES:
        for m, u in (("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
                     ("executor_s", "s"), ("output_mb", "MB")):
            out.append((f"versioned.write_partitions.{t}.{m}", u, "lower"))
    out += [
        ("versioned.live_ratio", "ratio", "higher"),
        ("snapshots.commit.wall_s", "s", "lower"),
        ("snapshots.commit.calls", "count", "lower"),
        ("queries.build.wall_s", "s", "lower"),
        ("queries.build.jobs", "count", "lower"),
        ("queries.build.driver_s", "s", "lower"),
        ("queries.exec.wall_s", "s", "lower"),
        ("queries.exec.jobs", "count", "lower"),
        ("queries.exec.stages", "count", "lower"),
        ("queries.exec.executor_s", "s", "lower"),
        ("queries.exec.shuffle_mb", "MB", "lower"),
        ("queries.exec.spill_mb", "MB", "lower"),
    ]
    for mod in OPERATOR_MODULES:
        out += [(f"{mod}.self_s", "s", "lower"), (f"{mod}.driver_s", "s", "lower"),
                (f"{mod}.jobs", "count", "lower")]
    for mod in WORKER_MODULES:  # summed over Python workers
        out += [(f"{mod}.self_s", "s", "lower"), (f"{mod}.calls", "count", "lower")]
    out += [
        ("spark.slot_busy_share", "ratio", "higher"),
        ("spark.gc_s", "s", "lower"),
        ("spark.task_retries", "count", "lower"),
        ("sink.mb", "MB", "lower"),
        ("process.peak_rss_mb", "MB", "lower"),
        ("trace.pass_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.overhead_share", "ratio", "lower"),
    ]
    return tuple(out)


PER_LAYER = _per_layer()

WRITE_SPAN = "streaming.incremental.write"
VT_WRITE_SPAN = "versioned.VersionedTable.write_partitions"
COMMIT_SPAN = "snapshots.SnapshotCatalog.commit"
# Span ``op`` prefixes: the named ingest metrics count only ingest work
# (the k-family queries also write versioned tables and commit catalogs).
INGEST_OP = "ingest:"
# Queries run traced but outside the measured passes; their spans feed
# only the layers in ``EXTRA_LAYERS``, which no query in the mix reaches.
EXTRA_OP = "traced-only"
EXTRA_LAYERS = ("streaming.ann_ingest",)


def per_layer(spans, passes: int, wall_s: float, cores: int, extra: dict) -> dict:
    """Per-layer figures over the measured ``spans``. ``extra`` carries the
    figures that do not come from spans (fake-node counts, Python-worker
    times, live ratio, sink size, traced pass time and tracing overhead).
    Spans of ``EXTRA_OP`` operations count once, and only for
    ``EXTRA_LAYERS``."""
    side = [s for s in spans if s.op.startswith(EXTRA_OP)]
    spans = [s for s in spans if not s.op.startswith(EXTRA_OP)]
    tree = SpanTree(spans)
    n = max(passes, 1)
    vals = {name: 0.0 for name, _, _ in PER_LAYER}

    def add(key, v):
        vals[key] += v / n

    def jobs(s):
        return tree.tree_jobs(s)

    by_layer: dict[str, list] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)

    def outer(layer):
        """Spans of ``layer`` not nested in another span of the same layer."""
        ids = {s.id for s in by_layer.get(layer, ())}
        out = []
        for s in by_layer.get(layer, ()):
            p, nested = s.parent, False
            while p is not None:
                if p in ids:
                    nested = True
                    break
                p = spans_by_id[p].parent
            if not nested:
                out.append(s)
        return out

    spans_by_id = {s.id: s for s in spans}
    for s in outer("sources.generator"):
        add("sources.generator.wall_s", s.wall)
        add("sources.generator.jobs", len(jobs(s)))
    for s in outer("operators.pipelines"):
        add("operators.pipelines.wall_s", s.wall)

    for s in spans:
        name = s.name if s.op.startswith(INGEST_OP) else None
        if name == "streaming.incremental.latest_ingested_block":
            add("streaming.incremental.resume_s", s.wall)
        elif name == "streaming.incremental.transform_and_write_batch":
            add("streaming.incremental.batch.self_s", tree.self_s(s))
        elif name == "streaming.incremental.update_sketch_rollup":
            add("streaming.incremental.hook_s", s.wall)
            add("streaming.incremental.hook.jobs", len(jobs(s)))
        elif name == WRITE_SPAN and s.tag in TABLES:
            key = f"{WRITE_SPAN}.{s.tag}"
            js = jobs(s)
            add(f"{key}.wall_s", s.wall)
            add(f"{key}.jobs", len(js))
            add(f"{key}.executor_s", sum(j.executor_s for j in js))
            add(f"{key}.shuffle_mb", sum(j.shuffle_mb for j in js))
            add(f"{key}.output_mb", sum(j.output_mb for j in js))
        elif name == VT_WRITE_SPAN and s.tag in TABLES:
            key = f"versioned.write_partitions.{s.tag}"
            js = jobs(s)
            add(f"{key}.wall_s", s.wall)
            add(f"{key}.driver_s", tree.tree_driver_s(s))
            add(f"{key}.jobs", len(js))
            add(f"{key}.executor_s", sum(j.executor_s for j in js))
            add(f"{key}.output_mb", sum(j.output_mb for j in js))
        elif name == COMMIT_SPAN:
            add("snapshots.commit.wall_s", s.wall)
            add("snapshots.commit.calls", 1)
        elif s.name == "queries.build":
            add("queries.build.wall_s", s.wall)
            add("queries.build.jobs", len(jobs(s)))
            add("queries.build.driver_s", tree.tree_driver_s(s))
        elif s.name == "queries.exec":
            js = jobs(s)
            add("queries.exec.wall_s", s.wall)
            add("queries.exec.jobs", len(js))
            add("queries.exec.stages", sum(j.stages for j in js))
            add("queries.exec.executor_s", sum(j.executor_s for j in js))
            add("queries.exec.shuffle_mb", sum(j.shuffle_mb for j in js))
            add("queries.exec.spill_mb", sum(j.spill_mb for j in js))

    for mod in OPERATOR_MODULES:
        for s in by_layer.get(mod, ()):
            add(f"{mod}.self_s", tree.self_s(s))
            add(f"{mod}.driver_s", tree.self_driver_s(s))
            add(f"{mod}.jobs", len(s.jobs))

    side_tree = SpanTree(side)
    for s in side:
        if s.layer in EXTRA_LAYERS:
            vals[f"{s.layer}.self_s"] += side_tree.self_s(s)
            vals[f"{s.layer}.driver_s"] += side_tree.self_driver_s(s)
            vals[f"{s.layer}.jobs"] += len(s.jobs)

    all_jobs = [j for s in spans for j in s.jobs]
    executor = sum(j.executor_s for j in all_jobs)
    vals["spark.slot_busy_share"] = executor / (wall_s * cores) if wall_s > 0 else 0.0
    add("spark.gc_s", sum(j.gc_s for j in all_jobs))
    add("spark.task_retries", sum(j.failed_tasks for j in all_jobs))
    for key, v in extra.items():
        vals[key] = v
    return vals
