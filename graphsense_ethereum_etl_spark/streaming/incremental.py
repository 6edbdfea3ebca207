"""Incremental ingest driver — the Spark equivalent of the reference's
"streaming" loop (SURVEY.md §3.1), which is really sink-resumable
micro-batching:

  resume  = max(block_id) already in the sink   (S4/A1 — metadata-only scan)
  head    = node head or a date-derived cutoff  (S6)
  loop over [resume+1, head] in batch_size chunks:
      extract → transform → write children (logs, traces, txs) FIRST,
      concurrently, blocks LAST — the resume marker only advances after
      child tables land (crash consistency via re-runnable idempotent
      writes, eth_cassandra_streaming.py:631-636)

Idempotence: each batch overwrites exactly its own block_id_group partitions
(dynamic partition overwrite), so a crashed batch re-runs to the same state —
the Parquet analog of Cassandra upserts (README.md:68-70 semantics).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..operators.pipelines import (
    CASSANDRA,
    enrich_transactions,
    transform_blocks,
    transform_logs,
    transform_traces,
    transform_transactions,
)
from ..sinks import SORT_COLUMNS

ChainSource = Callable[[SparkSession, int, int], dict[str, DataFrame]]


def latest_ingested_block(
    spark: SparkSession, block_table_path: str, sink_format: str = "parquet"
) -> int | None:
    """S4 — resume scan: max(block_id) over the sink. Over Parquet this is a
    metadata-only aggregate (row-group stats), the engine-native equivalent
    of the reference's PER-PARTITION-LIMIT dance
    (eth_cassandra_streaming.py:225-245). In versioned mode the scan reads
    the current SNAPSHOT, so a crash mid-commit (data dirs landed, pointer
    not swapped) correctly resumes from the last PUBLISHED block — and
    once a cross-entity catalog exists at the sink root, the height is
    read THROUGH it: the catalog swap is the batch's durability point, so
    a crash after the block table's own commit but before the catalog
    publish still replays the batch (idempotent partition overwrites)
    instead of leaving the catalog lagging forever."""
    if sink_format == "versioned":
        from ..snapshots import SnapshotCatalog, has_catalog
        from ..versioned import VersionedTable

        sink_root = os.path.dirname(block_table_path.rstrip("/"))
        if has_catalog(sink_root):
            df = SnapshotCatalog(spark, sink_root).read("block")
        else:
            df = VersionedTable(spark, block_table_path).read()
        if "block_id" not in df.columns:
            return None
        return df.agg(F.max("block_id").alias("m")).collect()[0]["m"]
    if not os.path.exists(block_table_path):
        return None
    try:
        df = spark.read.parquet(block_table_path)
    except AnalysisException:
        # The dir exists but holds no readable files — a reorg at (or
        # before) the first ingested block removed every partition dir
        # (the randomized ingest soak hit this: the resume scan crashed
        # on schema inference instead of re-ingesting from genesis).
        return None
    return df.agg(F.max("block_id").alias("m")).collect()[0]["m"]


def _children_ahead_of(
    spark: SparkSession, sink_root: str, block_height: int
) -> list[tuple[str, int]]:
    """Pre-adoption consistency probe: for each CHILD entity table's
    PUBLISHED snapshot, its max(block_id) vs the block table's published
    height. A non-empty result means a crashed batch committed children
    past the block marker — the torn state the catalog must never pin.
    Metadata-only aggregates (Parquet row-group stats), adoption-path
    only (runs at most once per sink, before the first catalog commit)."""
    from ..snapshots import ENTITY_TABLES
    from ..versioned import VersionedTable

    ahead: list[tuple[str, int]] = []
    for name in ENTITY_TABLES:
        if name == "block":
            continue
        df = VersionedTable(spark, f"{sink_root}/{name}").read()
        if "block_id" not in df.columns:
            continue
        m = df.agg(F.max("block_id").alias("m")).collect()[0]["m"]
        if m is not None and m > block_height:
            ahead.append((name, m))
    return ahead


def resolve_range(
    resume: int | None,
    head: int,
    start_block: int | None = None,
    end_block: int | None = None,
) -> tuple[int, int] | None:
    """Range resolution (§3.1 step 3): start = resume+1 unless forced
    (eth_cassandra_streaming.py:588-593); end = head unless forced (:595-599);
    empty-range guard F2 (:601-603) returns None."""
    start = start_block if start_block is not None else (resume + 1 if resume is not None else 0)
    end = end_block if end_block is not None else head
    if start > end:
        return None
    return start, end


@dataclass
class IngestStats:
    batches: int = 0
    blocks: int = 0
    rows: dict[str, int] = field(default_factory=dict)


def run_incremental(
    spark: SparkSession,
    source: ChainSource,
    sink_root: str,
    head: int,
    start_block: int | None = None,
    end_block: int | None = None,
    batch_size: int = 1000,
    bucket_size: int = 1000,
    dialect: str = CASSANDRA,
    fail_after_tables: int | None = None,
    collect_stats: bool = False,
    sink_format: str = "parquet",
    on_batch: Callable[[SparkSession, dict[str, DataFrame], int, int], None]
    | None = None,
) -> IngestStats:
    """The micro-batch loop. ``fail_after_tables`` injects a crash after N
    child-table writes within the final batch (test hook for the
    children-before-marker recovery semantics).

    ``on_batch(spark, raw, lo, hi)`` runs alongside each batch's CHILD
    table writes and BEFORE the block-marker commit — the side-table
    maintenance hook: wire ``update_bucket_rollup`` /
    ``update_sketch_rollup`` here so derived aggregates advance in
    lockstep with ingest. Hook-before-marker
    makes a crash inside the hook self-healing: the marker is not yet
    published, so resume re-ingests the batch and replays the hook, and
    the operators' replay-idempotence (partition overwrite / sketch-union)
    absorbs the duplicate — no bookkeeping of per-batch hook completion is
    needed. (Hook-after-marker, the pre-r7 ordering, permanently skipped a
    crashed batch's maintenance: resume saw the marker and nothing
    recorded which hooks ran.)

    ``sink_format="versioned"`` routes every table through the
    manifest-pointer ``VersionedTable`` (versioned.py): each table's batch
    commit becomes ATOMIC (a torn write can never surface — uncommitted data
    dirs are invisible), while cross-table consistency keeps the same
    children-before-marker ordering (the block table's commit still
    publishes last, and the resume scan reads only published snapshots).

    Batch/bucket alignment: dynamic partition overwrite replaces whole
    ``block_id_group`` partitions, so each micro-batch must cover whole
    buckets — the Parquet analog of the reference CSV exporter's divisibility
    guards (eth_csv_export.py:493-506). ``batch_size`` is rounded up to a
    bucket multiple, and a resume re-ingests from the start of the last
    partial bucket (idempotent overwrite ≙ Cassandra upsert re-run).
    Dynamic partition overwrite is scoped per-writer inside
    ``transform_and_write_batch`` — no session-conf side effects.

    Single-writer guard (r9): the whole loop holds an advisory flock on
    ``<sink_root>/_ingest.lock``. Two concurrent ingests into one sink
    root would interleave partition overwrites and (in versioned mode)
    race manifest-pointer swaps — the contract was previously only a
    docstring note in ``vacuum``; now a second instance FAILS FAST with
    a clear error instead of corrupting silently. The lock covers
    threads and processes on one host (the ingest loop is driver-local
    by design); distributed deployments coordinate externally, as the
    reference's single streamer process does implicitly."""
    import os

    batch_size = max(bucket_size, (batch_size // bucket_size) * bucket_size)
    os.makedirs(sink_root, exist_ok=True)
    lock_fh = open(f"{sink_root}/_ingest.lock", "a")
    try:
        import fcntl

        fcntl.flock(lock_fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except ImportError:  # non-POSIX: documented single-instance contract
        pass
    except OSError:
        lock_fh.close()
        raise RuntimeError(
            f"another ingest already holds {sink_root}/_ingest.lock — "
            "concurrent ingests into one sink root interleave partition "
            "overwrites (and race versioned-manifest swaps); run one "
            "ingest per sink root"
        )
    try:
        return _run_incremental_locked(
            spark, source, sink_root, head, start_block, end_block,
            batch_size, bucket_size, dialect, fail_after_tables,
            collect_stats, sink_format, on_batch,
        )
    finally:
        lock_fh.close()  # closing releases the flock


def _run_incremental_locked(
    spark, source, sink_root, head, start_block, end_block, batch_size,
    bucket_size, dialect, fail_after_tables, collect_stats, sink_format,
    on_batch,
) -> IngestStats:
    resume = latest_ingested_block(spark, f"{sink_root}/block", sink_format)
    rng = resolve_range(resume, head, start_block, end_block)
    stats = IngestStats()
    if rng is None:
        if sink_format == "versioned" and resume is not None:
            from ..snapshots import SnapshotCatalog, has_catalog

            if not has_catalog(sink_root):
                # ADOPTION: a pre-catalog sink (or a crash after every
                # table commit but before the FIRST catalog publish) with
                # nothing new to ingest. A torn state (children committed
                # past the block marker by a crashed batch) USUALLY makes
                # the resume range non-empty and routes through the normal
                # batch commits — but resolve_range uses head/end_block,
                # not child heights, so a rerun whose end_block is at or
                # below the published block height would still land here
                # with children ahead. Verify consistency against the
                # actually-published child heights before publishing the
                # first catalog; skip (with a warning) rather than pin a
                # torn multi-table view for every catalog reader.
                ahead = _children_ahead_of(spark, sink_root, resume)
                if ahead:
                    import warnings

                    warnings.warn(
                        "skipping snapshot-catalog adoption: child tables "
                        f"{ahead} are ahead of the block table (height "
                        f"{resume}) — a crashed batch left a torn state; "
                        "re-run the ingest over the torn range to heal it",
                        stacklevel=2,
                    )
                else:
                    SnapshotCatalog(spark, sink_root).commit(height=resume)
        return stats
    start, end = rng
    # Re-cover the trailing partial bucket so its partition rewrite is total.
    start = (start // bucket_size) * bucket_size

    for lo in range(start, end + 1, batch_size):
        hi = min(lo + batch_size - 1, end)
        raw = source(spark, lo, hi)
        transform_and_write_batch(
            spark,
            raw,
            sink_root,
            bucket_size=bucket_size,
            dialect=dialect,
            sink_format=sink_format,
            fail_after_tables=(
                fail_after_tables if lo + batch_size > end else None
            ),
            collect_stats=collect_stats,
            stats=stats,
            on_batch=on_batch,
            batch_range=(lo, hi),
        )
        stats.batches += 1
        stats.blocks += hi - lo + 1
    return stats


def transform_and_write_batch(
    spark: SparkSession,
    raw: dict[str, DataFrame],
    sink_root: str,
    bucket_size: int = 1000,
    dialect: str = CASSANDRA,
    sink_format: str = "parquet",
    fail_after_tables: int | None = None,
    collect_stats: bool = False,
    stats: IngestStats | None = None,
    on_batch: Callable[[SparkSession, dict[str, DataFrame], int, int], None]
    | None = None,
    batch_range: tuple[int, int] | None = None,
) -> None:
    """One micro-batch's transform → children-before-marker write sequence —
    shared by the driver loop (``run_incremental``) and the Structured
    Streaming sink (``run_streaming_ingest``). The caller guarantees the
    batch covers whole ``block_id_group`` buckets (a partial leading bucket
    would be wiped by the dynamic partition overwrite).

    The three CHILD writes (log, trace, transaction) and ``on_batch`` (with
    ``batch_range=(lo, hi)``; it reads ``raw``, not the written tables) run
    concurrently, each on a pool thread that inherits the caller's job
    group and local properties, so their Spark jobs overlap instead of
    queueing one after another. Only when every one of them has returned
    does the block marker get written (and, on the versioned sink, the
    catalog committed): a failed child write or hook crash leaves the
    marker unpublished and resume replays ingest + hook (see
    ``run_incremental``). ``fail_after_tables=k`` writes only the first k
    children (and runs the hook only when k covers all of them) before its
    injected crash.

    A ``raw`` with a ``release()`` (an RPC ``ChainBatch``) is released when
    the batch returns, whether it committed or crashed."""
    try:
        txs = enrich_transactions(raw["transactions"], raw["receipts"])
        # The at-rest transaction layout adds block_id_group (not in the CQL
        # schema, schema.cql:29-53) so every table overwrites exactly its own
        # batch partitions — tx_hash_prefix stays as the in-file sort key for
        # point lookups; 16^5 prefix *directories* would be pathological.
        tx_out = transform_transactions(txs, dialect).withColumn(
            "block_id_group",
            F.floor(F.col("block_id") / F.lit(bucket_size)).cast("bigint"),
        )
        children: list[tuple[str, DataFrame]] = [
            ("log", transform_logs(raw["logs"], dialect, bucket_size)),
            ("trace", transform_traces(raw["traces"], dialect, bucket_size)),
            ("transaction", tx_out),
        ]
        k = fail_after_tables
        observe = collect_stats and stats is not None
        tasks = [
            functools.partial(
                _write_table, spark, sink_root, table, df, sink_format, observe
            )
            for table, df in children[:k]
        ]
        if on_batch is not None and (k is None or k >= len(children)):
            # Maintenance hook before the marker: a crash here leaves the
            # marker unpublished → resume re-ingests the batch → the hook
            # replays, and the rollup operators' idempotence (partition
            # overwrite / HLL union) absorbs the duplicate.
            lo, hi = batch_range if batch_range is not None else (-1, -1)
            tasks.append(functools.partial(on_batch, spark, raw, lo, hi))
        rows = _run_all(spark, tasks)
        for (table, _), n in zip(children, rows):
            if n is not None:
                stats.rows[table] = stats.rows.get(table, 0) + n
        if k is not None and k <= len(children):
            table = children[k][0] if k < len(children) else "block"
            raise RuntimeError(f"injected crash before writing '{table}'")
        blocks = transform_blocks(raw["blocks"], dialect, bucket_size)
        n = _write_table(
            spark, sink_root, "block", blocks, sink_format, observe
        )
        if n is not None:
            stats.rows["block"] = stats.rows.get("block", 0) + n
        if sink_format == "versioned":
            # Cross-entity consistency point (r9 VERDICT #3): one atomic
            # catalog-pointer swap publishes all four tables' new heights as
            # a single snapshot. fail_after_tables == 4 injects the crash
            # window this closes — every table committed, catalog not
            # swapped: catalog readers keep the old CONSISTENT set and resume
            # (which reads the block height through the catalog) replays the
            # batch idempotently.
            if k is not None and k == len(children) + 1:
                raise RuntimeError("injected crash before the catalog commit")
            from ..snapshots import SnapshotCatalog

            # the batch range's upper bound IS the published block height —
            # stamp it on the catalog doc (read_asof's resolution key) for
            # free instead of deriving it from a block-table scan
            SnapshotCatalog(spark, sink_root).commit(
                height=batch_range[1] if batch_range is not None else None
            )
    finally:
        release = getattr(raw, "release", None)
        if release is not None:
            release()


def _run_all(spark: SparkSession, tasks: list[Callable[[], object]]) -> list:
    """Run ``tasks`` concurrently on threads that inherit the caller's
    job group and local properties; wait for every one to finish, then
    return their results in order or raise the first task's failure."""
    with ThreadPoolExecutor(max_workers=max(1, len(tasks))) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(task)) for task in tasks
        ]
    return [f.result() for f in futures]


def _write_table(
    spark: SparkSession,
    sink_root: str,
    table: str,
    df: DataFrame,
    sink_format: str,
    observe: bool,
) -> int | None:
    """Write one entity table's batch partitions; returns its row count
    when ``observe`` is on."""
    obs = None
    if observe:
        # Spark-native observability: the count rides the WRITE action
        # itself (Observation metrics are collected by the same job),
        # so stats cost zero extra pipeline runs — this replaced a
        # post-hoc df.count() that re-ran the whole transform.
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    sort_cols = SORT_COLUMNS.get(table, [])
    if sink_format == "versioned":
        from ..versioned import VersionedTable

        # The block table records per-partition block_id [min,max] in
        # its manifest (footer-only harvest over the just-written
        # dirs) so SnapshotCatalog._derive_height resolves heights
        # from the manifest alone — no Spark scan inside the
        # single-writer commit critical section (reorg path, height-
        # less catalog commits). _effective_stats_cols persists the
        # choice, so later stats-free writers keep the bounds fresh.
        stats_cols = ["block_id"] if table == "block" else None
        VersionedTable(
            spark, f"{sink_root}/{table}", stats_cols=stats_cols
        ).write_partitions(df, sort_cols=sort_cols)
    else:
        out = df
        grouped = "block_id_group" in out.columns
        if grouped:
            out = out.repartition(F.col("block_id_group"))
        if sort_cols:
            # partition column leads the sort or the dynamic-partition
            # writer's own non-stable sort undoes the clustering
            lead = ["block_id_group"] if grouped else []
            out = out.sortWithinPartitions(*lead, *sort_cols)
        writer = out.write.mode("overwrite")
        if grouped:
            # Idempotent re-runs: only replace the partitions this batch
            # touches. Scoped per-writer (NOT a session conf) so callers
            # sharing the SparkSession keep default overwrite semantics
            # for unrelated partitioned writes.
            writer = writer.partitionBy("block_id_group").option(
                "partitionOverwriteMode", "dynamic"
            )
        writer.parquet(f"{sink_root}/{table}")
    return obs.get["rows"] if obs is not None else None


def update_bucket_rollup(rollup, batch_df, agg_fn) -> list[str]:
    """Incremental materialized-aggregate maintenance (the hypertable
    continuous-rollup pattern) over bucket-aligned micro-batches.

    Contract: ``batch_df`` covers WHOLE buckets — exactly what
    run_incremental / run_streaming_ingest guarantee (partial leading and
    trailing buckets are re-covered before any write). Under that
    contract, each bucket's aggregate depends only on that bucket's rows,
    so the maintenance step is a partition OVERWRITE of the aggregated
    batch into the rollup's versioned table: per-batch cost is
    O(batch buckets), replay is idempotent (same buckets, same aggregate,
    same overwrite), a crash between raw write and rollup update is
    healed by the re-ingest of the same buckets, and a chain reorg keeps
    raw and rollup consistent by calling ``invalidate_from`` on BOTH with
    the same boundary. ``agg_fn`` must group by the rollup's partition
    column (the bucket); the invariant rollup == agg_fn(full raw table)
    holds after any batch/replay/reorg sequence — see
    tests/test_incremental.py.
    """
    agg = agg_fn(batch_df)
    return rollup.write_partitions(agg)


def update_sketch_rollup(
    rollup,
    batch_df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    lg_k: int = 12,
) -> list[str]:
    """Incremental DISTINCT-count rollup via mergeable HLL sketches — the
    case ``update_bucket_rollup`` cannot cover: a distinct count whose
    group spans MANY batches (unique active addresses per day while
    micro-batches are block-bucket-sized) is not a pure function of any
    one batch, so whole-bucket recompute doesn't apply and exact
    maintenance would rescan history. Datasketches HLL makes the
    aggregate MERGEABLE: the rollup stores one sketch BINARY per
    (partition, *group_cols) row, and each batch does sketch-of-batch →
    hll_union with the touched partitions' existing sketches →
    partition overwrite. Per-batch cost is O(batch + touched groups),
    never O(history).

    Replay-safe by the algebra, not by bookkeeping: HLL registers are
    maxima over value hashes, so unioning the same batch twice (crash
    between rollup write and marker/checkpoint commit) leaves every
    register unchanged — idempotence falls out of distinct-ness.

    Estimates read back via ``F.hll_sketch_estimate(sketch)``; sketches
    for coarser groups union with ``F.hll_union_agg`` (e.g. daily →
    monthly without touching raw data). ``rollup.partition_col`` must be
    functionally dependent on the group key (same contract as
    merge_into) so a group's sketch always lives in the partition its
    updates touch."""
    part = rollup.partition_col
    group_cols = list(group_cols or [])
    new = batch_df.groupBy(part, *group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
    )
    touched = [
        str(r[0]) for r in new.select(part).distinct().collect()
    ]  # bounded by the batch's partition span
    snap = rollup.snapshot()
    live = [snap[t] for t in touched if t in snap]
    if live:
        existing = (
            rollup.spark.read.option("mergeSchema", "true")
            .parquet(*sorted(live))
            .select(part, *group_cols, "sketch")
        )
        merged = (
            existing.unionByName(new)
            .groupBy(part, *group_cols)
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )
    else:
        merged = new
    return rollup.write_partitions(merged)


def update_topk_rollup(
    rollup,
    batch_df: DataFrame,
    value_col: str,
    capacity: int = 64,
) -> list[str]:
    """Incremental heavy-hitters rollup via mergeable ``approx_top_k``
    sketches (apx5's maintenance pattern, queries.py) — the frequency
    counterpart of ``update_sketch_rollup``. The crash-safety story is
    DIFFERENT from HLL's and that difference dictates the storage shape:
    frequency-sketch union ADDS counts, so re-accumulating a replayed
    batch into a unioned sketch would double-count (HLL registers are
    maxima — replay-idempotent; Misra-Gries counters are sums — not).
    The rollup therefore stores one sketch state PER block bucket and
    maintains it with ``update_bucket_rollup``'s idempotent partition
    OVERWRITE: under the bucket-alignment contract each bucket's sketch
    is a pure function of that bucket's rows, so a replayed batch
    rewrites the same states bit-for-bit. Cross-bucket answers combine
    at READ time: ``approx_top_k_estimate(approx_top_k_combine(sketch),
    k)`` — O(touched buckets) per batch, O(buckets) per query, never
    O(history)."""
    part = rollup.partition_col

    def agg_fn(df: DataFrame) -> DataFrame:
        return df.groupBy(part).agg(
            F.expr(
                f"approx_top_k_accumulate({value_col}, {int(capacity)})"
            ).alias("sketch")
        )

    return update_bucket_rollup(rollup, batch_df, agg_fn)


# Raw-frame block-number column per entity table (schemas.py): the rollup
# hook buckets each batch on the same block_id_group the sink partitions by.
_RAW_BLOCK_COL: dict[str, str] = {
    "blocks": "number",
    "transactions": "block_number",
    "logs": "block_number",
    "traces": "block_number",
}


def sketch_rollup_hook(
    spark: SparkSession,
    sink_root: str,
    specs: list[str],
    bucket_size: int = 1000,
    lg_k: int = 12,
    topk_capacity: int = 64,
) -> Callable[[SparkSession, dict[str, DataFrame], int, int], None]:
    """Build the ``on_batch`` hook that maintains one sketch rollup per
    spec — the CLI wiring for ``update_sketch_rollup`` /
    ``update_topk_rollup``. Spec forms:

    - ``table.value_col`` (or ``:hll``): HLL distinct-count rollup (e.g.
      ``transactions.from_address`` = unique senders per block bucket) at
      ``<sink_root>/rollup_<table>_<col>``; replay absorbed by HLL union
      idempotence. Read back via ``F.hll_sketch_estimate(sketch)``.
    - ``table.value_col:topk``: heavy-hitters rollup (most frequent
      values per block bucket) at ``<sink_root>/rollup_<table>_<col>_topk``;
      replay absorbed by whole-bucket partition overwrite (frequency
      sketches are NOT union-idempotent — see update_topk_rollup). Read
      back via ``approx_top_k_estimate(approx_top_k_combine(sketch), k)``.

    Both advance in lockstep with ingest (hook-before-marker: a crash
    inside the hook is healed by the batch replay). Per-batch cost is
    O(batch + touched buckets), never O(history)."""
    from ..versioned import VersionedTable

    parsed: list[tuple[str, str, str, object]] = []
    for spec in specs:
        body, _, kind = spec.partition(":")
        kind = kind or "hll"
        table, _, col = body.partition(".")
        if not col or table not in _RAW_BLOCK_COL or kind not in ("hll", "topk"):
            raise ValueError(
                f"rollup spec {spec!r} must be <table>.<value_col>[:hll|:topk] "
                f"with table one of {sorted(_RAW_BLOCK_COL)}"
            )
        suffix = "" if kind == "hll" else f"_{kind}"
        vt = VersionedTable(
            spark,
            f"{sink_root}/rollup_{table}_{col}{suffix}",
            partition_col="block_id_group",
        )
        parsed.append((table, col, kind, vt))

    def hook(
        s: SparkSession, raw: dict[str, DataFrame], lo: int, hi: int
    ) -> None:
        for table, col, kind, vt in parsed:
            batch = raw[table].select(
                F.floor(F.col(_RAW_BLOCK_COL[table]) / F.lit(bucket_size))
                .cast("bigint")
                .alias("block_id_group"),
                F.col(col),
            )
            if kind == "topk":
                update_topk_rollup(
                    vt, batch, value_col=col, capacity=topk_capacity
                )
            else:
                update_sketch_rollup(vt, batch, value_col=col, lg_k=lg_k)

    return hook


def run_streaming_ingest(
    spark: SparkSession,
    provider_uri: str,
    sink_root: str,
    checkpoint: str,
    start_block: int = 0,
    end_block: int | None = None,
    max_blocks_per_batch: int | None = None,
    bucket_size: int = 1000,
    dialect: str = CASSANDRA,
    sink_format: str = "parquet",
    rpc_batch_size: int = 50,
    rpc_post=None,
    timeout_s: float = 600.0,
    on_batch: Callable[[SparkSession, dict[str, DataFrame], int, int], None]
    | None = None,
) -> IngestStats:
    """Structured-Streaming ingest: the ``ethrpc`` stream source
    (sources/datasource.py — checkpointed offsets, eth_blockNumber head
    probe, ``maxBlocksPerBatch`` rate-limited catch-up) drives
    ``foreachBatch``, which fetches the batch's full entity set and runs the
    SAME transform → children-before-marker write sequence as
    ``run_incremental``. One ``availableNow`` trigger = drain-pending-
    then-stop; resume lives in the stream checkpoint (engine-managed)
    instead of the sink scan.

    Bucket-alignment correctness: streamed offset ranges are cap-sized, not
    bucket-aligned, and dynamic partition overwrite replaces WHOLE
    ``block_id_group`` partitions — so each batch re-covers its partial
    leading bucket (lo rounded down to a bucket boundary, entities
    re-fetched for the widened range), clamped so it never reaches below
    the requested ``start_block``. Re-fetch + overwrite is exactly the
    idempotent-replay story ``run_incremental`` uses for crash resume; a
    replayed foreachBatch (crash between write and checkpoint commit)
    rewrites the same partitions to the same content.

    The streamed rows themselves only schedule the work (the stream carries
    RAW_BLOCK rows; entities are fetched per batch) — the stream is the
    resume/rate-limit machinery, the fetch path is shared with batch mode.
    """
    from pyspark.sql import functions as SF

    from ..sources.datasource import register_ethrpc
    from ..sources.rpc import JsonRpcTransport, rpc_chain_source

    register_ethrpc(spark, post=rpc_post)
    transport = JsonRpcTransport(provider_uri, post=rpc_post)
    source = rpc_chain_source(transport, rpc_batch_size=rpc_batch_size)
    stats = IngestStats()

    def handle_batch(batch_df: DataFrame, _batch_id: int) -> None:
        rng = batch_df.agg(
            SF.min("number").alias("lo"), SF.max("number").alias("hi")
        ).collect()[0]
        if rng["lo"] is None:
            return
        # Re-cover the batch's leading bucket so its partition rewrite is
        # total — but never reach below the REQUESTED start: a non-aligned
        # --start-block must not fetch/write blocks the user never asked
        # for. The clamp can leave one partial leading bucket; its dynamic
        # partition overwrite replaces any pre-existing rows of that bucket
        # below start_block, which is the documented contract of forcing an
        # unaligned start over an existing sink.
        batch_lo = int(rng["lo"])
        hi = int(rng["hi"])
        lo = max((batch_lo // bucket_size) * bucket_size, start_block)
        raw = source(spark, lo, hi)
        transform_and_write_batch(
            spark,
            raw,
            sink_root,
            bucket_size=bucket_size,
            dialect=dialect,
            sink_format=sink_format,
            on_batch=on_batch,
            batch_range=(lo, hi),
        )
        stats.batches += 1
        # Count only newly streamed blocks, not bucket re-cover refetches.
        stats.blocks += hi - batch_lo + 1

    reader = (
        spark.readStream.format("ethrpc")
        .option("uri", provider_uri)
        .option("start", str(start_block))
        .option("batch", str(rpc_batch_size))
    )
    if end_block is not None:
        reader = reader.option("end", str(end_block))
    if max_blocks_per_batch is not None:
        reader = reader.option("maxBlocksPerBatch", str(max_blocks_per_batch))
    q = (
        reader.load()
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return stats


def invalidate_from(
    spark: SparkSession,
    sink_root: str,
    block_id: int,
    bucket_size: int = 1000,
    sink_format: str = "parquet",
) -> list[str]:
    """Chain-reorg handling (SURVEY.md §7.4.4 — unhandled in the reference):
    drop every bucket partition that contains ``block_id`` or later across
    all entity tables, so the next incremental run re-ingests from the fork
    point. In versioned mode this is an atomic manifest edit per table (zero
    data IO, old snapshot preserved); the raw-parquet fallback is a
    partition-granular rmtree.

    Returns the removed partition names."""
    if sink_format == "versioned":
        from ..versioned import VersionedTable

        first_bucket = block_id // bucket_size
        removed_v: list[str] = []
        for table in ("log", "trace", "transaction", "block"):
            if not os.path.exists(f"{sink_root}/{table}/_MANIFEST"):
                continue
            dropped = VersionedTable(spark, f"{sink_root}/{table}").invalidate_from(
                first_bucket
            )
            removed_v.extend(f"{table}/block_id_group={d}" for d in dropped)
        from ..snapshots import SnapshotCatalog, has_catalog

        if has_catalog(sink_root):
            # publish the post-reorg heights as one consistent catalog
            # version — catalog readers jump from the pre-fork set to the
            # truncated set atomically, never a per-table mix
            SnapshotCatalog(spark, sink_root).commit()
        return removed_v
    import shutil

    first_bucket = block_id // bucket_size
    removed: list[str] = []
    for table in ("log", "trace", "transaction", "block"):
        table_dir = f"{sink_root}/{table}"
        if not os.path.exists(table_dir):
            continue
        for entry in sorted(os.listdir(table_dir)):
            if not entry.startswith("block_id_group="):
                continue
            bucket = int(entry.split("=", 1)[1])
            if bucket >= first_bucket:
                shutil.rmtree(f"{table_dir}/{entry}")
                removed.append(f"{table}/{entry}")
    return removed
