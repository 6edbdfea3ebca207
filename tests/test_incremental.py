"""Resume/idempotence tests for the incremental ingest job (SURVEY.md §5.4):
run over a range, verify resume; crash-simulate mid-batch (children written,
marker not), re-run, assert the final state equals a single clean run.
"""

from __future__ import annotations

import pytest

from graphsense_ethereum_etl_spark.sources.generator import gen_chain
from graphsense_ethereum_etl_spark.streaming.incremental import (
    latest_ingested_block,
    resolve_range,
    run_incremental,
)


def source(spark, lo, hi):
    return gen_chain(spark, lo, hi, partitions=4)


def _table_counts(spark, root):
    return {
        t: spark.read.parquet(f"{root}/{t}").count()
        for t in ["block", "transaction", "trace", "log"]
    }


def test_resolve_range_semantics():
    assert resolve_range(None, 10) == (0, 10)
    assert resolve_range(5, 10) == (6, 10)
    assert resolve_range(10, 10) is None  # nothing new → empty guard F2
    assert resolve_range(None, 10, start_block=3, end_block=7) == (3, 7)


def test_incremental_ingest_and_resume(spark, tmp_path):
    root = str(tmp_path / "sink")
    stats = run_incremental(spark, source, root, head=49, batch_size=25, bucket_size=10)
    assert stats.batches == 3 and stats.blocks == 50  # 20+20+10 (bucket-aligned)
    assert latest_ingested_block(spark, f"{root}/block") == 49
    base = _table_counts(spark, root)
    assert base["block"] == 50

    # resume: extends to the new head, only ingesting the delta (resume+1 is
    # bucket-aligned here, so no partial-bucket re-ingest)
    stats2 = run_incremental(spark, source, root, head=59, batch_size=25, bucket_size=10)
    assert stats2.blocks == 10
    assert latest_ingested_block(spark, f"{root}/block") == 59
    assert _table_counts(spark, root)["block"] == 60

    # mid-bucket head: resume re-covers the partial bucket idempotently
    run_incremental(spark, source, root, head=63, batch_size=25, bucket_size=10)
    run_incremental(spark, source, root, head=69, batch_size=25, bucket_size=10)
    assert _table_counts(spark, root)["block"] == 70


def test_crash_recovery_children_before_marker(spark, tmp_path):
    root = str(tmp_path / "sink")
    # clean reference state for comparison
    ref_root = str(tmp_path / "ref")
    run_incremental(spark, source, ref_root, head=39, batch_size=20, bucket_size=10)
    expected = _table_counts(spark, ref_root)

    # crash after writing 2 child tables of the final batch (marker not yet
    # advanced: block table still at the previous batch)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(
            spark, source, root, head=39, batch_size=20, bucket_size=10, fail_after_tables=2
        )
    assert latest_ingested_block(spark, f"{root}/block") == 19  # marker lags

    # re-run resumes from the marker and overwrites the partial child
    # partitions (dynamic partition overwrite = idempotent upsert)
    run_incremental(spark, source, root, head=39, batch_size=20, bucket_size=10)
    assert latest_ingested_block(spark, f"{root}/block") == 39
    assert _table_counts(spark, root) == expected


def test_versioned_ingest_resume_crash_and_reorg(spark, tmp_path):
    """The full operational story on the transactional sink: ingest+resume,
    crash recovery (marker commit is atomic AND last), metadata-only reorg,
    re-ingest from the fork point."""
    from graphsense_ethereum_etl_spark.streaming.incremental import invalidate_from
    from graphsense_ethereum_etl_spark.versioned import VersionedTable

    root = str(tmp_path / "vsink")

    def counts():
        return {
            t: VersionedTable(spark, f"{root}/{t}").read().count()
            for t in ["block", "transaction", "trace", "log"]
        }

    stats = run_incremental(
        spark, source, root, head=39, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    assert stats.blocks == 40
    assert latest_ingested_block(spark, f"{root}/block", "versioned") == 39
    base = counts()
    assert base["block"] == 40

    # crash mid-batch: children published, marker not — resume lags, rerun heals
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(
            spark, source, root, head=59, batch_size=20, bucket_size=10,
            fail_after_tables=2, sink_format="versioned",
        )
    assert latest_ingested_block(spark, f"{root}/block", "versioned") == 39
    run_incremental(
        spark, source, root, head=59, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    assert latest_ingested_block(spark, f"{root}/block", "versioned") == 59
    after = counts()

    # reorg at block 45: buckets 4,5 drop across all tables — no data IO
    removed = invalidate_from(spark, root, 45, bucket_size=10, sink_format="versioned")
    assert "block/block_id_group=4" in removed and "block/block_id_group=5" in removed
    assert latest_ingested_block(spark, f"{root}/block", "versioned") == 39
    # re-ingest from the fork point restores the exact pre-reorg state
    run_incremental(
        spark, source, root, head=59, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    assert counts() == after


def test_generator_edge_shapes(spark):
    chain = gen_chain(spark, 0, 20, partitions=2)
    blocks = chain["blocks"].collect()
    assert len(blocks) == 21
    txs = chain["transactions"]
    # block b carries b % 5 txs
    assert txs.count() == sum(b % 5 for b in range(21))
    assert chain["receipts"].count() == txs.count()
    # reward traces exist with null tx hash
    rewards = chain["traces"].filter("trace_type = 'reward'")
    assert rewards.count() == 21
    assert rewards.filter("transaction_hash IS NULL").count() == 21
    # logs include null and empty topics shapes
    logs = chain["logs"]
    assert logs.filter("topics IS NULL").count() > 0 or logs.count() >= 0


def test_generator_wei_values_past_bigint_range(spark):
    """Wei-scale generator values are computed in DECIMAL(38,0): in bigint,
    a transaction value overflowed past block 922,336 (ARITHMETIC_OVERFLOW
    on collect) and the total difficulty past about 135.8 M."""
    from decimal import Decimal

    from graphsense_ethereum_etl_spark.sources.generator import gen_blocks

    chain = gen_chain(spark, 1_000_000, 1_000_001, partitions=1)
    blocks = {r["number"]: r for r in chain["blocks"].collect()}
    for n in (1_000_000, 1_000_001):
        assert blocks[n]["difficulty"] == Decimal(n * 1000 + 7)
        assert blocks[n]["total_difficulty"] == Decimal(n * n * 500)
    [tx] = chain["transactions"].collect()  # block 1,000,000 is empty
    assert (tx["block_number"], tx["transaction_index"]) == (1_000_001, 0)
    assert tx["value"] == Decimal(1_000_002 * 10**13)
    assert chain["receipts"].count() == 1
    traces = {r["trace_type"]: r["value"] for r in chain["traces"].collect()
              if r["block_number"] == 1_000_001}
    assert traces == {"call": Decimal(1_000_002 * 10**13),
                      "reward": Decimal(2 * 10**18)}
    [far] = gen_blocks(spark, 200_000_000, 200_000_000, 1).select(
        "total_difficulty"
    ).collect()
    assert far[0] == Decimal(200_000_000**2 * 500)


def test_marker_written_after_concurrent_children_and_hook(spark, tmp_path, monkeypatch):
    """The three child writes and the on_batch hook run on threads that
    inherit the caller's local properties; the block marker is written only
    after every one of them has returned."""
    import threading
    import time

    from graphsense_ethereum_etl_spark.streaming import incremental

    spans = []  # (name, start, end, thread)
    write_table = incremental._write_table

    def timed_write(spark_, sink_root, table, *a):
        t0 = time.perf_counter()
        out = write_table(spark_, sink_root, table, *a)
        spans.append((table, t0, time.perf_counter(), threading.get_ident()))
        return out

    monkeypatch.setattr(incremental, "_write_table", timed_write)
    seen = []

    def hook(s, raw, lo, hi):
        t0 = time.perf_counter()
        seen.append(s.sparkContext.getLocalProperty("ingest.test.tag"))
        time.sleep(0.5)  # ends after the child writes have started
        spans.append(("hook", t0, time.perf_counter(), threading.get_ident()))

    sc = spark.sparkContext
    sc.setLocalProperty("ingest.test.tag", "batch")
    try:
        run_incremental(
            spark, source, str(tmp_path / "sink"), head=9, batch_size=10,
            bucket_size=10, on_batch=hook,
        )
    finally:
        sc.setLocalProperty("ingest.test.tag", None)
    assert seen == ["batch"]
    by_name = {name: (t0, t1, tid) for name, t0, t1, tid in spans}
    assert sorted(by_name) == ["block", "hook", "log", "trace", "transaction"]
    marker_start, _, marker_tid = by_name.pop("block")
    assert marker_tid == threading.get_ident()
    assert all(t1 <= marker_start for _, t1, _ in by_name.values())
    assert all(tid != marker_tid for _, _, tid in by_name.values())


def test_failed_child_write_leaves_marker_and_resume_replays(spark, tmp_path):
    """A child write that fails while its siblings run leaves the block
    marker unwritten; the resume replays the whole batch."""
    from pyspark.sql import functions as F

    def poisoned(spark_, lo, hi):
        raw = source(spark_, lo, hi)
        if lo >= 10:
            raw["traces"] = raw["traces"].withColumn(
                "error", F.expr("CAST(raise_error('poisoned trace write') AS STRING)")
            )
        return raw

    root = str(tmp_path / "sink")
    with pytest.raises(Exception, match="poisoned trace write"):
        run_incremental(spark, poisoned, root, head=19, batch_size=10, bucket_size=10)
    assert latest_ingested_block(spark, f"{root}/block") == 9
    stats = run_incremental(spark, source, root, head=19, batch_size=10, bucket_size=10)
    assert stats.blocks == 10  # only the failed batch re-ran
    ref = str(tmp_path / "ref")
    run_incremental(spark, source, ref, head=19, batch_size=10, bucket_size=10)
    assert _table_counts(spark, root) == _table_counts(spark, ref)


def test_bucket_rollup_maintenance(spark, tmp_path_factory):
    """Incremental rollup == full recompute after batches, a replay, and a
    reorg applied to both tables."""
    from pyspark.sql import functions as F

    from graphsense_ethereum_etl_spark.streaming.incremental import (
        update_bucket_rollup,
    )
    from graphsense_ethereum_etl_spark.versioned import VersionedTable

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, i // 10, i * 3 % 7) for i in range(lo, hi)],
            "block_id bigint, block_id_group bigint, v bigint",
        )

    def agg(df):
        return df.groupBy("block_id_group").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("sum_v"),
        )

    root = str(tmp_path_factory.mktemp("rollup"))
    raw = VersionedTable(spark, str(tmp_path_factory.mktemp("raw")))
    roll = VersionedTable(spark, root)

    for lo, hi in [(0, 20), (20, 40), (40, 50)]:
        b = batch(lo, hi)
        raw.write_partitions(b)
        update_bucket_rollup(roll, b, agg)
    # replay the middle batch (crash-recovery path): idempotent
    b = batch(20, 40)
    raw.write_partitions(b)
    update_bucket_rollup(roll, b, agg)

    got = {r["block_id_group"]: (r["n"], r["sum_v"]) for r in roll.read().collect()}
    want = {
        r["block_id_group"]: (r["n"], r["sum_v"])
        for r in agg(raw.read()).collect()
    }
    assert got == want and len(got) == 5

    # reorg: same boundary on both tables keeps them consistent
    raw.invalidate_from(3)
    roll.invalidate_from(3)
    got = {r["block_id_group"]: (r["n"], r["sum_v"]) for r in roll.read().collect()}
    want = {
        r["block_id_group"]: (r["n"], r["sum_v"])
        for r in agg(raw.read()).collect()
    }
    assert got == want and len(got) == 3


def test_sketch_rollup_merges_across_batches_and_replays(spark, tmp_path):
    """update_sketch_rollup (r6): a distinct-count group spanning many
    batches converges to the whole-history sketch estimate; replaying a
    batch leaves estimates unchanged (HLL union idempotence); and the
    incremental result equals the one-shot sketch over all raw rows."""
    from pyspark.sql import functions as F

    from graphsense_ethereum_etl_spark.streaming.incremental import (
        update_sketch_rollup,
    )
    from graphsense_ethereum_etl_spark.versioned import VersionedTable

    rollup = VersionedTable(spark, str(tmp_path / "ru"), partition_col="day")
    # 3 batches; "day" groups span batches; addresses overlap across batches
    batches = [
        [(0, a) for a in range(0, 60)] + [(1, a) for a in range(0, 30)],
        [(0, a) for a in range(30, 90)] + [(1, a) for a in range(10, 40)],
        [(1, a) for a in range(35, 50)] + [(2, a) for a in range(0, 5)],
    ]
    frames = [
        spark.createDataFrame(rows, "day bigint, addr bigint")
        for rows in batches
    ]
    for f in frames:
        update_sketch_rollup(rollup, f, value_col="addr")

    def estimates():
        return {
            r["day"]: r["est"]
            for r in rollup.read()
            .select("day", F.hll_sketch_estimate("sketch").alias("est"))
            .collect()
        }

    got = estimates()
    # exact distincts: day 0 -> 90, day 1 -> 50, day 2 -> 5; lg_k=12 HLL
    # is exact-ish at these cardinalities (rel err ~1.6%)
    exact = {0: 90, 1: 50, 2: 5}
    for d, n in exact.items():
        assert abs(got[d] - n) <= max(2, 0.05 * n), (d, got[d], n)
    # replay the middle batch: estimates must not move (idempotent union)
    update_sketch_rollup(rollup, frames[1], value_col="addr")
    assert estimates() == got
    # incremental == one-shot over the concatenated raw rows
    allrows = frames[0].unionByName(frames[1]).unionByName(frames[2])
    oneshot = {
        r["day"]: r["est"]
        for r in allrows.groupBy("day")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("addr"), F.lit(12))
            ).alias("est")
        )
        .collect()
    }
    assert estimates() == oneshot


def test_on_batch_hook_maintains_address_sketch_rollup(spark, tmp_path):
    """r6: the on_batch hook wires side-table maintenance into the ingest
    loop — here a unique-sender HLL rollup per block bucket, advancing in
    lockstep with ingest; after a resume the rollup matches the one-shot
    sketch over the full transaction table."""
    from pyspark.sql import functions as F

    from graphsense_ethereum_etl_spark.sources.generator import gen_chain
    from graphsense_ethereum_etl_spark.streaming.incremental import (
        run_incremental,
        update_sketch_rollup,
    )
    from graphsense_ethereum_etl_spark.versioned import VersionedTable

    sink = str(tmp_path / "eth")
    rollup = VersionedTable(
        spark, str(tmp_path / "ru"), partition_col="block_id_group"
    )

    def maintain(s, raw, lo, hi):
        batch = raw["transactions"].select(
            (F.col("block_number") / 10).cast("bigint").alias("block_id_group"),
            F.col("from_address"),
        )
        update_sketch_rollup(rollup, batch, value_col="from_address")

    run_incremental(
        spark,
        lambda s, lo, hi: gen_chain(s, lo, hi),
        sink,
        head=19,
        batch_size=10,
        bucket_size=10,
        on_batch=maintain,
    )
    # resume continues both raw ingest and rollup maintenance
    run_incremental(
        spark,
        lambda s, lo, hi: gen_chain(s, lo, hi),
        sink,
        head=29,
        batch_size=10,
        bucket_size=10,
        on_batch=maintain,
    )
    got = {
        r["block_id_group"]: r["est"]
        for r in rollup.read()
        .select(
            "block_id_group", F.hll_sketch_estimate("sketch").alias("est")
        )
        .collect()
    }
    oneshot = {
        r["g"]: r["est"]
        for r in spark.read.parquet(f"{sink}/transaction")
        .select(
            (F.col("block_id") / 10).cast("bigint").alias("g"),
            "from_address",
        )
        .groupBy("g")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("from_address"), F.lit(12))
            ).alias("est")
        )
        .collect()
    }
    assert got == oneshot and len(got) == 3


def test_on_batch_crash_before_marker_self_heals(spark, tmp_path):
    """r7 (ADVICE): on_batch fires BEFORE the block-marker commit, so a
    crash inside the hook leaves the marker unpublished; resume re-ingests
    the batch and replays the hook, and the rollup's union-idempotence
    absorbs the duplicate — the rollup can never silently diverge from
    ingest. (Pre-r7 the hook ran after the marker: a hook crash skipped
    that batch's maintenance forever.)"""
    from pyspark.sql import functions as F

    from graphsense_ethereum_etl_spark.sources.generator import gen_chain
    from graphsense_ethereum_etl_spark.streaming.incremental import (
        run_incremental,
        update_sketch_rollup,
    )
    from graphsense_ethereum_etl_spark.versioned import VersionedTable

    sink = str(tmp_path / "eth")
    rollup = VersionedTable(
        spark, str(tmp_path / "ru"), partition_col="block_id_group"
    )
    calls = {"n": 0}

    def maintain(s, raw, lo, hi):
        batch = raw["transactions"].select(
            (F.col("block_number") / 10).cast("bigint").alias("block_id_group"),
            F.col("from_address"),
        )
        update_sketch_rollup(rollup, batch, value_col="from_address")
        calls["n"] += 1
        if calls["n"] == 2:  # crash AFTER the rollup write, BEFORE the marker
            raise RuntimeError("injected hook crash")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected hook crash"):
        run_incremental(
            spark,
            lambda s, lo, hi: gen_chain(s, lo, hi),
            sink,
            head=19,
            batch_size=10,
            bucket_size=10,
            on_batch=maintain,
        )
    # Batch 2's marker never published: resume must replay it (and its hook).
    resumed = run_incremental(
        spark,
        lambda s, lo, hi: gen_chain(s, lo, hi),
        sink,
        head=19,
        batch_size=10,
        bucket_size=10,
        on_batch=maintain,
    )
    assert resumed.blocks == 10  # only the crashed batch re-ran
    got = {
        r["block_id_group"]: r["est"]
        for r in rollup.read()
        .select(
            "block_id_group", F.hll_sketch_estimate("sketch").alias("est")
        )
        .collect()
    }
    oneshot = {
        r["g"]: r["est"]
        for r in spark.read.parquet(f"{sink}/transaction")
        .select(
            (F.col("block_id") / 10).cast("bigint").alias("g"),
            "from_address",
        )
        .groupBy("g")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("from_address"), F.lit(12))
            ).alias("est")
        )
        .collect()
    }
    assert got == oneshot and len(got) == 2


def test_topk_sketch_rollup_per_bucket_replay_safe(spark, tmp_path):
    """r6: frequency sketches are NOT union-idempotent (re-adding a batch
    double-counts), so heavy-hitters maintenance stores them PER bucket
    through update_bucket_rollup's idempotent partition overwrite and
    combines at read time — replaying a batch leaves the combined top-k
    unchanged."""
    from pyspark.sql import functions as F

    from graphsense_ethereum_etl_spark.streaming.incremental import (
        update_bucket_rollup,
    )
    from graphsense_ethereum_etl_spark.versioned import VersionedTable

    rollup = VersionedTable(
        spark, str(tmp_path / "ru"), partition_col="block_id_group"
    )

    def agg_fn(batch):
        return batch.groupBy("block_id_group").agg(
            F.expr("approx_top_k_accumulate(addr, 16)").alias("sk")
        )

    b1 = spark.createDataFrame(
        [(0, f"a{i % 3}") for i in range(30)], "block_id_group bigint, addr string"
    )
    b2 = spark.createDataFrame(
        [(1, f"a{i % 5}") for i in range(50)], "block_id_group bigint, addr string"
    )
    update_bucket_rollup(rollup, b1, agg_fn)
    update_bucket_rollup(rollup, b2, agg_fn)

    def combined():
        return sorted(
            (r["r"]["item"], r["r"]["count"])
            for r in rollup.read()
            .agg(
                F.expr(
                    "approx_top_k_estimate(approx_top_k_combine(sk), 16)"
                ).alias("e")
            )
            .select(F.explode("e").alias("r"))
            .collect()
        )
    got = combined()
    # exact: a0/a1/a2 get 10 each from b1; a0..a4 get 10 each from b2
    assert got == [("a0", 20), ("a1", 20), ("a2", 20), ("a3", 10), ("a4", 10)]
    update_bucket_rollup(rollup, b2, agg_fn)  # replay: overwrite, no double count
    assert combined() == got


def _table_rows(spark, root):
    def key(r):  # None-safe total order
        return tuple((x is None, str(x)) for x in r)

    out = {}
    for t in ["block", "transaction", "trace", "log"]:
        df = spark.read.parquet(f"{root}/{t}")
        out[t] = sorted(map(tuple, df.select(*sorted(df.columns)).collect()), key=key)
    return out


@pytest.mark.parametrize("seed", list(range(6)))
def test_ingest_randomized_crash_reorg_soak(spark, tmp_path, seed):
    """Randomized operational schedules for the ingest loop (the soak
    pattern that found the vacuum/CDF/gate bugs): random head advances,
    random batch sizes, crash injection at random points (children
    written, marker not), reorgs at random fork blocks — then one clean
    run to the final head. Whatever the schedule, the sink must equal a
    single straight-line ingest to the same head, row for row, and the
    resume marker must sit exactly at the head."""
    import random

    from graphsense_ethereum_etl_spark.streaming.incremental import (
        invalidate_from,
    )

    rng = random.Random(8000 + seed)
    root = str(tmp_path / "sink")
    bucket = 10
    head = 0

    for _step in range(rng.randint(3, 5)):
        op = rng.choice(["advance", "advance", "advance", "reorg"])
        if op == "advance":
            head += rng.randint(5, 30)
            kw = {}
            if rng.random() < 0.4:
                kw["fail_after_tables"] = rng.randint(0, 3)
            try:
                run_incremental(
                    spark, source, root, head=head,
                    batch_size=rng.choice([10, 20, 30]),
                    bucket_size=bucket, **kw,
                )
            except RuntimeError as e:
                assert "injected crash" in str(e)
        elif head > 0:
            fork = rng.randint(0, head)
            invalidate_from(spark, root, fork, bucket_size=bucket)

    head += rng.randint(1, 15)
    run_incremental(
        spark, source, root, head=head, batch_size=25, bucket_size=bucket
    )

    ref = str(tmp_path / "ref")
    run_incremental(spark, source, ref, head=head, batch_size=25, bucket_size=bucket)
    assert latest_ingested_block(spark, f"{root}/block") == head, (
        f"seed {seed}: marker diverged"
    )
    assert _table_rows(spark, root) == _table_rows(spark, ref), (
        f"seed {seed}: sink diverged from the straight-line ingest"
    )


def test_concurrent_ingest_fails_fast(spark, tmp_path):
    """r9 single-writer guard: a second ingest into the same sink root
    must fail fast with a clear error while the first holds the lock —
    interleaved partition overwrites were previously a silent-corruption
    contract violation."""
    import threading
    import time as _time

    root = str(tmp_path / "sink")
    slow_barrier = threading.Event()
    release = threading.Event()

    def slow_source(sp, lo, hi):
        slow_barrier.set()
        release.wait(30)
        return source(sp, lo, hi)

    errs: list[Exception] = []

    def first():
        try:
            run_incremental(spark, slow_source, root, head=1999,
                            start_block=0, batch_size=1000)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t = threading.Thread(target=first)
    t.start()
    try:
        assert slow_barrier.wait(30), "first ingest never started"
        with pytest.raises(RuntimeError, match="_ingest.lock"):
            run_incremental(spark, source, root, head=1999,
                            start_block=0, batch_size=1000)
    finally:
        release.set()
        t.join()
    assert not errs, errs
    # after the first finishes, a sequential ingest proceeds normally
    run_incremental(spark, source, root, head=2999, batch_size=1000)
