"""Cross-entity consistent snapshot tests (snapshots.py — r9 VERDICT #3).

The reference's crash contract is write-ordering only (children before the
block marker, eth_cassandra_streaming.py:631-636): a reader BETWEEN a child
commit and the marker commit sees a torn multi-table state. The catalog
closes that window — one atomic pointer publishes all entity heights.
"""

from __future__ import annotations

import os
import random

import pytest

from graphsense_ethereum_etl_spark.snapshots import SnapshotCatalog, has_catalog
from graphsense_ethereum_etl_spark.sources.generator import gen_chain
from graphsense_ethereum_etl_spark.streaming.incremental import (
    invalidate_from,
    latest_ingested_block,
    run_incremental,
)
from graphsense_ethereum_etl_spark.versioned import VersionedTable

TABLES = ["block", "transaction", "trace", "log"]


def source(spark, lo, hi):
    return gen_chain(spark, lo, hi, partitions=4)


def _catalog_buckets(spark, root) -> dict[str, int | None]:
    """max bucket (block_id // 10) per entity table read THROUGH the
    catalog. Bucket granularity makes the consistency predicate robust:
    the generator leaves some BLOCKS without txs/logs (b % 5 == 0 is
    empty), but every 10-block bucket has rows in all four entities
    (reward traces cover every block), so consistent snapshots agree on
    the max bucket while a torn child is a whole batch (2 buckets)
    ahead."""
    from pyspark.sql import functions as F

    cat = SnapshotCatalog(spark, root)
    out = {}
    for t in TABLES:
        df = cat.read(t)
        out[t] = (
            df.agg(F.max(F.floor(F.col("block_id") / 10))).collect()[0][0]
            if "block_id" in df.columns
            else None
        )
    return out


def _block_height(spark, root) -> int | None:
    from pyspark.sql import functions as F

    df = SnapshotCatalog(spark, root).read("block")
    if "block_id" not in df.columns:
        return None
    return df.agg(F.max("block_id")).collect()[0][0]


def _assert_consistent(buckets: dict[str, int | None]) -> None:
    vals = set(buckets.values())
    assert len(vals) == 1, f"torn multi-table snapshot: {buckets}"


def test_catalog_closes_the_torn_window(spark, tmp_path):
    """Kill between child and marker: DIRECT per-table reads are torn
    (that is the reference's semantics, kept); catalog reads are not."""
    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=19, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    _assert_consistent(_catalog_buckets(spark, root))

    # crash after 2 child tables of the next batch
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(
            spark, source, root, head=39, batch_size=20, bucket_size=10,
            fail_after_tables=2, sink_format="versioned",
        )
    # direct table reads ARE torn: log committed batch 2, block did not
    direct_log = VersionedTable(spark, f"{root}/log").read()
    direct_block = VersionedTable(spark, f"{root}/block").read()
    from pyspark.sql import functions as F

    assert direct_log.agg(F.max("block_id")).collect()[0][0] == 39
    assert direct_block.agg(F.max("block_id")).collect()[0][0] == 19
    # catalog reads are NOT: every entity still at the published batch
    _assert_consistent(_catalog_buckets(spark, root))
    assert _block_height(spark, root) == 19
    # resume heals: replays the batch, publishes one new consistent set
    run_incremental(
        spark, source, root, head=39, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    _assert_consistent(_catalog_buckets(spark, root))
    assert _block_height(spark, root) == 39


def test_crash_after_marker_before_catalog_replays(spark, tmp_path):
    """The NEW window this layer introduces — all four tables committed,
    catalog pointer not swapped — must also self-heal: the resume marker
    reads THROUGH the catalog, so the batch replays and republishes."""
    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=19, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    with pytest.raises(RuntimeError, match="injected crash before the catalog"):
        run_incremental(
            spark, source, root, head=39, batch_size=20, bucket_size=10,
            fail_after_tables=4, sink_format="versioned",
        )
    # every table's own pointer advanced...
    from pyspark.sql import functions as F

    for t in TABLES:
        assert (
            VersionedTable(spark, f"{root}/{t}").read()
            .agg(F.max("block_id")).collect()[0][0]
            == 39
        )
    # ...but the durable height is the catalog's, so resume replays
    assert latest_ingested_block(spark, f"{root}/block", "versioned") == 19
    _assert_consistent(_catalog_buckets(spark, root))
    assert _block_height(spark, root) == 19
    stats = run_incremental(
        spark, source, root, head=39, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    assert stats.blocks == 20  # the replayed batch, not a skip
    _assert_consistent(_catalog_buckets(spark, root))
    assert _block_height(spark, root) == 39


def test_crash_fuzz_no_torn_catalog_read(spark, tmp_path):
    """Randomized kill points across a multi-batch ingest: after EVERY
    injected crash the catalog read must be a consistent batch boundary,
    and the final healed state must equal a clean single run."""
    rng = random.Random(0xC0FFEE)
    root = str(tmp_path / "fuzz")
    ref_root = str(tmp_path / "ref")
    run_incremental(
        spark, source, ref_root, head=59, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    from collections import Counter

    expected = {
        t: Counter(
            map(repr, VersionedTable(spark, f"{ref_root}/{t}").read().collect())
        )
        for t in TABLES
    }

    heads = [19, 39, 59]
    for head in heads:
        for _ in range(2):  # up to two crashes per head before the clean run
            k = rng.randint(0, 4)
            try:
                run_incremental(
                    spark, source, root, head=head, batch_size=20,
                    bucket_size=10, fail_after_tables=k,
                    sink_format="versioned",
                )
            except RuntimeError:
                pass
            if has_catalog(root):
                _assert_consistent(_catalog_buckets(spark, root))
        run_incremental(
            spark, source, root, head=head, batch_size=20, bucket_size=10,
            sink_format="versioned",
        )
        _assert_consistent(_catalog_buckets(spark, root))
        assert _block_height(spark, root) == head
    got = {
        t: Counter(
            map(repr, SnapshotCatalog(spark, root).read(t).collect())
        )
        for t in TABLES
    }
    assert got == expected


def test_reorg_publishes_consistent_catalog(spark, tmp_path):
    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=59, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    v_before = SnapshotCatalog(spark, root).current_version()
    invalidate_from(spark, root, 45, bucket_size=10, sink_format="versioned")
    cat = SnapshotCatalog(spark, root)
    assert cat.current_version() == v_before + 1
    _assert_consistent(_catalog_buckets(spark, root))
    assert _block_height(spark, root) == 39  # buckets 4,5 dropped across ALL entities at once
    # resume through the catalog re-ingests from the fork point
    run_incremental(
        spark, source, root, head=59, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    _assert_consistent(_catalog_buckets(spark, root))
    assert _block_height(spark, root) == 59


def test_catalog_vacuum_retains_referenced_versions(spark, tmp_path):
    root = str(tmp_path / "sink")
    for head in (19, 39, 59):
        run_incremental(
            spark, source, root, head=head, batch_size=20, bucket_size=10,
            sink_format="versioned",
        )
    cat = SnapshotCatalog(spark, root)
    hist = cat.history()
    assert len(hist) == 3
    removed = cat.vacuum(keep_catalogs=2)
    assert cat.history() == hist[-2:]
    # the retained historic catalog still reads (its table versions kept)
    from pyspark.sql import functions as F

    old = cat.read("block", version=hist[-2])
    assert old.agg(F.max("block_id")).collect()[0][0] == 39
    # the dropped catalog's doc is gone
    with pytest.raises(FileNotFoundError):
        cat.read("block", version=hist[0])
    # vacuum actually reclaimed the first batch's superseded dirs somewhere
    assert any(removed.get(t) for t in TABLES) or all(
        removed.get(t) == [] for t in TABLES
    )


def test_catalog_read_absent_table_is_empty(spark, tmp_path):
    root = str(tmp_path / "sink")
    cat = SnapshotCatalog(spark, root, tables=("block",))
    VersionedTable(spark, f"{root}/block").write_partitions(
        gen_chain(spark, 0, 9, partitions=2)["blocks"].selectExpr(
            "number as block_id", "cast(number / 10 as bigint) as block_id_group"
        )
    )
    cat.commit()
    assert cat.read("trace").count() == 0  # never-published entity
    assert cat.read("block").count() == 10


def test_catalog_read_changes_consistent_interval(spark, tmp_path):
    """Cross-entity CDF between catalog versions: each entity's feed over
    the same catalog interval is exactly that batch's rows — consistent
    boundaries, so the four feeds describe ONE coherent delta."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=19, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    run_incremental(
        spark, source, root, head=39, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    cat = SnapshotCatalog(spark, root)
    v1, v2 = cat.history()[:2]
    for t in TABLES:
        feed = cat.read_changes(t, v1, v2)
        assert feed.filter(F.col("_change_type") == "delete").count() == 0
        ids = {
            r[0]
            for r in feed.filter(F.col("_change_type") == "insert")
            .select("block_id").distinct().collect()
        }
        assert ids and all(20 <= i <= 39 for i in ids), (t, sorted(ids)[:5])
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        cat.read_changes("block", 99, None)


def test_catalog_vacuum_fails_fast_under_ingest_lock(spark, tmp_path):
    """vacuum vs live ingest: the catalog vacuum takes the same fail-fast
    flock as run_incremental — a held lock means a commit may be mid-
    flight, whose not-yet-published manifests vacuum would delete as
    crash debris."""
    import fcntl

    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=19, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    holder = open(f"{root}/_ingest.lock", "a")
    fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(RuntimeError, match="_ingest.lock"):
            SnapshotCatalog(spark, root).vacuum(keep_catalogs=1)
    finally:
        holder.close()
    # released: vacuum proceeds
    SnapshotCatalog(spark, root).vacuum(keep_catalogs=1)


def _decatalog(root: str) -> None:
    """Strip the catalog artifacts, simulating a PRE-CATALOG versioned
    sink (tables committed before this layer existed)."""
    import os
    import shutil

    os.remove(f"{root}/_CATALOG")
    shutil.rmtree(f"{root}/_catalog")


def test_adoption_commits_on_consistent_precatalog_sink(spark, tmp_path):
    """A pre-catalog sink with every entity at the same height adopts a
    catalog on the first no-op rerun."""
    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=19, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    _decatalog(root)
    assert not has_catalog(root)
    run_incremental(
        spark, source, root, head=19, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    assert has_catalog(root)
    _assert_consistent(_catalog_buckets(spark, root))


def test_adoption_refuses_torn_precatalog_sink(spark, tmp_path):
    """ADVICE r11 (medium): a crash between child commits and the block
    marker leaves children AHEAD on a pre-catalog sink. A rerun whose
    end_block is at or below the published block height resolves an
    empty range — the adoption path must NOT publish a catalog pinning
    that torn view; it warns and skips, and a rerun over the torn range
    heals it."""
    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=19, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    # crash after 2 child tables (log, trace at 39; transaction, block at 19)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(
            spark, source, root, head=39, batch_size=20, bucket_size=10,
            fail_after_tables=2, sink_format="versioned",
        )
    _decatalog(root)
    # rerun capped at the published block height: empty range -> adoption
    with pytest.warns(UserWarning, match="torn"):
        run_incremental(
            spark, source, root, head=39, end_block=19, batch_size=20,
            bucket_size=10, sink_format="versioned",
        )
    assert not has_catalog(root)  # torn view was NOT published
    # healing rerun over the torn range publishes one consistent set
    run_incremental(
        spark, source, root, head=39, batch_size=20, bucket_size=10,
        sink_format="versioned",
    )
    assert has_catalog(root)
    _assert_consistent(_catalog_buckets(spark, root))
    assert _block_height(spark, root) == 39


def test_catalog_forwards_partition_col(spark, tmp_path):
    """ADVICE r11: a catalog over differently-partitioned tables resolves
    reads (including the canonical empty frame) with ITS partition
    column, not the entity default."""
    root = str(tmp_path / "buckets")
    cat = SnapshotCatalog(
        spark, root, tables=("scores",), partition_col="bucket"
    )
    assert cat.table("scores").partition_col == "bucket"
    # empty-frame schema before any commit uses the forwarded column
    assert cat.read("scores").columns == ["bucket"]
    VersionedTable(spark, f"{root}/scores", partition_col="bucket").write_partitions(
        spark.range(20).selectExpr("id", "id div 10 as bucket")
    )
    cat.commit()
    assert cat.read("scores").count() == 20
    # absent-table read on the same catalog also carries the column
    assert cat.read("other").columns == ["bucket"]


def test_version_asof_boundary_reorg_and_legacy_derive(spark, tmp_path):
    """read_asof / version_asof (r10 VERDICT #5): batch commits stamp
    their block height on the catalog doc; resolution is at-or-before
    INCLUSIVE; a reorg commit (derived, lowered height) wins over an
    earlier higher-height doc because resolution prefers the NEWEST
    qualifying catalog; docs predating the height stamp derive theirs
    from the pinned block version."""
    import json
    import os

    import pytest as _pytest

    root = str(tmp_path / "sink")
    for head in (9, 19):  # two batches -> catalog v1 (h=9), v2 (h=19)
        run_incremental(
            spark, source, root, head=head, batch_size=10, bucket_size=10,
            sink_format="versioned",
        )
    cat = SnapshotCatalog(spark, root)
    v1, v2 = cat.history()
    assert cat._doc(v1)["height"] == 9 and cat._doc(v2)["height"] == 19
    assert cat.version_asof(19) == v2  # inclusive boundary
    assert cat.version_asof(18) == v1
    assert cat.version_asof(9) == v1
    with _pytest.raises(FileNotFoundError):
        cat.version_asof(8)
    # the as-of read pins BOTH entities at the resolved doc
    from pyspark.sql import functions as F

    for t in TABLES:
        assert (
            cat.read_asof(t, 18).agg(F.max("block_id")).collect()[0][0] == 9
        ), t

    # reorg back to block 10: derived stamp reflects the truncated chain,
    # and the NEWEST qualifying doc wins even though v2's height is larger
    invalidate_from(spark, root, 10, bucket_size=10, sink_format="versioned")
    v3 = cat.current_version()
    assert cat._doc(v3)["height"] == 9
    assert cat.version_asof(19) == v3
    assert cat.read_asof("block", 19).agg(F.max("block_id")).collect()[0][0] == 9

    # legacy doc without a height stamp: derives from the pinned block
    # version (one metadata-only aggregate)
    doc_path = f"{root}/_catalog/c-{v1:08d}.json"
    with open(doc_path) as fh:
        doc = json.load(fh)
    del doc["height"]
    with open(doc_path, "w") as fh:
        json.dump(doc, fh)
    assert cat._derive_height(v1) == 9  # pinned-block-version fallback
    # v1 (derived h=9) and v3 (stamped h=9) both qualify at height 9;
    # resolution prefers the newest qualifying doc
    assert cat.version_asof(9) == v3


def test_derive_height_manifest_stats_fast_path(spark, tmp_path, monkeypatch):
    """r11 ADVICE #2: the ingest loop records per-partition block_id
    [min,max] in the block table's manifest (parquet-footer harvest at
    commit), so _derive_height resolves from the manifest alone — no
    Spark scan inside the commit critical section. Proven by breaking
    read_version: the fast path never touches it. Stripping the stats
    falls back to the documented full-column scan."""
    import json

    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=9, batch_size=10, bucket_size=10,
        sink_format="versioned",
    )
    cat = SnapshotCatalog(spark, root)
    v1 = cat.current_version()

    # 1. the ingest wiring recorded block_id bounds for every partition
    blk = cat.table("block")
    stats = blk.stats()
    parts = blk._manifest_doc()["partitions"]
    assert parts and set(stats) == set(parts)
    assert all("block_id" in s for s in stats.values())
    assert max(s["block_id"][1] for s in stats.values()) == 9

    # 2. fast path: correct height with read_version made unreachable
    def _boom(self, version):
        raise AssertionError("fast path must not scan")

    monkeypatch.setattr(VersionedTable, "read_version", _boom)
    assert cat._derive_height(v1) == 9

    # 3. stats stripped -> documented scan fallback (read_version restored)
    monkeypatch.undo()
    pinned = cat._doc(v1)["tables"]["block"]
    mpath = f"{blk.root}/_manifests/m-{pinned:08d}.json"
    with open(mpath) as fh:
        doc = json.load(fh)
    doc["stats"] = {}
    with open(mpath, "w") as fh:
        json.dump(doc, fh)
    assert cat._derive_height(v1) == 9


def test_derive_height_corrupt_manifest_surfaces_error(spark, tmp_path):
    """r12 ADVICE #1: an UNREADABLE/CORRUPT manifest must not be
    conflated with an empty block table — returning None would let
    commit() silently write a height-less catalog doc that version_asof
    silently skips. The fallback routes through read_version, which
    surfaces the underlying error; a genuinely empty pinned block table
    (manifest readable, zero partitions) still returns None."""
    import json

    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=9, batch_size=10, bucket_size=10,
        sink_format="versioned",
    )
    cat = SnapshotCatalog(spark, root)
    v1 = cat.current_version()
    pinned = cat._doc(v1)["tables"]["block"]
    blk = cat.table("block")
    mpath = f"{blk.root}/_manifests/m-{pinned:08d}.json"
    with open(mpath) as fh:
        orig = fh.read()
    # corrupt JSON -> JSONDecodeError out of the read_version fallback
    with open(mpath, "w") as fh:
        fh.write("{not json")
    import pytest as _pytest

    with _pytest.raises(json.JSONDecodeError):
        cat._derive_height(v1)
    # missing manifest -> FileNotFoundError, same route
    os.remove(mpath)
    with _pytest.raises(FileNotFoundError):
        cat._derive_height(v1)
    # restored: fast path resolves again
    with open(mpath, "w") as fh:
        fh.write(orig)
    assert cat._derive_height(v1) == 9
    # readable manifest with zero partitions: the documented empty-table
    # None, NOT an error
    doc = json.loads(orig)
    doc["partitions"] = {}
    with open(mpath, "w") as fh:
        json.dump(doc, fh)
    assert cat._derive_height(v1) is None


def test_version_asof_timestamp_boundaries(spark, tmp_path):
    """r11 VERDICT #6: wall-clock as-of — ts resolves to a height via
    the newest catalog's block pin (monotone block timestamps), then to
    a catalog doc; BOTH steps at-or-before inclusive. gen_chain stamps
    12-second blocks from epoch 1_600_000_000."""
    import pytest as _pytest

    root = str(tmp_path / "sink")
    for head in (9, 19):  # catalog v1 (h=9), v2 (h=19)
        run_incremental(
            spark, source, root, head=head, batch_size=10, bucket_size=10,
            sink_format="versioned",
        )
    cat = SnapshotCatalog(spark, root)
    v1, v2 = cat.history()
    t0 = 1_600_000_000
    # exactly block 9's timestamp: inclusive in both resolution steps
    assert cat.version_asof_timestamp(t0 + 9 * 12) == v1
    # one second shy of block 10: still height 9 -> v1
    assert cat.version_asof_timestamp(t0 + 10 * 12 - 1) == v1
    # block 10's exact stamp resolves height 10 — newer than v1's stamp
    # but older than v2's (19): the newest at-or-before doc is STILL v1
    # (the mid-ingest lag contract; k12's ts=24000 probe)
    assert cat.version_asof_timestamp(t0 + 10 * 12) == v1
    # block 19's exact stamp: v2's own height, inclusive
    assert cat.version_asof_timestamp(t0 + 19 * 12) == v2
    # far future: newest doc
    assert cat.version_asof_timestamp(t0 + 10**6) == v2
    # before the chain: no block at-or-before
    with _pytest.raises(FileNotFoundError):
        cat.version_asof_timestamp(t0 - 1)
    # the read variant pins both entities at the same doc
    from pyspark.sql import functions as F

    for t in TABLES:
        assert (
            cat.read_asof_timestamp(t, t0 + 9 * 12)
            .agg(F.max("block_id"))
            .collect()[0][0]
            == 9
        ), t


def _one_batch_catalog(spark, tmp_path) -> SnapshotCatalog:
    root = str(tmp_path / "sink")
    run_incremental(
        spark, source, root, head=9, batch_size=10, bucket_size=10,
        sink_format="versioned",
    )
    return SnapshotCatalog(spark, root)


def test_heights_asof_timestamps_empty_list(spark, tmp_path):
    """No probes resolve to no heights (an aggregate with no columns used
    to raise)."""
    assert _one_batch_catalog(spark, tmp_path).heights_asof_timestamps([]) == {}


def test_heights_asof_timestamps_repeated_probes(spark, tmp_path, monkeypatch):
    """A repeated timestamp is resolved once: one aggregate column per
    distinct probe, in first-seen order."""
    cat = _one_batch_catalog(spark, tmp_path)
    DataFrame = type(spark.range(0))
    widths = []
    agg = DataFrame.agg

    def counting_agg(self, *exprs):
        widths.append(len(exprs))
        return agg(self, *exprs)

    monkeypatch.setattr(DataFrame, "agg", counting_agg)
    t0 = 1_600_000_000  # gen_chain: block n is stamped t0 + 12 n
    got = cat.heights_asof_timestamps([t0 + 60, t0, t0 + 60, t0 + 61, t0])
    assert got == {t0 + 60: 5, t0: 0, t0 + 61: 5}
    assert list(got) == [t0 + 60, t0, t0 + 61]
    assert widths == [3]
