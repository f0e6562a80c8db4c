"""ParquetTable.cluster: sort-on-write layout so parquet footer stats
prune files and row groups for predicates on the cluster key.

The assertions read the written parquet footers with pyarrow — the same
min/max statistics Spark's pushed-down filters evaluate — so the test
pins the physical property (disjoint per-file ranges, monotonic row
groups) rather than a timing."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.merge import ParquetTable

from tests.conftest import SF_SMALL


def _file_key_ranges(path: str, col: str) -> list[tuple[int, int]]:
    """Per data file: (min, max) of `col` across its row groups, plus the
    per-row-group mins (returned separately for the monotonicity check)."""
    ranges = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        gmins, gmaxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max, f"{f} rg{rg}: no stats"
            gmins.append(st.min)
            gmaxs.append(st.max)
        ranges.append((min(gmins), max(gmaxs), gmins))
    return ranges


def test_cluster_makes_file_ranges_disjoint(spark, tmp_path):
    path = str(tmp_path / "orders")
    tbl = ParquetTable(spark, path)
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    # write in hash order: key ranges overlap across every file
    tbl.overwrite(src.repartition(4, "o_orderkey"))
    before = _file_key_ranges(path, "o_orderkey")
    assert len(before) == 4
    overlaps = sum(
        1
        for i, a in enumerate(before)
        for b in before[i + 1 :]
        if a[0] <= b[1] and b[0] <= a[1]
    )
    assert overlaps > 0, "hash layout should interleave key ranges"

    tbl.cluster(["o_orderkey"], target_files=4)

    after = _file_key_ranges(path, "o_orderkey")
    assert len(after) == 4
    # disjoint file ranges: a pushed o_orderkey predicate prunes to one file
    spans = sorted((lo, hi) for lo, hi, _ in after)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next, f"file ranges overlap: {spans}"
    # monotonic row groups inside each file (sortWithinPartitions)
    for _, _, gmins in after:
        assert gmins == sorted(gmins)


def test_cluster_preserves_content_and_swaps_atomically(spark, tmp_path):
    path = str(tmp_path / "orders")
    tbl = ParquetTable(spark, path)
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    tbl.overwrite(src.repartition(8))
    expected = sorted(r["o_orderkey"] for r in src.select("o_orderkey").collect())

    tbl.cluster(["o_orderdate", "o_orderkey"])

    got = sorted(r["o_orderkey"] for r in tbl.read().select("o_orderkey").collect())
    assert got == expected
    # no stray tmp/backup dirs left behind by the rename dance
    stray = [p for p in glob.glob(path + ".*") if ".tmp-" in p or ".old-" in p]
    assert stray == []


def test_cluster_default_sizes_to_scan_splits(spark, tmp_path):
    path = str(tmp_path / "orders")
    tbl = ParquetTable(spark, path)
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    tbl.overwrite(src.repartition(16))
    tbl.cluster(["o_orderkey"])  # tiny table -> one scan split -> one file
    assert tbl.file_count() == 1


def test_scan_split_readers_accept_unit_suffixed_max_partition_bytes(spark, tmp_path):
    """spark.sql.files.maxPartitionBytes = "64m" is a value Spark's scan
    accepts; load_table(spread=True) and cluster()'s file sizing read it
    the same way (64 MiB), instead of failing to parse it."""
    from nomba_data_pipeline_spark.catalog import load_table, max_partition_bytes

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
    try:
        assert max_partition_bytes(spark) == 64 << 20
        orders = load_table(spark, SF_SMALL, "orders", spread=True)
        src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        assert orders.count() == src.count()
        tbl = ParquetTable(spark, str(tmp_path / "orders"))
        tbl.overwrite(src.repartition(4))
        tbl.cluster(["o_orderkey"])
        assert tbl.file_count() == 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_cluster_missing_table_is_noop(spark, tmp_path):
    tbl = ParquetTable(spark, str(tmp_path / "absent"))
    tbl.cluster(["k"])  # must not raise
    assert not tbl.exists()


def test_clustered_scan_still_prunes_with_filter(spark, tmp_path):
    """End-to-end: the pushed filter on the cluster key returns correct
    rows off the clustered layout (stats pruning is a parquet-reader
    fast path — correctness must be unchanged)."""
    path = str(tmp_path / "orders")
    tbl = ParquetTable(spark, path)
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    tbl.overwrite(src.repartition(4, "o_orderkey"))
    tbl.cluster(["o_orderkey"], target_files=4)
    probe = src.select(F.min("o_orderkey")).first()[0]
    got = tbl.read().filter(F.col("o_orderkey") == probe).count()
    want = src.filter(F.col("o_orderkey") == probe).count()
    assert got == want and got >= 1


def test_cluster_partitioned_preserves_layout_and_sorts_within(spark, tmp_path):
    """Partitioned cluster: directory layout survives, only matching
    partitions are rewritten, and rows inside each rewritten partition
    file are monotonic on the sort key (row-group skipping within the
    partition)."""
    path = str(tmp_path / "orders_p")
    tbl = ParquetTable(spark, path)
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "flag", F.col("o_orderkey") % 2
    )
    tbl.overwrite(src.repartition(6), partition_by=["flag"])
    dirs_before = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(path, "flag=*"))
    )
    f1_before = sorted(glob.glob(os.path.join(path, "flag=1", "*.parquet")))

    tbl.cluster(
        ["o_orderkey"], partition_by=["flag"], partition_filter=F.col("flag") == 0
    )

    dirs_after = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(path, "flag=*"))
    )
    assert dirs_before == dirs_after == ["flag=0", "flag=1"]
    # rewritten partition: one file, sorted on the key
    f0 = glob.glob(os.path.join(path, "flag=0", "*.parquet"))
    assert len(f0) == 1
    (lo, hi, gmins) = _file_key_ranges(os.path.join(path, "flag=0"), "o_orderkey")[0]
    assert gmins == sorted(gmins)
    # filtered-out partition untouched: literally the same files
    f1_after = sorted(glob.glob(os.path.join(path, "flag=1", "*.parquet")))
    assert f1_after == f1_before
    # content preserved
    got = sorted(r["o_orderkey"] for r in tbl.read().collect())
    want = sorted(r["o_orderkey"] for r in src.collect())
    assert got == want


def test_cluster_refuses_flat_rewrite_of_partitioned_table(spark, tmp_path):
    path = str(tmp_path / "orders_p2")
    tbl = ParquetTable(spark, path)
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "flag", F.col("o_orderkey") % 2
    )
    tbl.overwrite(src, partition_by=["flag"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hive-partitioned"):
        tbl.cluster(["o_orderkey"])


def test_compact_refuses_flat_rewrite_and_filter_without_partition_by(
    spark, tmp_path
):
    """compact() guards mirror cluster(): a hive-partitioned table
    without partition_by raises instead of silently flattening the
    layout, and partition_filter without partition_by raises instead of
    silently full-rewriting."""
    import pytest as _pytest

    path = str(tmp_path / "orders_pc")
    tbl = ParquetTable(spark, path)
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "flag", F.col("o_orderkey") % 2
    )
    tbl.overwrite(src, partition_by=["flag"])
    with _pytest.raises(ValueError, match="hive-partitioned"):
        tbl.compact()
    with _pytest.raises(ValueError, match="partition_filter requires"):
        tbl.compact(partition_filter=F.col("flag") == 0)
    with _pytest.raises(ValueError, match="partition_filter requires"):
        ParquetTable(spark, str(tmp_path / "absent2")).overwrite(src.drop("flag"))
        t2 = ParquetTable(spark, str(tmp_path / "absent2"))
        t2.cluster(["o_orderkey"], partition_filter=F.col("o_orderkey") > 0)


def test_cluster_hot_partition_splits_into_ranged_files(spark, tmp_path):
    """target_files on the partitioned path: a hot partition is rewritten
    by multiple tasks into multiple files whose sort-key ranges are
    disjoint — not funneled through one task into one giant file."""
    path = str(tmp_path / "orders_hot")
    tbl = ParquetTable(spark, path)
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "flag", F.lit(0)
    )  # ONE hot partition holds everything
    tbl.overwrite(src, partition_by=["flag"])

    tbl.cluster(["o_orderkey"], partition_by=["flag"], target_files=4)

    pdir = os.path.join(path, "flag=0")
    ranges = _file_key_ranges(pdir, "o_orderkey")
    assert len(ranges) == 4
    spans = sorted((lo, hi) for lo, hi, _ in ranges)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next, f"ranges overlap: {spans}"
    for _, _, gmins in ranges:
        assert gmins == sorted(gmins)
    assert tbl.read().count() == src.count()


# ---------------------------------------------------------------------------
# z-order (Morton) layout: per-file footer ranges narrow on BOTH dims
# ---------------------------------------------------------------------------


def _avg_width(path: str, col: str) -> float:
    ranges = _file_key_ranges(path, col)
    return sum(hi - lo for lo, hi, _ in ranges) / len(ranges)


def test_zorder_narrows_both_dimensions(spark, tmp_path):
    """Lexicographic cluster([a, b]) leaves every file spanning b's full
    range (b-only predicates prune nothing); zorder(a, b) tiles the
    plane so per-file footer ranges are narrow on BOTH columns. The
    assertion compares the same physical quantity Spark's pushed-down
    filters evaluate — per-file min/max — across the two layouts."""
    from tests.conftest import SF_MED

    src = spark.read.parquet(f"{SF_MED}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    glob_a = src.agg(F.max("l_partkey") - F.min("l_partkey")).first()[0]
    glob_b = src.agg(F.max("l_suppkey") - F.min("l_suppkey")).first()[0]

    lex = ParquetTable(spark, str(tmp_path / "lex"))
    lex.overwrite(src.repartition(4))
    lex.cluster(["l_partkey", "l_suppkey"], target_files=16)

    zo = ParquetTable(spark, str(tmp_path / "zo"))
    zo.overwrite(src.repartition(4))
    zo.zorder("l_partkey", "l_suppkey", bits=8, target_files=16)

    # lexicographic: first column selective, second column useless
    assert _avg_width(str(tmp_path / "lex"), "l_partkey") < glob_a * 0.2
    assert _avg_width(str(tmp_path / "lex"), "l_suppkey") > glob_b * 0.8
    # z-order: BOTH columns' per-file ranges are a fraction of global
    assert _avg_width(str(tmp_path / "zo"), "l_partkey") < glob_a * 0.6
    assert _avg_width(str(tmp_path / "zo"), "l_suppkey") < glob_b * 0.6

    # content preserved and single-dimension filters still correct
    probe = src.agg(F.min("l_suppkey")).first()[0]
    got = zo.read().filter(F.col("l_suppkey") == probe).count()
    want = src.filter(F.col("l_suppkey") == probe).count()
    assert got == want and got >= 1
    assert zo.read().count() == src.count()


def test_zorder_guards(spark, tmp_path):
    import pytest as _pytest

    absent = ParquetTable(spark, str(tmp_path / "absent_z"))
    absent.zorder("a", "b")  # missing table: noop, no raise
    assert not absent.exists()

    part = ParquetTable(spark, str(tmp_path / "part_z"))
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "flag", F.col("o_orderkey") % 2
    )
    part.overwrite(src, partition_by=["flag"])
    with _pytest.raises(ValueError, match="hive-partitioned"):
        part.zorder("o_orderkey", "o_custkey")


def test_zorder_constant_dimension_degrades_to_single_key_sort(spark, tmp_path):
    """A constant column yields NULL from width_bucket's degenerate
    bounds; the verb must substitute bucket 0 so the rewrite still
    orders by the varying dimension instead of producing an all-NULL
    key (one giant range partition)."""
    t = ParquetTable(spark, str(tmp_path / "const_z"))
    src = spark.range(1000).select(
        F.col("id").alias("a"), F.lit(7).alias("b"), F.col("id").alias("v")
    )
    t.overwrite(src.repartition(4))
    t.zorder("a", "b", bits=4, target_files=4)
    ranges = _file_key_ranges(str(tmp_path / "const_z"), "a")
    assert len(ranges) == 4
    spans = sorted((lo, hi) for lo, hi, _ in ranges)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next, f"constant dim broke the a-ordering: {spans}"
    assert t.read().count() == 1000
