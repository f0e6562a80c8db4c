"""Commit-time change feeds (VersionedTable write_cdf=True) and the
`versioned_cdf` Structured Streaming source over them: feed contents
per verb, FULL/EMPTY markers, vacuum + purge retention, streaming
offsets/ordering, and the end-to-end stream-maintained rollup."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.versioned import VersionedTable


def _mk(spark, tmp_path, n=100):
    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"),
                       write_cdf=True)
    t.overwrite(spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ), cluster_by=["k"], target_files=4)
    return t


def _feed(df):
    return {
        (r["change_type"], r["k"], r["v"], r["_commit_version"])
        for r in df.collect()
    }


# -- write side ---------------------------------------------------------------
def test_merge_and_delete_write_row_feeds(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([(5, -5), (200, -200)], "k long, v long"), ["k"]
    )
    t.delete_where("k >= 90 and k < 93")
    got = _feed(t.changes_between(1))
    want = {("update", 5, -5, 2), ("insert", 200, -200, 2)} | {
        ("delete", k, 2 * k, 3) for k in (90, 91, 92)
    }
    assert got == want


def test_delete_keys_feed_and_empty_marker(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_keys(spark.createDataFrame([(7,), (9999,)], "k long"), ["k"])
    assert _feed(t.changes_between(1)) == {("delete", 7, 14, 2)}
    # a no-match delete is an EMPTY feed, not a missing one
    t.delete_where("k = 123456")
    assert _feed(t.changes_between(2)) == set()
    # checkpoint moves rows between files, values identical: empty feed
    t.checkpoint()
    assert _feed(t.changes_between(3)) == set()


def test_full_markers_refuse_and_ranges_before_them_still_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    t.overwrite(spark.range(3).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    ))  # v3: _CDF_FULL
    assert _feed(t.changes_between(1, 2)) == {("update", 5, -5, 2)}
    with pytest.raises(ValueError, match="wholesale"):
        t.changes_between(1)  # range crosses the overwrite
    t2 = VersionedTable(spark, t.path, write_cdf=True)
    t2.rollback(2)
    with pytest.raises(ValueError, match="wholesale"):
        t2.changes_between(3)


def test_changes_between_missing_feed_refuses(spark, tmp_path):
    t = VersionedTable(spark, os.path.join(str(tmp_path), "nocdf"))
    t.overwrite(spark.range(5).select(F.col("id").alias("k")))
    t.merge_upsert(spark.createDataFrame([(9,)], "k long"), ["k"])
    with pytest.raises(ValueError, match="no change feed"):
        VersionedTable(spark, t.path, write_cdf=True).changes_between(1)


def test_vacuum_reclaims_feeds_with_versions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    t.merge_upsert(spark.createDataFrame([(6, -6)], "k long, v long"), ["k"])
    t.vacuum(retain_last=1)
    assert not os.path.isdir(t._cdf_dir(2))
    assert os.path.isdir(t._cdf_dir(3))  # retained version keeps its feed
    # the committed-chain walk refuses as soon as a reclaimed manifest
    # makes the range unenumerable (loud, never a silent skip)
    with pytest.raises(ValueError, match="reclaimed by vacuum"):
        t.changes_between(1)


def test_purge_redacts_the_delete_feed(spark, tmp_path):
    """GDPR: the purge version's feed would otherwise retain the erased
    subject's OLD IMAGES on disk — it must become a _CDF_FULL marker."""
    import glob

    t = _mk(spark, tmp_path)
    t.purge_where("k < 10")
    v = t.latest_version()
    names = os.listdir(t._cdf_dir(v))
    assert "_CDF_FULL" in names
    assert not any(n.endswith(".parquet") for n in names)
    # and no parquet file anywhere under the table still holds k<10
    for f in glob.glob(os.path.join(t.path, "**", "*.parquet"),
                       recursive=True):
        import pyarrow.parquet as pq

        tbl = pq.read_table(f)
        if "k" in tbl.column_names:
            assert all(x is None or x >= 10 for x in tbl.column("k").to_pylist()), f
    with pytest.raises(ValueError, match="wholesale"):
        t.changes_between(v - 1)


def test_crash_orphan_feed_is_invisible_and_vacuumed(spark, tmp_path):
    """FAULT INJECTION: a crash between the feed STAGING write and the
    manifest CAS (_publish_manifest — since the create-exclusive commit
    protocol, feeds are staged to `_cdf/.tmp-*` and finalized to
    `_cdf/v<N>` only after the manifest rename) leaves staged feed
    residue no committed offset can reach; the commit never lands, the
    retry stages afresh and reuses the version number, and vacuum
    reclaims both the crashed writer's generation and the residue."""
    t = _mk(spark, tmp_path)
    real_publish = VersionedTable._publish_manifest

    def die_on_manifest(self, v, man):
        raise RuntimeError("crash after feed, before manifest")

    VersionedTable._publish_manifest = die_on_manifest
    try:
        with pytest.raises(RuntimeError, match="before manifest"):
            t.merge_upsert(
                spark.createDataFrame([(5, -5)], "k long, v long"), ["k"]
            )
    finally:
        VersionedTable._publish_manifest = real_publish
    cdf_root = os.path.join(t.path, "_cdf")
    residue = [n for n in os.listdir(cdf_root) if n.startswith(".tmp-")]
    assert residue                       # staged feed residue on disk
    assert not os.path.isdir(t._cdf_dir(2))  # nothing at the final name
    assert t.latest_version() == 1       # invisible: commit never landed
    # the retry re-allocates the orphan's version number (no manifest
    # was published) and commits cleanly
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    assert _feed(t.changes_between(1)) == {("update", 5, -5, 2)}
    res = t.vacuum(retain_last=2)
    assert res["dropped_files"] > 0  # the crashed writer's generation
    # staging residue left with it
    assert not [n for n in os.listdir(cdf_root) if n.startswith(".tmp-")]


# -- streaming source ---------------------------------------------------------
def _start_stream(spark, t, name, starting_version=1):
    from nomba_data_pipeline_spark.sources.versioned_stream import register

    register(spark)
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", t.path)
        .option("starting_version", str(starting_version))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"select * from {name}")


def test_stream_emits_feed_rows_with_versions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge_upsert(
        spark.createDataFrame([(5, -5), (200, -200)], "k long, v long"), ["k"]
    )
    t.delete_where("k = 7")
    got = _feed(_start_stream(spark, t, "vcdf_a"))
    assert got == {
        ("update", 5, -5, 2), ("insert", 200, -200, 2), ("delete", 7, 14, 3),
    }


def test_stream_checkpoint_resumes_from_committed_offset(spark, tmp_path):
    """Two availableNow runs over one checkpoint: the second run must
    emit ONLY the commits that landed in between — offsets are table
    versions carried in the stream checkpoint."""
    from nomba_data_pipeline_spark.sources.versioned_stream import register

    register(spark)
    t = _mk(spark, tmp_path)
    t.merge_upsert(spark.createDataFrame([(1, -1)], "k long, v long"), ["k"])
    ckpt = os.path.join(str(tmp_path), "ckpt")
    sink = os.path.join(str(tmp_path), "sink")

    def run_once():
        (
            spark.readStream.format("versioned_cdf")
            .option("path", t.path).option("starting_version", "1").load()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start().awaitTermination(180)
        )

    run_once()
    first = _feed(spark.read.parquet(sink))
    assert first == {("update", 1, -1, 2)}
    t.merge_upsert(spark.createDataFrame([(2, -2)], "k long, v long"), ["k"])
    run_once()
    both = _feed(spark.read.parquet(sink))
    assert both == {("update", 1, -1, 2), ("update", 2, -2, 3)}


def test_stream_fails_loudly_on_full_marker(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _mk(spark, tmp_path)
    t.overwrite(spark.range(2).select(F.col("id").alias("k"),
                                      F.lit(0).cast("long").alias("v")))
    with pytest.raises(StreamingQueryException, match="wholesale"):
        _start_stream(spark, t, "vcdf_full", starting_version=1)


def test_stream_maintains_agg_view_end_to_end(spark, tmp_path):
    """versioned writes -> persisted feed -> stream -> foreachBatch ->
    AggJoinView equals the declarative aggregate, including the delete
    retraction and the multi-commit per-version ordering (a key updated
    at one version and deleted at the next inside ONE micro-batch)."""
    from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView
    from nomba_data_pipeline_spark.operators.incremental_join import (
        JoinViewTable,
    )
    from nomba_data_pipeline_spark.streaming.microbatch import (
        run_agg_view_versioned_cdf_stream,
    )

    fact = spark.range(120).select(
        F.col("id").alias("fk"), (F.col("id") % 10).alias("dk"),
        (F.col("id") * 1.0).alias("amt"),
    )
    dim = spark.range(10).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    t = VersionedTable(spark, os.path.join(str(tmp_path), "fact_v"),
                       write_cdf=True)
    t.overwrite(fact)  # v1 (FULL — stream starts after it)
    v = JoinViewTable(
        spark, os.path.join(str(tmp_path), "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=4,
    )
    v.build(t.read(), dim)
    a = AggJoinView(
        spark, os.path.join(str(tmp_path), "agg"),
        view=v, group_keys=["grp"], measures=["amt"],
    )
    a.build()
    # v2: update fk=8 (dk 8 -> 1: bucket migration) + insert fk=500
    t.merge_upsert(spark.createDataFrame(
        [(8, 1, -8.0), (500, 2, 9.0)], "fk long, dk long, amt double"
    ), ["fk"])
    # v3: delete the row just updated at v2 PLUS an original row —
    # the same key appears twice across the batch's commits
    t.delete_keys(spark.createDataFrame([(8,), (11,)], "fk long"), ["fk"])

    run_agg_view_versioned_cdf_stream(
        spark, t.path, a.path, dim,
        checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
        starting_version=1,
    )
    final_fact = fact.filter("fk not in (8, 11)").unionByName(
        spark.createDataFrame([(500, 2, 9.0)], "fk long, dk long, amt double")
    )
    want = {
        (r["grp"], r["cnt"], r["s"])
        for r in final_fact.join(dim, "dk", "left").groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
            .cast("double").alias("s"),
        ).collect()
    }
    got = {
        (r["grp"], r["cnt"], r["sum_amt"])
        for r in a.result().collect()
    }
    assert got == want


# -- r13 code-review regressions ----------------------------------------------
def test_orphan_feed_from_crashed_commit_is_never_replayed(spark, tmp_path):
    """FAULT INJECTION (review): a crash AFTER the feed+manifest writes
    but BEFORE the pointer swap leaves an orphan _cdf/vN AND an orphan
    manifest vN; the next successful commit allocates PAST it (v+1,
    parent = old head). changes_between and the stream must walk the
    COMMITTED chain and never emit the abandoned commit's rows."""
    t = _mk(spark, tmp_path)
    real_write_json = VersionedTable._write_json

    def die_on_pointer(self, p, d):
        if p.endswith("_latest"):
            raise RuntimeError("crash before pointer swap")
        return real_write_json(self, p, d)

    VersionedTable._write_json = die_on_pointer
    try:
        with pytest.raises(RuntimeError, match="before pointer swap"):
            t.delete_where("k < 50")  # abandoned delete: orphan feed v2
    finally:
        VersionedTable._write_json = real_write_json
    assert os.path.isdir(t._cdf_dir(2)) and t.latest_version() == 1
    # next successful commit lands at v3 with parent 1
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), ["k"])
    assert t.latest_version() == 3 and t._manifest(3)["parent"] == 1
    # the orphan delete's old-image rows must NOT appear
    assert _feed(t.changes_between(1)) == {("update", 5, -5, 3)}
    # nor through the stream
    got = _feed(_start_stream(spark, t, "vcdf_orphan"))
    assert got == {("update", 5, -5, 3)}


def test_erase_subject_redacts_versioned_feed(spark, tmp_path):
    """REVIEW: erase_subject on a versioned_write_cdf fact must purge
    (vacuum + feed redaction), not leave the erased subject's old
    images in _cdf or a misleading missing-feed hole."""
    import glob

    from nomba_data_pipeline_spark.plans.runner import ModelSpec, PipelineRunner

    src = os.path.join(str(tmp_path), "src")
    wh = os.path.join(str(tmp_path), "wh")
    os.makedirs(src)
    spark.range(40).select(
        F.col("id").alias("txn_id"), (F.col("id") % 5).alias("user_id"),
        (F.col("id") * 1.0).alias("amt"), F.lit(1).alias("ver"),
    ).write.parquet(src + "/fact")

    def mk():
        r = PipelineRunner(spark, wh, src)
        r.register(ModelSpec(
            name="txns_v", fn=lambda s, d: s.read.parquet(src + "/fact"),
            materialization="versioned_incremental",
            upsert_key=["txn_id"], tracking_column="ver",
            versioned_write_cdf=True,
        ))
        return r

    mk().run()
    removed = mk().erase_subject([2], "er-vcdf")
    assert removed.get("txns_v", 0) == 8
    vt = VersionedTable(spark, os.path.join(wh, "txns_v"), write_cdf=True)
    assert vt.read().filter("user_id = 2").count() == 0
    # no parquet anywhere under the table (incl. _cdf) holds the subject
    import pyarrow.parquet as pq

    for f in glob.glob(os.path.join(vt.path, "**", "*.parquet"),
                       recursive=True):
        tbl = pq.read_table(f)
        if "user_id" in tbl.column_names:
            assert 2 not in set(tbl.column("user_id").to_pylist()), f
    # the purge version's feed is a FULL marker, not a row feed
    names = os.listdir(vt._cdf_dir(vt.latest_version()))
    assert "_CDF_FULL" in names


def test_unreplayable_cursor_rebuilds_instead_of_failing_forever(spark, tmp_path):
    """REVIEW: when vacuum reclaimed the sidecar's cursor version, the
    mart run must pay one rebuild, not raise on every invocation."""
    from tests.test_versioned_cdf_view import _mk_runner, _seed_sources

    src = os.path.join(str(tmp_path), "src")
    wh = os.path.join(str(tmp_path), "wh")
    fact, dim = _seed_sources(spark, src)
    _mk_runner(spark, src, wh, "join_view").run()
    vt = VersionedTable(spark, os.path.join(wh, "f_v"))
    vt.delete_where("fk < 5")       # v2
    vt.checkpoint()                 # v3
    vt.vacuum(retain_last=1)        # reclaims v1 (the mart's cursor)
    r2 = _mk_runner(spark, src, wh, "join_view")
    r2.run()                        # must not raise
    got = {(r["fk"], r["grp"]) for r in r2.read_model("mart").collect()}
    want = {
        (r["fk"], r["grp"])
        for r in fact.filter("fk >= 5").join(dim, "dk", "left").collect()
    }
    assert got == want


def test_apply_fact_cdf_refuses_unknown_change_type(spark, tmp_path):
    from nomba_data_pipeline_spark.operators.incremental_join import (
        JoinViewTable,
    )

    fact = spark.range(20).select(
        F.col("id").alias("fk"), (F.col("id") % 4).alias("dk"),
        (F.col("id") * 1.0).alias("amt"),
    )
    dim = spark.range(4).select(
        F.col("id").alias("dk"), F.lit("g").alias("grp")
    )
    v = JoinViewTable(
        spark, os.path.join(str(tmp_path), "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=2,
    )
    v.build(fact, dim)
    bad = spark.createDataFrame(
        [("DELETE", 3, 3, 0.0)], "change_type string, fk long, dk long, amt double"
    )
    with pytest.raises(ValueError, match="unrecognized"):
        v.apply_fact_cdf(bad, dim)
    assert v.read().count() == 20  # nothing was half-applied


def test_delta_stat_str_normalizes_session_timezone(spark):
    """REVIEW: delta key bounds collected under a non-UTC session must
    render UTC-naive like the manifest stats, or pruning could skip
    files that hold the delta's keys."""
    import datetime

    from nomba_data_pipeline_spark.operators.versioned import VersionedTable

    t = VersionedTable(spark, "/tmp/never-written-tz-probe")
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = t._delta_stat_str(
            datetime.datetime(2020, 6, 1, 12, 0, 0), "timestamp"
        )
        assert got == "2020-06-01 16:00:00"  # EDT is UTC-4
        # timestamp_ntz is wall time on both sides: unchanged
        got2 = t._delta_stat_str(
            datetime.datetime(2020, 6, 1, 12, 0, 0), "timestamp_ntz"
        )
        assert got2 == "2020-06-01 12:00:00"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_predicate_bounds_review_hardening():
    from nomba_data_pipeline_spark.operators.versioned import VersionedTable as VT

    dt = {"k": "bigint", "ts": "timestamp", "note": "string"}
    # 'and' INSIDE a string literal must not yield phantom bounds
    assert VT._predicate_bounds(
        "note = 'x and k > 100 and y' and k < 5", dt
    ) == {"k": (None, "5")}
    # date-grained literal against a timestamp column pads to midnight
    assert VT._predicate_bounds("ts <= date'2020-01-01'", dt) == {
        "ts": (None, "2020-01-01 00:00:00")
    }
    assert VT._predicate_bounds("ts >= '2020-01-01'", dt) == {
        "ts": ("2020-01-01 00:00:00", None)
    }
    # 'or' inside a literal does not disable extraction of real bounds
    assert VT._predicate_bounds("note = 'a or b' and k >= 3", dt) == {
        "k": ("3", None)
    }
    # unbalanced quote: refuse
    assert VT._predicate_bounds("note = 'oops and k > 1", dt) == {}


def test_delete_where_date_boundary_rows_are_deleted(spark, tmp_path):
    """REVIEW: midnight-boundary rows must not survive a pruned delete."""
    import datetime

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tsb"),
                       write_cdf=False)
    t.overwrite(
        spark.createDataFrame(
            [(i, datetime.datetime(2020, 1, 1 + i // 4, 6 * (i % 4)))
             for i in range(24)],
            "k long, ts timestamp",
        ),
        cluster_by=["ts"], target_files=6,
    )
    t.delete_where("ts <= date'2020-01-02'")
    # rows at exactly 2020-01-02 00:00:00 are gone too
    assert t.read().filter("ts <= timestamp'2020-01-02 00:00:00'").count() == 0
    assert t.read().count() == 24 - 5  # 4 on day 1 + the day-2 midnight row


def test_stream_to_stream_chain_through_versioned_table(spark, tmp_path):
    """STREAM-TO-STREAM composition with the versioned table as the
    durable boundary: file-source stream -> run_versioned_merge_stream
    (txn-idempotent commits, write_cdf=True) -> versioned_cdf stream ->
    AggJoinView. The rollup equals the declarative aggregate of
    everything ingested, across TWO drain cycles."""
    from pyspark.sql import types as T

    from nomba_data_pipeline_spark.operators.agg_join_view import AggJoinView
    from nomba_data_pipeline_spark.operators.incremental_join import (
        JoinViewTable,
    )
    from nomba_data_pipeline_spark.streaming.microbatch import (
        run_agg_view_versioned_cdf_stream,
        run_versioned_merge_stream,
    )

    root = str(tmp_path)
    src = os.path.join(root, "incoming")
    os.makedirs(src)
    schema = T.StructType([
        T.StructField("fk", T.LongType()),
        T.StructField("dk", T.LongType()),
        T.StructField("amt", T.DoubleType()),
    ])
    dim = spark.range(8).select(
        F.col("id").alias("dk"),
        F.concat(F.lit("g"), (F.col("id") % 2).cast("string")).alias("grp"),
    )
    b1 = spark.range(40).select(
        F.col("id").alias("fk"), (F.col("id") % 8).alias("dk"),
        (F.col("id") * 1.0).alias("amt"),
    )
    b1.write.mode("append").parquet(src)

    t = VersionedTable(spark, os.path.join(root, "fact_v"), write_cdf=True)
    t.overwrite(b1.limit(0))  # empty v1 (FULL marker — stream starts past it)

    def drain():
        run_versioned_merge_stream(
            spark, src, schema, t.path, ["fk"],
            checkpoint_dir=os.path.join(root, "ckpt_in"),
            app="ingest", write_cdf=True,
        )
        run_agg_view_versioned_cdf_stream(
            spark, t.path, a.path, dim,
            checkpoint_dir=os.path.join(root, "ckpt_out"),
            starting_version=1,
        )

    run_versioned_merge_stream(
        spark, src, schema, t.path, ["fk"],
        checkpoint_dir=os.path.join(root, "ckpt_in"),
        app="ingest", write_cdf=True,
    )  # v2: batch1 ingested
    v = JoinViewTable(
        spark, os.path.join(root, "view"),
        fact_key=["fk"], dim_key="dk", dim_cols=["grp"], n_buckets=4,
    )
    v.build(t.read(), dim)
    a = AggJoinView(
        spark, os.path.join(root, "agg"),
        view=v, group_keys=["grp"], measures=["amt"],
    )
    a.build()
    # downstream starts at v1: re-applying the already-built v2 feed is
    # an idempotent keyed upsert — the replay-convergence contract
    drain()
    expect1 = {
        (r["grp"], r["cnt"], r["s"])
        for r in b1.join(dim, "dk", "left").groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
            .cast("double").alias("s"),
        ).collect()
    }
    got1 = {(r["grp"], r["cnt"], r["sum_amt"]) for r in a.result().collect()}
    assert got1 == expect1
    # second cycle: late corrections land, both streams resume off
    # their checkpoints and the rollup tracks
    b2 = spark.createDataFrame(
        [(5, 1, -50.0), (100, 2, 7.0)], "fk long, dk long, amt double"
    )
    b2.write.mode("append").parquet(src)
    drain()
    final = b1.filter("fk <> 5").unionByName(b2)
    expect2 = {
        (r["grp"], r["cnt"], r["s"])
        for r in final.join(dim, "dk", "left").groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("amt").cast("decimal(38,4)")), 2)
            .cast("double").alias("s"),
        ).collect()
    }
    got2 = {(r["grp"], r["cnt"], r["sum_amt"]) for r in a.result().collect()}
    assert got2 == expect2


def test_write_cdf_is_a_table_property_not_a_handle_flag(spark, tmp_path):
    """REVIEW r13-2: once a table commits with write_cdf=True, EVERY
    later writer keeps the feed going — a flagless ops handle must not
    punch a permanent hole that kills downstream streams."""
    t = _mk(spark, tmp_path)  # write_cdf=True
    flagless = VersionedTable(spark, t.path)  # default write_cdf=False
    flagless.merge_upsert(
        spark.createDataFrame([(5, -5)], "k long, v long"), ["k"]
    )
    flagless.delete_where("k = 7")
    # feeds exist for BOTH flagless commits
    assert _feed(t.changes_between(1)) == {
        ("update", 5, -5, 2), ("delete", 7, 14, 3),
    }
    got = _feed(_start_stream(spark, t, "vcdf_prop"))
    assert got == {("update", 5, -5, 2), ("delete", 7, 14, 3)}
    # purge through the flagless handle still redacts its feed
    flagless.purge_where("k < 3")
    names = os.listdir(t._cdf_dir(flagless.latest_version()))
    assert "_CDF_FULL" in names


def test_stream_arrow_read_matches_changes_between_on_rich_types(spark, tmp_path):
    """The stream reads feed files through Arrow only. Over an
    overwrite, an upsert, a delete and a later column add, map,
    array<timestamp>, nested struct, decimal, date, timestamp and
    timestamp_ntz columns stream exactly what changes_between returns,
    and the added column streams NULL for feeds written before it."""

    def typed(ids, bump, note=None):
        df = spark.createDataFrame([(i,) for i in ids], "k long").selectExpr(
            "k",
            f"map('x', cast(k as int), 'b', {bump}) as m",
            f"array(timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, cast(k as int)),"
            f" timestamp'2024-06-01 08:30:00' + make_interval(0, 0, 0, 0, {bump})) as tsa",
            f"named_struct('a', cast(k as int) + {bump}, 'inner',"
            " named_struct('s', concat('s', k), 't', timestamp'2024-03-01 12:00:00')) as st",
            f"cast(k * 1.25 + {bump} as decimal(12,2)) as amt",
            f"date_add(date'2024-01-01', cast(k as int) + {bump}) as d",
            f"timestamp'2024-01-01 10:00:00' + make_interval(0, 0, 0, 0, cast(k as int), {bump}) as ts",
            f"timestamp_ntz'2024-01-01 10:00:00' + make_interval(0, 0, 0, 0, 0, {bump}) as ntz",
        )
        return df if note is None else df.withColumn("note", F.lit(note))

    t = VersionedTable(spark, os.path.join(str(tmp_path), "tbl"), write_cdf=True)
    t.overwrite(typed(range(6), 0).coalesce(1))            # v1
    t.merge_upsert(typed([2, 3, 10], 7), ["k"])            # v2
    t.delete_where("k = 4")                                 # v3
    assert t.evolve_schema_to(typed([0], 0, note="n")) == ["note"]  # v4
    t.merge_upsert(typed([5], 9, note="late"), ["k"])      # v5

    def as_json(df):
        cols = sorted(df.columns)
        return sorted(
            r[0] for r in df.select(F.to_json(F.struct(*cols))).collect()
        )

    streamed = _start_stream(spark, t, "vcdf_rich_types")
    want = t.changes_between(1)
    assert sorted(streamed.columns) == sorted(want.columns)
    assert as_json(streamed) == as_json(want)
    assert len(as_json(streamed)) == 5  # 2 updates + 1 insert, 1 delete, 1 update
    notes = {(r["_commit_version"], r["k"]): r["note"]
             for r in streamed.select("_commit_version", "k", "note").collect()}
    assert notes == {(2, 2): None, (2, 3): None, (2, 10): None,
                     (3, 4): None, (5, 5): "late"}
