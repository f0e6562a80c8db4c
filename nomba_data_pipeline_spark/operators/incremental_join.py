"""Incremental JOIN-view maintenance (IVM for enrichment joins).

The reference's documented remedy for a dim attribute change reaching
already-loaded fact rows is a FULL REFRESH of the downstream models
(dbt --full-refresh; see plans/runner.py:full_refresh and the
dbt-parity NOTE in plans/pipeline.py — the reference rebuilds
fact_savings_transaction from scratch for the same reason, its dbt
models re-join staging on every run). At 100 TB a dim tweak that
rescans the fact table is the dominant maintenance cost, so this
module keeps a materialized `fact LEFT JOIN dim` view up to date by
delta propagation instead:

    Δ(F ⋈ D) = ΔF ⋈ D_current   (fact delta: re-enrich + upsert)
             ∪ F ⋈ ΔD           (dim delta: patch affected view rows)

Physical layout is the whole trick: the view is hive-partitioned by a
BUCKET OF THE DIM KEY (`__dim_bucket = pmod(xxhash64(dim_key), n)`),
so a dim delta's footprint is exactly the partitions its keys hash
into — the rewrite reads and swaps only those directories (dynamic
partition overwrite), never the view. Cost model:
  * fact delta: O(|ΔF| join against D, broadcast in steady-state CDC)
    + the partitioned merge's O(touched buckets) rewrite — the same
    bound ParquetTable.merge_upsert already provides, including
    key-migration (a fact row whose dim key CHANGES moves buckets;
    the merge rewrites both the old and new holder partitions).
  * dim delta: O(buckets hit by |ΔD| keys) read + rewrite, each bucket
    ~ |F| / n_buckets rows. Size n_buckets so a bucket is a healthy
    partition (~128 MB-1 GB); a 100-row dim patch then costs ~100
    partition rewrites max, independent of fact size.
  * full refresh (the thing replaced): O(|F| ⋈ |D|).

Semantics and limits (stated, not hidden):
- LEFT join views: every fact row appears exactly once; fact rows with
  no dim match carry NULL dim attributes and are patched if the dim
  key later arrives (the dim delta rewrites their bucket like any
  other).
- Dim deltas are UPSERTS (attribute changes + late dim arrivals). Dim
  DELETES are modeled as explicit tombstones — `retire_dim_keys`
  builds a full-replacement delta with NULL enrichment attributes and
  pushes it through the same bucketed rewrite, so retiring a key costs
  O(touched buckets) like any other patch (fact rows keep their join
  key value: that column belongs to the fact side).
- The dim delta must carry FULL replacement rows for its keys (same
  dim columns the view was built with) — partial-column patches would
  silently null the others, so apply_dim_delta refuses them.
- NULL dim keys bucket deterministically (coalesced sentinel before
  hashing) so null-keyed fact rows live in one ordinary partition
  instead of Hive's default-partition escape hatch.
- COMPOSITE dim keys (pass a list, e.g. ["region", "tier"]) hash every
  sentinel-coalesced component into the bucket and join/patch on the
  full tuple; a NULL in ANY component is refused (SQL left-join
  semantics can never match it). Single-column keys keep the identical
  hash and sidecar bytes as before.

Star/snowflake schemas CHAIN views instead of widening one: a single
physical layout can only bucket by ONE dim key, so `F ⋈ D1 ⋈ D2` is
two views — view1 = F⋈D1 bucketed by D1's key, view2 = view1⋈D2
bucketed by D2's key. A D1 patch then propagates as: patch view1
(O(its buckets)), extract EXACTLY the changed rows with a
bucket-pruned read (`rows_for_dim_keys`), and upsert them into view2
as an ordinary fact delta (O(the buckets their D2 keys hash into) —
including D2-key MIGRATION when the patch changed which D2 row a fact
joins, e.g. an order reassigned to another customer). `chain_dim_patch`
packages the three steps; total cost stays O(touched buckets) at every
level, never O(F⋈D).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.merge import (
    ParquetTable,
    _semi_anti_null_safe,
)
from nomba_data_pipeline_spark.operators.versioned import (
    read_json_sidecar,
    write_json_sidecar,
)

_BUCKET = "__dim_bucket"


def _key_cols(dim_key) -> list[str]:
    """Normalize the dim key: a plain string (the common case) or a
    list of columns for COMPOSITE dim keys (e.g. (country, date))."""
    return [dim_key] if isinstance(dim_key, str) else list(dim_key)


def _with_bucket(df: DataFrame, dim_key, n_buckets: int) -> DataFrame:
    # coalesce before hashing: xxhash64 skips NULL inputs (yielding the
    # seed), which would silently fold null keys into whatever bucket
    # the seed hashes to — an explicit sentinel keeps the intent visible
    # and survives any future change to null-hashing semantics.
    # Composite keys hash every component (each sentinel-coalesced so
    # (NULL,'a') and ('a',NULL) land in distinct buckets); the
    # single-column form produces the identical hash as before, so
    # existing views' bucket assignments are unchanged.
    keys = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00<null-dim-key>"))
        for c in _key_cols(dim_key)
    ]
    return df.withColumn(
        _BUCKET, F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
    )


def _any_null(cols: list[str]):
    """True when ANY component of a (possibly composite) key is NULL —
    a row SQL left-join semantics can never match."""
    cond = F.col(cols[0]).isNull()
    for c in cols[1:]:
        cond = cond | F.col(c).isNull()
    return cond


class JoinViewTable:
    """A materialized `fact LEFT JOIN dim` parquet view with delta
    maintenance. `dim_cols` are the enrichment columns owned by the dim
    side (everything else in the view schema belongs to the fact)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        fact_key: list[str],
        dim_key,  # str, or list[str] for composite dim keys
        dim_cols: list[str],
        n_buckets: int = 32,
    ):
        self._keys = _key_cols(dim_key)
        if any(k in dim_cols for k in self._keys):
            raise ValueError("dim_key is the join column, not an enrichment column")
        self.spark = spark
        self.path = path
        self.fact_key = list(fact_key)
        # stored as given (str stays str) so existing views' parameter
        # sidecars keep validating byte-for-byte
        self.dim_key = dim_key
        self.dim_cols = list(dim_cols)
        self.n_buckets = n_buckets
        self._table = ParquetTable(spark, path)
        self._meta_checked = False

    # -- parameter sidecar ---------------------------------------------
    # The bucket layout is part of the VIEW's identity: a maintenance
    # call constructed with a different n_buckets (or keys/cols) would
    # compute bucket targets under the wrong modulus and the scoped
    # rewrite would silently miss rows. build() persists the parameters
    # in a SIBLING sidecar (outside the data dir — every writer here
    # swaps the data dir whole) and every apply validates against it.
    def _meta_path(self) -> str:
        return self.path + "._view_meta"

    def _meta_dict(self) -> dict:
        return {
            "fact_key": self.fact_key,
            "dim_key": self.dim_key,
            "dim_cols": self.dim_cols,
            "n_buckets": self.n_buckets,
        }

    def _write_meta(self) -> None:
        # temp+atomic-swap semantics, not a plain parquet overwrite:
        # evolve_dim_cols/rebucket rewrite this sidecar after build,
        # and a crash mid-write must leave the PREVIOUS contract
        # readable (rebucket's resume path reads it back). pyarrow-fast
        # on local FS, Spark writer otherwise (r15 metadata fast path).
        write_json_sidecar(self.spark, self._meta_path(), self._meta_dict(), col="meta")

    def _intent_path(self) -> str:
        # presence = a rebucket() was interrupted between its data swap
        # and sidecar update; bucket-scoped maintenance must not run
        # until the rewrite completes (the stored modulus may not match
        # the on-disk layout, silently mis-scoping every rewrite)
        return self._meta_path() + ".rebucket-intent"

    def _validate_meta(self) -> None:
        if self._meta_checked:
            return
        fs, ip = self._table._fs_and_path(self._intent_path())
        if fs.exists(ip):
            raise ValueError(
                f"join view {self.path} has an interrupted rebucket() — the "
                "stored bucket modulus may not match the on-disk layout; "
                "call rebucket(n_buckets) again to complete it"
            )
        fs, jp = self._table._fs_and_path(self._meta_path())
        if fs.exists(jp):
            stored = read_json_sidecar(self.spark, self._meta_path(), col="meta")
            if stored != self._meta_dict():
                raise ValueError(
                    f"join view {self.path} was built with {stored}, but this "
                    f"instance carries {self._meta_dict()} — a mismatched "
                    "bucket layout would silently mis-scope the rewrite"
                )
        self._meta_checked = True

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "JoinViewTable":
        """Reconstruct a view handle from its persisted parameter
        sidecar — the safe entry point for maintenance jobs and the CLI
        (no chance of re-supplying a divergent layout)."""
        meta = read_json_sidecar(spark, path + "._view_meta", col="meta")
        return cls(
            spark, path,
            fact_key=meta["fact_key"], dim_key=meta["dim_key"],
            dim_cols=meta["dim_cols"], n_buckets=meta["n_buckets"],
        )

    # -- build ---------------------------------------------------------
    def build(self, fact: DataFrame, dim: DataFrame) -> None:
        """Full build (the one O(F ⋈ D) pass): left-enrich and write
        partitioned by the dim-key bucket; persists the parameter
        sidecar that later maintenance validates against."""
        view = _with_bucket(self._enrich(fact, dim), self.dim_key, self.n_buckets)
        self._table.overwrite(view, partition_by=[_BUCKET])
        self._write_meta()
        # a full build supersedes any interrupted rebucket: data and
        # sidecar are consistent again, so clear the refusal marker
        fs, ip = self._table._fs_and_path(self._intent_path())
        if fs.exists(ip):
            fs.delete(ip, False)
        self._meta_checked = True

    def _enrich(self, fact: DataFrame, dim: DataFrame) -> DataFrame:
        d = dim.select(*self._keys, *self.dim_cols)
        return fact.join(d, on=self._keys, how="left")

    def read(self) -> DataFrame:
        return self._table.read().drop(_BUCKET)

    # -- fact delta: ΔF ⋈ D, then keyed upsert -------------------------
    def apply_fact_delta(self, fact_delta: DataFrame, dim: DataFrame) -> list[int]:
        """Re-enrich the delta against the CURRENT dim and merge by fact
        key. Steady-state CDC broadcasts the delta through both the join
        and the merge's anti-join; the partitioned merge rewrites only
        touched buckets and handles dim-key migration (old + new holder
        partitions both rewritten). Returns the touched bucket ids —
        downstream materializations (AggJoinView) scope their refresh
        by them."""
        if not self._table.exists():
            # without this guard merge_upsert's create-when-absent branch
            # would bootstrap the table WITHOUT the parameter sidecar,
            # leaving open() broken and _validate_meta permanently
            # vacuous (a missing sidecar validates as "nothing stored")
            raise ValueError(
                f"join view {self.path} not built yet — call build() first"
            )
        self._validate_meta()
        enriched = _with_bucket(
            self._enrich(fact_delta, dim), self.dim_key, self.n_buckets
        )
        affected = self._table.merge_upsert(
            enriched, self.fact_key, partition_by=[_BUCKET]
        )
        return sorted(int(r[_BUCKET]) for r in (affected or []))

    # -- dim delta: patch affected buckets only ------------------------
    def apply_dim_delta(self, dim_delta: DataFrame) -> list[int]:
        """Rewrite the dim attributes of every view row whose dim key
        appears in the delta — partition-scoped: only the buckets the
        delta's keys hash into are read and swapped. The delta must
        carry full replacement rows (dim_key + every dim_col).
        Returns the touched bucket ids."""
        missing = {*self._keys, *self.dim_cols} - set(dim_delta.columns)
        if missing:
            raise ValueError(
                f"dim delta must carry full replacement rows; missing {sorted(missing)}"
            )
        if not self._table.exists():
            raise ValueError(f"join view {self.path} not built yet")
        self._validate_meta()
        d = _with_bucket(
            dim_delta.select(*self._keys, *self.dim_cols),
            self.dim_key,
            self.n_buckets,
        ).cache()
        try:
            stats = d.groupBy().agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(*self._keys).alias("n_keys"),
                F.collect_set(_BUCKET).alias("buckets"),
                F.sum(
                    _any_null(self._keys).cast("int")
                ).alias("n_null"),
            ).first()
            n_patch, buckets = (stats["n"], list(stats["buckets"])) if stats else (0, [])
            if not buckets:
                return []
            # a duplicate-key delta (unsquashed CDC batch) would fan
            # every matching fact row out through the left join below,
            # silently multiplying view rows — refuse loudly, in the
            # same one-pass aggregate as the other precondition checks
            # (countDistinct ignores NULL keys; those are counted — and
            # refused — separately via n_null)
            if stats["n_keys"] + (stats["n_null"] or 0) != n_patch:
                raise ValueError(
                    "dim delta has duplicate join keys: "
                    f"{n_patch} rows over {stats['n_keys']} distinct keys — "
                    "squash the CDC batch to one replacement row per key "
                    "(e.g. keep-latest by a tracking column) before applying"
                )
            # a NULL-keyed dim delta row can never have joined anything
            # (the view's left join is null-unsafe, matching SQL
            # semantics), so there is nothing it could patch — refuse
            # rather than silently drop it from the rewrite (checked in
            # the same one-pass aggregate as the bucket/size stats)
            if (stats["n_null"] or 0) > 0:
                raise ValueError(
                    "dim delta has NULL join keys: a NULL key never "
                    "matches any fact row under left-join semantics, so "
                    "it cannot patch the view"
                )
            # A patch approaching dim size is a REBUILD wearing a delta
            # costume — the broadcast hint below would ship it to every
            # task and the "scoped" rewrite would touch every bucket
            # anyway. Let Catalyst/AQE pick the join strategy for big
            # patches; keep the hint for the CDC-sized common case
            # (dim stats are often missing on arbitrary delta lineage,
            # where Spark's size estimate would wrongly pick SMJ).
            hint = F.broadcast if n_patch <= 1_000_000 else (lambda df: df)
            # partition-pruned read of ONLY the affected buckets; the
            # swap below replaces exactly these directories
            view = self._table.read().filter(F.col(_BUCKET).isin(buckets))
            patch = d.drop(_BUCKET)
            keys = patch.select(*self._keys)
            # split-and-reassemble inside the affected buckets: rows
            # whose key is in the delta get re-enriched from the patch
            # (including previously-unmatched rows whose dim row arrived
            # late — their NULL attrs become real ones); the rest keep
            # stored attributes
            hit = (
                view.join(hint(keys), self._keys, "semi")
                .drop(*self.dim_cols)
                .join(hint(patch), self._keys, "left")
            )
            miss = view.join(hint(keys), self._keys, "anti")
            new_content = miss.unionByName(hit.select(*miss.columns))
            self._table.insert_overwrite_partitions(new_content, [_BUCKET])
            return sorted(int(b) for b in buckets)
        finally:
            d.unpersist()

    # -- chained (star/snowflake) propagation ---------------------------
    def rows_for_dim_keys(self, keys: DataFrame) -> DataFrame:
        """Partition-pruned read of the view rows whose dim key appears
        in `keys` — the delta-extraction half of CHAINING views into a
        star schema (module docstring): after a dim patch on this view,
        these exact rows are the FACT delta for a downstream view keyed
        on another dim. Reads only the buckets the keys hash into (the
        same pruning apply_dim_delta uses), never the view; the key set
        broadcasts when CDC-sized, same policy as the patch path."""
        self._validate_meta()
        k = _with_bucket(
            keys.select(*self._keys).distinct(), self.dim_key, self.n_buckets
        ).cache()
        try:
            stats = k.groupBy().agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_set(_BUCKET).alias("buckets"),
            ).first()
            n_keys, buckets = (stats["n"], list(stats["buckets"])) if stats else (0, [])
            if not buckets:
                return self.read().limit(0)
            hint = F.broadcast if n_keys <= 1_000_000 else (lambda df: df)
            view = self._table.read().filter(F.col(_BUCKET).isin(buckets))
            return view.join(
                hint(k.drop(_BUCKET)), self._keys, "semi"
            ).drop(_BUCKET)
        finally:
            k.unpersist()

    # -- fact delete / change-data-feed ----------------------------------
    def delete_fact_keys(self, keys: DataFrame) -> list[int]:
        """FACT-row delete by fact key, partition-scoped: one
        column-pruned semi-join locates the buckets currently holding
        the keys (the same scan shape apply_fact_delta's merge uses);
        only those bucket directories are rewritten with the surviving
        rows — a bucket emptied entirely is deleted by the swap. This
        is the tombstone half a versioned fact's change feed needs:
        diff_versions emits `delete` rows when retention / GDPR /
        correction batches remove fact rows, and without this verb a
        maintained view would retain them forever. Returns the touched
        bucket ids."""
        if not self._table.exists():
            raise ValueError(f"join view {self.path} not built yet")
        self._validate_meta()
        k = keys.select(*self.fact_key).distinct()
        cur = self._table.read()
        buckets = sorted(
            int(r[_BUCKET])
            for r in _semi_anti_null_safe(cur, k, self.fact_key, "left_semi")
            .select(_BUCKET).distinct().collect()
        )
        if not buckets:
            return []
        survivors = _semi_anti_null_safe(
            cur.filter(F.col(_BUCKET).isin(buckets)), k,
            self.fact_key, "left_anti",
        )
        self._table._stage_and_swap_partitions(
            survivors, [_BUCKET], [{_BUCKET: b} for b in buckets]
        )
        return buckets

    def apply_fact_cdf(self, cdf: DataFrame, dim: DataFrame) -> list[int]:
        """Maintain the view from a fact CHANGE-DATA-FEED frame — one
        `change_type` column ('insert' | 'update' | 'delete') plus full
        fact rows, exactly the shape VersionedTable.diff_versions
        emits. insert/update rows re-enrich against the CURRENT dim and
        upsert (apply_fact_delta); delete rows remove their fact keys
        (delete_fact_keys). The diff contract guarantees a key appears
        at most once per feed, so the two legs touch disjoint keys and
        application order cannot change the result. Returns the union
        of touched bucket ids."""
        if "change_type" not in cdf.columns:
            raise ValueError(
                "fact CDF must carry a change_type column "
                "(insert | update | delete)"
            )
        cdf = cdf.cache()
        try:
            # one pass sizes both legs AND refuses unknown change_type
            # values — silently dropping a 'DELETE'/'upsert' row from an
            # external producer would lose the change forever
            stats = cdf.groupBy().agg(
                F.sum(F.col("change_type").isin("insert", "update")
                      .cast("long")).alias("ups"),
                F.sum((F.col("change_type") == "delete").cast("long"))
                .alias("dels"),
                F.sum((~F.col("change_type")
                       .isin("insert", "update", "delete")).cast("long"))
                .alias("bad"),
            ).first()
            ups, dels, bad = (
                (stats["ups"] or 0, stats["dels"] or 0, stats["bad"] or 0)
                if stats else (0, 0, 0)
            )
            if bad:
                raise ValueError(
                    f"fact CDF has {bad} rows with unrecognized "
                    "change_type (expected insert | update | delete)"
                )
            touched: set[int] = set()
            if ups:
                touched.update(self.apply_fact_delta(
                    cdf.filter(F.col("change_type").isin("insert", "update"))
                    .drop("change_type"),
                    dim,
                ))
            if dels:
                touched.update(self.delete_fact_keys(
                    cdf.filter(F.col("change_type") == "delete")
                    .select(*self.fact_key)
                ))
            return sorted(touched)
        finally:
            cdf.unpersist()

    # -- dim delete: tombstone the enrichment columns -------------------
    def retire_dim_keys(self, keys: DataFrame) -> list[int]:
        """Dim-DELETE as an explicit tombstone update: every view row
        joined to a retired key gets its enrichment attributes nulled
        (back to the never-matched left-join shape), via the same
        bucketed O(touched buckets) rewrite as apply_dim_delta — a
        retired key never triggers a view scan. The fact-side join key
        column keeps its value (it belongs to the fact row); if the key
        is later re-inserted, a normal apply_dim_delta re-enriches the
        same buckets. `keys` needs only the dim_key column; duplicates
        are squashed here (a delete list is a set by nature). Returns
        the touched bucket ids, like apply_dim_delta."""
        if not self._table.exists():
            raise ValueError(f"join view {self.path} not built yet")
        self._validate_meta()
        types = {f.name: f.dataType for f in self._table.read().schema.fields}
        tomb = (
            keys.select(*self._keys)
            .distinct()
            .select(
                *[F.col(k) for k in self._keys],
                *[F.lit(None).cast(types[c]).alias(c) for c in self.dim_cols],
            )
        )
        return self.apply_dim_delta(tomb)

    # -- lifecycle evolution --------------------------------------------
    def evolve_dim_cols(self, dim_sample: DataFrame) -> list[str]:
        """Opt-in schema evolution for the DIM side — the join-view
        analogue of ParquetTable.widen_to (operators/merge.py:widen_to):
        add the dim's NEW enrichment columns to the view as NULL-filled
        fields (one bucketed O(view) rewrite on the introducing batch,
        layout preserved) and update the parameter sidecar so later
        patches carry them. Without this verb, `dim_cols` are frozen at
        build and apply_dim_delta refuses partial-column patches, so a
        dim gaining a column forced a full O(F⋈D) rebuild. `dim_sample`
        is any frame carrying the evolved dim schema (the dim itself or
        a delta); columns already tracked are ignored, VOID-typed
        (all-NULL, no concrete type) columns are skipped until a batch
        materializes a type, and a new dim column that collides with a
        FACT-side column is refused (the view row would be ambiguous).
        Existing rows hold NULL for the new columns until a dim delta
        (e.g. the full evolved dim) backfills their buckets through the
        ordinary apply_dim_delta path. Returns the added column names."""
        from pyspark.sql.types import NullType

        if not self._table.exists():
            raise ValueError(f"join view {self.path} not built yet")
        self._validate_meta()
        cur = self._table.read()
        tracked = {*self._keys, *self.dim_cols, _BUCKET}
        new_fields = []
        for f in dim_sample.schema.fields:
            if f.name in tracked or isinstance(f.dataType, NullType):
                continue
            if f.name in cur.columns:
                raise ValueError(
                    f"dim column {f.name!r} collides with a fact-side view "
                    "column — rename it on the dim before evolving"
                )
            new_fields.append(f)
        if not new_fields:
            return []
        widened = cur
        for f in new_fields:
            widened = widened.withColumn(f.name, F.lit(None).cast(f.dataType))
        self._table.overwrite(widened, partition_by=[_BUCKET])
        # sidecar update AFTER the data rewrite: a crash in between
        # leaves the old contract with NULL-filled extra columns at
        # rest — apply_dim_delta keeps refusing the new column until
        # the (idempotent) evolve is re-run, never a silent mis-scope
        self.dim_cols = self.dim_cols + [f.name for f in new_fields]
        self._write_meta()
        return [f.name for f in new_fields]

    def rebucket(self, n_buckets: int) -> None:
        """Change the bucket modulus: one O(view) re-hash rewrite + a
        sidecar update — the maintenance verb for a view that outgrew
        (or over-provisioned) its build-time `n_buckets` (a bucket
        should stay a healthy ~128 MB-1 GB partition; a view that grew
        100× has buckets 100× that, and every patch pays it). After it,
        patch / tombstone / fact-delta are O(touched buckets) under the
        new modulus. Crash-safe via an intent marker: the marker is
        written first and removed last, and while it exists every
        OTHER maintenance verb refuses (_validate_meta — a stored
        modulus that disagrees with the on-disk layout would silently
        mis-scope rewrites); re-running rebucket() completes the
        interrupted rewrite (idempotent: buckets re-derive from the
        key columns, and the data swap is atomic so a reader always
        sees a wholly-old or wholly-new layout)."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        if not self._table.exists():
            raise ValueError(f"join view {self.path} not built yet")
        fs, ip = self._table._fs_and_path(self._intent_path())
        resuming = fs.exists(ip)
        if resuming:
            # completing an interrupted rebucket: skip the marker
            # refusal (it refers to exactly this in-flight operation)
            # but still verify the non-layout parameters match
            stored = read_json_sidecar(self.spark, self._meta_path(), col="meta")
            mine = {k: v for k, v in self._meta_dict().items() if k != "n_buckets"}
            theirs = {k: v for k, v in stored.items() if k != "n_buckets"}
            if mine != theirs:
                raise ValueError(
                    f"join view {self.path} was built with {stored}, but this "
                    f"instance carries {self._meta_dict()}"
                )
        else:
            self._validate_meta()
            if n_buckets == self.n_buckets:
                return
            fs.create(ip, True).close()
        cur = self._table.read().drop(_BUCKET)
        self._table.overwrite(
            _with_bucket(cur, self.dim_key, n_buckets), partition_by=[_BUCKET]
        )
        self.n_buckets = n_buckets
        self._write_meta()
        fs.delete(ip, False)
        self._meta_checked = True


def chain_dim_patch(
    upstream: JoinViewTable,
    downstream: JoinViewTable,
    dim_delta: DataFrame,
    downstream_dim: DataFrame,
) -> None:
    """Propagate a dim patch through a CHAIN of join views (star /
    snowflake: downstream's FACT side is upstream's row shape — e.g.
    view1 = lineitem⋈orders bucketed by order key, view2 =
    view1⋈customer bucketed by the customer key that arrived as one of
    view1's enrichment columns). Three bucket-scoped steps:

      1. patch upstream's buckets (apply_dim_delta — O(buckets the
         patch keys hash into));
      2. extract exactly the changed rows with a partition-pruned read
         (rows_for_dim_keys — same buckets, no view scan);
      3. upsert them into downstream as an ordinary fact delta
         (apply_fact_delta against the CURRENT downstream dim) — this
         re-enriches under the patched upstream attributes, INCLUDING
         downstream-key migration when the patch changed which
         downstream dim row a fact joins (an order reassigned to a new
         customer moves its rows to the new customer's bucket; the
         partitioned merge rewrites both holder buckets).

    Total cost is O(touched buckets) at every level — the star-schema
    generalization of the single-view bound, replacing the O(F⋈D1⋈D2)
    mart rebuild. `downstream_dim` must be the CURRENT (already
    patched, if it also changed) dim of the downstream view so the
    re-enrichment lands on one consistent state."""
    propagate_dim_patch([upstream, downstream], dim_delta, [downstream_dim])


def propagate_dim_patch(
    views: list[JoinViewTable],
    dim_delta: DataFrame,
    dims: list[DataFrame],
) -> None:
    """Depth-N generalization of chain_dim_patch: propagate a dim patch
    through an arbitrarily deep snowflake chain `views[0] → views[1] →
    ... → views[-1]` (views[i+1]'s FACT side is views[i]'s row shape).
    `dims[i]` is the CURRENT dim of `views[i+1]` — already patched if
    it also changed — so every level re-enriches against one
    consistent state; len(dims) == len(views) - 1.

    The head view takes the patch (apply_dim_delta, O(its buckets));
    the changed rows are extracted ONCE with a bucket-pruned read
    (rows_for_dim_keys) and then carried downstream level by level,
    re-enriched IN FLIGHT: each level's fact delta is the previous
    level's changed rows left-joined to that level's dim — exactly the
    frame apply_fact_delta just upserted — so no level re-reads its
    own view to feed the next (the intermediate extract/upsert
    choreography a hand-rolled chain gets wrong). Cost stays
    O(touched buckets) at every level, including dim-key migration
    (the partitioned merge rewrites old + new holder buckets)."""
    if len(views) < 2:
        raise ValueError("a chain needs at least two views")
    if len(dims) != len(views) - 1:
        raise ValueError(
            f"need one CURRENT dim per downstream view: {len(views) - 1} "
            f"views downstream of the patch, got {len(dims)} dims"
        )
    head = views[0]
    head.apply_dim_delta(dim_delta)
    changed = head.rows_for_dim_keys(dim_delta.select(*head._keys))
    for view, dim in zip(views[1:], dims):
        view.apply_fact_delta(changed, dim)
        # the rows just upserted, re-enriched against this level's dim —
        # the next level's fact delta, computed in flight (same join
        # apply_fact_delta performed; a small delta broadcasts)
        changed = view._enrich(changed, dim)
