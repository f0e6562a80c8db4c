"""Aggregate-over-join IVM: a maintained GROUP BY over a maintained join.

The two incremental materializations this engine already has compose
badly by themselves:

  * `IncrementalAggTable` (operators/incremental_agg.py) folds
    insert-only deltas — it cannot retract, so a dim patch that
    REASSIGNS fact rows to a different group (the classic hard case of
    aggregate view maintenance) is outside its contract, and min/max
    have no retraction at all.
  * `JoinViewTable` (operators/incremental_join.py) keeps `F ⋈ D`
    current in O(touched buckets), but a rollup over it still rescans
    the whole view on every refresh.

`AggJoinView` closes the gap with BUCKET-PARTIAL STATES: the aggregate
`SELECT group_keys, agg(measures) FROM F ⋈ D GROUP BY group_keys` is
stored as per-(bucket, group) mergeable partial states, hive-partitioned
by the SAME dim-key bucket as the underlying view. Maintenance never
retracts anything — whenever the view rewrites a set of buckets, the
agg RECOMPUTES exactly those buckets' partials from the view (a
partition-pruned read + the same directory swap), and the final answer
is merge+finalize over all partials at read time:

  * dim patch (attribute change, tombstone, group reassignment):
    O(touched buckets) for the view + O(touched buckets) local
    re-aggregation for the agg. min/max/updates/deletes all correct,
    because a bucket recompute is a full local re-aggregation, not a
    fold.
  * fact delta (insert / update / dim-key migration): same bound; the
    old AND new holder buckets are refreshed (migration moves a row's
    contribution between partials).
  * result(): merge of ≤ n_buckets × |groups| state rows — group
    cardinality per bucket, never a view scan. The partial-state
    algebra is exact (decimal sums), so refresh order can never change
    the answer.

Crash contract — stronger than replay-only: every apply writes an
INTENT sidecar naming the buckets it will touch BEFORE mutating the
view, and clears it after the agg refresh. A crash anywhere in between
leaves the intent on disk, and the next operation (or result()) HEALS
by re-refreshing those buckets from the current view — idempotent, so
healing composes with the caller's own delta replay. The pre-computed
intent is what makes dim-key migration safe: after a crash mid-apply,
the delta's OLD holder buckets are no longer discoverable from the
merged view, but the intent already names them.

One writer per agg view (the repo-wide contract, operators/merge.py).
A rebucket() of the underlying view invalidates the partial layout;
apply/result refuse on the modulus mismatch until rebuild() is called.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nomba_data_pipeline_spark.operators.incremental_agg import (
    agg_state,
    finalize_agg_state,
    merge_agg_states,
    rollup_state,
)
from nomba_data_pipeline_spark.operators.incremental_join import (
    _BUCKET,
    JoinViewTable,
    _with_bucket,
)
from nomba_data_pipeline_spark.operators.merge import (
    ParquetTable,
    _semi_anti_null_safe,
)
from nomba_data_pipeline_spark.operators.versioned import (
    read_json_sidecar,
    write_json_sidecar,
)


class AggJoinView:
    """A materialized aggregate over a JoinViewTable, maintained at
    O(touched buckets) per delta via bucket-partial states."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        view: JoinViewTable,
        group_keys: list[str],
        measures: list[str],
        distinct_cols: list[str] | None = None,
    ):
        overlap = set(group_keys) & set(measures)
        if overlap:
            raise ValueError(f"columns {sorted(overlap)} are both group key and measure")
        if _BUCKET in group_keys or _BUCKET in measures or _BUCKET in (distinct_cols or []):
            raise ValueError(f"{_BUCKET} is the layout column, not a query column")
        if set(distinct_cols or []) & set(group_keys):
            raise ValueError("a distinct column cannot also be a group key")
        self.spark = spark
        self.path = path.rstrip("/")
        self.view = view
        self.group_keys = list(group_keys)
        self.measures = list(measures)
        # approximate-distinct measures: one mergeable HLL sketch per
        # column rides in the bucket partials (hll_<col>) and folds at
        # read time — a distinct-count rollup maintained at the same
        # O(touched buckets) bound (bucket recompute rebuilds the
        # bucket's sketches from the view, so deletes/migrations are
        # handled without retraction, exactly like min/max)
        self.distinct_cols = list(distinct_cols) if distinct_cols else []
        self._table = ParquetTable(spark, self.path)
        self._meta_checked = False

    # -- sidecars --------------------------------------------------------
    def _meta_path(self) -> str:
        return self.path + "._agg_meta"

    def _intent_path(self) -> str:
        return self.path + "._agg_intent"

    def _meta_dict(self) -> dict:
        d = {
            "view_path": self.view.path,
            "group_keys": self.group_keys,
            "measures": self.measures,
            "n_buckets": self.view.n_buckets,
        }
        # only present when used: pre-r13 sidecars lack the key, and a
        # sketch-free instance must keep validating against them
        if self.distinct_cols:
            d["distinct"] = self.distinct_cols
        return d

    def _write_meta(self) -> None:
        write_json_sidecar(self.spark, self._meta_path(), self._meta_dict(), col="meta")

    def _validate_meta(self) -> None:
        if self._meta_checked:
            return
        fs, jp = self._table._fs_and_path(self._meta_path())
        if fs.exists(jp):
            stored = read_json_sidecar(self.spark, self._meta_path(), col="meta")
            if stored != self._meta_dict():
                raise ValueError(
                    f"agg view {self.path} was built with {stored}, but this "
                    f"instance carries {self._meta_dict()} — a mismatched "
                    "layout (e.g. the underlying view was rebucketed) would "
                    "mis-scope every refresh; call rebuild() after layout "
                    "changes"
                )
        self._meta_checked = True

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "AggJoinView":
        """Reconstruct from the persisted sidecar (reopens the
        underlying view from ITS sidecar too) — the safe maintenance
        entry point, mirroring JoinViewTable.open."""
        meta = read_json_sidecar(spark, path.rstrip("/") + "._agg_meta", col="meta")
        return cls(
            spark, path,
            view=JoinViewTable.open(spark, meta["view_path"]),
            group_keys=meta["group_keys"], measures=meta["measures"],
            distinct_cols=meta.get("distinct"),
        )

    # -- intent (crash healing) ------------------------------------------
    def _write_intent(self, buckets: list[int]) -> None:
        write_json_sidecar(
            self.spark, self._intent_path(), sorted(int(b) for b in buckets)
        )

    def _clear_intent(self) -> None:
        fs, jp = self._table._fs_and_path(self._intent_path())
        if fs.exists(jp):
            fs.delete(jp, True)

    def heal(self) -> list[int]:
        """Re-refresh the buckets named by a leftover intent marker (a
        crash between the view apply and the agg refresh). Idempotent;
        returns the healed bucket ids ([] when clean)."""
        fs, jp = self._table._fs_and_path(self._intent_path())
        if not fs.exists(jp):
            return []
        buckets = read_json_sidecar(self.spark, self._intent_path())
        self._refresh(buckets)
        self._clear_intent()
        return buckets

    # -- build / refresh ---------------------------------------------------
    def build(self) -> None:
        """One O(view) aggregation pass: per-(bucket, group) partials,
        written partitioned by the bucket so later refreshes swap only
        touched directories. (rebuild() is the same thing — call it
        after a view rebucket or to recover from anything.)"""
        state = agg_state(
            self.view._table.read(),
            [_BUCKET, *self.group_keys],
            self.measures,
            distinct=self.distinct_cols,
        )
        self._table.overwrite(state, partition_by=[_BUCKET])
        self._write_meta()
        self._clear_intent()
        self._meta_checked = True

    rebuild = build

    def _refresh(self, buckets: list[int]) -> None:
        """Recompute the named buckets' partials from the CURRENT view
        and swap exactly those state partitions — a bucket emptied by
        key migration has its state directory deleted by the swap."""
        if not buckets:
            return
        ids = sorted({int(b) for b in buckets})
        rows = self.view._table.read().filter(F.col(_BUCKET).isin(ids))
        state = agg_state(rows, [_BUCKET, *self.group_keys], self.measures,
                          distinct=self.distinct_cols)
        self._table._stage_and_swap_partitions(
            state, [_BUCKET], [{_BUCKET: b} for b in ids]
        )

    # -- maintenance verbs ---------------------------------------------
    def _exists(self) -> bool:
        return self._table.exists()

    def _pre(self) -> None:
        if not self._exists():
            raise ValueError(f"agg view {self.path} not built yet — call build()")
        self._validate_meta()
        self.heal()

    def apply_dim_delta(self, dim_delta: DataFrame) -> list[int]:
        """Dim patch: the touched buckets derive from the delta's keys
        alone (one hash, no scan), so the intent is written before the
        view mutates and the refresh is exactly view-scoped. Group
        reassignment (a dim attribute IN group_keys changing) is just a
        bucket recompute — no retraction."""
        self._pre()
        buckets = [
            int(r[_BUCKET])
            for r in _with_bucket(
                dim_delta.select(*self.view._keys).distinct(),
                self.view.dim_key,
                self.view.n_buckets,
            ).select(_BUCKET).distinct().collect()
        ]
        self._write_intent(buckets)
        touched = self.view.apply_dim_delta(dim_delta)
        self._refresh(buckets)
        self._clear_intent()
        return touched

    def retire_dim_keys(self, keys: DataFrame) -> list[int]:
        """Dim DELETE (tombstone) with the same intent protocol."""
        self._pre()
        buckets = [
            int(r[_BUCKET])
            for r in _with_bucket(
                keys.select(*self.view._keys).distinct(),
                self.view.dim_key,
                self.view.n_buckets,
            ).select(_BUCKET).distinct().collect()
        ]
        self._write_intent(buckets)
        self.view.retire_dim_keys(keys)
        self._refresh(buckets)
        self._clear_intent()
        return buckets

    def apply_fact_delta(self, fact_delta: DataFrame, dim: DataFrame) -> list[int]:
        """Fact delta: touched = the buckets the delta's dim keys hash
        into (the fact delta CARRIES the join key column, so no join is
        needed) UNION the buckets currently holding the delta's fact
        keys (dim-key migration moves a row's contribution between
        partials — the old holder must refresh too). The union is
        computed BEFORE the merge and persisted as the intent: after
        the merge, the old holders are no longer discoverable, which is
        exactly why a post-hoc crash recovery couldn't find them."""
        self._pre()
        new_b = _with_bucket(
            fact_delta.select(*self.view._keys).distinct(),
            self.view.dim_key,
            self.view.n_buckets,
        ).select(_BUCKET)
        # column-pruned key-location pass — the same scan shape (and
        # null-safe key matching) the partitioned merge itself uses for
        # its affected set
        old_b = _semi_anti_null_safe(
            self.view._table.read(),
            fact_delta.select(*self.view.fact_key),
            self.view.fact_key,
            "left_semi",
        ).select(_BUCKET)
        buckets = [
            int(r[_BUCKET]) for r in new_b.unionByName(old_b).distinct().collect()
        ]
        self._write_intent(buckets)
        touched = self.view.apply_fact_delta(fact_delta, dim)
        self._refresh(buckets)
        self._clear_intent()
        return touched

    def _holder_buckets(self, keys: DataFrame) -> DataFrame:
        """Buckets currently holding the given fact keys — the same
        column-pruned null-safe key-location pass apply_fact_delta
        uses for its old-holder set."""
        return _semi_anti_null_safe(
            self.view._table.read(),
            keys.select(*self.view.fact_key),
            self.view.fact_key,
            "left_semi",
        ).select(_BUCKET)

    def delete_fact_keys(self, keys: DataFrame) -> list[int]:
        """Fact-row delete with the intent protocol: the holder buckets
        are derivable AFTER the delete too (the keys are simply gone),
        but pre-computing them keeps the one-shape crash contract —
        intent first, view mutation, partial refresh, clear."""
        self._pre()
        buckets = [
            int(r[_BUCKET])
            for r in self._holder_buckets(keys).distinct().collect()
        ]
        if not buckets:
            return []
        self._write_intent(buckets)
        self.view.delete_fact_keys(keys)
        self._refresh(buckets)
        self._clear_intent()
        return sorted(buckets)

    def apply_fact_cdf(self, cdf: DataFrame, dim: DataFrame) -> list[int]:
        """Maintain BOTH layers from a fact change-data-feed (the
        diff_versions shape: change_type + full fact rows). Touched =
        the buckets the upsert rows' dim keys hash into (new holders)
        UNION the buckets currently holding ANY feed key (old holders —
        covers dim-key migration on updates and the delete rows'
        homes). The union is persisted as the intent BEFORE the view
        mutates: after the merge/delete the old holders are no longer
        discoverable, which is exactly why a post-hoc recovery couldn't
        find them."""
        self._pre()
        if "change_type" not in cdf.columns:
            raise ValueError(
                "fact CDF must carry a change_type column "
                "(insert | update | delete)"
            )
        new_b = _with_bucket(
            cdf.filter(F.col("change_type").isin("insert", "update"))
            .select(*self.view._keys).distinct(),
            self.view.dim_key,
            self.view.n_buckets,
        ).select(_BUCKET)
        old_b = self._holder_buckets(cdf)
        buckets = [
            int(r[_BUCKET])
            for r in new_b.unionByName(old_b).distinct().collect()
        ]
        if not buckets:
            return []
        self._write_intent(buckets)
        touched = self.view.apply_fact_cdf(cdf, dim)
        self._refresh(buckets)
        self._clear_intent()
        return touched

    # -- read ------------------------------------------------------------
    def state(self) -> DataFrame:
        self._pre()
        return self._table.read()

    def result(self, dp: int = 2) -> DataFrame:
        """Merge all bucket partials to one row per group and finalize
        (avg = sum/cnt, rounding only here). Cost: a shuffle of
        ≤ n_buckets x |groups| state rows — never a view scan."""
        merged = merge_agg_states(self.state().drop(_BUCKET))
        return finalize_agg_state(merged, dp=dp)

    def result_at(self, group_keys: list[str], dp: int = 2) -> DataFrame:
        """MV NAVIGATION: answer a COARSER GROUP BY from the bucket
        partials alone — `group_keys` ⊆ this view's group_keys; the
        dropped keys (and the bucket) merge via the fold algebra
        (sum/cnt add, min/max keep, hll sketches UNION — the reason
        distinct rollups are maintainable at all: stored exact distinct
        counts cannot collapse across keys, sketches can). A mart keyed
        by (segment, status) answers GROUP BY segment at
        state-cardinality cost, never a view or fact scan."""
        return finalize_agg_state(
            rollup_state(self.state().drop(_BUCKET), group_keys), dp=dp
        )
