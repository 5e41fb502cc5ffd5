"""Incremental materialized-view maintenance over the manifest change
feed — the "don't re-read 100 TB to refresh a dashboard" operator.

An ``IncrementalAggView`` is a grouped aggregate (COUNT plus exact
DECIMAL sums) of a manifest-committed source table, stored as its own
manifest table of ADDITIVE PARTIALS.  A refresh:

1. reads only the rows appended since the last refreshed source
   version (``read_changes`` — driver-side file set difference, scans
   just the new files);
2. folds them into the stored partials with one groupBy over
   ``old_mv UNION delta_partials`` — the MV is small (one row per
   group), so this is a cheap aggregate regardless of source size;
3. REWRITES the MV table under a run_id that encodes the source
   version (``upto-v{N}``), making refresh retries idempotent and the
   refresh watermark recoverable from the MV's own manifest — no side
   state file.

When the source took a NON-APPEND commit in the refreshed range, the
delta is not representable as additions and ``read_changes`` raises;
the refresh then tries ``read_changes_cdf`` — deletes that recorded
their victim rows (``commit_delete(record_changes=True)``) fold as
NEGATIVE partials, still O(changes) — and only a rewrite or an
unrecorded delete falls back to ONE full recompute from the current
snapshot (deletes applied), exactly the resume-from-snapshot contract
table-format change feeds impose.

Determinism: counts are integer sums and the measure sums are exact
DECIMALs (pinned to one scale), both associative — the incremental
fold is BIT-IDENTICAL to a full recompute, which is what lets the
registry gate hash-compare the incrementally maintained MV against a
plain SQL aggregate.

Scale: refresh cost is O(new data) + O(groups); the MV rewrite is
O(groups).  At 1000 executors the delta scan parallelizes like any
parquet read, and the partial-fold groupBy ships one partial row per
group per delta — map-side combined, no wide shuffle of the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.io.manifest import (
    CommitConflictError,
    commit_rewrite,
    current_version,
    read_changes,
    read_changes_cdf,
    read_table,
    _resolve_state,
)

# one fixed scale for the stored sum partials: re-aggregating
# Spark-widened sums (decimal(18,2) -> 28,2 -> 38,2) would drift the
# MV schema on every refresh; pinning keeps refresh N's schema ==
# refresh 1's and keeps every fold exact.
_PARTIAL_DECIMAL = "decimal(28,2)"
_RUN_PREFIX = "upto-v"


class IncrementalAggView:
    """Incrementally maintained grouped aggregate of a manifest table.

    ``sum_cols`` maps output alias -> source column; every sum is an
    exact DECIMAL partial.  ``count_alias`` names the COUNT(*) column
    (always maintained — it is what makes AVG derivable as an exact
    ratio downstream)."""

    def __init__(
        self,
        source_root: str,
        mv_root: str,
        key_cols: list[str],
        sum_cols: dict[str, str] | None = None,
        count_alias: str = "n",
    ) -> None:
        if not key_cols:
            raise ValueError("key_cols must name at least one column")
        self.source_root = source_root
        self.mv_root = mv_root
        self.key_cols = list(key_cols)
        self.sum_cols = dict(sum_cols or {})
        self.count_alias = count_alias
        overlap = set(self.sum_cols) & (set(key_cols) | {count_alias})
        if overlap:
            raise ValueError(f"sum aliases collide with keys: {overlap}")
        if count_alias in key_cols:
            raise ValueError(
                f"count_alias {count_alias!r} collides with a key column"
            )

    # ---- watermark ----------------------------------------------------

    def last_refreshed_source_version(self) -> int:
        """The source version the stored MV reflects, recovered from
        the ``upto-v{N}`` run_ids in the MV's own manifest (0 = never
        refreshed).  Bounded by the manifest's run_id retention — at
        one run_id per refresh that is thousands of refreshes of
        lookback, and only the NEWEST matters."""
        v = current_version(self.mv_root)
        if v == 0:
            return 0
        run_ids = _resolve_state(self.mv_root, v).get("run_ids", [])
        seen = [
            int(r[len(_RUN_PREFIX):])
            for r in run_ids
            if r.startswith(_RUN_PREFIX)
        ]
        return max(seen, default=0)

    # ---- aggregate shapes ----------------------------------------------

    def _partials(self, rows: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("long").alias(self.count_alias)]
        for alias, col in self.sum_cols.items():
            aggs.append(
                F.sum(F.col(col).cast("decimal(18,2)"))
                .cast(_PARTIAL_DECIMAL)
                .alias(alias)
            )
        return rows.groupBy(*self.key_cols).agg(*aggs)

    def _fold(self, old: DataFrame, delta: DataFrame) -> DataFrame:
        aggs = [
            F.sum(self.count_alias).cast("long").alias(self.count_alias)
        ]
        for alias in self.sum_cols:
            aggs.append(
                F.sum(alias).cast(_PARTIAL_DECIMAL).alias(alias)
            )
        return (
            old.unionByName(delta)
            .groupBy(*self.key_cols)
            .agg(*aggs)
            # a fully retracted group must LEAVE the MV (a recompute
            # would not contain it); exact integer counts make the
            # zero test safe
            .filter(F.col(self.count_alias) != 0)
        )

    def _signed_partials(self, changes: DataFrame) -> DataFrame:
        """Partials of a CDF delta: inserts count +1, deletes -1, and
        each measure contributes with the row's sign — a retraction is
        just a negative partial, exact because the sums are DECIMAL."""
        sign = (
            F.when(F.col("_change_type") == "delete", F.lit(-1))
            .otherwise(F.lit(1))
            .cast("long")
        )
        aggs = [F.sum(sign).cast("long").alias(self.count_alias)]
        for alias, col in self.sum_cols.items():
            aggs.append(
                F.sum(sign * F.col(col).cast("decimal(18,2)"))
                .cast(_PARTIAL_DECIMAL)
                .alias(alias)
            )
        # NO net-zero filter here: a delta whose count nets to zero can
        # still carry a non-zero measure delta (retract a 3, insert a
        # 5) — dropping it before the fold silently corrupts the MV.
        # Zero-count groups are eliminated AFTER summation (in _fold,
        # or by the first-refresh filter in _refresh_once), where
        # count == 0 genuinely implies all-zero exact-decimal sums.
        return changes.groupBy(*self.key_cols).agg(*aggs)

    # ---- refresh --------------------------------------------------------

    def refresh(self, spark: SparkSession, max_retries: int = 3) -> dict:
        """Bring the MV up to the source's current version.  Returns
        ``{"mode": "noop"|"incremental"|"full", "from": ..., "to":
        ..., "mv_version": ...}``.  A concurrent refresher winning the
        MV commit race surfaces as ``CommitConflictError``; the loop
        re-reads the new watermark and retries (the winner may already
        have covered our range, turning this attempt into a noop)."""
        for _ in range(max_retries):
            try:
                return self._refresh_once(spark)
            except CommitConflictError:
                continue
        return self._refresh_once(spark)

    def _refresh_once(self, spark: SparkSession) -> dict:
        src_v = current_version(self.source_root)
        last = self.last_refreshed_source_version()
        if src_v == last:
            return {
                "mode": "noop",
                "from": last,
                "to": src_v,
                "mv_version": current_version(self.mv_root),
            }
        mv_base = current_version(self.mv_root)
        partial = None
        try:
            delta = read_changes(spark, self.source_root, last, src_v)
            partial = self._partials(delta)
            mode = "incremental"
        except (ValueError, FileNotFoundError):
            # ValueError: non-append commits in the range, or a
            # manifest in it already vacuumed.  FileNotFoundError: the
            # TO snapshot is unreadable or names no data files — both
            # take the same full-recompute ladder (r14 ADVICE: a miss
            # used to escape refresh()).
            try:
                # the range has deletes but they recorded their victim
                # rows (commit_delete(record_changes=True)): fold the
                # retractions as negative partials — still O(changes)
                changes = read_changes_cdf(
                    spark, self.source_root, last, src_v
                )
                partial = self._signed_partials(changes)
                mode = "incremental_cdf"
            except (ValueError, FileNotFoundError):
                # rewrite, or an unrecorded delete: the range is not a
                # representable delta — one full recompute, PINNED to
                # the src_v this refresh is stamped with (an unpinned
                # read could include a concurrent commit that the next
                # incremental refresh would then fold a second time).
                merged = self._partials(
                    read_table(spark, self.source_root, version=src_v)
                )
                mode = "full"
        if partial is not None:
            merged = (
                self._fold(read_table(spark, self.mv_root), partial)
                if mv_base
                # first refresh: the delta IS the state — drop groups
                # whose count summed to zero (within-range insert+
                # retract of the same rows; exact decimals make their
                # sums exactly zero too)
                else partial.filter(F.col(self.count_alias) != 0)
            )
        mv_v = commit_rewrite(
            merged,
            self.mv_root,
            f"{_RUN_PREFIX}{src_v}",
            expected_base=mv_base,
        )
        return {"mode": mode, "from": last, "to": src_v, "mv_version": mv_v}

    def read(self, spark: SparkSession) -> DataFrame:
        """The maintained aggregate (partials schema: keys, count,
        decimal sums)."""
        return read_table(spark, self.mv_root)
