"""Unbounded stream-stream join with retractions.

Emulates the reference's StreamingJoinOperator
(flink-table-runtime-blink/.../operators/join/stream/StreamingJoinOperator.java:37):
both inputs are kept in state forever (no watermark bound), every new row
joins against the other side's accumulated state, and OUTER results are
emitted eagerly as null-padded rows that are *retracted* (``-D``) when a
matching row arrives later — the changelog model of
BaseRow.java:40-47 (ACCUMULATE/RETRACT).

Spark's native stream-stream outer join requires watermarks on both
sides; this operator removes that requirement the same way the reference
does — by owning the state.  Mapping:

  - JoinRecordStateView (per-key row store, RocksDB-backed)
      → manifest-governed parquet state (``state_dir.StateDir``):
        batch-indexed OVERWRITE subdirs (at-least-once redelivery is a
        no-op), folded into one snapshot every ``compact_every`` batches
        — the RocksDB-compaction analog, so the file count stays bounded
        on an unbounded run.  State stays on storage and every probe is
        a distributed Spark join, so the operator scales with the
        cluster, not the driver.
  - delta processing (each input record probes the other side once)
      → per-batch delta joins: newL ⋈ (oldR ∪ newR), oldL ⋈ newR.
        Every (left,right) pair is produced by exactly one of the two
        terms, so the changelog carries no duplicate accumulates.
  - OUTER null-padding + retraction (OuterJoinRecordStateView match
    counters) → for equi-joins a row is matched iff its key exists on
        the other side, so retractions are computed as
        old-unmatched-rows ⋉ first-seen-keys — no per-row counters.

Output rows carry ``__change`` ∈ {'+I', '-D'}: apply as a multiset
(insert / remove) to materialize the current join result.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHANGE_COL = "__change"
_SIDE_COL = "__side"


def _typed_nulls(df: DataFrame, schema_src: DataFrame) -> DataFrame:
    """Append the other side's columns as typed NULLs so both tagged
    streams share one union schema."""
    out = df
    for f in schema_src.schema.fields:
        out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out


def _null_pad(df: DataFrame, other: DataFrame, own_first: bool) -> DataFrame:
    """Pad ``df`` with NULLs for ``other``'s columns, in output order."""
    padded = _typed_nulls(df, other)
    own = [f.name for f in df.schema.fields]
    oth = [f.name for f in other.schema.fields]
    order = own + oth if own_first else oth + own
    return padded.select(*order)


class RetractionJoin:
    """Unbounded two-input join emitting an insert/retract changelog."""

    def __init__(
        self,
        left: DataFrame,
        right: DataFrame,
        on: list[tuple[str, str]],
        how: str = "inner",
        state_dir: str | None = None,
        compact_every: int = 16,
    ):
        if how not in ("inner", "left", "right", "full"):
            raise ValueError(f"unsupported join type: {how}")
        overlap = set(left.columns) & set(right.columns)
        if overlap:
            raise ValueError(f"column names must be disjoint, got {overlap}")
        self.left, self.right, self.on, self.how = left, right, on, how
        self.state_dir = state_dir or tempfile.mkdtemp(prefix="fl_join_state_")
        self._owns_state = state_dir is None
        from my_flink_1_10_2_spark.streaming.state_dir import StateDir

        spark = left.sparkSession
        self._stateL = StateDir(
            spark, f"{self.state_dir}/left", left.schema, compact_every=compact_every
        )
        self._stateR = StateDir(
            spark, f"{self.state_dir}/right", right.schema, compact_every=compact_every
        )

    # -- plumbing ------------------------------------------------------------

    def _tagged_union(self) -> DataFrame:
        lcols = self.left.columns
        rcols = self.right.columns
        l_tag = _typed_nulls(self.left, self.right).withColumn(
            _SIDE_COL, F.lit("L")
        )
        r_tag = _typed_nulls(self.right, self.left).withColumn(
            _SIDE_COL, F.lit("R")
        )
        order = lcols + rcols + [_SIDE_COL]
        return l_tag.select(*order).unionByName(r_tag.select(*order))

    def _delta_changelog(
        self, spark: SparkSession, newL: DataFrame, newR: DataFrame
    ) -> DataFrame:
        """Changelog rows produced by one micro-batch of new inputs."""
        oldL = self._stateL.read()
        oldR = self._stateR.read()
        allR = oldR.unionByName(newR)

        def cond(a: DataFrame, b: DataFrame):
            c = None
            for lk, rk in self.on:
                term = a[lk] == b[rk]
                c = term if c is None else c & term
            return c

        out_cols = self.left.columns + self.right.columns
        # Delta inner matches: each (l, r) pair appears in exactly one term.
        inner = newL.join(allR, cond(newL, allR), "inner").select(*out_cols)
        inner = inner.unionByName(
            oldL.join(newR, cond(oldL, newR), "inner").select(*out_cols)
        )
        parts = [inner.withColumn(CHANGE_COL, F.lit("+I"))]

        lkeys = [lk for lk, _ in self.on]
        rkeys = [rk for _, rk in self.on]
        if self.how in ("left", "full"):
            # New left rows with no match anywhere: emit null-padded.
            unmatched = newL.join(allR, cond(newL, allR), "left_anti")
            parts.append(
                _null_pad(unmatched, self.right, own_first=True)
                .select(*out_cols)
                .withColumn(CHANGE_COL, F.lit("+I"))
            )
            # Keys appearing on the right for the first time retract the
            # null-padded rows previously emitted for old left rows.
            first_seen = newR.select(*rkeys).distinct().join(
                oldR.select(*rkeys).distinct(),
                [newR[k] == oldR[k] for k in rkeys],
                "left_anti",
            )
            retract = oldL.join(
                first_seen,
                [oldL[lk] == first_seen[rk] for lk, rk in self.on],
                "left_semi",
            )
            parts.append(
                _null_pad(retract, self.right, own_first=True)
                .select(*out_cols)
                .withColumn(CHANGE_COL, F.lit("-D"))
            )
        if self.how in ("right", "full"):
            allL = oldL.unionByName(newL)
            unmatched = newR.join(allL, cond(allL, newR), "left_anti")
            parts.append(
                _null_pad(unmatched, self.left, own_first=False)
                .select(*out_cols)
                .withColumn(CHANGE_COL, F.lit("+I"))
            )
            first_seen = newL.select(*lkeys).distinct().join(
                oldL.select(*lkeys).distinct(),
                [newL[k] == oldL[k] for k in lkeys],
                "left_anti",
            )
            retract = oldR.join(
                first_seen,
                [oldR[rk] == first_seen[lk] for lk, rk in self.on],
                "left_semi",
            )
            parts.append(
                _null_pad(retract, self.left, own_first=False)
                .select(*out_cols)
                .withColumn(CHANGE_COL, F.lit("-D"))
            )

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- execution -----------------------------------------------------------

    def run(
        self,
        sink_fn: Callable[[DataFrame, int], None],
        checkpoint: str | None = None,
    ):
        """Consume both streams to exhaustion (availableNow), feeding the
        per-batch changelog to ``sink_fn``.

        Without ``checkpoint`` the run uses a throwaway checkpoint that is
        removed when the run ends, so it cannot resume after a restart;
        pass ``checkpoint=`` to make the run resumable."""
        union = self._tagged_union()
        lcols, rcols = self.left.columns, self.right.columns

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            newL = batch_df.filter(F.col(_SIDE_COL) == "L").select(*lcols)
            newR = batch_df.filter(F.col(_SIDE_COL) == "R").select(*rcols)
            if batch_id <= min(
                self._stateL.applied_index(), self._stateR.applied_index()
            ):
                return  # redelivered batch: state already durable, and the
                # sink already saw this changelog (sinks downstream are
                # expected idempotent-by-batch-id, as everywhere else)
            changelog = self._delta_changelog(spark, newL, newR).persist()
            try:
                # Force the changelog BEFORE appending to state: its plan
                # scans the state parquet as-of the start of this batch.
                changelog.count()
                sink_fn(changelog, batch_id)
                self._stateL.write_batch(newL, batch_id)
                self._stateR.write_batch(newR, batch_id)
            finally:
                changelog.unpersist()

        writer = (
            union.writeStream.foreachBatch(handle).trigger(availableNow=True)
        )
        owned = not checkpoint
        ckpt = tempfile.mkdtemp(prefix="fl_join_ckpt_") if owned else checkpoint
        try:
            q = writer.option("checkpointLocation", ckpt).start()
            q.awaitTermination()
            return q
        finally:
            if owned:
                shutil.rmtree(ckpt, ignore_errors=True)

    def cleanup(self) -> None:
        if self._owns_state:
            shutil.rmtree(self.state_dir, ignore_errors=True)


def apply_changelog(rows: list[dict]) -> list[tuple]:
    """Materialize a +I/-D changelog into the current multiset of rows
    (what a retract-aware sink like the reference's RetractStreamTableSink
    would hold)."""
    from collections import Counter

    acc: Counter = Counter()
    for r in rows:
        d = dict(r)
        change = d.pop(CHANGE_COL)
        key = tuple(sorted(d.items(), key=lambda kv: kv[0]))
        if change == "+I":
            acc[key] += 1
        elif change == "-D":
            acc[key] -= 1
        else:
            raise ValueError(f"unknown change flag {change}")
    out: list[tuple] = []
    for key, n in acc.items():
        if n < 0:
            raise AssertionError(f"negative multiplicity for {key}")
        out.extend([key] * n)
    return sorted(out)
