"""Bucketed parquet current-state store with partition-pruned merge.

The reference sink materializes "latest row per PK" into Postgres via
batched upserts (README.md:780-798). At 100 TB of state, the naive Spark
analog — union the whole state with each delta and re-window — rewrites
the world per batch. This store fixes that:

- State lives as parquet hash-partitioned by ``bucket_id =
  pmod(xxhash64(key), n_buckets)`` (NOT underscore-prefixed: Hadoop's
  hidden-path filter would skip ``_*`` partition directories on read).
- A merge reads ONLY the buckets the delta touches (partition pruning on
  the directory layout) and dynamically overwrites only those buckets.
- Per-batch cost is O(|delta| + touched_buckets * bucket_size), not
  O(|state|), in ONE exchange (on ``bucket_id``) that writes one file
  per touched bucket. With n_buckets sized so a bucket fits an executor
  (e.g. 100 TB / 65536 buckets ≈ 1.6 GB), a small delta touches a small
  fraction of state.

On Delta/Iceberg this class collapses to ``MERGE INTO`` with the same
key clustering; the interface is storage-agnostic on purpose.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.checkpointing import truncate_lineage
from olr_cdc_oracle_no_dbz_spark.cdc.materialize import (  # noqa: F401
    DEFAULT_ORDER,
    _align_schemas,
    latest_state,
    merge_into_state,  # unused here; perfbench/trace.py wraps it by this name
    publish,
)

_BUCKET = "bucket_id"


class ParquetStateTable:
    """Keyed current-state table backed by bucketed parquet.

    Plays the reference sink-table role (``products`` in Postgres,
    README.md:791) including auto-creation on first write (``auto.create:
    true``, README.md:786) and column-superset schema evolution
    (``auto.evolve: true``, README.md:787 — via parquet mergeSchema).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: tuple[str, ...] = ("id",),
        order_cols: tuple[str, ...] = DEFAULT_ORDER,
        n_buckets: int = 32,
    ) -> None:
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.key_cols = tuple(key_cols)
        self.order_cols = tuple(order_cols)
        self.n_buckets = n_buckets

    # -- storage ----------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.data_dir) and any(
            e.startswith(f"{_BUCKET}=") for e in os.listdir(self.data_dir)
        )

    def _bucket_col(self) -> F.Column:
        # keys are string-normalized before hashing: xxhash64(int 5) !=
        # xxhash64(bigint 5), so a K5 type widening of a key column would
        # otherwise hash existing keys into different buckets and bypass
        # the SCN/tombstone guard. cast-to-string is stable across the
        # int-family widenings schema evolution performs.
        return F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in self.key_cols]),
            F.lit(self.n_buckets),
        ).cast("int")

    def read_internal(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Internal state (tombstones + (scn, seq) watermark retained).
        ``buckets`` prunes the scan to those partitions only."""
        if not self.exists():
            return None
        df = self.spark.read.option("mergeSchema", "true").parquet(self.data_dir)
        if buckets is not None:
            df = df.filter(F.col(_BUCKET).isin(buckets))
        return df

    # -- merge ------------------------------------------------------------

    def merge_batch(self, delta: DataFrame) -> None:
        """Apply one changelog batch: one LWW over the touched buckets'
        state and the delta, grouped within a repartition by bucket,
        dynamically overwriting those buckets. No lineage cut: dynamic
        overwrite stages the output and swaps bucket directories only
        at job commit, after every read of the old files.

        Safe under redelivery: the (scn, seq) order makes re-applying a
        batch a no-op, so ``foreachBatch`` retries after a crash are
        idempotent (ST3; reference relies on upsert idempotence the
        same way, README.md:788-790).
        """
        rows = delta.withColumn(_BUCKET, self._bucket_col())
        if self.exists():
            touched = [r[0] for r in rows.select(_BUCKET).distinct().collect()]
            state, rows = _align_schemas(self.read_internal(buckets=touched), rows)
            rows = state.unionByName(rows)
        merged = latest_state(
            rows.repartition(_BUCKET), (_BUCKET, *self.key_cols), self.order_cols
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_BUCKET)
            .parquet(self.data_dir)
        )

    def bootstrap(self, snapshot: DataFrame, scn: int = 0) -> None:
        """Initialize state from a source snapshot (S2→K2 bootstrap: the
        reference's initial table load before the changelog stream
        attaches). Snapshot rows enter as live upserts at ``scn`` — any
        change event with a higher SCN then wins normally, so starting
        the stream after the snapshot is race-free as long as capture
        began at or before the snapshot SCN (the standard CDC
        bootstrap contract).
        """
        if self.exists():
            raise RuntimeError(
                f"state table {self.path} already exists; bootstrap must "
                "precede the first merge"
            )
        delta = (
            snapshot.withColumn(self.order_cols[0], F.lit(scn).cast("long"))
            .withColumn("__deleted", F.lit(False))
        )
        for extra in self.order_cols[1:]:
            delta = delta.withColumn(extra, F.lit(0))
        self.merge_batch(delta)

    def compact(self, tombstone_watermark_scn: int) -> int:
        """Garbage-collect tombstones at or below a safe SCN watermark
        (the Postgres-VACUUM analog the parquet state otherwise never
        gets — without it, every deleted key costs a row forever).

        Contract: ``tombstone_watermark_scn`` must not exceed the
        stream's committed checkpoint SCN. Tombstones above it are
        KEPT — they still guard against redelivered pre-delete upserts;
        below it no redelivery can occur, so the guard is dead weight.
        Rewrites ONLY the buckets that contain eligible tombstones
        (same partition-pruned O(touched) cost model as merge_batch).
        Returns the number of tombstones dropped.
        """
        state = self.read_internal()
        if state is None:
            return 0
        # null-safe: a row with NULL __deleted (pre-evolution bucket
        # file) or NULL scn must be KEPT, not silently vanish — a plain
        # three-valued predicate would exclude it from both filter(dead)
        # and filter(~dead)
        dead = F.col("__deleted").eqNullSafe(True) & F.coalesce(
            F.col(self.order_cols[0]) <= tombstone_watermark_scn, F.lit(False)
        )
        touched = [
            r[0]
            for r in state.filter(dead).select(_BUCKET).distinct().collect()
        ]
        if not touched:
            return 0
        affected = self.read_internal(buckets=touched)
        n_dead = affected.filter(dead).count()
        kept = truncate_lineage(affected.filter(~dead))
        (
            kept.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_BUCKET)
            .parquet(self.data_dir)
        )
        # dynamic overwrite only rewrites partitions PRESENT in `kept` —
        # a bucket whose every row was a dead tombstone has no surviving
        # rows and must be dropped explicitly or it would keep its files
        surviving = {r[0] for r in kept.select(_BUCKET).distinct().collect()}
        for bucket in set(touched) - surviving:
            shutil.rmtree(
                os.path.join(self.data_dir, f"{_BUCKET}={bucket}"),
                ignore_errors=True,
            )
        return n_dead

    # -- queries ----------------------------------------------------------

    def current(self, delete_mode: str = "drop") -> DataFrame:
        """User-visible sink table (K3 delete modes: 'drop' removes
        deleted keys, 'rewrite' keeps ``__deleted=true`` rows)."""
        state = self.read_internal()
        if state is None:
            raise FileNotFoundError(f"state table {self.path} not created yet")
        return publish(state.drop(_BUCKET), delete_mode, self.order_cols)
