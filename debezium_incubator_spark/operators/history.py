"""SCD type-2 history: versioned rows with validity intervals.

Downstream consumers of the reference's change stream routinely fold it
into a slowly-changing-dimension table (every Kafka-topic consumer that
wants "what did the row look like at offset X" builds exactly this).
Semantics follow the envelope contract (Record.java:42-61 op alphabet,
RecordMaker.java:53-57 tombstones):

* every ``c``/``u`` event OPENS a version valid from its offset;
* the NEXT event on the key — any op, including ``d`` — CLOSES it
  (``valid_to`` = that offset, half-open interval);
* ``d`` events emit no version row of their own, so a key whose last
  event is a delete has no current version;
* duplicate offsets within a key are byte-identical replays (the
  engine-wide invariant, LcrEventHandler.java:53-65 at-least-once) and
  collapse to one version.

Scale shape: one shuffle on the key, then a per-key window sort. Version
counts per key are bounded by write frequency (not corpus size), so the
window never sees a 10^8-row key the way raw-event LWW can — no salting
needed here. The incremental form (`scd2_apply`) touches only keys
present in the batch: the 100 TB history is never rescanned, matching
the merge path's broadcast CoW story (merge.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from debezium_incubator_spark.operators.envelope import DELETE_OPS


def _versions(
    events: DataFrame,
    key_cols: list[str],
    offset_col: str,
    payload_cols: list[str],
    op_col: str,
) -> DataFrame:
    """Per-key version rows with lead(offset) closure, within one frame."""
    ev = events.dropDuplicates(key_cols + [offset_col])
    w = Window.partitionBy(*key_cols).orderBy(F.col(offset_col).asc())
    return (
        ev.withColumn("valid_to", F.lead(offset_col).over(w))
        .where(~F.col(op_col).isin(*DELETE_OPS))
        .select(
            *key_cols,
            F.col(offset_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            *payload_cols,
        )
    )


def scd2_history(
    events: DataFrame,
    key_cols: list[str],
    offset_col: str,
    payload_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Full-rebuild SCD2 derivation over a complete event log."""
    return _versions(events, key_cols, offset_col, payload_cols, op_col)


def scd2_apply(
    history: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    offset_col: str,
    payload_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Incremental SCD2 maintenance: fold one batch into an existing
    history frame, touching ONLY keys present in the batch.

    Requires the engine's delivery contract: every batch offset is
    strictly greater than any offset already folded for that key (the
    out-of-order guard upstream enforces this, dedup.py D1). Under it:

    1. new version rows come from the batch alone (same window, but
       only over batch-sized data);
    2. each touched key's OPEN interval (if any) is closed at the
       batch's first offset for that key;
    3. untouched history passes through untouched — at engine scale
       this is a broadcast-gated bucket CoW, not a rewrite.

    The touched-key set of a CDC batch is small relative to the
    history, so the close-out join broadcasts it; the history side
    never shuffles.
    """
    new_rows = _versions(batch, key_cols, offset_col, payload_cols, op_col)
    first_off = batch.groupBy(*key_cols).agg(
        F.min(offset_col).alias("_batch_first_off")
    )
    # ADVICE r5: a name-list equi-join is NULL-unsafe, so a NULL-keyed
    # open version would never be closed by a later batch (while the
    # versioning window upstream treats a NULL key as a regular group —
    # full rebuild != incremental fold). Join with eqNullSafe instead.
    fo = first_off.select(
        *[F.col(k).alias(f"__fo_{k}") for k in key_cols], "_batch_first_off"
    )
    cond = F.lit(True)
    for k in key_cols:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__fo_{k}"))
    joined = history.join(F.broadcast(fo), cond, "left").drop(
        *[f"__fo_{k}" for k in key_cols]
    )
    closed = joined.select(
        *key_cols,
        "valid_from",
        F.when(
            F.col("is_current") & F.col("_batch_first_off").isNotNull(),
            F.col("_batch_first_off"),
        )
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
        (F.col("is_current") & F.col("_batch_first_off").isNull()).alias("is_current"),
        *payload_cols,
    )
    return closed.unionByName(new_rows)
