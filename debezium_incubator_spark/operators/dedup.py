"""Order-aware dedup: the engine's correctness core (SURVEY.md §2.3).

* D1 offset-skip filter — idempotent replay guard
  (FileOffsetWriter.isOffsetProcessed, FileOffsetWriter.java:92-104;
  LcrEventHandler.java:53-65).
* D2 last-writer-wins per key — the north rule's
  ``row_number() OVER (PARTITION BY key ORDER BY offset DESC) = 1``,
  computed as ONE hash aggregate, ``lww_latest``: ``max_by(struct(payload),
  struct(order))``. Partial aggregation (map-side combine) makes it
  skew-proof at 100 TB without salting and with no per-key sort. The
  DuckDB ``row_number()`` oracles stay the reference definition; the
  merge (operators/merge.py) routes through this one function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_processed(
    df: DataFrame,
    max_offsets: dict[str, int],
    bucket_col: str = "_bucket",
    offset_col: str = "offset",
    num_buckets: int | None = None,
) -> DataFrame:
    """D1 — drop events at-or-below the per-bucket high-water mark.

    ``max_offsets`` is tiny (one long per bucket), so it rides to the
    executors as a broadcast join — never a shuffle of the event stream.
    When every bucket has a mark, the residual ``offset > min(marks)``
    is additionally applied as a plain predicate that Catalyst pushes to
    the parquet scan (row-group min/max pruning).
    """
    if not max_offsets:
        return df
    spark = df.sparkSession
    marks = spark.createDataFrame(
        [(int(b), int(o)) for b, o in max_offsets.items()],
        f"{bucket_col} int, __hwm long",
    )
    if num_buckets is not None and len(max_offsets) == num_buckets:
        # safe only when marks cover all buckets (an unmarked bucket must
        # pass every offset through)
        global_min = min(int(v) for v in max_offsets.values())
        df = df.filter(F.col(offset_col) > F.lit(global_min))
    return (
        df.join(F.broadcast(marks), bucket_col, "left")
        .filter((F.col("__hwm").isNull()) | (F.col(offset_col) > F.col("__hwm")))
        .drop("__hwm")
    )


def _order_struct(order_cols: list[str]):
    return F.struct(*[F.col(c) for c in order_cols])


def lww_latest(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """D2 — latest row per key by the total event order.

    ``max_by`` runs as a partial-then-final hash aggregate: each map task
    reduces its slice of a hot key before the shuffle, so a key with 10^8
    events moves at most one row per map task — the skew answer that a
    window sort can't give.
    """
    payload_cols = payload_cols or [c for c in df.columns if c not in key_cols]
    agg = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload_cols]), _order_struct(order_cols)).alias(
            "__top"
        )
    )
    return agg.select(*key_cols, *[F.col(f"__top.{c}").alias(c) for c in payload_cols])
