"""D3 — MERGE INTO (upsert-apply) as key-partitioned copy-on-write.

Reference semantics: the Kafka compacted topic keyed by PK *is* the
materialized table (Record.buildKey, Record.java:73-84); insert/update
replace the value, delete + tombstone remove the key
(TombstoneRecord.java:14-24). We apply a deduped batch to the LakeTable
the way Iceberg CoW MERGE does physically, with an explicit shuffle
story:

1. bucket the batch on the primary key (same function as the table
   layout) — changed buckets = the only data ever rewritten;
2. LWW-dedup the batch (hash agg, skew-proof — see dedup.py);
3. survivors = current rows of changed buckets ANTI JOIN batch keys.
   The key set of a CDC batch is small relative to the target, so it is
   BROADCAST: the 100 TB side never shuffles;
4. new bucket contents = survivors ∪ batch upserts, one commit.

Partial-image updates (cell ``set`` flags,
CommitLogReadHandlerImpl.java:351-410 null-vs-unset semantics) are
supported via an ``after_set`` column: matched current rows are fetched
with a broadcast SEMI join and coalesced field-wise.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_incubator_spark.lake.table import BUCKET_COL, LakeTable
from debezium_incubator_spark.operators.dedup import lww_latest
from debezium_incubator_spark.operators.envelope import DELETE_OPS, OP_TOMBSTONE

# the engine's event columns: every batch_stats_rows / merge_upsert
# caller uses exactly these, so they are constants, not parameters
OP_COL = "op"
OFFSET_COL = "offset"


def _deleted():
    return F.col(OP_COL).isin(*DELETE_OPS)


def stats_aggs(key_cols: list[str], order0: str) -> list:
    """THE per-bucket batch-stats aggregation: max offset (checkpoint
    marks), row/delete/tombstone counts, and measured key bytes (drives
    the broadcast-vs-fused merge decision). batch_stats_rows and the
    orchestrator's shared per-(table, bucket) pass both group by it."""
    key_len = sum(
        (F.coalesce(F.length(F.col(k).cast("string")), F.lit(0)) for k in key_cols),
        F.lit(0),
    )
    return [
        F.max(order0).alias("max_off"),
        F.count(F.lit(1)).alias("n"),
        F.sum(_deleted().cast("long")).alias("n_del"),
        F.sum((F.col(OP_COL) == OP_TOMBSTONE).cast("long")).alias("n_tomb"),
        F.sum(key_len).alias("key_bytes"),
    ]


def batch_stats_rows(b, key_cols: list[str], order0: str):
    """ONE skinny stats pass over a bucketed batch (see stats_aggs).
    Split out of merge_upsert so a driver loop can PREFETCH the next
    epoch's stats concurrently with the current epoch's write (the two
    Spark actions per epoch are the fixed driver cost that caps scaling
    at small epochs — see BENCH.md)."""
    return b.groupBy(BUCKET_COL).agg(*stats_aggs(key_cols, order0)).collect()


def merge_upsert(
    table: LakeTable,
    batch,
    key_cols: list[str],
    order_cols: list[str],
    summary: dict | None = None,
    after_set_col: str | None = None,
    broadcast_keys_max: int = 4_000_000,
    broadcast_key_bytes_max: int = 64 * 1024 * 1024,
    target_rows_per_write_task: int = 500_000,
    assume_unique_keys: bool = False,
    extra_counters: dict | None = None,
    stats_rows: list | None = None,  # prefetched batch_stats_rows result
    # (MUST describe exactly this batch's post-guard rows — the run()
    # loop prefetches the next disjoint slice, where the replay guard is
    # a no-op by construction)
    trust_bucket_col: bool = False,  # True = the batch's existing
    # BUCKET_COL was computed by THIS table's bucket function (the
    # engine computes it before the replay guard); default False
    # recomputes — a foreign/stale bucket column would corrupt layout
) -> tuple[int, dict]:
    """Apply one change batch; returns (new_table_version, batch_stats).

    ``batch`` columns: key_cols + table payload columns + op + order
    columns. ``batch_stats`` = {"max_offsets": {bucket: long},
    "counters": {...}} for the checkpoint.
    """
    spark = batch.sparkSession
    m = table.manifest()
    target_cols = [f["name"] for f in table.current_fields(m)]
    payload_cols = [c for c in target_cols if c not in key_cols]

    # no persist: the stats pass prunes to (bucket, offset, op) — a
    # skinny columnar scan — while the write pass computes the full
    # pipeline exactly once; caching the full batch would force the
    # normalization/fingerprint work into the stats pass too
    b = (
        batch
        if trust_bucket_col and BUCKET_COL in batch.columns
        else table.with_bucket(batch, m)
    )
    order0 = order_cols[0]
    target_empty = not m["buckets"]
    if stats_rows is None and target_empty:
        # EMPTY-target fast path (bootstrap): the stats only feed the
        # manifest summary, which commit assembles AFTER the data write —
        # so the collect runs CONCURRENTLY with the write job instead of
        # serializing ahead of it (same two-jobs-in-flight soundness as
        # run()'s stats prefetch; the serial stats latency was ~2-3 s of
        # every sf1.0 snapshot). A quick isEmpty probe preserves the
        # no-commit contract for an empty batch.
        if b.isEmpty():
            return table.version(), {"max_offsets": {}, "counters": {"events_in": 0}}
        from concurrent.futures import ThreadPoolExecutor

        # the pool's shutdown is scoped from the submit on: a plan-
        # construction error must not leak its worker thread
        with ThreadPoolExecutor(max_workers=1) as stats_pool:
            stats_fut = stats_pool.submit(batch_stats_rows, b, key_cols, order0)
            latest = _batch_latest(
                b, key_cols, order_cols, payload_cols, after_set_col, assume_unique_keys
            )
            out = latest.filter(~_deleted()).select(*key_cols, *payload_cols, BUCKET_COL)
            return _commit_overlapped(table, m, out, stats_fut, summary, extra_counters)
    if stats_rows is None:
        stats_rows = batch_stats_rows(b, key_cols, order0)
    if not stats_rows:
        return table.version(), {"max_offsets": {}, "counters": {"events_in": 0}}

    changed = sorted(int(r[BUCKET_COL]) for r in stats_rows)
    events_in = sum(int(r["n"]) for r in stats_rows)
    # estimated driver-side size of the broadcast key set: measured key
    # bytes + ~48 B/row HashedRelation overhead (gate on BYTES, not rows:
    # 4M long (repo, path) strings would be hundreds of MB on the driver)
    key_bytes_est = sum(int(r["key_bytes"] or 0) for r in stats_rows) + 48 * events_in

    latest = _batch_latest(
        b, key_cols, order_cols, payload_cols, after_set_col, assume_unique_keys
    )
    partial = after_set_col is not None and not assume_unique_keys

    target_rows = 0 if target_empty else table.row_count(buckets=changed, manifest=m)
    # Strategy choice from table stats (≙ a cost-based MERGE plan):
    #  * broadcast-anti — batch keys ≪ target rows (the 100 TB steady
    #    state): the huge target side never shuffles; batch keys ride a
    #    broadcast into an anti-join. Driver builds the broadcast, so
    #    gate it on absolute size too.
    #  * fused-agg — batch rivals the target (initial catch-up, bench):
    #    ONE hash-agg shuffle computes the final per-key state over
    #    current ∪ batch, with current rows ordered below every event.
    #    No driver-side key table, everything parallel.
    # partial batches no longer FORCE the broadcast path (review r5-2
    # #3: that bypassed both driver-size gates — a multi-million-row
    # partial catch-up would build an ungated broadcast); when the gates
    # fail, the fused path below expresses the same field-wise coalesce
    # distributively (current rows ride as full-image pseudo-events)
    use_broadcast = (
        not target_empty
        and (events_in <= min(broadcast_keys_max, max(target_rows // 4, 100_000)))
        and key_bytes_est <= broadcast_key_bytes_max
    )

    if target_empty:
        out = latest.filter(~_deleted()).select(*key_cols, *payload_cols, BUCKET_COL)
    elif use_broadcast:
        # `latest` feeds both the broadcast key set and the upsert write —
        # persist the slim deduped form so the unwrap+LWW pipeline runs
        # exactly once (the stats pass above stays a skinny pruned scan)
        from pyspark import StorageLevel

        latest = latest.persist(StorageLevel.MEMORY_AND_DISK)
        upserts = latest.filter(~_deleted())
        keys = F.broadcast(latest.select(*key_cols))

        current = table.with_bucket(table.read(spark, buckets=changed), m)
        survivors = current.join(keys, key_cols, "left_anti")

        if after_set_col:
            upserts = _coalesce_partial(
                upserts, current, key_cols, payload_cols, after_set_col
            )
        upserts = upserts.select(*key_cols, *payload_cols, BUCKET_COL)
        out = survivors.select(*key_cols, *payload_cols, BUCKET_COL).unionByName(upserts)
    else:
        # fused: current rows become pseudo-events ordered below all real
        # events, then one LWW over the union decides every key
        current = table.with_bucket(table.read(spark, buckets=changed), m)
        order_types = dict(b.dtypes)
        cur_cols = [
            *key_cols,
            *payload_cols,
            F.lit("r").alias(OP_COL),
            BUCKET_COL,
            *[
                (F.lit(-(1 << 62)) if i == 0 else F.lit(None))
                .cast(order_types[c])
                .alias(c)
                for i, c in enumerate(order_cols)
                if c != OP_COL
            ],
        ]
        if partial:
            # current rows ride as FULL-IMAGE pseudo-events (NULL set
            # list, op 'r' ≠ 'u' → sets every field) below all real
            # offsets: the field-wise fold then keeps the current value
            # for any field no event set — the distributed form of the
            # broadcast path's coalesce, with the same delete-reset
            cur_cols.append(F.lit(None).cast("array<string>").alias(after_set_col))
        cur_ev = current.select(*cur_cols)
        ev = b.select(*cur_ev.columns)
        unioned = cur_ev.unionByName(ev)
        if partial:
            fused = _lww_partial(unioned, key_cols, order0, payload_cols, after_set_col)
        else:
            fused = lww_latest(
                unioned, key_cols, order_cols, payload_cols + [OP_COL, BUCKET_COL]
            )
        out = fused.filter(~_deleted()).select(*key_cols, *payload_cols, BUCKET_COL)

    max_offsets, counters, full_summary = _finalize_stats(
        stats_rows, summary, extra_counters
    )
    # size the CoW write shuffle by estimated output volume: a touched
    # 200 GB bucket must never funnel through ONE reducer (the salt in
    # LakeTable.commit spreads it; partitionBy keeps the layout)
    rows_out_est = target_rows + events_in
    write_tasks = max(
        len(changed), -(-rows_out_est // max(target_rows_per_write_task, 1))
    )
    try:
        version = table.commit(
            out, replace_buckets=changed, summary=full_summary, write_tasks=write_tasks
        )
    finally:
        if latest.is_cached:
            latest.unpersist()
    return version, {"max_offsets": max_offsets, "counters": counters}


def _batch_latest(
    b, key_cols, order_cols, payload_cols, after_set_col, assume_unique_keys
):
    """The batch's per-key latest rows: payload + op + bucket (+ the
    set-flag column) for every key the batch touches."""
    extra = [c for c in (OP_COL, BUCKET_COL, after_set_col) if c]
    if assume_unique_keys:
        # snapshot bootstrap fast path: rows are unique per key by
        # construction (a consistent table read) — skip the LWW
        # shuffle of full payloads
        return b.select(*key_cols, *payload_cols, *extra)
    if after_set_col is not None:
        # cell set-flag batches: field-wise fold, NOT winner-only LWW —
        # several partial updates to one key in one epoch each
        # contribute their set fields; output carries a
        # SYNTHESIZED after_set so the broadcast path's coalesce fills
        # exactly the never-set fields from the current row
        return _lww_partial(b, key_cols, order_cols[0], payload_cols, after_set_col)
    return lww_latest(b, key_cols, order_cols, payload_cols + extra)


def _finalize_stats(rows, summary, extra_counters):
    """Stats rows → (max_offsets, counters, commit summary)."""
    mo = {str(int(r[BUCKET_COL])): int(r["max_off"]) for r in rows}
    cs = {
        "events_in": sum(int(r["n"]) for r in rows),
        "deletes": sum(int(r["n_del"]) for r in rows),
        "tombstones": sum(int(r["n_tomb"]) for r in rows),
        "buckets_touched": len(mo),
    }
    if extra_counters:
        cs.update(extra_counters)
    fs = dict(summary or {})
    fs["max_offsets"] = mo
    fs["counters"] = cs
    return mo, cs, fs


def _commit_overlapped(table, m, out, stats_fut, summary, extra_counters):
    """Commit ``out`` into an empty target while the stats job
    (``stats_fut``) is still running; commit resolves it AFTER the data
    write. The write shuffle is sized from the PLAN's size estimate (no
    extra job) toward ~256 MB per task, clamped sanely; replace_buckets
    covers the whole (empty) bucket range so the manifest lists exactly
    the buckets the write produced."""
    holder: dict = {}

    def _summary_fn():
        holder["res"] = _finalize_stats(stats_fut.result(), summary, extra_counters)
        return holder["res"][2]

    # plan-size estimates are only trustworthy for file-scan-rooted
    # plans (a local relation reported ~TB for one row — 11k write
    # tasks); clamp to 8× the cluster's parallelism so a bogus
    # estimate costs bounded scheduling, while a genuinely huge
    # snapshot still spreads its buckets over many salted writers
    try:
        est_bytes = int(
            str(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        est_bytes = 0
    par_cap = 8 * out.sparkSession.sparkContext.defaultParallelism
    write_tasks = int(max(m["num_buckets"], min(est_bytes // (256 << 20), par_cap)))
    version = table.commit(
        out,
        replace_buckets=range(m["num_buckets"]),
        summary_fn=_summary_fn,
        write_tasks=write_tasks,
    )
    mo, cs, _ = holder["res"]
    return version, {"max_offsets": mo, "counters": cs}


def _lww_partial(df, key_cols, order0, payload_cols, after_set_col):
    """Field-wise LWW fold for cell set-flag batches (review r5-2 #1:
    winner-only LWW silently discarded earlier partial updates' fields
    when a key had several events in one epoch).

    Per key, matching chained per-event application (CellData.java
    'set' semantics): each payload field's value comes from the LAST
    event that SET it — op != 'u' or a NULL set list sets every field —
    and a destructive event (delete/tombstone) RESETS the fold: only
    events after the key's last destructive offset contribute, so a
    post-delete re-create never inherits pre-delete cells. The row's
    ``op`` is the overall winner's (a delete winner drops the key
    downstream); the emitted ``after_set`` is synthesized as the union
    of fields actually set, so the broadcast path's current-row
    coalesce fills exactly the rest.

    Shape: one key-partitioned window max (slim: offset only) + one
    hash aggregation — no per-event iteration, no payload sort."""
    from pyspark.sql.window import Window

    is_del = _deleted()
    w = Window.partitionBy(*key_cols)
    df = df.withColumn("__last_del", F.max(F.when(is_del, F.col(order0))).over(w))
    # strictly below every real offset INCLUDING the fused path's
    # -(1<<62) current-row sentinel (which must count as pre-delete)
    post = F.col(order0) > F.coalesce(F.col("__last_del"), F.lit(-(1 << 62) - 1))
    sets_all = (F.col(OP_COL) != "u") | F.col(after_set_col).isNull()
    aggs = [
        F.max_by(F.col(OP_COL), F.col(order0)).alias("__wop"),
        F.max(F.col(BUCKET_COL)).alias(BUCKET_COL),
        # per-key constant (window max); carried so the output can mark
        # delete-reset keys as FULL images (review r5-3 #1 below)
        F.max(F.col("__last_del")).alias("__ld"),
    ]
    for c in payload_cols:
        setc = (
            post
            & ~is_del
            & (sets_all | F.array_contains(F.col(after_set_col), c))
        )
        aggs.append(F.max_by(F.col(c), F.when(setc, F.col(order0))).alias(c))
        aggs.append(F.max(F.when(setc, F.lit(1))).alias(f"__set_{c}"))
    g = df.groupBy(*key_cols).agg(*aggs)
    synth = F.filter(
        F.array(
            *[
                F.when(F.col(f"__set_{c}") == 1, F.lit(c)).otherwise(
                    F.lit(None).cast("string")
                )
                for c in payload_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    # review r5-3 #1: a key whose fold crossed an in-batch delete must
    # emit a FULL image (NULL set list = "sets every field"), not the
    # synthesized union — otherwise the broadcast path's current-row
    # coalesce back-fills never-set fields from the PRE-delete table
    # row, resurrecting deleted cells (d-then-partial-u in one epoch).
    # The fold itself already reset those fields to NULL; NULL after_set
    # makes _coalesce_partial keep them NULL, matching the fused path.
    out_set = F.when(
        F.col("__ld").isNotNull(), F.lit(None).cast("array<string>")
    ).otherwise(synth)
    return g.select(
        *key_cols,
        *payload_cols,
        F.col("__wop").alias(OP_COL),
        BUCKET_COL,
        out_set.alias(after_set_col),
    )


def _coalesce_partial(upserts, current, key_cols, payload_cols, after_set_col):
    """Cell-level set flags: a payload field absent from ``after_set`` on
    an update keeps the current table value (null-vs-unset distinction,
    CellData 'set' sub-field, CellData.java:27-87).

    Matched rows are a subset of the batch key set → SEMI-join with the
    (already small) upsert keys, then broadcast the matched rows back.
    """
    matched = current.join(
        F.broadcast(upserts.select(*key_cols)), key_cols, "left_semi"
    ).select(*key_cols, *[F.col(c).alias(f"__cur_{c}") for c in payload_cols])
    joined = upserts.join(F.broadcast(matched), key_cols, "left")
    cols = []
    for c in payload_cols:
        keep_current = (
            (F.col(OP_COL) == "u")
            & F.col(after_set_col).isNotNull()
            & ~F.array_contains(F.col(after_set_col), c)
        )
        cols.append(F.when(keep_current, F.col(f"__cur_{c}")).otherwise(F.col(c)).alias(c))
    keep = [k for k in joined.columns if not k.startswith("__cur_") and k not in payload_cols]
    return joined.select(*keep, *cols)
