"""Change-event envelope: schema, classifiers, assembly, unwrap.

The envelope is the reference's `Record` value `{ts_ms, op, source,
after}` (Record.java:27-97, fields at :29-32) extended with `before`
(Oracle before-images, XStreamChangeRecordEmitter.java:44-51) and a
total-order `offset` (≙ Cassandra OffsetPosition file:pos,
OffsetPosition.java:17-55; ≙ Oracle LcrPosition bytes,
LcrPosition.java:24-109), flattened to `(segment, pos)` + one long.

Ops: c/u/d (Record.Operation, Record.java:42-61), r (snapshot READ,
SnapshotChangeRecordEmitter.java:30-32), t (tombstone,
TombstoneRecord.java:14-24).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------- schema

KEY_COLS = ["repo", "path"]
PAYLOAD_FIELDS = [("commit", "string"), ("lang", "string"), ("content", "string")]

OP_CREATE, OP_UPDATE, OP_DELETE, OP_READ, OP_TOMBSTONE = "c", "u", "d", "r", "t"
DELETE_OPS = (OP_DELETE, OP_TOMBSTONE)

# superset of Cassandra SourceInfo.SOURCE_SCHEMA (SourceInfo.java:34-44)
# and Oracle source fields (OracleSourceInfoStructMaker.java:20-27)
SOURCE_TYPE = T.StructType(
    [
        T.StructField("version", T.StringType()),
        T.StructField("connector", T.StringType()),
        T.StructField("cluster", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("snapshot", T.BooleanType()),
        T.StructField("keyspace", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("ts_micro", T.LongType()),
        T.StructField("txid", T.StringType()),
        T.StructField("scn", T.LongType()),
    ]
)


def payload_type(fields: list[tuple[str, str]] | None = None) -> T.StructType:
    fields = fields or PAYLOAD_FIELDS
    return T.StructType(
        [T.StructField(n, T._parse_datatype_string(t), True) for n, t in fields]
    )


def changelog_schema(fields: list[tuple[str, str]] | None = None) -> T.StructType:
    p = payload_type(fields)
    return T.StructType(
        [
            T.StructField("offset", T.LongType(), False),
            T.StructField("segment", T.LongType(), False),
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("ts_ms", T.LongType(), False),
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("before", p, True),
            T.StructField("after", p, True),
            T.StructField("source", SOURCE_TYPE, True),
        ]
    )


# ---------------------------------------------------------------- classifiers

# T1 — partition-update kinds (CommitLogReadHandlerImpl.java:76-136).
SUPPORTED_PARTITION_KINDS = ("PARTITION_KEY_ROW_DELETION", "ROW_LEVEL_MODIFICATION")
UNSUPPORTED_PARTITION_KINDS = (
    "PARTITION_AND_CLUSTERING_KEY_ROW_DELETION",
    "MATERIALIZED_VIEW",
    "SECONDARY_INDEX",
    "COUNTER",
)


def classify_partition_kind(
    has_clustering_deletion: Column,
    is_view: Column,
    is_index: Column,
    is_counter: Column,
    is_partition_deletion: Column,
) -> Column:
    """F.when-chain port of the reference's PartitionType.getPartitionType."""
    return (
        F.when(is_counter, F.lit("COUNTER"))
        .when(is_view, F.lit("MATERIALIZED_VIEW"))
        .when(is_index, F.lit("SECONDARY_INDEX"))
        .when(
            is_partition_deletion & has_clustering_deletion,
            F.lit("PARTITION_AND_CLUSTERING_KEY_ROW_DELETION"),
        )
        .when(is_partition_deletion, F.lit("PARTITION_KEY_ROW_DELETION"))
        .otherwise(F.lit("ROW_LEVEL_MODIFICATION"))
    )


NO_TIMESTAMP = -(1 << 63)  # LivenessInfo.NO_TIMESTAMP


def classify_row_op(liveness_ts: Column, row_deletion_ts: Column, has_range: Column) -> Column:
    """T2 — row-mutation kind (CommitLogReadHandlerImpl.java:141-202):
    DELETE when markedForDeleteAt > NO_TIMESTAMP, INSERT when the primary
    key liveness timestamp is set, UPDATE otherwise; range tombstones
    unsupported (parity with reference)."""
    return (
        F.when(has_range, F.lit(None).cast("string"))  # RANGE_TOMBSTONE → skipped
        .when(row_deletion_ts > F.lit(NO_TIMESTAMP), F.lit(OP_DELETE))
        .when(liveness_ts > F.lit(NO_TIMESTAMP), F.lit(OP_CREATE))
        .otherwise(F.lit(OP_UPDATE))
    )


# XStream command → op (T9, XStreamChangeRecordEmitter.java:34-41);
# COMMIT is dropped upstream (LcrEventHandler.java:95-97).
XSTREAM_OP_MAP = {"INSERT": OP_CREATE, "UPDATE": OP_UPDATE, "DELETE": OP_DELETE}


def map_xstream_command(cmd: Column) -> Column:
    expr = F.lit(None).cast("string")
    for k, v in XSTREAM_OP_MAP.items():
        expr = F.when(cmd == k, F.lit(v)).otherwise(expr)
    return expr


def deletion_ts_micros(execution_ts_ms: Column, ttl_s: Column) -> Column:
    """T5 — TTL → deletion timestamp in micros
    (SnapshotProcessor.java:236-245): µs(exec time) + µs(ttl)."""
    return execution_ts_ms * F.lit(1000) + ttl_s.cast("long") * F.lit(1_000_000)


# ---------------------------------------------------------------- content UDFs

@pandas_udf(T.StringType())
def normalize_content(s: pd.Series) -> pd.Series:
    """Vectorized content normalization (north-rule transform): strip
    trailing whitespace per line, collapse \r\n, ensure one trailing
    newline.

    Truly C-vectorized: pyarrow RE2 kernels (pandas .str.replace still
    runs Python's `re` per element — profiling showed JVM task threads
    spending ~40% of their time blocked on the Python workers with that
    version). RE2 has no lookahead, so the per-line rstrip matches the
    newline itself and re-emits it."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(s, type=pa.string())
    arr = pc.replace_substring(arr, pattern="\r\n", replacement="\n")
    arr = pc.replace_substring_regex(arr, pattern="[ \t\f\v\r]+\n", replacement="\n")
    arr = pc.replace_substring_regex(arr, pattern="[ \t\f\v\r]+$", replacement="")
    arr = pc.replace_substring_regex(arr, pattern="\n+$", replacement="")
    arr = pc.binary_join_element_wise(arr, pa.scalar("\n"), "")
    return arr.to_pandas()


def fingerprint(col: Column) -> Column:
    """The per-row invariant: sha256 hex of content (JVM-side, codegen)."""
    return F.lower(F.sha2(col, 256))


# ---------------------------------------------------------------- assembly / unwrap

def build_envelope(
    df: DataFrame,
    op: Column | str,
    offset: Column,
    ts_ms: Column,
    payload_fields: list[str] | None = None,
    before: Column | None = None,
    snapshot: bool = False,
    segment_size: int = 1 << 20,
    connector: str = "lake-cdc",
    keyspace: str = "repos",
    table: str = "files",
) -> DataFrame:
    """T3/T8 — assemble envelope rows from flat (repo, path, payload…) rows.

    Mirrors Record.buildValue (Record.java:86-97) + SourceInfo fields.
    """
    p_names = payload_fields or [n for n, _ in PAYLOAD_FIELDS]
    op_col = F.lit(op) if isinstance(op, str) else op
    # payload struct type follows the source column types (nested
    # list/set/map/tuple/UDT payloads ride through unchanged — the
    # CassandraTypeDeserializer family's job is done by the converters in
    # functions/types.py before this point)
    ptype = T.StructType(
        [T.StructField(n, df.schema[n].dataType, True) for n in p_names]
    )
    after = F.when(
        op_col.isin(OP_TOMBSTONE), F.lit(None).cast(ptype)
    ).otherwise(F.struct(*[F.col(n).alias(n) for n in p_names]))
    seg = F.floor(offset / F.lit(segment_size)).cast("long")
    pos = (offset % F.lit(segment_size)).cast("int")
    src = F.struct(
        F.lit("0.10.0").alias("version"),
        F.lit(connector).alias("connector"),
        F.lit("cluster-0").alias("cluster"),
        F.format_string("CommitLog-6-%d.log", seg).alias("file"),
        pos.alias("pos"),
        F.lit(snapshot).alias("snapshot"),
        F.lit(keyspace).alias("keyspace"),
        F.lit(table).alias("table"),
        (ts_ms * 1000).cast("long").alias("ts_micro"),
        F.lit(None).cast("string").alias("txid"),
        offset.cast("long").alias("scn"),
    )
    return df.select(
        offset.cast("long").alias("offset"),
        seg.alias("segment"),
        pos.alias("pos"),
        op_col.alias("op"),
        ts_ms.cast("long").alias("ts_ms"),
        F.col("repo"),
        F.col("path"),
        (before if before is not None else F.lit(None).cast(ptype)).alias("before"),
        after.alias("after"),
        src.alias("source"),
    )


def unwrap_envelope(
    df: DataFrame,
    payload_fields: list[str] | None = None,
    normalize: bool = True,
    content_field: str = "content",
) -> DataFrame:
    """T3/T4/T10/T11 — envelope → flat apply-ready rows.

    Delete/tombstone rows keep null payload (CommitLogReadHandlerImpl
    delete path :412-425 populates nulls + deletion ts; we carry the op
    instead). Content is normalized (pandas/Arrow UDF) and fingerprinted
    (sha256, the per-row invariant) on the way out.

    Column alignment by name replaces the reference's positional
    old/new ColumnValue alignment (XStreamChangeRecordEmitter.java:44-62).
    """
    p_names = payload_fields or [n for n, _ in PAYLOAD_FIELDS]
    cols = [
        F.col("offset"),
        F.col("op"),
        F.col("ts_ms"),
        *[F.col(k) for k in KEY_COLS],
        *[F.col(f"after.{n}").alias(n) for n in p_names],
    ]
    out = df.select(*cols)
    if content_field in p_names:
        c = normalize_content(F.col(content_field)) if normalize else F.col(content_field)
        out = out.withColumn(content_field, c).withColumn(
            "content_sha256",
            F.when(F.col(content_field).isNotNull(), fingerprint(F.col(content_field))),
        )
    return out
