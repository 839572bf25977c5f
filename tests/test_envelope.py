"""Envelope stage-unit tests (≙ CommitLogProcessorTest /
CassandraTypeDeserializerTest territory: classifiers, TTL math,
normalization, fingerprint parity)."""

from pyspark.sql import functions as F

from debezium_incubator_spark.operators import envelope as env
from tests.helpers import mk_events


def test_classify_partition_kind(spark):
    df = spark.createDataFrame(
        [
            # (clustering_del, view, index, counter, part_del, expected)
            (False, False, False, False, False, "ROW_LEVEL_MODIFICATION"),
            (False, False, False, False, True, "PARTITION_KEY_ROW_DELETION"),
            (True, False, False, False, True, "PARTITION_AND_CLUSTERING_KEY_ROW_DELETION"),
            (False, True, False, False, False, "MATERIALIZED_VIEW"),
            (False, False, True, False, False, "SECONDARY_INDEX"),
            (False, False, False, True, False, "COUNTER"),
        ],
        "cd boolean, mv boolean, si boolean, cnt boolean, pd boolean, expected string",
    )
    got = df.withColumn(
        "kind",
        env.classify_partition_kind(
            F.col("cd"), F.col("mv"), F.col("si"), F.col("cnt"), F.col("pd")
        ),
    )
    assert got.filter(F.col("kind") != F.col("expected")).count() == 0


def test_classify_row_op(spark):
    NT = env.NO_TIMESTAMP
    df = spark.createDataFrame(
        [
            (100, NT, False, "c"),  # liveness set → INSERT
            (NT, NT, False, "u"),  # neither → UPDATE
            (NT, 500, False, "d"),  # deletion ts → DELETE
            (100, 500, False, "d"),  # deletion wins
            (100, NT, True, None),  # range tombstone unsupported
        ],
        "liveness long, deletion long, rng boolean, expected string",
    )
    got = df.withColumn(
        "op", env.classify_row_op(F.col("liveness"), F.col("deletion"), F.col("rng"))
    )
    assert got.filter(~F.col("op").eqNullSafe(F.col("expected"))).count() == 0


def test_xstream_op_map(spark):
    df = spark.createDataFrame(
        [("INSERT", "c"), ("UPDATE", "u"), ("DELETE", "d"), ("COMMIT", None)],
        "cmd string, expected string",
    )
    got = df.withColumn("op", env.map_xstream_command(F.col("cmd")))
    assert got.filter(~F.col("op").eqNullSafe(F.col("expected"))).count() == 0


def test_ttl_deletion_ts_micros(spark):
    # SnapshotProcessor.java:236-245: µs(exec_ms) + µs(ttl_s)
    df = spark.createDataFrame([(1_700_000_000_000, 3600)], "ts long, ttl int")
    got = df.select(env.deletion_ts_micros(F.col("ts"), F.col("ttl")).alias("dts")).first()
    assert got["dts"] == 1_700_000_000_000 * 1000 + 3600 * 1_000_000


def test_normalize_content(spark):
    df = spark.createDataFrame(
        [
            ("a  \nb\t\r\nc",),
            ("clean\n",),
            ("",),
            (None,),
        ],
        "content string",
    )
    got = [r[0] for r in df.select(env.normalize_content("content")).collect()]
    assert got[0] == "a\nb\nc\n"
    assert got[1] == "clean\n"
    assert got[2] == "\n"
    assert got[3] is None


def test_fingerprint_matches_arrow_udf_and_python(spark):
    import hashlib

    df = spark.createDataFrame([("hello world\n",), ("def f(): pass\n",)], "content string")
    got = df.select(
        env.fingerprint(F.col("content")).alias("jvm"), F.col("content")
    ).collect()
    for r in got:
        assert r["jvm"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_build_unwrap_roundtrip(spark):
    flat = spark.createDataFrame(
        [("r1", "p1", "c" * 40, "py", "x = 1\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    envl = env.build_envelope(
        flat, op="c", offset=F.lit(7).cast("long"), ts_ms=F.lit(123).cast("long")
    )
    row = envl.first()
    assert row["op"] == "c" and row["offset"] == 7
    assert row["source"]["pos"] == 7 and row["source"]["snapshot"] is False
    back = env.unwrap_envelope(envl).first()
    assert back["content"] == "x = 1\n"
    assert back["content_sha256"] is not None


def test_unwrap_delete_and_tombstone_null_payloads(spark):
    ev = mk_events(
        spark,
        [
            {"offset": 1, "op": "c", "repo": "r", "path": "p",
             "after": {"commit": "a" * 40, "lang": "py", "content": "v1\n"}},
            {"offset": 2, "op": "d", "repo": "r", "path": "p",
             "after": {"commit": None, "lang": None, "content": None}},
            {"offset": 3, "op": "t", "repo": "r", "path": "p", "after": None},
        ],
    )
    flat = env.unwrap_envelope(ev).orderBy("offset").collect()
    assert flat[0]["content"] == "v1\n"
    assert flat[1]["content"] is None and flat[1]["content_sha256"] is None
    assert flat[2]["content"] is None


def test_unicode_content_fingerprint_parity(spark):
    import hashlib

    texts = ["héllo wörld 🎉\n", "日本語のコード // comment\n", "emoji 🧪🧬\tmixed  \n"]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    rows = df.select(
        env.normalize_content(F.col("content")).alias("norm"),
    ).collect()
    got = df.select(
        env.fingerprint(env.normalize_content(F.col("content"))).alias("h"),
        env.normalize_content(F.col("content")).alias("norm"),
    ).collect()
    for r in got:
        assert r["h"] == hashlib.sha256(r["norm"].encode("utf-8")).hexdigest()
    # normalization preserves non-ascii content, strips trailing ws
    assert rows[2]["norm"] == "emoji 🧪🧬\tmixed\n"


def test_source_struct_parity(spark):
    """SourceInfoTest.java:39-67 analog: version and connector fields are
    present and populated, and the source schema is the fixed field list
    (the superset of Cassandra SourceInfo.java:34-44 and Oracle
    OracleSourceInfoStructMaker.java:20-27 documented in SURVEY §1.1)."""
    flat = spark.createDataFrame(
        [("r", "p", "c0", "py", "x = 1\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    envl = env.build_envelope(
        flat, op="c", offset=F.lit(7).cast("long"), ts_ms=F.lit(123).cast("long")
    )
    names = [f.name for f in envl.schema["source"].dataType.fields]
    assert names == [
        "version", "connector", "cluster", "file", "pos", "snapshot",
        "keyspace", "table", "ts_micro", "txid", "scn",
    ]
    src = envl.first()["source"]
    assert src["version"] and src["connector"]            # presence (SourceInfoTest)
    assert src["ts_micro"] == 123 * 1000                  # epoch-micros contract
    assert src["scn"] == 7                                # offset doubles as SCN
    # generator envelopes carry the SAME source schema (cross-producer parity)
    from debezium_incubator_spark.sources.generator import gen_changelog

    g = gen_changelog(spark, n_keys=5, n_repos=2, n_slots=5)
    shape = lambda dt: [(f.name, f.dataType.simpleString()) for f in dt.fields]  # noqa: E731
    assert shape(g.schema["source"].dataType) == shape(envl.schema["source"].dataType)
