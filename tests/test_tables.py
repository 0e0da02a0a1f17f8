"""``tables.parquet_schema`` reads the schema Spark's parquet inference
would, from one footer on the driver, and ``tables.load`` runs no job."""

import datetime as dt
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orca_spark.tables import TABLES, load, parquet_schema
from tests.conftest import SF_DIR, jobs_in_group

# the three bundled corpora, beside the default test corpus
_CORPORA = [os.path.join(os.path.dirname(SF_DIR), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]


@pytest.mark.parametrize("sf_dir", _CORPORA)
def test_schema_matches_inference_on_every_table(spark, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, path


def _part(d, name, table):
    pq.write_table(table, os.path.join(d, name))


_NARROW = pa.table({"k": pa.array([1, 2], pa.int64())})
_WIDE = pa.table({"k": pa.array([3], pa.int64()), "v": pa.array(["x"], pa.string())})


@pytest.mark.parametrize(
    "parts, names",
    [
        ([("part-0.parquet", _NARROW), ("part-1.parquet", _WIDE)], ["k"]),
        ([("part-0.parquet", _WIDE), ("part-1.parquet", _NARROW)], ["k", "v"]),
        # hidden and in-progress files are not data files
        ([("_SUCCESS", _WIDE), (".part-0.crc", _WIDE), ("part-1.parquet", _NARROW)], ["k"]),
        ([("part-0.parquet._COPYING_", _WIDE), ("part-1.parquet", _NARROW)], ["k"]),
    ],
)
def test_directory_takes_the_first_part_by_path(spark, tmp_path, parts, names):
    for name, table in parts:
        _part(str(tmp_path), name, table)
    want = spark.read.parquet(str(tmp_path)).schema
    assert want.names == names
    assert parquet_schema(spark, str(tmp_path)) == want


def test_partitioned_directory_reads_like_inference(spark, tmp_path):
    (tmp_path / "d=1").mkdir()
    (tmp_path / "d=2").mkdir()
    _part(str(tmp_path / "d=1"), "part-0.parquet", _WIDE)
    _part(str(tmp_path / "d=2"), "part-0.parquet", _NARROW)
    p = str(tmp_path)
    want = spark.read.parquet(p)
    assert want.columns == ["k", "v", "d"]
    got = spark.read.schema(parquet_schema(spark, p)).parquet(p)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


@pytest.mark.parametrize("summary", ["_common_metadata", "_metadata"])
def test_directory_summary_file_wins(spark, tmp_path, summary):
    _part(str(tmp_path), "part-0.parquet", _NARROW)
    pq.write_metadata(_WIDE.schema, str(tmp_path / summary))
    want = spark.read.parquet(str(tmp_path)).schema
    assert want.names == ["k", "v"]
    assert parquet_schema(spark, str(tmp_path)) == want


def test_required_fields_read_nullable(spark, tmp_path):
    schema = pa.schema(
        [
            pa.field("k", pa.int64(), nullable=False),
            pa.field("xs", pa.list_(pa.field("x", pa.int32(), nullable=False)), nullable=False),
            pa.field("s", pa.struct([pa.field("a", pa.string(), nullable=False)]), nullable=False),
        ]
    )
    table = pa.table({"k": [1], "xs": [[1, 2]], "s": [{"a": "z"}]}, schema=schema)
    path = str(tmp_path / "t.parquet")
    pq.write_table(table, path)
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


_UNSET = object()
# session confs that steer the footer → schema conversion; _UNSET means
# Spark's default, as in a plain SparkSession that configure_session
# never touched
_PLAIN = {
    "spark.sql.legacy.parquet.nanosAsLong": _UNSET,
    "spark.sql.parquet.inferTimestampNTZ.enabled": _UNSET,
}
_SESSIONS = pytest.mark.parametrize(
    "confs",
    [
        None,  # get_spark's session
        _PLAIN,
        {**_PLAIN, "spark.sql.legacy.parquet.nanosAsLong": "true"},
        {**_PLAIN, "spark.sql.parquet.binaryAsString": "true"},
    ],
    ids=["get_spark", "plain", "plain_nanos_as_long", "plain_binary_as_string"],
)


def _session(spark, confs):
    if confs is None:
        return spark
    session = spark.newSession()
    for k, v in confs.items():
        if v is _UNSET:
            session.conf.unset(k)
        else:
            session.conf.set(k, v)
    return session


_T = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)


@_SESSIONS
def test_naive_timestamp_and_binary_schemas_follow_session_conf(spark, tmp_path, confs):
    session = _session(spark, confs)
    path = str(tmp_path / "t.parquet")
    table = pa.table(
        {
            "naive_us": pa.array([_T], pa.timestamp("us")),
            "utc_us": pa.array([_T], pa.timestamp("us", tz="UTC")),
            "raw": pa.array([b"ab"], pa.binary()),
        }
    )
    pq.write_table(table, path)
    want = session.read.parquet(path).schema
    assert parquet_schema(session, path) == want
    naive = want["naive_us"].dataType.typeName()
    assert naive == ("timestamp" if confs is None else "timestamp_ntz")


@_SESSIONS
def test_nanos_timestamp_schema_follows_session_conf(spark, tmp_path, confs):
    session = _session(spark, confs)
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"ts": pa.array([_T], pa.timestamp("ns"))}), path, version="2.6")
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    if session.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true":
        want = session.read.parquet(path).schema
        assert want["ts"].dataType.typeName() == "long"
        assert parquet_schema(session, path) == want
    else:
        # without nanosAsLong NANOS is an illegal type, for both
        with pytest.raises(Exception, match=r"TIMESTAMP\(NANOS"):
            session.read.parquet(path)
        with pytest.raises(Exception, match=r"TIMESTAMP\(NANOS"):
            parquet_schema(session, path)


def test_load_on_a_fresh_corpus_submits_no_job(spark, tmp_path):
    src = SF_DIR
    for name in TABLES:
        shutil.copy(f"{src}/{name}.parquet", str(tmp_path / f"{name}.parquet"))
    sc = spark.sparkContext
    group = "tables-load-" + uuid.uuid4().hex
    sc.setJobGroup(group, "tables.load on a fresh corpus")
    try:
        frames = [load(spark, str(tmp_path), name) for name in TABLES]
        assert jobs_in_group(spark, group) == []
        # the probe sees jobs: inference runs one per read
        spark.read.parquet(f"{src}/region.parquet")
        assert jobs_in_group(spark, group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [f.schema for f in frames] == [
        spark.read.parquet(f"{src}/{name}.parquet").schema for name in TABLES
    ]
