"""The corpus memo (orca_spark.memo): an entry is reused only while the
files under its corpus path are unchanged, and only for that path."""

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from orca_spark import memo
from orca_spark.operators.bpe import bpe_train
from orca_spark.tables import load


def _write_docs(d, texts):
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["s0"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(str(d), "documents.parquet"))
    return str(d)


def _words(spark, d):
    return (
        load(spark, d, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _counter():
    """A build that returns how many times it has been called."""
    return itertools.count(1).__next__


def test_bpe_merges_follow_a_rewritten_corpus(spark, tmp_path):
    d = _write_docs(tmp_path, ["aaaa aaaa", "aab"])
    first = bpe_train(_words(spark, d), n_merges=3, cache_key=d)
    # rewritten in place under the same path: the memoized relation AND
    # the memoized merge table must both be rebuilt from the new files
    _write_docs(tmp_path, ["bcbc bcbc xy", "bcx"])
    second = bpe_train(_words(spark, d), n_merges=3, cache_key=d)
    fresh = bpe_train(_words(spark, d), n_merges=3)
    assert second == fresh
    assert second != first
    assert ("b", "c") in [(m[1], m[2]) for m in second]


def test_relation_sees_files_added_to_a_table(spark, tmp_path):
    # a table stored as a directory of parts; a part added later must be
    # listed, not hidden behind the first load's file listing
    part = pa.table({"k": pa.array([1, 2], pa.int64())})
    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    pq.write_table(part, str(table_dir / "part-0.parquet"))
    assert load(spark, str(tmp_path), "region").count() == 2
    pq.write_table(part, str(table_dir / "part-1.parquet"))
    assert load(spark, str(tmp_path), "region").count() == 4


def test_hard_linked_corpora_do_not_share_entries(spark, tmp_path):
    # the benchmark gives every pass its own directory of hard links to
    # the same files: equal fingerprints, and still no shared entry
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.mkdir(a)
    os.mkdir(b)
    _write_docs(a, ["x y z"])
    os.link(os.path.join(a, "documents.parquet"), os.path.join(b, "documents.parquet"))
    build = _counter()
    assert memo.cached(a, ("probe",), build) == 1
    assert memo.cached(b, ("probe",), build) == 2
    assert memo.cached(a, ("probe",), build) == 1
    assert memo.cached(b, ("probe",), build) == 2
    rel_a, rel_b = load(spark, a, "documents"), load(spark, b, "documents")
    assert rel_a is not rel_b
    assert all(f.startswith(f"file://{b}/") for f in rel_b.inputFiles())


def test_clear_forces_rebuild(spark, tmp_path):
    d = _write_docs(tmp_path, ["x y z"])
    build = _counter()
    assert memo.cached(d, ("probe",), build) == 1
    assert memo.cached(d, ("probe",), build) == 1
    rel = load(spark, d, "documents")
    assert load(spark, d, "documents") is rel
    memo.clear()
    assert memo.cached(d, ("probe",), build) == 2
    assert load(spark, d, "documents") is not rel


def test_any_file_change_under_the_corpus_rebuilds(tmp_path):
    d = _write_docs(tmp_path, ["x y z"])
    path = os.path.join(d, "documents.parquet")
    build = _counter()
    assert memo.cached(d, ("probe",), build) == 1
    # same size, new mtime
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert memo.cached(d, ("probe",), build) == 2
    # a new file anywhere under the corpus
    os.makedirs(os.path.join(d, "extra"))
    open(os.path.join(d, "extra", "part-0"), "w").close()
    assert memo.cached(d, ("probe",), build) == 3
    # a different key under the same corpus is its own entry
    assert memo.cached(d, ("other",), build) == 4
    assert memo.cached(d, ("probe",), build) == 3
