"""Schema drift detection: the reference's merge lattice applied to
what a pipeline actually fears — an upstream producer silently changing
its output shape between batches.

Two ingest batches are schema-inferred independently; every column in
either batch is classified (added / removed / widened / narrowed /
unchanged / incompatible) by running the pair through
``schema.merge_types`` — the same Hive implicit-conversion lattice the
reference uses for typedef combination (core.clj:366-429).  This is
where the reference-parity schema machinery earns its keep inside the
pipeline story: the lattice's answer ("merged type == new type" =
widening, safe to auto-migrate; ``ValueError`` = incompatible, page a
human) IS the drift policy.

The report is schema-level metadata — inherently model-sized (one row
per column), built driver-side whatever the batch size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_spark.io import rows_to_df
from orca_spark.registry import register
from orca_spark.schema import merge_types, to_ddl
from orca_spark.tables import load


def schema_drift(schema_a, schema_b) -> list[tuple[str, str, str, str, str]]:
    """(column, type_a, type_b, merged, change) per column of either side."""
    fa = {f.name: f.dataType for f in schema_a.fields}
    fb = {f.name: f.dataType for f in schema_b.fields}
    out = []
    for name in sorted(set(fa) | set(fb)):
        ta, tb = fa.get(name), fb.get(name)
        if ta is None:
            out.append((name, None, to_ddl(tb), to_ddl(tb), "added"))
            continue
        if tb is None:
            out.append((name, to_ddl(ta), None, to_ddl(ta), "removed"))
            continue
        try:
            merged = merge_types(ta, tb)
        except ValueError:
            out.append((name, to_ddl(ta), to_ddl(tb), None, "incompatible"))
            continue
        if ta == tb:
            change = "unchanged"
        elif merged == tb:
            change = "widened"  # new batch's type absorbs the old: safe
        elif merged == ta:
            change = "narrowed"  # new batch narrowed: readable, flag it
        else:
            change = "diverged"  # both sides widen to a third type
        out.append((name, to_ddl(ta), to_ddl(tb), to_ddl(merged), change))
    return out


@register(
    "schema_drift_report",
    oracle=None,  # schema-level metadata derived via the Python merge
    # lattice — classification is pinned by tests/test_schema_drift.py
    description="schema drift report: two JSON ingest batches (the "
    "second widens n_chars to double and adds a column) are inferred "
    "independently and every column classified added/removed/widened/"
    "narrowed/incompatible through the reference-parity Hive merge "
    "lattice (core.clj:366-429) — 'merged == new type' is the "
    "safe-to-auto-migrate signal, ValueError is the page-a-human one; "
    "output is one model-sized row per column",
)
def schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_spark.operators.io_ops import scratch_path

    d = load(spark, sf_dir, "documents")
    base = scratch_path("schema_drift", sf_dir)
    # yesterday's producer: integer n_chars, no lang
    d.select("doc_id", "text", F.col("n_chars").cast("int").alias("n_chars")).write.mode(
        "overwrite"
    ).json(f"{base}/a")
    # today's: n_chars became fractional (widening), lang appeared
    d.select(
        "doc_id",
        "text",
        (F.col("n_chars") + F.lit(0.5)).alias("n_chars"),
        "lang",
    ).write.mode("overwrite").json(f"{base}/b")
    sa = spark.read.json(f"{base}/a").schema
    sb = spark.read.json(f"{base}/b").schema
    rows = schema_drift(sa, sb)
    return rows_to_df(
        spark,
        rows,
        "column string, type_a string, type_b string, merged string, change string",
    ).orderBy("column")
