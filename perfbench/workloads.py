"""The benchmark's workloads: what one pass runs and how it is checked.

A pass is a fixed list of operations over one fresh corpus copy. Every
operation runs inside a span named after it, so its time, and the Spark
jobs submitted while it ran, can be read back later. A registered query
runs as three child spans: ``construct`` (the query function, which may
run eager jobs and streaming drains before it returns a DataFrame),
``plan`` (forcing the physical plan) and ``exec`` (collecting the result
to pandas, the rows a user receives).

Checks never run inside a pass. Query results are compared with their
DuckDB oracles after the timed passes; the ORC operations' read-back
checks run once, after the first pass.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import traceback
from dataclasses import dataclass
from decimal import Decimal

import pyarrow.orc as pa_orc
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import rows as rowgen

# the engine's message for the lenient write of an array column; see
# the ``write_rows_lenient_nested`` operation below
KNOWN_DEFECT = 'cannot cast "STRING" to "ARRAY<STRING>"'


@dataclass
class OpResult:
    name: str
    kind: str  # query | infer | write | read | frame
    wall: float = 0.0
    error: str | None = None
    known_defect: bool = False
    out: object = None
    rows: int = 0  # rows written or read by an io operation
    path: str | None = None  # where a write operation put its files
    input_bytes: int = 0  # parquet bytes of the table a write copied

    @property
    def ok(self) -> bool:
        return self.error is None


class Workload:
    name = ""
    queries: tuple[str, ...] = ()
    corpus_sf = 0.1  # scale factor of the generated corpus; lineitem has 6e6 * sf rows
    # passes before the timed ones: the cold pass, then passes in which the
    # JIT still speeds the workload up at a pace that varies from run to run
    warm_up_passes = 2

    def prepare(self, ctx) -> None:
        """Seeded inputs beyond the corpus; part of set-up."""

    def run_pass(self, ctx, corpus_dir: str, out_dir: str) -> list[OpResult]:
        return [run_query(ctx, q, corpus_dir) for q in self.queries]

    def check_once(self, ctx, results: list[OpResult]) -> list[tuple[str, str]]:
        """Read-back checks of the first pass's non-query operations, as
        (operation, reason) pairs for the ones that failed."""
        return []


def _op(ctx, name: str, kind: str, body) -> OpResult:
    """Run ``body(result)`` in a span; an exception marks the result
    failed instead of ending the pass."""
    res = OpResult(name, kind)
    with ctx.tracer.span(name, kind=kind) as sp:
        try:
            res.out = body(res)
        except Exception as e:  # an operation failing is a measured outcome
            msg = " ".join(str(e).split())
            res.error = f"{type(e).__name__}: {msg[:400]}"
            res.known_defect = KNOWN_DEFECT in msg and name == "write_rows_lenient_nested"
            if not res.known_defect:
                traceback.print_exc()
    res.wall = sp.dur
    return res


def run_query(ctx, name: str, corpus_dir: str) -> OpResult:
    fn = ctx.queries[name]
    tracer, spark = ctx.tracer, ctx.spark

    def body(res):
        with tracer.span("construct"):
            df = fn(spark, corpus_dir)
        with tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            return df.toPandas()

    return _op(ctx, name, "query", body)


class DriverLoops(Workload):
    """Eager construction dominates: a training loop and a streaming drain
    run before the DataFrame returns."""

    name = "driver_loops"
    queries = (
        "text_bpe_train_merges",
        "streaming_hourly_counts",
    )
    # its many small jobs keep the JIT compiling longer: passes 3 and 4
    # each ran a median 7% faster than the pass before
    warm_up_passes = 3


def _project(schema: T.StructType, names) -> T.StructType:
    keep = set(names)
    return T.StructType([f for f in schema.fields if f.name in keep])


def _orc_files(path: str) -> list[str]:
    return sorted(
        f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
    )


def orc_footprint(path: str) -> tuple[int, int, int]:
    """(bytes, files, stripes) of the ORC files under ``path``."""
    files = _orc_files(path)
    stripes = 0
    for f in files:
        with open(f, "rb") as fh:
            stripes += pa_orc.ORCFile(fh).nstripes
    return sum(os.path.getsize(f) for f in files), len(files), stripes


def _plain(v):
    """Comparable form of a value read back through Spark: rows become
    dicts without null fields, timestamps naive UTC."""
    if isinstance(v, Row):
        v = v.asDict()
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items() if x is not None}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


class OrcRoundtrip(Workload):
    """The paper's own surface: schema inference and merge, row and
    DataFrame writes to ORC, reads and frame reshaping; no driver loop
    or stream."""

    name = "orc_roundtrip"
    queries = (
        "orc_roundtrip_nested",
        "orc_merge_schema_read",
    )
    # at 0.1 a warm pass takes twice as long (11 s on a 4-core host),
    # more than a run's time allows
    corpus_sf = 0.01
    n_batches = 2
    rows_per_batch = 1000
    lenient_columns = ("id", "n", "amount", "day", "at")
    spoil_columns = ("n", "amount", "day", "at")

    def prepare(self, ctx) -> None:
        self.batches = rowgen.make_batches(ctx.seed, self.n_batches, self.rows_per_batch)
        flat = [r for b in self.batches for r in b]
        self.lenient_rows, self.lenient_spoiled = rowgen.stringify(
            ctx.seed + 1, flat, self.lenient_columns, self.spoil_columns
        )
        nested = [{"id": r["id"], "tags": r["tags"]} for r in flat]
        self.nested_rows, self.nested_spoiled = rowgen.stringify(
            ctx.seed + 2, nested, ("id", "tags"), ("tags",), keep_lists=True
        )
        li = ctx.corpus.tables["lineitem"]
        self.li_rows = li.num_rows
        self.li_parquet_bytes = ctx.corpus.parquet_bytes("lineitem")
        self.li_price = li.column("l_extendedprice").to_numpy()
        flag = li.column("l_returnflag").to_numpy(zero_copy_only=False)
        qty = li.column("l_quantity").to_numpy()
        self.pruned_rows = int(((flag == "R") & (qty < 10)).sum())

    def run_pass(self, ctx, corpus_dir: str, out_dir: str) -> list[OpResult]:
        from orca_spark import frame, io, schema, tables

        spark = ctx.spark
        results: list[OpResult] = []
        state: dict = {}

        def infer(res):
            per_batch = [schema.rows_to_schema(b) for b in self.batches]
            merged = None
            for s in per_batch:
                merged = schema.merge_types(merged, s)
            state["merged"] = merged
            res.rows = sum(len(b) for b in self.batches)
            return per_batch, merged

        results.append(_op(ctx, "infer_schema", "infer", infer))
        merged = state.get("merged")
        rows_dir = os.path.join(out_dir, "rows")

        def write_strict(res):
            for i, batch in enumerate(self.batches):
                cols = list(dict.fromkeys(k for r in batch for k in r))
                io.write_rows(spark, f"{rows_dir}/batch={i}", batch, _project(merged, cols))
            res.rows, res.path = sum(len(b) for b in self.batches), rows_dir

        def write_lenient(res):
            res.path = os.path.join(out_dir, "lenient_flat")
            io.write_rows(
                spark, res.path, self.lenient_rows, _project(merged, self.lenient_columns), lenient=True
            )
            res.rows = len(self.lenient_rows)

        def write_lenient_nested(res):
            res.path = os.path.join(out_dir, "lenient_nested")
            io.write_rows(
                spark, res.path, self.nested_rows, "id smallint, tags array<string>", lenient=True
            )
            res.rows = len(self.nested_rows)

        results.append(_op(ctx, "write_rows_strict", "write", write_strict))
        results.append(_op(ctx, "write_rows_lenient", "write", write_lenient))
        results.append(_op(ctx, "write_rows_lenient_nested", "write", write_lenient_nested))

        li = tables.load(spark, corpus_dir, "lineitem")
        li_paths = {}
        for tag, opts in (
            ("zlib", {"compression": "zlib"}),
            ("partitioned", {"compression": "zstd", "partition_by": ["l_returnflag"]}),
        ):
            li_paths[tag] = os.path.join(out_dir, f"lineitem_{tag}")

            def write_li(res, tag=tag, opts=opts):
                io.write_orc(li, li_paths[tag], **opts)
                res.rows, res.path = self.li_rows, li_paths[tag]
                res.input_bytes = self.li_parquet_bytes

            results.append(_op(ctx, f"write_orc_{tag}", "write", write_li))

        def read_full(res):
            out = frame.stats(io.read_orc(spark, li_paths["zlib"]), "l_extendedprice")
            res.rows = out["count"]
            return out

        def read_merged(res):
            out = frame.to_frame(io.read_orc(spark, rows_dir, merge_schema=True))
            res.rows = len(out["id"]) if out else 0
            return out

        def read_pruned(res):
            df = (
                io.read_orc(spark, li_paths["partitioned"])
                .where((F.col("l_returnflag") == "R") & (F.col("l_quantity") < 10))
                .select("l_orderkey", "l_quantity")
            )
            out = frame.to_frame(df)
            res.rows = len(out["l_orderkey"])
            return out

        def read_frame(res):
            out = io.read_frame(spark, f"{rows_dir}/batch={self.n_batches - 1}")
            res.rows = len(out["id"])
            state["frame"] = out
            return out

        results.append(_op(ctx, "read_orc_full", "read", read_full))
        results.append(_op(ctx, "read_orc_merged", "read", read_merged))
        results.append(_op(ctx, "read_orc_pruned", "read", read_pruned))
        results.append(_op(ctx, "read_frame", "read", read_frame))
        results.append(
            _op(ctx, "frame_to_maps", "frame", lambda res: frame.frame_to_maps(state["frame"]))
        )
        for q in self.queries:
            results.append(run_query(ctx, q, corpus_dir))
        return results

    def check_once(self, ctx, results: list[OpResult]) -> list[tuple[str, str]]:
        by = {r.name: r for r in results}
        bad = []

        def need(name, cond, what):
            r = by[name]
            if r.ok and not cond(r):
                bad.append((name, what))

        # columns come in order of first non-null appearance, which the
        # seed decides; their names and types do not depend on it
        def fields(schema):
            return sorted((f.name, f.dataType.simpleString()) for f in schema.fields)

        need(
            "infer_schema",
            lambda r: [fields(s) for s in r.out[0]]
            == [fields(rowgen.expected_schema(i)) for i in range(self.n_batches)]
            and fields(r.out[1]) == fields(rowgen.expected_schema(self.n_batches - 1)),
            "inferred schemas differ from the generator's",
        )
        want = [_plain(r) for r in self.batches[-1]]
        need(
            "frame_to_maps",
            lambda r: sorted((_plain(m) for m in r.out), key=lambda m: m["id"]) == want,
            "strict write then read_frame did not return the written rows",
        )
        need(
            "read_orc_merged",
            lambda r: r.rows == self.n_batches * self.rows_per_batch
            and set(r.out) == {f.name for f in rowgen.expected_schema(self.n_batches - 1).fields} | {"batch"},
            "merged read lost rows or columns",
        )
        need(
            "read_orc_full",
            lambda r: r.out["count"] == self.li_rows
            and r.out["min"] == self.li_price.min()
            and r.out["max"] == self.li_price.max()
            and abs(r.out["sum"] - self.li_price.sum()) <= 1e-6 * abs(self.li_price.sum()),
            "stats over the ORC copy differ from the source",
        )
        need("read_orc_pruned", lambda r: r.rows == self.pruned_rows, "pruned read row count")
        for tag in ("zlib", "partitioned"):
            need(
                f"write_orc_{tag}",
                lambda r: ctx.spark.read.orc(r.path).count() == self.li_rows,
                "row count of the written copy",
            )
        flat = [r for b in self.batches for r in b]
        need(
            "write_rows_lenient",
            lambda r: self._lenient_ok(ctx, r.path, flat),
            "lenient write: good cells must round-trip, spoiled cells must read back null",
        )
        need(
            "write_rows_lenient_nested",
            lambda r: self._lenient_nested_ok(ctx, r.path, flat),
            "lenient nested write: good arrays must round-trip, spoiled cells null",
        )
        return bad

    def _lenient_ok(self, ctx, path, flat) -> bool:
        got = {r["id"]: r.asDict() for r in ctx.spark.read.orc(path).collect()}
        for i, src in enumerate(flat):
            back = got.get(src["id"])
            if back is None:
                return False
            for c in self.lenient_columns:
                want = None if (i, c) in self.lenient_spoiled else _plain(src[c])
                if isinstance(want, Decimal):
                    want = want.quantize(Decimal("0.01"))
                if _plain(back[c]) != want:
                    return False
        return True

    def _lenient_nested_ok(self, ctx, path, flat) -> bool:
        got = {r["id"]: r["tags"] for r in ctx.spark.read.orc(path).collect()}
        return all(
            got.get(src["id"]) == (None if (i, "tags") in self.nested_spoiled else src["tags"])
            for i, src in enumerate(flat)
        )


WORKLOADS = {w.name: w for w in (OrcRoundtrip, DriverLoops)}
