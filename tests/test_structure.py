"""One way to do each session-level job in ``orca_spark/``.

* a bounded stream runs through ``streaming.jobs.drain``;
* session confs change only in ``session.py`` (``conf_scope`` for
  scoped changes);
* SQL text sees DataFrames as ``spark.sql`` arguments, never as
  session-global temp views;
* the driver-loop width policies live in ``session.py``, and only
  ``session.py`` sets the shuffle width (``loop_scope`` for a loop's
  rounds);
* a frame is built from driver-side rows only by ``io.rows_to_df``
  (Arrow record batches, no Python worker);
* streaming modules are named by domain, not by round;
* a table's schema comes from its footer or from the frame that wrote
  it, never from a ``read.parquet(...).schema`` inference job;
* a corpus table becomes a stream only through ``streaming.jobs.stream_table``;
* events and time-series modules are named by domain, not by round;
* the dense hour spine and its [1970, 2100) event-time window live only
  in ``event_series.hourly_series``, and the per-user bucket grid has
  one copy;
* text modules are named by domain, not by round, and nothing imports a
  round-numbered text module;
* the word-gram span pipeline (gram expression, span cover, scrub
  finale, gram width) has one copy, in ``spans``.
"""

import ast
import pathlib
import re

_PKG = pathlib.Path(__file__).resolve().parent.parent / "orca_spark"
_SOURCES = {p: p.read_text() for p in sorted(_PKG.rglob("*.py"))}


def _hits(pattern: str) -> list[str]:
    rx = re.compile(pattern)
    return [
        f"{p.relative_to(_PKG.parent)}:{i}"
        for p, src in _SOURCES.items()
        for i, line in enumerate(src.splitlines(), 1)
        if rx.search(line)
    ]


def _lines_of(path: pathlib.Path, name: str) -> range:
    """Line numbers of the top-level function ``name`` in ``path``."""
    fn = next(
        (
            n
            for n in ast.walk(ast.parse(_SOURCES.get(path, "")))
            if isinstance(n, ast.FunctionDef) and n.name == name
        ),
        None,
    )
    assert fn is not None, f"{path.relative_to(_PKG.parent)} has no {name}()"
    return range(fn.lineno, fn.end_lineno + 1)


def test_available_now_trigger_only_in_drain():
    hits = _hits(r"availableNow\s*=\s*True")
    inside = [
        f"orca_spark/streaming/jobs.py:{i}"
        for i in _lines_of(_PKG / "streaming" / "jobs.py", "drain")
    ]
    assert len(hits) == 1 and hits[0] in inside, (
        f"run bounded streams through streaming.jobs.drain: {hits}"
    )


def test_session_confs_change_only_in_session_module():
    hits = [
        h
        for h in _hits(r"\.conf\.(set|unset)\(|\.conf\.get\(\"spark\.sql")
        if not h.startswith("orca_spark/session.py:")
    ]
    assert not hits, f"save, set and restore confs with session.conf_scope: {hits}"


def test_no_session_global_temp_views():
    hits = _hits(r"create(OrReplace)?(Global)?TempView")
    assert not hits, f"pass DataFrames to spark.sql as arguments instead: {hits}"


def test_loop_width_policy_has_one_copy():
    hits = _hits(r"49_999")
    assert len(hits) == 1, f"use session.loop_width: {hits}"


def test_shuffle_width_is_set_only_in_session_module():
    hits = [
        h
        for h in _hits(r'"spark\.sql\.shuffle\.partitions"')
        if not h.startswith("orca_spark/session.py:")
    ]
    assert not hits, f"scope a driver loop's width with session.loop_scope: {hits}"


def test_local_frames_are_built_only_in_io():
    hits = [h for h in _hits(r"createDataFrame\(") if not h.startswith("orca_spark/io.py:")]
    assert not hits, f"build frames from driver-side rows with io.rows_to_df: {hits}"


def test_streaming_modules_are_not_round_numbered():
    numbered = sorted(
        p.name for p in (_PKG / "streaming").glob("*.py") if p.stem[-1].isdigit()
    )
    assert not numbered, f"name streaming modules by domain: {numbered}"


def test_no_schema_inference_reads():
    rx = re.compile(r"read\s*\.\s*parquet\([^()]*\)\s*\.\s*schema\b")
    hits = [
        f"{p.relative_to(_PKG.parent)}:{src.count(chr(10), 0, m.start()) + 1}"
        for p, src in _SOURCES.items()
        for m in rx.finditer(src)
    ]
    assert not hits, (
        f"take the schema from tables.parquet_schema or the written frame: {hits}"
    )


def test_corpus_tables_stream_only_through_stream_table():
    """A ``readStream`` statement that names ``sf_dir`` reads a corpus
    table; the only one allowed is inside ``stream_table``."""
    hits = []
    for p, src in _SOURCES.items():
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, (ast.Assign, ast.AnnAssign, ast.Return, ast.Expr)):
                continue
            text = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            if "readStream" in text and "sf_dir" in text:
                hits.append((p, node.lineno))
    jobs = _PKG / "streaming" / "jobs.py"
    inside = _lines_of(jobs, "stream_table")
    outside = [
        f"{p.relative_to(_PKG.parent)}:{line}"
        for p, line in hits
        if not (p == jobs and line in inside)
    ]
    assert hits and not outside, (
        f"stream corpus tables with streaming.jobs.stream_table: {outside or 'none found'}"
    )


def test_events_modules_are_not_round_numbered():
    numbered = sorted(
        p.name
        for p in (_PKG / "operators").glob("*.py")
        if re.fullmatch(r"events\d+\.py|timeseries.*\.py", p.name)
    )
    assert not numbered, (
        f"fold these into events, event_behavior or event_series: {numbered}"
    )


def test_event_time_window_has_one_copy():
    hits = _hits(r'F\.lit\("2100-01-01"\)')
    assert len(hits) == 1, (
        f"filter event times through event_series.hourly_series: {hits}"
    )


def test_hour_spine_only_in_hourly_series():
    hits = _hits(r'F\.sequence\("lo",\s*"hi"\)')
    inside = [
        f"orca_spark/operators/event_series.py:{i}"
        for i in _lines_of(_PKG / "operators" / "event_series.py", "hourly_series")
    ]
    outside = [h for h in hits if h not in inside]
    assert hits and not outside, (
        f"build hour series with event_series.hourly_series: {outside or 'none found'}"
    )


def test_per_user_grid_has_one_copy():
    hits = _hits(r'F\.sequence\("lo",\s*"hi",')
    assert len(hits) == 1, f"build per-user grids with event_series._user_grid: {hits}"


def test_text_modules_are_not_round_numbered():
    numbered = sorted(
        p.name for p in (_PKG / "operators").glob("text*.py") if p.stem[-1].isdigit()
    )
    assert not numbered, (
        f"fold these into text, text_quality, corpus_stats, text_lm or spans: {numbered}"
    )


def test_no_round_numbered_text_imports():
    repo = _PKG.parent
    files = [
        p
        for p in repo.rglob("*.py")
        if not {"third_party", ".git"} & set(p.relative_to(repo).parts)
    ]
    hits = []
    for p in files:
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
                mods += [f"{node.module}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                continue
            if any(re.fullmatch(r"orca_spark\.operators\.text\d+", m) for m in mods):
                hits.append(f"{p.relative_to(repo)}:{node.lineno}")
    assert not hits, f"import the domain text modules instead: {hits}"


def test_span_pipeline_has_one_copy():
    # the oracles' DuckDB ``list_slice(toks, i, ...)`` is SQL text, not
    # the Spark gram expression
    patterns = {
        r"(?<!list_)slice\(toks, i,": "spans.positioned_grams",
        r'F\.col\("i"\) \+ F\.lit\(_SPAN_N - 1\)': "spans.span_cover",
        r"struct\(idx, tok\)": "spans.scrub_finale",
        r"^_SPAN_N\s*=": "spans._SPAN_N",
    }
    for pattern, home in patterns.items():
        hits = _hits(pattern)
        assert len(hits) == 1, f"use {home}: {hits}"
        assert hits[0].startswith("orca_spark/operators/spans.py:"), hits
