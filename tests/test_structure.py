"""One way to do each session-level job in ``orca_spark/``.

* a bounded stream runs through ``streaming.jobs.drain``;
* session confs change only in ``session.py`` (``conf_scope`` for
  scoped changes);
* SQL text sees DataFrames as ``spark.sql`` arguments, never as
  session-global temp views;
* the driver-loop width policy lives in ``session.loop_width``.
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


def test_available_now_trigger_only_in_drain():
    hits = _hits(r"availableNow\s*=\s*True")
    jobs = _PKG / "streaming" / "jobs.py"
    drain = next(
        (
            n
            for n in ast.walk(ast.parse(_SOURCES[jobs]))
            if isinstance(n, ast.FunctionDef) and n.name == "drain"
        ),
        None,
    )
    assert drain is not None, "streaming/jobs.py has no drain()"
    inside = [
        f"orca_spark/streaming/jobs.py:{i}"
        for i in range(drain.lineno, drain.end_lineno + 1)
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
