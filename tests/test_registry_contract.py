"""Registry-level contract guards: properties every current and future
query must satisfy for the driver's comparison to be meaningful."""

from hypothesis import given, settings, strategies as st

from orca_spark.queries import oracle_sql, queries
from orca_spark.registry import REGISTRY


def test_every_query_named_and_described():
    for name, spec in REGISTRY.items():
        assert name == name.lower() and " " not in name, name
        assert spec.description, f"{name} has no description"


def test_oracles_are_subset_with_known_exceptions():
    q, o = queries(), oracle_sql()
    assert set(o) <= set(q)
    oracleless = set(q) - set(o)
    # only the probabilistic operators may skip the oracle — each must be
    # behavior-tested instead (tests/test_dedup.py, tests/test_similarity.py)
    assert oracleless == {
        # (dedup_minhash / dedup_simhash / dedup_simhash_pairs /
        # dedup_minhash_incremental left this list in r12: the pure-SQL
        # xxhash64 fragment made the whole integer pipeline — bands,
        # votes, buckets — DuckDB-derivable, so each carries a full
        # value oracle now)
        # (similarity_lsh_topk left this list in r12: its fixed-seed
        # hyperplanes are SQL literals, so the bucket signs — and with
        # them the whole banded candidate set — replay bit-identically
        # in DuckDB; scoring was already the proven brute-topk form)
        "similarity_ivf_topk",
        "similarity_pq_topk",
        "embedding_near_dup_pairs_ivf",
        "embedding_near_dup_pairs_gram",
        "semantic_vs_lexical_dedup_bucketed",
        "profile_lineitem_approx",
        # iterative refinement (tests/test_clustering.py: inertia
        # monotonicity + planted-cluster purity + trainer agreement)
        "embeddings_kmeans_distributed",
        "embeddings_kmeans_vs_sampled",
        # sketch estimates are engine-specific (tests/test_approx.py:
        # estimate-vs-exact bounds incl. the persisted-union path)
        "profile_sketch_persist_union",
        # schema-level metadata via the Python merge lattice
        # (tests/test_schema_drift.py pins every classification)
        "schema_drift_report",
        # (events_heavy_hitters_cms left this list in r12: DuckDB has no
        # CMS, so the oracle re-derives Spark's sketch hashing from
        # first principles — java.util.Random multipliers replicated in
        # Python, wrapping arithmetic in HUGEINT, estimate = min over
        # per-row collision sums; tests/test_approx.py pins the replica
        # against the real JVM sketch)
        # (graph_label_propagation_simhash left this list in r12: its
        # banded edges are the dedup_simhash_pairs SQL, derivable since
        # the pure-SQL xxhash64 fragment)
        # eigendecomposition has no DuckDB twin — gated by the
        # whitened-covariance-is-identity test (tests/test_text9_graph.py)
        "embedding_whitening",
        # zlib is deterministic but not expressible in SQL — planted
        # repetition/noise + determinism tests (tests/test_r08_ops.py)
        "text_compression_ratio",
        # (multimodal_phash_neardup left this list in r11: the PPM phash
        # chain became SQL-derivable, so the banded pair search gained a
        # full cross-join oracle. multimodal_audio_features /
        # multimodal_video_scene_cuts left in r12: on every test corpus
        # the kernels take the documented stub branch — integer byte
        # arithmetic over the UTF-8 payload, re-derived by a hex-nibble
        # SQL twin; the real-container branches stay fixture-tested and
        # unreachable from corpus text, asserted structurally in
        # tests/test_r08_ops.py)
    }, oracleless


def test_operators_inventory_in_sync():
    """OPERATORS.md is the judge-facing inventory; every registered query
    must appear, with its oracle status current."""
    with open("OPERATORS.md") as f:
        ops = f.read()
    for name, spec in REGISTRY.items():
        status = "yes" if spec.oracle else "behavior-tested"
        assert f"| `{name}` | {status} |" in ops, name


def test_operators_staleness_dashboard_current():
    """OPERATORS.md carries the generated re-verification-debt histogram
    (r08 verdict item 7); it must match what gen_inventory would emit
    from the committed CORRECTNESS evidence right now.

    One known benign skew is tolerated (r10 verdict item 1, the same red
    test two rounds running): the driver drops CORRECTNESS_r{N}.json
    AFTER the builder's final commit, so at the round boundary exactly
    one newer UNTRACKED evidence file post-dates the committed dashboard.
    Accept the line computed without that one file; any other divergence
    (two untracked files, a stale tracked file, a hand-edited line) still
    fails."""
    import os
    import subprocess
    import sys

    sys.path.insert(0, "tools")
    import __spark_entry__ as entry
    from gen_inventory import staleness_line

    with open("OPERATORS.md") as f:
        ops = f.read()
    line = staleness_line()
    if line in ops:
        return
    untracked = subprocess.run(
        ["git", "ls-files", "--others", "--exclude-standard",
         "CORRECTNESS_r*.json"],
        capture_output=True, text=True, cwd=".",
    ).stdout.split()
    paths = entry._evidence_paths()
    assert (
        len(untracked) == 1
        and paths
        and os.path.basename(paths[-1]) == untracked[0]
    ), (
        f"stale dashboard — rerun tools/gen_inventory.py; expected: {line}"
    )
    tolerated = staleness_line(paths[:-1])
    assert tolerated in ops, (
        "stale dashboard beyond the one-file round-boundary tolerance — "
        f"rerun tools/gen_inventory.py; expected {line} or {tolerated}"
    )


def test_readme_counts_match_registry():
    """README advertises the registry size; stale prose was a round-1
    judge finding — keep the numbers generated-or-checked."""
    with open("README.md") as f:
        readme = f.read()
    q, o = queries(), oracle_sql()
    assert f"**{len(q)} operators**" in readme, len(q)
    assert f"**{len(o)} DuckDB-equivalent SQL strings**" in readme, len(o)
    assert f"{len(q)}-query surface" in readme, len(q)
    from bench import HEADLINE

    assert f"times {len(HEADLINE)} headline queries" in readme, len(HEADLINE)


def test_query_schemas_have_unique_sortable_columns(constructed_schemas):
    """Duplicate column names would make the driver's sort-by-name compare
    ambiguous, and NON-SCALAR columns (array/struct/map) crash its pandas
    canonicalizer outright — the round-6 embedding_whitening red row was
    exactly this class (`TypeError: unhashable type: 'list'`). Checks the
    analyzed schemas from conftest's shared blind-construction sweep
    (one sweep instead of a private ~70 s duplicate; same query set —
    SIDE_EFFECTING_PREFIXES excluded by the fixture)."""
    from tests.conftest import SIDE_EFFECTING_PREFIXES

    covered = {
        n for n in REGISTRY if not n.startswith(SIDE_EFFECTING_PREFIXES)
    }
    assert covered == set(constructed_schemas)
    for name, schema in constructed_schemas.items():
        cols = [f.name for f in schema.fields]
        assert len(cols) == len(set(cols)), f"{name} has duplicate columns: {cols}"
        for f in schema.fields:
            t = f.dataType.simpleString()
            assert not any(k in t for k in ("array<", "struct<", "map<")), (
                f"{name}.{f.name} is non-scalar ({t}): explode it to "
                "(id, i, value) rows — the driver canonicalizer cannot "
                "sort list-valued columns"
            )


# 30 examples, not 100: each example is a full Spark createDataFrame +
# collect (~0.3 s of fixed job overhead), so the old budget spent ~33 s
# of suite wall on one property; 30 examples keep the same generator
# coverage classes (empty strings, unicode, control chars) at a third
# of the cost — the property itself is unchanged
@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(max_size=20), st.text(max_size=20)),
        min_size=1,
        max_size=5,
    )
)
def test_coerce_or_null_never_raises(garbage):
    """Lenient coercion must contain any input (core.clj:443-450): random
    garbage strings cast to typed columns without ever failing the job."""
    from orca_spark.io import coerce_or_null
    from orca_spark.session import get_spark

    spark = get_spark("hypo")
    df = spark.createDataFrame(garbage, "a string, b string")
    out = coerce_or_null(df, "a bigint, b timestamp, c date")
    rows = out.collect()  # must not raise
    assert len(rows) == len(garbage)


def test_verification_prefix_self_rotates():
    """The driver verifies only the first 50 ``__spark_entry__.queries()``
    entries per round; since r05 the entry adapter computes that order
    from the committed CORRECTNESS evidence (never-green first, then
    oldest-green), so no registration can silently starve a query of its
    verification slot. Pin the mechanism's invariants:

    - every query the registry knows is in the adapter's order exactly once;
    - no ever-green query precedes a never-green one;
    - among green UNCHANGED queries, an older last-green round never
      follows a newer one (queries flagged changed-since-green sit in
      their own tier between never-green and green — see
      test_changed_code_tier_schedules_ahead_of_stale_green);
    - oracle_sql() iterates in the same order (the driver zips them).
    """
    import __spark_entry__ as entry_mod

    names = list(queries())
    ordered = entry_mod.verification_order(names)
    assert sorted(ordered) == sorted(names)

    import glob
    import json

    last_green, last_seen = {}, {}
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        rnd = int("".join(c for c in path if c.isdigit()))
        for name, row in json.load(open(path)).items():
            last_seen[name] = max(last_seen.get(name, 0), rnd)
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if green:
                last_green[name] = max(last_green.get(name, 0), rnd)
    # a query whose LATEST row regressed (crash/mismatch) re-enters the
    # front of the schedule alongside the never-green ones
    prio = {
        n: (last_green[n]
            if n in last_green and last_green[n] >= last_seen[n]
            else -1)
        for n in last_seen
    }

    changed = entry_mod._changed_since_green()
    keys = [prio.get(n, -1) for n in ordered if n not in changed]
    assert keys == sorted(keys), "verification order must be oldest-green first"
    never = [n for n in ordered if prio.get(n, -1) == -1]
    assert all(ordered.index(n) < len(never) + len(changed) for n in never), (
        "a never-green query sits behind the never-green+changed tiers"
    )

    adapter_q = list(entry_mod.queries())
    assert adapter_q == ordered
    adapter_o = list(entry_mod.oracle_sql())
    assert adapter_o == [n for n in ordered if n in oracle_sql()]


def test_no_orphan_operator_modules():
    """Every module that defines an @register'd query must be reachable
    from `import orca_spark.queries` — otherwise the operator is dead
    code invisible to the registry, OPERATORS.md, and the driver (the
    r06 failure mode: paths.py / privacy.py / stats3.py shipped finished
    but unwired). Runs in a subprocess so direct imports by other tests
    in this session can't mask an orphan."""
    import glob
    import os
    import subprocess
    import sys

    import orca_spark

    pkg_dir = os.path.dirname(os.path.abspath(orca_spark.__file__))
    candidates = (
        glob.glob(os.path.join(pkg_dir, "operators", "*.py"))
        + glob.glob(os.path.join(pkg_dir, "streaming", "*.py"))
        + glob.glob(os.path.join(pkg_dir, "sources", "*.py"))
    )
    registering = []
    for path in sorted(candidates):
        base = os.path.splitext(os.path.basename(path))[0]
        if base == "__init__":
            continue
        with open(path) as f:
            if "@register(" not in f.read():
                continue  # pure-helper modules (e.g. blocking.py) are exempt
        parent = os.path.basename(os.path.dirname(path))
        sub = parent  # operators / streaming / sources
        registering.append(f"orca_spark.{sub}.{base}")
    assert registering, "glob found no registering modules — test is broken"

    probe = (
        "import sys; import orca_spark.queries; "
        "print('\\n'.join(m for m in sys.argv[1:] if m not in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, *registering],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(pkg_dir),
        check=True,
    )
    orphans = [m for m in out.stdout.splitlines() if m]
    assert not orphans, (
        f"modules define @register'd queries but are not imported by "
        f"orca_spark.queries: {orphans}"
    )


def test_driver_verification_cadence_budget():
    """The driver verifies a fixed 50-query prefix per round, so with N
    registered queries the full re-verification cadence is ceil(N/50)
    rounds. Two budgets keep that cadence honest instead of silently
    decaying as the registry grows (r07 verdict item 7):

    1. prefix composition: the rotation must front every never-green /
       regressed query (they fit in one prefix — i.e. a round's new
       registrations are CAPPED so the backlog clears in one round);
    2. staleness: once a query has been driver-green, it must be
       re-verified within cadence+1 rounds (+1 absorbs the round the
       backlog displaces re-checks).
    """
    import glob
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prefix_size = 50
    last_green: dict[str, int] = {}
    last_seen: dict[str, int] = {}
    latest = 0
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rnd = int("".join(c for c in os.path.basename(path) if c.isdigit()))
        latest = max(latest, rnd)
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            last_seen[name] = max(last_seen.get(name, 0), rnd)
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green:
                last_green[name] = max(last_green.get(name, 0), rnd)
    if not last_seen:
        return  # round 1: no evidence yet

    import __spark_entry__ as entry_mod

    names = entry_mod.verification_order(list(queries()))
    needs_first = [
        n
        for n in names
        if not (n in last_green and last_green[n] >= last_seen.get(n, 0))
    ]
    assert len(needs_first) <= prefix_size, (
        f"{len(needs_first)} never-green/regressed queries exceed the "
        f"{prefix_size}-slot driver prefix — too many new registrations "
        f"this round; they cannot all get driver evidence next round"
    )
    # the rotation (verification_order via queries()) must place ALL of
    # them before any green query
    positions = {n: i for i, n in enumerate(names)}
    if needs_first:
        worst_needy = max(positions[n] for n in needs_first)
        assert worst_needy < len(needs_first), (
            "rotation violated: a never-green query sits behind a green one"
        )

    cadence = -(-len(names) // prefix_size)  # ceil
    budget = cadence + 1
    over = {
        n: latest - r for n, r in last_green.items() if latest - r > budget
    }
    assert not over, (
        f"stale driver evidence (> {budget} rounds old) for: {over} — "
        f"the re-verification rotation is not keeping up"
    )


def test_changed_code_tier_schedules_ahead_of_stale_green():
    """r10 verdict item 2: the rotation treated "stale evidence" and
    "code changed since that evidence" identically. Now each query's
    code+oracle fingerprint is recorded at its last green driver row
    (FINGERPRINTS.json, refreshed by tools/gen_inventory.py at round
    start), and a diverged fingerprint schedules the query AHEAD of
    merely-stale green ones (behind never-green/regressed, which still
    outrank everything)."""
    import json

    import __spark_entry__ as entry

    with open("FINGERPRINTS.json") as f:
        stored = json.load(f)
    assert {n for n in stored if not n.startswith("_")} == set(REGISTRY), (
        "FINGERPRINTS.json out of sync with the registry — rerun "
        "tools/gen_inventory.py"
    )

    changed = entry._changed_since_green()
    assert changed <= set(REGISTRY)
    names = entry.verification_order(list(queries()))
    prio = entry._evidence_priority()
    pos = {n: i for i, n in enumerate(names)}
    never = [n for n in names if prio.get(n, -1) == -1]
    green_unchanged = [
        n for n in names if prio.get(n, -1) != -1 and n not in changed
    ]
    max_never = max((pos[n] for n in never), default=-1)
    min_green = min((pos[n] for n in green_unchanged), default=len(names))
    for c in changed:
        if prio.get(c, -1) == -1:
            continue  # never-green already outranks the changed tier
        assert max_never < pos[c] < min_green, (
            f"{c} changed since its last green row but is not scheduled "
            f"between the never-green and green-unchanged tiers"
        )


def test_verification_backlog_fits_one_prefix():
    """Never-green/regressed queries and queries whose fingerprint changed
    since their last green row are the two tiers verification_order puts
    first. Together they must fit the driver's 50-slot prefix, or a
    batch of registered-body edits would leave some of them unverified
    for a round; split such a batch across changes instead."""
    import __spark_entry__ as entry

    prefix_size = 50
    names = list(queries())
    prio = entry._evidence_priority()
    changed = entry._changed_since_green()
    backlog = {n for n in names if prio.get(n, -1) == -1 or n in changed}
    assert len(backlog) <= prefix_size, (
        f"{len(backlog)} never-green or changed-since-green queries exceed "
        f"the {prefix_size}-slot driver prefix"
    )
    assert set(entry.verification_order(names)[: len(backlog)]) == backlog


def test_fingerprints_detect_oracle_edit():
    """The fingerprint must move when a query's oracle SQL changes —
    otherwise the changed-code tier can never fire on a semantics edit."""
    import dataclasses

    import __spark_entry__ as entry

    name = "q1_pricing_summary"
    fps = entry._current_fingerprints()
    spec = REGISTRY[name]
    try:
        REGISTRY[name] = dataclasses.replace(
            spec, oracle=(spec.oracle or "") + " -- edited"
        )
        assert entry._current_fingerprints()[name] != fps[name]
    finally:
        REGISTRY[name] = spec
