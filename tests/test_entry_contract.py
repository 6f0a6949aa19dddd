"""Registry-shape invariants for the driver contract.

The driver's correctness gate records rows for the FIRST 50 entries
of ``queries()`` only (observed in CORRECTNESS_r02: exactly the first
50 of 52 registry entries got rows, so the rows-only ``simhash``
entry at position 45 consumed a slot while ``multimodal_metadata_stats``
at position 52 — which HAS an oracle — was never checked).  These
tests pin the ordering discipline that keeps every oracle-checked
entry inside that window.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import json
from pathlib import Path

import __spark_entry__ as entrymod

REPO = Path(__file__).resolve().parent.parent
DRIVER_WINDOW = 50
#: sha256 of ``json.dumps(oracle_sql(), sort_keys=True)``.
ORACLE_DIGEST = (
    "9cde1dccdde367c612e369cf9fa9b7803aac282fecd5ce01dada7768897d6631"
)


def test_every_unique_oracle_entry_inside_driver_window():
    # An entry past position 50 gets NO correctness row at all (r02
    # showed the driver drops them, not even rows-only), so the
    # registry holds at most 50 entries, each declared once (a
    # repeated name would silently collapse in the queries() dict).
    names = [e.name for e in entrymod.ENTRIES]
    assert len(names) <= DRIVER_WINDOW
    assert len(set(names)) == len(names), "entry declared twice"


def test_registry_is_the_graded_set_with_pinned_oracles():
    """The registry is exactly the graded key set, and the oracle
    texts are byte-identical to the graded ones: an intended oracle
    change must update ``ORACLE_DIGEST`` too."""
    graded = json.loads((REPO / "CORRECTNESS_r16.json").read_text())
    oracles = entrymod.oracle_sql()
    assert set(entrymod.queries()) == set(oracles) == set(graded)
    digest = hashlib.sha256(
        json.dumps(oracles, sort_keys=True).encode()
    ).hexdigest()
    assert digest == ORACLE_DIGEST


def test_rows_only_entries_come_last():
    names = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    flags = [n in oracles for n in names]
    first_rows_only = flags.index(False) if False in flags else len(flags)
    assert all(not f for f in flags[first_rows_only:]), (
        "rows-only entries must be contiguous at the END of queries() "
        "so they never displace an oracle-checked entry from the "
        "driver's correctness window"
    )


def test_oracle_keys_subset_of_queries():
    names = set(entrymod.queries())
    extra = [k for k in entrymod.oracle_sql() if k not in names]
    assert not extra, f"oracle_sql() keys without a queries() entry: {extra}"


def test_no_complex_types_in_entry_schemas(spark):
    # The driver canonicalizes results with pandas sort_values →
    # factorize, which raises `TypeError: unhashable type` on cells
    # holding lists/dicts/Rows (CORRECTNESS_r07: decontaminate_train
    # went red when a consolidation added an array<bigint> column).
    # Every entry must therefore emit only atomic column types —
    # stringify arrays with array_join(sort_array(...), ',') on BOTH
    # the Spark and oracle sides.
    # Constructing every entry is not schema-only in cost: several
    # entries do eager driver work at construction (embedding count
    # + PQ/IVF k-means training, connected-components closure), so
    # this test pays real execution time and needs the driver's
    # testdata tree — skip cleanly where it is absent.
    import os

    import pytest
    from pyspark.sql.types import ArrayType, MapType, StructType

    sf = os.environ.get(
        "SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001"
    )
    if not os.path.isdir(sf):
        pytest.skip(f"driver testdata not present at {sf}")
    qs = entrymod.queries()
    seen = set()
    offenders = []
    for name, fn in qs.items():
        if id(fn) in seen:
            continue
        seen.add(id(fn))
        df = fn(spark, sf)
        for field in df.schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, (
        "driver-breaking complex-typed columns in queries() entries "
        f"(pandas canonicalizer cannot hash them): {offenders}"
    )


#: Package definitions no user path calls that stay on purpose, each
#: with its reason: top-level names, and methods as ``"Class.method"``.
#: A class named here reaches its public methods. Any other unreached
#: definition is dead code: delete it with its tests.
PUBLIC_ENTRY_POINTS = {
    "RestSource": "the paper's pull ingestion (the reference's plan "
    "runner); TestPlanToLake runs it from plan to bronze to silver",
    "start_silver_stream": "the paper's Stream abstraction: "
    "checkpointed bronze-to-silver micro-batches on the batch MERGE",
    "dedup_stream": "stream twin of a graded entry; its stream==batch "
    "test is part of the correctness floor",
    "dedup_stream_exact": "stream twin of a graded entry; its "
    "stream==batch test is part of the correctness floor",
    "interval_join_stream": "stream twin of a graded entry; its "
    "stream==batch test is part of the correctness floor",
    "sessionize_stream": "stream twin of a graded entry; its "
    "stream==batch test is part of the correctness floor",
    "windowed_event_counts_stream": "stream twin of a graded entry; its "
    "stream==batch test is part of the correctness floor",
    "embedding_near_duplicates": "the SQL reference "
    "TestNumpyPairsKernel checks embedding_all_pairs_numpy against",
    "TableStore.vacuum": "the only recovery of what a crashed commit "
    "leaves behind (staging dirs, temp log files): safety code",
    "Lake.export_parquet": "the paper's parquet export (SURVEY S11)",
    "Lake.save_ingestion_plan": "stores the pull plans that "
    "RestSource.run_plans_by_tag runs (SURVEY S13/O6)",
}


def _names(node) -> set[str]:
    """Names a subtree uses: ``Name`` ids and ``Attribute`` attrs (so
    names inside f-strings count, names in docstrings do not)."""
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _reached(defs: dict, roots: set[str]) -> set:
    """Fixed point: a definition is reached once a reached body (or a
    root) names it, so code called only from dead code is dead. A
    method ``Class.method`` is reached by its own name, or by its
    qualified name as a root."""
    by_name: dict[str, list] = {}
    for key in defs:
        qual = key[1]
        by_name.setdefault(qual, []).append(key)
        if "." in qual:
            by_name.setdefault(qual.rpartition(".")[2], []).append(key)
    seen, todo, reached = set(roots), list(roots), set()
    while todo:
        for key in by_name.get(todo.pop(), ()):
            if key not in reached:
                reached.add(key)
                todo += defs[key] - seen
                seen |= defs[key]
    return reached


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _is_method(node) -> bool:
    """A method the scan tracks on its own: dunders are reached with
    their class, so they stay part of the class body."""
    return isinstance(node, _FUNCS) and not (
        node.name.startswith("__") and node.name.endswith("__")
    )


@functools.cache
def _sources() -> tuple[dict, frozenset]:
    """The parsed package modules by path, and the names the user paths
    use: ``__spark_entry__.py``, ``bench.py``, ``tools/`` and
    ``perfbench/``."""
    package = {
        path.relative_to(REPO).as_posix(): ast.parse(path.read_text())
        for path in sorted((REPO / "serverless_data_lake_spark").rglob("*.py"))
    }
    user: set[str] = set()
    for path in [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "tools").rglob("*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
    ]:
        user |= _names(ast.parse(path.read_text()))
    return package, frozenset(user)


@functools.cache
def _module_defs(where: str, tree: ast.Module) -> tuple[dict, frozenset]:
    """One package module's definitions, ``{(where, name): names its
    body uses}`` with methods named ``Class.method``, and the names its
    module-level code uses (a root, except in ``__init__.py``, whose
    re-exports reach nothing)."""
    defs: dict[tuple[str, str], set[str]] = {}
    roots: set[str] = set()
    for stmt in tree.body:
        if isinstance(stmt, ast.ClassDef):
            uses: set[str] = set()
            for node in [
                *stmt.decorator_list, *stmt.bases, *stmt.keywords, *stmt.body,
            ]:
                if _is_method(node):
                    defs.setdefault(
                        (where, f"{stmt.name}.{node.name}"), set()
                    ).update(_names(node))
                else:
                    uses |= _names(node)
            names, body = [stmt.name], uses
        elif isinstance(stmt, _FUNCS):
            names, body = [stmt.name], _names(stmt)
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = (
                stmt.targets if isinstance(stmt, ast.Assign)
                else [stmt.target]
            )
            names = [
                t.id for t in targets
                if isinstance(t, ast.Name) and not t.id.startswith("__")
            ]
            body = _names(stmt.value) if stmt.value else set()
        else:
            names = []
        for name in names:
            defs[(where, name)] = body
        if not names and not where.endswith("/__init__.py"):
            roots |= _names(stmt)
    return defs, frozenset(roots)


def _scan(
    package: dict, user: frozenset, public: dict
) -> tuple[list[str], list[str]]:
    """``(unreached, stale)``: the package definitions (``where::name``,
    methods as ``where::Class.method``) that neither a user path nor
    ``public`` reaches, and the ``public`` keys that name nothing or
    that a user path reaches anyway. A class in ``public`` reaches its
    public methods."""
    defs: dict[tuple[str, str], set[str]] = {}
    roots = set(user)
    for where, tree in package.items():
        module_defs, module_roots = _module_defs(where, tree)
        defs |= module_defs
        roots |= module_roots
    public_roots = set(public) | {
        qual for _, qual in defs
        if "." in qual and qual.partition(".")[0] in public
        and not qual.partition(".")[2].startswith("_")
    }
    reached = _reached(defs, roots | public_roots)
    unreached = sorted(f"{w}::{n}" for w, n in defs if (w, n) not in reached)
    live = {n for _, n in _reached(defs, roots)}
    defined = {n for _, n in defs}
    stale = sorted(n for n in public if n in live or n not in defined)
    return unreached, stale


def test_every_package_definition_is_reached():
    """Every package definition, top-level or method, is reached from
    a user path, or is named in ``PUBLIC_ENTRY_POINTS``. User paths
    are the package's own module-level code (not the re-exports in
    ``__init__.py``), ``__spark_entry__.py``, ``bench.py``, ``tools/``
    and ``perfbench/``. Tests do not count: a definition only its
    own tests call is dead. Name-based, so a name shared with a live
    definition elsewhere counts as reached (the scan errs towards
    keeping code)."""
    unreached, stale = _scan(*_sources(), PUBLIC_ENTRY_POINTS)
    assert not unreached, (
        "no user path reaches these definitions; delete them with "
        "their tests, or name them in PUBLIC_ENTRY_POINTS with a "
        "reason:\n  " + "\n  ".join(unreached)
    )
    assert not stale, (
        f"PUBLIC_ENTRY_POINTS names a definition that is gone or now "
        f"reached from a user path: {stale}"
    )


#: A module planted into the scanned package: its class is reached
#: from a user path, ``__init__`` with the class, ``used`` from
#: ``__init__``; nothing names ``never_called``.
_PLANTED = (
    "serverless_data_lake_spark/_planted.py",
    ast.parse(
        "class Planted:\n"
        "    def __init__(self):\n"
        "        self.used()\n"
        "\n"
        "    def used(self):\n"
        "        return 1\n"
        "\n"
        "    def never_called(self):\n"
        "        return 2\n"
    ),
)


def _planted_scan(public: dict) -> tuple[list[str], list[str]]:
    package, user = _sources()
    return _scan(
        dict([*package.items(), _PLANTED]), user | {"Planted"}, public
    )


def test_scan_flags_a_method_nothing_calls():
    """Guard the guard: a method no reached body names is flagged,
    and one that a reached method or dunder names is not."""
    unreached, stale = _planted_scan(PUBLIC_ENTRY_POINTS)
    assert unreached == [f"{_PLANTED[0]}::Planted.never_called"]
    assert not stale
    kept = {**PUBLIC_ENTRY_POINTS, "Planted.never_called": "kept"}
    assert _planted_scan(kept) == ([], [])


def test_stale_method_key_fails():
    """Guard the guard: a ``"Class.method"`` key is stale once the
    method is gone or a user path reaches it."""
    for key in ("Planted.gone", "Planted.used"):
        _, stale = _planted_scan({**PUBLIC_ENTRY_POINTS, key: "stale"})
        assert stale == [key]


def test_planted_complex_column_fails_local_canonicalizer():
    # Guard the guard: tools/parity_check.py must canonicalize the
    # driver's way (pandas sort_values), so a list-valued column
    # raises locally exactly as it does in the driver harness. The
    # old repr()-based rowset silently passed lists (r7 regression).
    import pytest

    from tools.parity_check import rowset

    with pytest.raises(TypeError):
        rowset(["a", "b"], [[1, [1, 2]], [2, [3, 4]], [1, [1, 2]]])
    # Single-column results take pandas' argsort path unless the
    # canonicalizer forces the factorize path (dummy second key) —
    # list cells must raise there too, not sort by comparison.
    with pytest.raises(TypeError):
        rowset(["a"], [[[1, 2]], [[3, 4]], [[1, 2]]])


def test_bench_eager_construct_accounting_contract():
    """Entries whose DuckDB oracle replays work the Spark side does
    at CONSTRUCTION time must stay ``eager_construct`` (the
    r5-advisory symmetry rule) — dropping one silently flatters the
    paired ratio. The set is pinned here with the reason each member
    qualifies; removing an entry requires removing the eager work
    too. Publishers must precede their consumers in the declared
    order, which is the bench and oracle run order."""
    must_fold = {
        # iterative connected-components closure runs eagerly; the
        # oracle's recursive CTE pays it in measured time
        "dedup_corpus_survivors",
        # quantile sketch + per-bucket micro-collect at construct;
        # oracle packs inside its measured query
        "pack_sequences",
        # bigram-LM training collect at construct; oracle trains in
        # its measured CTEs
        "lm_perplexity",
        # the decontamination stream gate RUNS its streaming query at
        # construct (no lazy form); oracle replays the survivor
        # fingerprint with a real anti-join
        "sketch_quality_gates",
    }
    eager = {e.name for e in entrymod.ENTRIES if e.eager_construct}
    assert must_fold <= eager, (
        "eager_construct lost a member whose oracle pays "
        f"construct-time work: {sorted(must_fold - eager)}"
    )
    pos = {e.name: i for i, e in enumerate(entrymod.ENTRIES)}
    for e in entrymod.ENTRIES:
        for pub in e.consumes:
            assert pos[pub] < pos[e.name], (pub, e.name)


def test_bench_runner_fold_and_order():
    """bench.py's per-entry fold: best-of-reps execution seconds,
    plus best construct seconds only for ``eager_construct`` entries;
    a subset runs its publishers first, in declared order."""
    import bench

    draws = {"pack_sequences": [1.0, 0.8], "merge_upsert_endstate": [0.4]}
    constr = {"pack_sequences": [0.3, 0.2], "merge_upsert_endstate": [1.9]}
    assert bench.fold(draws, constr) == {
        "pack_sequences": 1.0,
        "merge_upsert_endstate": 0.4,
    }
    subset = ["dedup_corpus_survivors", "q1_pricing_summary"]
    assert bench.run_order(subset) == [
        "q1_pricing_summary",
        "ngram_jaccard_pairs",
        "dedup_corpus_survivors",
    ]


def test_minhash_entry_recycles_persisted_index(spark):
    """r10 (the r9 verdict's cache-lifecycle ask): the minhash
    entry's persisted full-corpus LshIndex is load-bearing during
    execution, so it can't be unpersisted in-entry — instead each
    construction releases the PREVIOUS invocation's index, and an
    explicit release empties the handle. A long-lived session must
    never accumulate stale index caches (the r7 CacheManager
    replay-credit rule)."""
    import os

    import pytest

    sf = os.environ.get(
        "SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001"
    )
    if not os.path.isdir(sf):
        pytest.skip(f"driver testdata not present at {sf}")

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    entrymod._release_minhash_index()
    base = n_persistent()
    qs = entrymod.queries()
    df = qs["minhash_lsh_pairs"](spark, sf)
    df.write.format("noop").mode("overwrite").save()
    assert len(entrymod._MINHASH_IDX) == 1
    after_exec = n_persistent()
    assert after_exec > base  # the index IS cached during execution
    # next construction releases the previous invocation's cache
    qs["minhash_lsh_pairs"](spark, sf)
    assert len(entrymod._MINHASH_IDX) == 1
    assert n_persistent() <= after_exec
    entrymod._release_minhash_index()
    assert len(entrymod._MINHASH_IDX) == 0
    assert n_persistent() == base

