"""Registry hygiene meta-tests (VERDICT r9 Next #8): 145+ queries now
span 13 modules, and nothing structural kept the registry navigable —
these pin the conventions the repo already follows so drift fails a
test instead of a reviewer.
"""

from __future__ import annotations

import os
import re

from synthetic_data_pipeline_spark.queries import _MODULES, all_oracles, all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_query_names_follow_convention():
    pat = re.compile(r"^q\d{2,3}_[a-z0-9_]+$")
    bad = [n for n in all_queries() if not pat.fullmatch(n)]
    assert not bad, f"non-conforming query names: {bad}"


def test_query_numbers_unique():
    nums: dict[str, list[str]] = {}
    for n in all_queries():
        nums.setdefault(n.split("_")[0], []).append(n)
    dups = {k: v for k, v in nums.items() if len(v) > 1}
    assert not dups, f"duplicate query numbers: {dups}"


def test_queries_defined_in_registering_module():
    """A QUERIES entry must point at a callable DEFINED in the module
    that registers it — a re-export would make 'where does qN live'
    ambiguous and break the VERDICT table's file:line citations."""
    misplaced = []
    for m in _MODULES:
        for name, fn in m.QUERIES.items():
            if getattr(fn, "__module__", None) != m.__name__:
                misplaced.append((name, m.__name__, fn.__module__))
    assert not misplaced, f"queries registered outside their module: {misplaced}"


def test_oracles_registered_beside_their_query():
    """Every module's ORACLES keys must be a subset of the SAME
    module's QUERIES keys (the all_oracles() check only guards the
    global union, so a cross-module oracle would slip through it)."""
    stray = []
    for m in _MODULES:
        extra = set(m.ORACLES) - set(m.QUERIES)
        if extra:
            stray.append((m.__name__, sorted(extra)))
    assert not stray, f"oracles without a same-module query: {stray}"


def test_every_query_has_an_oracle_or_documented_exception():
    """The driver gate hash-checks every query that ships an oracle;
    a query WITHOUT one gets only the weak rows-only check, so each
    such omission must be deliberate. This pins the current list —
    adding an oracle-less query forces the author to explain it here."""
    missing = sorted(set(all_queries()) - set(all_oracles()))
    assert missing == [], (
        "queries without a DuckDB oracle (add one, or document the "
        f"engine-specific exception in this test): {missing}"
    )


def test_benchmark_query_list_references_registry_names():
    """perfbench's ANALYTICS_QUERIES must only name registry queries,
    each registered by the module listed beside it and listed once — a
    renamed or moved query would otherwise fail 60 s into a benchmark
    run instead of here."""
    import sys

    # workloads.py imports its sibling modules by bare name
    sys.path.append(os.path.join(REPO, "perfbench"))
    from perfbench.workloads import ANALYTICS_QUERIES

    owners = {name: m.__name__ for m in _MODULES for name in m.QUERIES}
    pkg = "synthetic_data_pipeline_spark."
    wrong = [
        (name, module, owners.get(name))
        for name, module in ANALYTICS_QUERIES
        if owners.get(name) != pkg + module
    ]
    assert not wrong, f"ANALYTICS_QUERIES (name, listed, registered): {wrong}"
    names = [n for n, _ in ANALYTICS_QUERIES]
    dups = sorted({n for n in names if names.count(n) > 1})
    assert not dups, f"ANALYTICS_QUERIES duplicate entries: {dups}"


def test_text_features_written_once():
    """How text becomes tokens, normalized text and word n-grams is
    decided in functions/grams.py alone (one Spark and one DuckDB form
    of each): any other package module spelling the tokenizer, the
    normalization or an n-gram builder is a copy that can drift.
    Whitespace is ignored, so a copy split over lines still counts."""
    spellings = [
        "regexp_split_to_array(lower(trim(",  # DuckDB tokens
        "F.split(F.lower(F.trim(",  # Spark tokens
        "regexp_replace(lower(trim(",  # DuckDB normalized text
        "F.regexp_replace(F.lower(F.trim(",  # Spark normalized text
        "i -> concat_ws(",  # DuckDB n-gram lambdas
        "i -> array_to_string(",
        "i -> arr[i] ||",
        "F.sequence(F.lit(1), F.size(",  # Spark n-gram index
    ]
    pkg = os.path.join(REPO, "synthetic_data_pipeline_spark")
    copies = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            if not f.endswith(".py") or rel == os.path.join("functions", "grams.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                src = re.sub(r"\s+", "", fh.read())
            copies += [
                (rel, s) for s in spellings if re.sub(r"\s+", "", s) in src
            ]
    assert not copies, f"text features spelled outside functions/grams.py: {copies}"
