"""Driver-window invariants (ADVICE r2, medium).

The external harness records correctness rows for only the first 50
``queries()`` entries per round. These tests pin the contract: the
rotation lives in ``__spark_entry__.py`` (driver layer), the product
registry stays in natural module order, and the window always leads
with the queries that most need a fresh driver row.
"""

from __future__ import annotations

import __spark_entry__ as e
from synthetic_data_pipeline_spark.queries import all_oracles, all_queries

DRIVER_CAP = 50

# Queries that MUST occupy the round-14 window (VERDICT r13 Next #2):
# the r14 newborns — q205 (update_release's component-local edit-path
# relabel, VERDICT r13 #5 — its oracle replays both decades' LP
# chains from scratch) plus the wave-2 four (q206 Zipf fit, q207
# Heaps growth, q208 session association rules, q209 span LM
# anomaly; wave 3: q210 PMI collocations, q211 transition entropy;
# the standing newborn rule outranks completing the stale tier) —
# two changed-path anchors (q204's exact arm re-keyed
# (bucket, local_k) per ADVICE r13's medium finding; q188's snapshot
# fingerprint widened to md5(text␁source␁lang) on both engines), and
# 41 of the 47-row r10-stale tier (recomputed from the
# CORRECTNESS_r* artifacts, now in git history — q118 leads; q18/q26/q31/q158/q06/q44
# ceded their slots to the wave-2/3 newborns, each covered by an
# in-window cousin: q17/q25/q30/q157/q04+q07+q09/q207. Those six
# lead the r15 rotation).
R2_UNCHECKED = [
    f"q{i:02d}" for i in [205, 206, 207, 208, 209,         # born round 14
                          210, 211,                        # wave 3
                          204, 188,                        # changed paths
                          # the r10-stale tier (41 of 47 rows)
                          118,
                          4, 7, 9, 11, 16, 17,
                          21, 23, 25,
                          30, 32, 33, 34, 35, 36, 37,
                          40, 41, 42, 43, 45, 48, 49,
                          50, 51, 53, 57, 58, 59,
                          65, 66, 67, 80,
                          120, 121, 125, 151, 153, 154, 157]
]


def test_window_size_and_membership():
    assert len(e.DRIVER_WINDOW) == DRIVER_CAP
    assert len(set(e.DRIVER_WINDOW)) == DRIVER_CAP
    registry = set(all_queries())
    assert set(e.DRIVER_WINDOW) <= registry


def test_window_leads_queries_dict():
    first = list(e.queries())[:DRIVER_CAP]
    assert first == e.DRIVER_WINDOW


def test_full_registry_still_exposed():
    qs = e.queries()
    assert set(qs) == set(all_queries())
    # oracles mirror the same ordering contract
    orc = e.oracle_sql()
    assert set(orc) == set(all_oracles())


def test_stale_queries_inside_window():
    prefixes_in_window = {n.split("_")[0] for n in e.DRIVER_WINDOW}
    missing = [p for p in R2_UNCHECKED if p not in prefixes_in_window]
    assert not missing, (
        f"r2-unchecked queries outside the checked window: {missing}"
    )

