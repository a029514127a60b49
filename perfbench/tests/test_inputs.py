"""Every generator is a pure function of its seed."""

import hashlib
import os

import pandas as pd

import inputs


def _digests(d):
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_tables_are_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.write_tables(a, seed=5, n_docs=120)
    inputs.write_tables(b, seed=5, n_docs=120)
    inputs.write_tables(c, seed=6, n_docs=120)
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)
    assert set(_digests(a)) == {
        f"{t}.parquet"
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split()
    }


def test_documents_carry_duplicates_sit_values_and_the_bench_source():
    docs = inputs.documents(seed=3, n_docs=600)
    assert docs.equals(inputs.documents(seed=3, n_docs=600))
    assert not docs.equals(inputs.documents(seed=4, n_docs=600))
    # near-duplicates: an earlier doc's text with its last word swapped
    assert docs["text"].str[:-12].duplicated().mean() > 0.05
    assert (docs["text"].str.contains("@example")).any()
    assert (docs["source"] == "src0").any()
    assert set(docs["lang"]) == set(inputs.LANGS)


def test_event_slices_are_deterministic_and_lose_no_event(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    log = inputs.write_event_slices(a, seed=9, n_slices=4, n_events=2000)
    inputs.write_event_slices(b, seed=9, n_slices=4, n_events=2000)
    assert _digests(a) == _digests(b)
    parts = [pd.read_parquet(os.path.join(a, f)) for f in sorted(os.listdir(a))]
    got = pd.concat(parts)
    assert sorted(got["event_id"]) == list(log["event_id"])


def test_late_arrivals_stay_inside_the_one_hour_watermark(tmp_path):
    d = str(tmp_path / "s")
    inputs.write_event_slices(d, seed=1, n_slices=5, n_events=5000)
    seen_max = None
    late = 0
    for f in sorted(os.listdir(d)):
        part = pd.read_parquet(os.path.join(d, f))
        if seen_max is not None:
            behind = part["ts"] < seen_max
            late += int(behind.sum())
            assert (part.loc[behind, "ts"] > seen_max - pd.Timedelta(hours=1)).all()
        seen_max = part["ts"].max() if seen_max is None else max(seen_max, part["ts"].max())
    assert late > 0


def test_query_rounds_are_seeded_permutations():
    names = [f"q{i}" for i in range(8)]
    r0 = inputs.query_round(7, 0, names)
    assert sorted(r0) == names
    assert r0 == inputs.query_round(7, 0, names)
    assert r0 != inputs.query_round(7, 1, names) or r0 != inputs.query_round(8, 0, names)
