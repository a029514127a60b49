"""The output checks must catch what they are there to catch."""

import pandas as pd

from workloads import check_renditions, rendition_magics, window_counts_match


def _row(doc_id, fmt, docx=None, pdf=None, eml=None):
    return {"doc_id": doc_id, "format": fmt, "docx": docx, "pdf": pdf, "eml": eml}


def _good_table():
    m = rendition_magics()
    return pd.DataFrame(
        [
            _row(1, "document", docx=m["docx"][0] + b"body"),
            _row(2, "pdf", docx=m["docx"][1] + b"x", pdf=m["pdf"][1] + b"y"),
            _row(3, "email", eml=b"Subject: a\n\nbody"),
            _row(4, "chat"),
        ]
    )


def test_materialized_renditions_pass():
    problems, bytes_out = check_renditions(_good_table())
    assert problems == []
    assert all(v > 0 for v in bytes_out.values())


def test_a_pruned_rendition_column_is_caught():
    table = _good_table()
    table["pdf"] = None  # what a count() over the plan would leave
    problems, bytes_out = check_renditions(table)
    assert bytes_out["pdf"] == 0
    assert any("pdf wrote 0 bytes" in p for p in problems)
    assert any("pdf missing" in p for p in problems)


def test_wrong_magic_is_caught():
    table = _good_table()
    table.loc[0, "docx"] = b"not a docx"
    problems, _ = check_renditions(table)
    assert problems == ["doc 1: docx has bad magic"]


def _log():
    ts = pd.to_datetime(
        ["2024-01-01 00:10", "2024-01-01 00:50", "2024-01-01 01:05"]
    )
    return pd.DataFrame(
        {"event_id": [0, 1, 2], "ts": ts, "event_type": ["view", "view", "click"],
         "value": [1.5, 2.0, 3.25]}
    )


def _sink(view_count_last_batch):
    return pd.DataFrame(
        {
            "window_start": ["2024-01-01 00:00:00", "2024-01-01 00:00:00",
                             "2024-01-01 01:00:00"],
            "event_type": ["view", "view", "click"],
            "n_events": [1, view_count_last_batch, 1],
            "sum_value": [1.5, 3.5 if view_count_last_batch == 2 else 1.5, 3.25],
            "batch": pd.Categorical(["0", "1", "1"]),
        }
    )


def test_window_counts_take_the_newest_update():
    assert window_counts_match(_sink(2), _log())


def test_a_dropped_late_event_is_caught():
    assert not window_counts_match(_sink(1), _log())
