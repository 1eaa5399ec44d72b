"""The driver-side kernels of the small graph fixpoints and of PPJoin, called
on pandas frames directly (no Spark session).

Spark orders strings by UTF-8 bytes, which is code-point order; Java's
UTF-16 order disagrees for characters outside the BMP. U+1D538 is a
surrogate pair in UTF-16 and sorts before U+FF5A there, but after it in
UTF-8, so these two keys show which order a kernel uses.
"""

from __future__ import annotations

import pandas as pd
import pytest

from flink_realtime_data_eng_spark.functions import dedup, graph

BMP, ASTRAL = "ｚ", "\U0001d538"  # 'ｚ' < '𝔸' in UTF-8 order
T = (500_000, 1_000_000)  # t = 0.5 as the exact rational num/den
STEPS = {"min_label": graph._min_label_round,
         "majority": graph._majority_round}
OVERLAP = ["id_a", "id_b", "n_common", "n_a", "n_b"]


def _labels(e, step, rounds=10):
    out, _ = graph._label_fixpoint(e, step, rounds)
    return dict(zip(out["node"], out["label"]))


@pytest.mark.parametrize("step", sorted(STEPS))
def test_fixpoint_of_no_edges_is_empty(step):
    e = pd.DataFrame({"a": pd.Series([], dtype="int64"),
                      "b": pd.Series([], dtype="int64")})
    out, rounds = graph._label_fixpoint(e, STEPS[step], 5)
    assert out.empty and list(out.columns) == ["node", "label"]
    assert rounds == 1  # the first round changes nothing


@pytest.mark.parametrize("step", sorted(STEPS))
def test_fixpoint_drops_null_endpoint_rows(step):
    e = pd.DataFrame({"a": [None, "x", None], "b": ["y", None, None]})
    assert _labels(e, STEPS[step]) == {}


def test_min_label_orders_strings_as_utf8():
    e = pd.DataFrame({"a": [ASTRAL, "b"], "b": [BMP, "B"]})
    out, rounds = graph._label_fixpoint(e, graph._min_label_round, 5)
    assert dict(zip(out["node"], out["label"])) == {
        BMP: BMP, ASTRAL: BMP, "B": "B", "b": "B"}
    assert rounds == 2


def test_min_label_reports_rounds_past_the_bound():
    chain = pd.DataFrame({"a": [1, 2, 3], "b": [2, 3, 4]})
    assert graph._label_fixpoint(chain, graph._min_label_round, 1)[1] == 2
    assert graph._label_fixpoint(chain, graph._min_label_round, 4)[1] == 4


def test_majority_breaks_ties_on_utf8_order():
    # "c" hears each label once: the tie goes to the smaller one
    e = pd.DataFrame({"a": ["c", "c"], "b": [ASTRAL, BMP]})
    assert _labels(e, graph._majority_round, rounds=1)["c"] == BMP


def test_majority_counts_duplicate_edges_as_votes():
    # node 10 hears label 2 twice and label 1 once; on distinct edges the
    # tie would go to 1
    e = pd.DataFrame({"a": [10, 10, 10], "b": [2, 2, 1]})
    assert _labels(e, graph._majority_round, rounds=1) == {1: 10, 2: 10,
                                                          10: 2}


def test_ppjoin_of_no_shingles_is_empty():
    s = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                      "shingle": pd.Series([], dtype=object)})
    out = dedup._ppjoin(s, "doc_id", *T)
    assert out.empty and list(out.columns) == OVERLAP


def test_ppjoin_drops_null_ids():
    s = pd.DataFrame({"doc_id": [None, None], "shingle": ["a b", "a b"]})
    assert dedup._ppjoin(s, "doc_id", *T).empty


def test_ppjoin_orders_string_ids_as_utf8():
    s = pd.DataFrame({"doc_id": [ASTRAL, ASTRAL, BMP, BMP, "q"],
                      "shingle": ["a b", "b c", "a b", "b c", "x y"]})
    out = dedup._ppjoin(s, "doc_id", *T)
    assert out.to_dict("records") == [
        {"id_a": BMP, "id_b": ASTRAL, "n_common": 2, "n_a": 2, "n_b": 2}]
