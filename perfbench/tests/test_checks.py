import pytest

from perfbench.checks import topk_matches

# oracle rows: (doc_id, score rounded to 4 dp), score desc then doc_id asc
ORACLE = [(4, 9.5), (1, 8.25), (7, 8.25), (2, 6.0), (9, 5.0), (3, 5.0)]


def served(*pairs):
    return [(d, s) for d, s in pairs]


def test_exact_top_k_passes():
    assert topk_matches(served((4, 9.50002), (1, 8.25003), (7, 8.24996)), ORACLE, 3)


def test_perturbed_score_fails():
    assert not topk_matches(served((4, 9.5), (1, 8.26), (7, 8.25)), ORACLE, 3)


def test_wrong_document_fails():
    assert not topk_matches(served((4, 9.5), (1, 8.25), (2, 8.25)), ORACLE, 3)


def test_swap_outside_a_tie_fails():
    # doc 2 (6.0) ranked above doc 7 (8.25): scores differ by more than 1e-4
    assert not topk_matches(served((4, 9.5), (1, 8.25), (2, 6.0), (7, 8.25)), ORACLE, 4)


def test_tie_at_the_cut_may_pick_either_document():
    # docs 9 and 3 tie at 5.0; the engine may return 3 (lower doc id) first
    assert topk_matches(
        served((4, 9.5), (1, 8.25), (7, 8.25), (2, 6.0), (3, 5.0)), ORACLE, 5
    )


def test_engine_order_must_be_score_then_doc_id():
    assert not topk_matches(served((4, 9.5), (7, 8.25), (1, 8.25)), ORACLE, 3)


@pytest.mark.parametrize(
    "got",
    [
        served((4, 9.5), (1, 8.25)),  # too short
        served((4, 9.5), (4, 9.5), (1, 8.25)),  # duplicate document
    ],
)
def test_shape_errors_fail(got):
    assert not topk_matches(got, ORACLE, 3)


def test_fewer_matches_than_k():
    short = ORACLE[:2]
    assert topk_matches(served((4, 9.5), (1, 8.25)), short, 10)
    assert not topk_matches(served((4, 9.5)), short, 10)
