"""Hypothesis property tests for the pure label/normalize kernels.

The randomized differential suite (test_parity_reference.py) pins these
functions to the reference's behavior on realistic inputs; these
properties pin the INVARIANTS the pipeline relies on for arbitrary
inputs — BIO validity after repair, idempotence, length preservation —
so a future edit cannot trade one for the other unnoticed.  Pure
Python: no Spark session needed.
"""

from __future__ import annotations

from difflib import SequenceMatcher

from hypothesis import example, given, settings
from hypothesis import strategies as st

from islamic_ner_spark.functions.annotate import (
    ENTITY_TYPES,
    merge_allowed_labels,
    normalize_label,
    repair_bio,
)
from islamic_ner_spark.functions.normalize import normalize
from islamic_ner_spark.functions.resolve import (
    FUZZY_THRESHOLD,
    best_fuzzy_candidate,
    is_similar_pair,
    ratio_at_least,
)
from islamic_ner_spark.sources.gazetteer import Gazetteer

_TYPES = sorted(ENTITY_TYPES)
_label = st.one_of(
    st.just("O"),
    st.sampled_from([f"{p}-{t}" for p in ("B", "I") for t in _TYPES]),
    # junk the model could emit: casing, unknown types, stray dashes
    st.sampled_from(["b-scholar", "I-HADITH", "X-BOOK", "B-", "-", "", "I-book"]),
    st.text(max_size=8),
)
_labels = st.lists(_label, max_size=40)

_arabic_text = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("L", "N", "P", "Zs", "Mn"),
    ),
    max_size=200,
)


def _is_bio_valid(labels: list[str]) -> bool:
    prev = "O"
    for label in labels:
        if label != "O" and (label[:2] not in ("B-", "I-") or label[2:] not in ENTITY_TYPES):
            return False
        if label.startswith("I-") and prev not in (f"B-{label[2:]}", f"I-{label[2:]}"):
            return False
        prev = label
    return True


@given(_labels)
def test_repair_bio_always_valid_and_length_preserving(labels) -> None:
    repaired = repair_bio(labels)
    assert len(repaired) == len(labels)
    assert _is_bio_valid(repaired), repaired


@given(_labels)
def test_repair_bio_idempotent(labels) -> None:
    once = repair_bio(labels)
    assert repair_bio(once) == once


@given(_label)
def test_normalize_label_total_and_canonical(label) -> None:
    out = normalize_label(label)
    assert out == "O" or (
        out[:2] in ("B-", "I-") and out[2:] in ENTITY_TYPES
    )
    assert normalize_label(out) == out  # idempotent


@settings(max_examples=200)
@given(_arabic_text)
def test_normalize_idempotent_and_whitespace_canonical(text) -> None:
    once = normalize(text)
    assert normalize(once) == once
    assert "  " not in once and once == once.strip()


@given(_labels)
def test_merge_allowed_labels_preserves_base_entities(candidate) -> None:
    """The protected overlay never overwrites occupied slots and never
    changes sequence length."""
    base = ["O"] * len(candidate)
    base_occupied = list(base)
    if candidate:
        base_occupied[0] = "B-SCHOLAR"
    merged = merge_allowed_labels(
        base_occupied, repair_bio(candidate), frozenset(ENTITY_TYPES)
    )
    assert len(merged) == len(candidate)
    if candidate:
        assert merged[0] == "B-SCHOLAR"  # occupied slot untouched


# -- bound-pruned fuzzy kernels vs unpruned references ----------------------

# a three-letter alphabet makes ratios near the 0.8 threshold, ties, and
# asymmetric pairs common
_name = st.text(alphabet="بتن ", min_size=1, max_size=10)
# ratio(a, b) = 0.4 but ratio(b, a) = 0.8: the argument order matters
_ASYMMETRIC = ("تبتتب", "تنبتب")


def _ratio(a: str, b: str) -> float:
    return SequenceMatcher(None, a, b).ratio()


def _unpruned_best(norm_text, entity_type, gazetteer):
    """best_fuzzy_candidate before pruning: score every candidate."""
    if not norm_text:
        return None
    best = None
    for canonical, meta in gazetteer.entity_metadata.items():
        if meta["type"] != entity_type:
            continue
        score = max(_ratio(norm_text, c) for c in (canonical, *meta["variants"]))
        if best is None or score > best[1]:
            best = (canonical, score)
    return best if best is not None and best[1] >= FUZZY_THRESHOLD else None


def test_asymmetric_pair_is_asymmetric() -> None:
    a, b = _ASYMMETRIC
    assert _ratio(a, b) < FUZZY_THRESHOLD <= _ratio(b, a)


@settings(max_examples=300)
@given(_name, _name, st.floats(min_value=0.0, max_value=1.0))
@example(*_ASYMMETRIC, FUZZY_THRESHOLD)
@example(*reversed(_ASYMMETRIC), FUZZY_THRESHOLD)
def test_pruned_pair_kernels_match_unpruned(a, b, floor) -> None:
    exact = _ratio(a, b)
    assert ratio_at_least(a, b, floor) == (exact if exact >= floor else None)
    assert is_similar_pair(a, b) == (exact >= FUZZY_THRESHOLD)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["SCHOLAR", "BOOK"]), st.lists(_name, min_size=1, max_size=3)),
        min_size=1,
        max_size=8,
    ),
    _name,
    st.sampled_from(["SCHOLAR", "BOOK"]),
)
@example([("SCHOLAR", ["تبتتب"]), ("SCHOLAR", ["تنبتب"])], "تنبتب", "SCHOLAR")
@example([("SCHOLAR", ["بتنب"]), ("SCHOLAR", ["بتنت"])], "بتن", "SCHOLAR")  # tie
def test_pruned_best_fuzzy_candidate_matches_unpruned(entries, text, etype) -> None:
    gazetteer = Gazetteer(entries)
    norm = normalize(text)
    assert best_fuzzy_candidate(norm, etype, gazetteer) == _unpruned_best(
        norm, etype, gazetteer
    )
