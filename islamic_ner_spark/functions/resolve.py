"""Entity resolution scoring — stateless core of the linking stage.

Parity target: ``EntityResolver`` (/root/reference/src/graph/entity_resolver.py).
Match ladder per mention (text, type):

1. exact   — normalized text found in the gazetteer's (variant, type) map;
             confidence 1.0 (entity_resolver.py:34-42)
2. fuzzy   — best difflib.SequenceMatcher ratio against every same-type
             canonical and its variants; accept >= 0.8; confidence is the
             ratio rounded to 4dp (entity_resolver.py:70-100)
3. new     — canonical = own normalized text, confidence 0.5
             (entity_resolver.py:55-68)

The reference's resolver is stateful: a "new" entity is added to the
candidate pool so *later* mentions can fuzzy-match it — a sequential,
order-dependent behavior that cannot (and should not) be reproduced in a
parallel engine.  The distributed replacement is joint canonicalization of
all unmatched mentions via blocking + pairwise similarity + connected
components (see operators/linking.py + operators/components.py); the
reference's own tests never exercise the stateful path
(tests/test_graph.py:277-319 uses gazetteer-known or singleton-new
mentions only), so fixture parity is preserved.
"""

from __future__ import annotations

from collections import Counter
from difflib import SequenceMatcher
from functools import lru_cache
from typing import Dict, Optional, Tuple

from islamic_ner_spark.functions.normalize import normalize
from islamic_ner_spark.sources.gazetteer import Gazetteer

FUZZY_THRESHOLD = 0.8


def similarity_ratio(a: str, b: str) -> float:
    """difflib SequenceMatcher ratio — the reference's fuzzy metric."""
    return SequenceMatcher(None, a, b).ratio()


@lru_cache(maxsize=1 << 16)
def _char_counts(text: str) -> Counter:
    """Character multiset of a string (shared; never mutated)."""
    return Counter(text)


def ratio_at_least(a: str, b: str, floor: float) -> Optional[float]:
    """``similarity_ratio(a, b)`` when it is ``>= floor``, else None.

    Filter-then-verify: ``SequenceMatcher.real_quick_ratio`` (lengths
    only) and then ``quick_ratio`` (shared character multiset) are exact
    upper bounds on ``ratio``, so the quadratic ``ratio`` only runs when
    both reach ``floor``.  Both bounds are computed here to the same
    value the matcher methods return, without building the matcher
    (building it indexes ``b``, which costs more than the bounds).  A
    returned value is exactly ``similarity_ratio(a, b)``; ``ratio`` is
    not symmetric, so the argument order is the caller's contract."""
    total = len(a) + len(b)
    if total:
        if 2.0 * min(len(a), len(b)) / total < floor:  # real_quick_ratio
            return None
        counts_b = _char_counts(b)
        shared = 0
        for ch, n in _char_counts(a).items():
            m = counts_b.get(ch)
            if m:
                shared += n if n < m else m
        if 2.0 * shared / total < floor:  # quick_ratio
            return None
    ratio = similarity_ratio(a, b)
    return ratio if ratio >= floor else None


def is_similar_pair(a: str, b: str) -> bool:
    """The joint-canonicalization pair predicate: ratio(a, b) >= 0.8."""
    return ratio_at_least(a, b, FUZZY_THRESHOLD) is not None


def best_fuzzy_candidate(
    norm_text: str, entity_type: str, gazetteer: Gazetteer
) -> Optional[Tuple[str, float]]:
    """Best same-type canonical by max ratio over canonical + variants,
    if that ratio reaches ``FUZZY_THRESHOLD``.

    Ties keep the earliest canonical in gazetteer insertion order, matching
    the reference's ``max()`` over an insertion-ordered candidate list.
    Candidates are pruned with :func:`ratio_at_least` against
    ``max(FUZZY_THRESHOLD, best so far)``: a canonical must strictly beat
    the best so far, so one whose bounds fall below it cannot change the
    result."""
    if not norm_text:
        return None
    best: Optional[Tuple[str, float]] = None
    floor = FUZZY_THRESHOLD
    for canonical, meta in gazetteer.entity_metadata.items():
        if str(meta.get("type")) != entity_type:
            continue
        score = -1.0
        for candidate in (canonical, *meta.get("variants", ())):  # type: ignore[misc]
            ratio = ratio_at_least(norm_text, str(candidate), max(floor, score))
            if ratio is not None and ratio > score:
                score = ratio
        if score >= floor and (best is None or score > best[1]):
            best = (canonical, score)
            floor = score
    return best


def ladder_match(
    norm_text: str, entity_type: str, gazetteer: Gazetteer
) -> Tuple[Optional[str], float, str]:
    """``(canonical, confidence, match_type)`` of the exact -> fuzzy -> new
    ladder for one normalized string.  A "new" string has no canonical
    here: it is assigned by joint canonicalization (or, for a single
    mention, is its own normalized text)."""
    canonical = gazetteer.canonical_map.get((norm_text, entity_type))
    if canonical is not None:
        return canonical, 1.0, "exact"
    fuzzy = best_fuzzy_candidate(norm_text, entity_type, gazetteer)
    if fuzzy is not None:
        return fuzzy[0], round(fuzzy[1], 4), "fuzzy"
    return None, 0.5, "new"


def resolve_mention(text: str, entity_type: str, gazetteer: Gazetteer) -> Dict[str, object]:
    """Stateless exact/fuzzy/new resolution of one mention."""
    norm_text = normalize(text or "")
    norm_type = str(entity_type or "").upper()
    canonical, confidence, match_type = ladder_match(norm_text, norm_type, gazetteer)
    return {
        "canonical_name": norm_text if canonical is None else canonical,
        "original_text": text,
        "entity_type": norm_type,
        "confidence": confidence,
        "match_type": match_type,
    }
