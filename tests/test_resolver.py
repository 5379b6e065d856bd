"""Entity-resolution parity — ports test_graph.py:277-319."""

from __future__ import annotations

from islamic_ner_spark.functions.normalize import normalize
from islamic_ner_spark.functions.resolve import resolve_mention


def test_exact_match(resolver_gazetteer) -> None:
    result = resolve_mention("البخاري", "SCHOLAR", resolver_gazetteer)
    assert result["match_type"] == "exact"
    assert result["confidence"] == 1.0
    assert result["canonical_name"] == normalize("محمد بن إسماعيل البخاري")


def test_variant_match(resolver_gazetteer) -> None:
    result = resolve_mention("الإمام البخاري", "SCHOLAR", resolver_gazetteer)
    assert result["match_type"] == "exact"
    assert result["canonical_name"] == normalize("محمد بن إسماعيل البخاري")


def test_fuzzy_match(resolver_gazetteer) -> None:
    result = resolve_mention("البخاريي", "SCHOLAR", resolver_gazetteer)
    assert result["match_type"] == "fuzzy"
    assert result["confidence"] >= 0.8


def test_new_entity(resolver_gazetteer) -> None:
    result = resolve_mention("شخص غير معروف", "SCHOLAR", resolver_gazetteer)
    assert result["match_type"] == "new"
    assert result["confidence"] == 0.5
    assert result["canonical_name"] == normalize("شخص غير معروف")


def test_type_aware(resolver_gazetteer) -> None:
    scholar = resolve_mention("مسلم", "SCHOLAR", resolver_gazetteer)
    book = resolve_mention("مسلم", "BOOK", resolver_gazetteer)
    assert scholar["canonical_name"] != book["canonical_name"]


def test_new_entity_blocking_caps_hot_tokens(spark) -> None:
    """10k unresolved strings all sharing one particle (بن) must NOT
    produce a quadratic candidate join: the hot block is dropped (it
    cannot discriminate), and only discriminative-token pairs survive."""
    from pyspark.sql import functions as F

    from islamic_ner_spark.operators.linking import new_entity_nodes, new_pair_edges

    n = 10_000
    rows = [(f"بن راوي{i:05d}", "SCHOLAR", f"بن راوي{i:05d}") for i in range(n)]
    # two strings sharing a RARE token — their pair must survive the cap
    rows += [("بن شريك المجرب", "SCHOLAR", "بن شريك المجرب"),
             ("بن شريك المجربب", "SCHOLAR", "بن شريك المجربب")]
    new_strings = spark.createDataFrame(
        rows, "text string, entity_type string, norm_text string"
    )
    nodes = new_entity_nodes(new_strings)
    pairs = new_pair_edges(nodes, max_block_size=100, log_dropped=False)
    got = pairs.collect()
    # without the cap the بن block alone yields ~50M candidate pairs; with
    # it, only rare-token pairs remain
    assert len(got) == 1
    assert "شريك" in got[0]["src"] and "شريك" in got[0]["dst"]


def test_new_entity_blocking_cap_preserves_small_block_semantics(spark) -> None:
    """Below the cap the capped path is byte-identical to uncapped."""
    from islamic_ner_spark.operators.linking import new_entity_nodes, new_pair_edges

    rows = [
        ("محمد بن سيرين", "SCHOLAR", "محمد بن سيرين"),
        ("محمد بن سرين", "SCHOLAR", "محمد بن سرين"),
        ("كتاب الزهد", "BOOK", "كتاب الزهد"),
        ("كتاب الزهدد", "BOOK", "كتاب الزهدد"),
    ]
    new_strings = spark.createDataFrame(
        rows, "text string, entity_type string, norm_text string"
    )
    nodes = new_entity_nodes(new_strings)
    capped = sorted(map(tuple, new_pair_edges(nodes, max_block_size=1000,
                                              log_dropped=False).collect()))
    uncapped = sorted(map(tuple, new_pair_edges(nodes, max_block_size=10**9,
                                                log_dropped=False).collect()))
    assert capped == uncapped and len(capped) >= 2


# -- local vs distributed resolution ------------------------------------------

# canonicals for the exact / variant / fuzzy rungs, and two canonicals that
# tie for "سفيان بن عيينة الكوفو" (one substituted letter each, ratio 20/21):
# the earlier one must win on both paths
_AGREEMENT_GAZETTEER = [
    ("SCHOLAR", ["محمد بن إسماعيل البخاري", "البخاري"]),
    ("SCHOLAR", ["مالك بن أنس", "مالك"]),
    ("SCHOLAR", ["سفيان بن عيينة الكوفي"]),
    ("SCHOLAR", ["سفيان بن عيينة الكوفا"]),
    ("BOOK", ["صحيح البخاري"]),
]
_AGREEMENT_TEXTS = [
    "حدثنا البخاري عن مالك بن أنس",
    "حدثنا محمد بن إسماعيل البخاريي عن سفيان بن عيينة الكوفو",
    "حدثنا زياد بن عكرمة الكوفي عن زياد بن عكرمه الكوفي",
    "حدثنا محمد بن محمد عن محمد بن محمدي",
    "اخبرنا قتادة بن عطاء البصري عن قتادة بن عطا البصري",
    "حدثنا شعبة عن مالك في صحيح البخاري",
]


def _rows(df) -> list:
    return sorted(map(repr, df.collect()))


def _build_both_ways(spark, monkeypatch, texts, gazetteer):
    """build_graph at the default LOCAL_VOCAB_LIMIT and with the limit at
    0, which sends every vocabulary down the distributed ladder."""
    from islamic_ner_spark.operators import linking
    from islamic_ner_spark.plans.pipeline import build_graph

    transcripts = spark.createDataFrame(
        [(f"c{i}", 0, "assistant", t, None, None) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    out = []
    for limit in (linking.LOCAL_VOCAB_LIMIT, 0):
        monkeypatch.setattr(linking, "LOCAL_VOCAB_LIMIT", limit)
        result = build_graph(spark, transcripts, gazetteer=gazetteer)
        out.append(
            (_rows(result.resolution), _rows(result.nodes), _rows(result.edges),
             result.resolution.collect())
        )
        result.unpersist()
    return out


def test_local_and_distributed_resolution_agree(spark, monkeypatch) -> None:
    """The driver-side pass and the distributed ladder give the same
    resolution rows and the same graph, over exact, fuzzy (including a
    tie), new-clustered and repeated-token strings."""
    from islamic_ner_spark.sources.gazetteer import Gazetteer

    local, distributed = _build_both_ways(
        spark, monkeypatch, _AGREEMENT_TEXTS, Gazetteer(_AGREEMENT_GAZETTEER)
    )
    assert local[:3] == distributed[:3]

    by_norm = {r["norm_text"]: r for r in local[3]}
    assert {r["match_type"] for r in local[3]} == {"exact", "fuzzy", "new"}
    assert by_norm[normalize("سفيان بن عيينة الكوفو")]["canonical_name"] == normalize(
        "سفيان بن عيينة الكوفي"
    )
    # two new spellings cluster under the lexicographic-min one
    zyad = [normalize("زياد بن عكرمة الكوفي"), normalize("زياد بن عكرمه الكوفي")]
    assert {by_norm[z]["canonical_name"] for z in zyad} == {min(zyad)}
    assert normalize("محمد بن محمد") in by_norm


def test_local_and_distributed_block_cap_agree(spark, monkeypatch, caplog) -> None:
    """Under a lowered MAX_BLOCK_SIZE both paths drop the same blocks,
    counting a repeated token once per occurrence as the exploded token
    rows do, and both log the dropped-block WARNING."""
    import logging

    from islamic_ner_spark.operators import linking
    from islamic_ner_spark.sources.gazetteer import Gazetteer

    bc = spark.sparkContext.broadcast(Gazetteer(_AGREEMENT_GAZETTEER))
    # محمد: 2 rows from the first name + 1 from the second = 3 > 2, so the
    # block is dropped even though only two names share it; their ratio
    # (9/11) would otherwise merge them.  قتادة: 3 names > 2.
    names = ["محمد بن محمد", "محمد محمدي", "قتادة الكوفي", "قتادة البصري", "قتادة المدني"]
    mentions = spark.createDataFrame(
        [(n, "SCHOLAR") for n in names], "text string, entity_type string"
    )
    triples = spark.createDataFrame(
        [], "subj_text string, subj_type string, obj_text string, obj_type string"
    )
    monkeypatch.setattr(linking, "MAX_BLOCK_SIZE", 2)
    out = []
    for limit in (linking.LOCAL_VOCAB_LIMIT, 0):
        monkeypatch.setattr(linking, "LOCAL_VOCAB_LIMIT", limit)
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger="islamic_ner_spark.capping"):
            table = linking.build_resolution_table(spark, mentions, triples, bc).table
            rows = sorted(map(tuple, table.collect()))
        dropped = [r.getMessage() for r in caplog.records
                   if "new-entity-blocking: dropped" in r.getMessage()]
        assert len(dropped) == 1
        assert "'محمد', 3)" in dropped[0]
        assert f"'{normalize('قتادة')}', 3)" in dropped[0]
        out.append(rows)
    assert out[0] == out[1]
    canon = {r[0]: r[3] for r in out[0]}
    assert canon["محمد بن محمد"] != canon["محمد محمدي"]
