"""Entity linking: exact + fuzzy vs the broadcast gazetteer -> joint
canonicalization of the remainder.

Scale shape (the whole point of this design):

* Resolution is computed over **distinct** (text, type) strings, never per
  mention row — at 10^12 turns the distinct mention vocabulary is orders
  of magnitude smaller than the mention table.
* L1 exact linking is a **broadcast hash lookup** against the gazetteer
  dimension (the map-side half of a broadcast hash join,
  entity_resolver.py:26-43), fused into the same batched Arrow pass as
* L2 fuzzy scoring (SequenceMatcher vs same-type canonicals+variants;
  entity_resolver.py:70-100).
* L3' "new" entities are clustered **jointly**: blocking by shared token,
  pairwise SequenceMatcher ratio >= 0.8 scored in an Arrow batch, then
  connected components (large-star/small-star) pick a deterministic
  canonical (lexicographic min).  This replaces the reference's
  order-dependent resolver mutation with order-free semantics.
* The final mention->resolution join relies on AQE to broadcast the
  (small) resolution table and to split skewed keys when it is not small
  (hot narrator names are Zipf-heavy; ``spark.sql.adaptive.skewJoin`` is
  on in the session defaults).

Strategy is picked from a count of the distinct strings.  Up to
``LOCAL_VOCAB_LIMIT`` of them, the whole ladder above — exact, fuzzy,
capped token blocking, pair scoring and union-find with the same
lexicographic-min canonical — runs in one pure-Python pass on the driver
(:func:`resolve_vocabulary`), the cutover ``components.connected_components``
already makes for small edge lists: the distributed ladder's ~20 jobs and
per-task Python start-up cost more than scoring a few hundred strings.
Both paths share the scoring kernels in ``functions/resolve.py``, which
prune candidates with ``SequenceMatcher``'s exact upper bounds before
computing ``ratio()`` (filter-then-verify), so the paths agree row for row.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Iterator, NamedTuple, Optional

import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from islamic_ner_spark.operators.components import connected_components
from islamic_ner_spark.sources.gazetteer import Gazetteer

LINKABLE_TYPES = ("SCHOLAR", "BOOK", "CONCEPT", "PLACE")

RESOLUTION_SCHEMA = (
    "text string, entity_type string, norm_text string, "
    "canonical_name string, confidence double, match_type string"
)
RESOLUTION_COLUMNS = [c.split()[0] for c in RESOLUTION_SCHEMA.split(", ")]

# Vocabularies of at most this many distinct (text, type) strings are
# resolved in one driver-side pass instead of the distributed ladder.
# The distributed path costs about 20 Spark jobs and 3-4 s before any
# scoring; the local pass is single-threaded and grows superlinearly with
# the vocabulary through its particle blocks.  Measured on 4 cores, the
# local pass wins up to about 3.5k strings (5.9 s vs 6.6 s at 3,421;
# 11.8 s vs 8.9 s at 4,091), so the limit sits just below (CHANGES.md).
LOCAL_VOCAB_LIMIT = 3_000


def _distinct_linkable_strings(mentions: DataFrame, triples: DataFrame) -> DataFrame:
    """Distinct (text, entity_type) across mention spans and triple
    endpoints (inferred-book endpoints only exist in triples)."""
    linkable = list(LINKABLE_TYPES)
    from_mentions = mentions.select("text", "entity_type").where(
        F.col("entity_type").isin(linkable)
    )
    subj = triples.select(
        F.col("subj_text").alias("text"), F.col("subj_type").alias("entity_type")
    ).where(F.col("subj_type").isin(linkable))
    obj = triples.select(
        F.col("obj_text").alias("text"), F.col("obj_type").alias("entity_type")
    ).where(F.col("obj_type").isin(linkable))
    return from_mentions.union(subj).union(obj).distinct()


# NOTE (round 6): a single-scan variant of _distinct_linkable_strings
# (mentions + both triple endpoints concatenated array-side with
# higher-order filter/transform lambdas before one explode) was tried
# and REJECTED by measurement: the nested-lambda struct-building
# expressions run interpreted, not codegen'd — 1335 CPU-s vs 137 CPU-s
# for the three codegen'd explode scans of the same cached table at the
# bench workload.  Three cheap cache scans beat one expensive one.




# blocks (shared tokens) larger than this are dropped from candidate
# generation: a token carried by that many strings (Arabic name particles
# like بن / ابو / عبد at corpus scale) cannot discriminate, and keeping it
# makes the blocked self-join quadratic in the hot block's size.  Every
# drop is logged — no silent coverage caps.
MAX_BLOCK_SIZE = 1_000


def new_entity_nodes(new_strings: DataFrame) -> DataFrame:
    """Distinct type-scoped node ids for unresolved strings.

    Node id = ``entity_type \\x1f norm_text`` — \\x1f (unit separator)
    cannot appear in normalized text, so the same string under different
    types never merges.
    """
    return new_strings.select(
        F.concat_ws("\x1f", "entity_type", "norm_text").alias("node"),
        "entity_type",
        "norm_text",
    ).distinct()


def new_pair_edges(
    nodes: DataFrame,
    *,
    max_block_size: int = MAX_BLOCK_SIZE,
    log_dropped: bool = True,
    persisted: list | None = None,
) -> DataFrame:
    """Similarity edges between unresolved strings.

    Blocking: same (entity_type, shared whitespace token), with blocks
    larger than ``max_block_size`` dropped (logged via the shared
    operators/capping helper) so one ubiquitous name particle cannot
    make the pair join quadratic in the vocabulary.  Pair scoring:
    SequenceMatcher ratio >= 0.8 in an Arrow batch
    (entity_resolver.py:70-100 semantics).
    """
    from pyspark.sql import Window

    from islamic_ner_spark.operators.capping import cap_buckets

    blocked = nodes.select(
        "node", "entity_type", "norm_text",
        F.explode(F.split("norm_text", " ")).alias("block_token"),
    ).where(F.col("block_token") != "")

    if log_dropped:
        capped = cap_buckets(
            blocked, ["entity_type", "block_token"], max_block_size,
            "new-entity-blocking", persisted,
        )
    else:
        # silent path for equivalence tests: one shuffle keyed on the
        # block — the window count and the subsequent self-join both
        # consume the same (entity_type, block_token) hashing
        block_w = Window.partitionBy("entity_type", "block_token")
        capped = blocked.withColumn(
            "block_n", F.count(F.lit(1)).over(block_w)
        ).where(F.col("block_n") <= max_block_size).drop("block_n")

    pairs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            on=[
                F.col("a.entity_type") == F.col("b.entity_type"),
                F.col("a.block_token") == F.col("b.block_token"),
                F.col("a.node") < F.col("b.node"),
            ],
        )
        .select(
            F.col("a.node").alias("src"),
            F.col("b.node").alias("dst"),
            F.col("a.norm_text").alias("text_a"),
            F.col("b.norm_text").alias("text_b"),
        )
        .distinct()
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from islamic_ner_spark.functions.resolve import is_similar_pair

        for batch in batches:
            keep = [
                is_similar_pair(a, b) for a, b in zip(batch["text_a"], batch["text_b"])
            ]
            yield batch.loc[keep, ["src", "dst"]]

    return pairs.mapInPandas(score, schema="src string, dst string")


def canonicalize_from_pairs(nodes: DataFrame, pair_edges: DataFrame) -> DataFrame:
    """(node, entity_type, norm_text) + similarity edges -> canonical per
    string via connected components (lexicographic-min node id wins;
    singletons resolve to themselves)."""
    comp = connected_components(pair_edges)
    return (
        nodes.join(comp, nodes["node"] == comp["node"], "left")
        .select(
            nodes["entity_type"],
            nodes["norm_text"],
            F.coalesce(comp["component"], nodes["node"]).alias("component"),
        )
        # canonical = norm_text part of the component's min node id
        .withColumn("canonical_name", F.substring_index("component", "\x1f", -1))
        .drop("component")
    )


def _canonicalize_new(
    spark: SparkSession, new_strings: DataFrame, *, max_block_size: int = MAX_BLOCK_SIZE
) -> DataFrame:
    """Joint clustering of unresolved strings.

    Blocking (capped) -> pairwise SequenceMatcher >= 0.8 -> connected
    components; the lexicographic-min norm_text of each component is the
    canonical.  Identical to the reference for every test fixture."""
    nodes = new_entity_nodes(new_strings.select("text", "entity_type", "norm_text"))
    caches: list = []
    edges = new_pair_edges(nodes, max_block_size=max_block_size, persisted=caches)
    canon = canonicalize_from_pairs(nodes, edges)
    # canonicalize_from_pairs ran connected_components, which materialized
    # the edge set — the blocked cache is no longer referenced
    for df_ in caches:
        df_.unpersist()
    return canon


class Resolution(NamedTuple):
    """A build's resolution table, plus its rows when the local pass
    produced them (``None`` on the distributed path)."""

    table: DataFrame
    rows: Optional[list]


def build_resolution_table(
    spark: SparkSession,
    mentions: DataFrame,
    triples: DataFrame,
    gazetteer_bc: Broadcast,
    persisted: list | None = None,
) -> Resolution:
    """Distinct (text, entity_type) -> (canonical_name, confidence,
    match_type) via the exact -> fuzzy -> new ladder.

    The distinct strings are persisted and counted first.  Up to
    ``LOCAL_VOCAB_LIMIT`` of them are collected and resolved in one
    driver-side pass (:func:`resolve_vocabulary`); the table is then one
    small Arrow-built frame and its rows are returned too, so the fused
    graph pass needs no further jobs to read them.  Above the limit the
    distributed ladder runs: exact and fuzzy scoring (entity_resolver.py:
    26-100) fused in ONE batched Arrow pass over the distinct strings
    (:func:`score_strings_ladder`),
    then blocking + pair scoring + connected components for the "new"
    remainder.  Both paths give the same rows.  ``persisted`` (when
    given) collects the cached intermediates so long-running callers —
    the streaming foreachBatch loop relies on
    ``GraphBuildResult.unpersist()`` — can release them per build.
    """
    strings = _distinct_linkable_strings(mentions, triples).persist()
    if strings.count() <= LOCAL_VOCAB_LIMIT:
        collected = [(r["text"], r["entity_type"]) for r in strings.collect()]
        strings.unpersist()
        # MAX_BLOCK_SIZE is passed (here and below) so both paths read the
        # module constant per call, not the default bound at import
        rows = resolve_vocabulary(
            collected, gazetteer_bc.value, max_block_size=MAX_BLOCK_SIZE
        )
        frame = pd.DataFrame(rows, columns=RESOLUTION_COLUMNS)
        return Resolution(spark.createDataFrame(frame, schema=RESOLUTION_SCHEMA), rows)

    scored = score_strings_ladder(strings, gazetteer_bc).persist()
    if persisted is not None:
        persisted.extend([strings, scored])

    new_strings = scored.where(F.col("match_type") == "new").select(
        "text", "entity_type", "norm_text"
    )
    new_canon = _canonicalize_new(spark, new_strings, max_block_size=MAX_BLOCK_SIZE)
    return Resolution(resolution_from_scored(scored, new_canon), None)


def resolve_vocabulary(
    strings: list, gazetteer: Gazetteer, *, max_block_size: int = MAX_BLOCK_SIZE
) -> list:
    """Pure-Python resolution of a whole (small) vocabulary.

    ``strings`` are distinct ``(text, entity_type)`` pairs; the result is
    one ``RESOLUTION_SCHEMA`` tuple per pair, equal to what the
    distributed ladder produces: the same exact/fuzzy ladder, the same
    token blocking (blocks sized with token multiplicity, as the exploded
    rows count them, and capped at ``max_block_size`` with the same
    dropped-block WARNING), the same pair predicate, and union-find with
    the lexicographic-min canonical in place of connected components.
    """
    from islamic_ner_spark.functions.normalize import normalize
    from islamic_ner_spark.functions.resolve import is_similar_pair, ladder_match
    from islamic_ner_spark.operators.capping import warn_dropped

    scored = []
    blocks: dict = defaultdict(list)  # (type, token) -> member norms, with repeats
    new_nodes: set = set()
    for text, etype in strings:
        norm = normalize(text or "")
        canon, conf, match_type = ladder_match(norm, etype, gazetteer)
        scored.append((text, etype, norm, canon, conf, match_type))
        if match_type == "new" and (etype, norm) not in new_nodes:
            new_nodes.add((etype, norm))
            for token in norm.split(" "):
                if token:
                    blocks[(etype, token)].append(norm)

    hot = sorted(
        (key + (len(members),) for key, members in blocks.items()
         if len(members) > max_block_size),
        key=lambda h: -h[-1],
    )
    warn_dropped("new-entity-blocking", hot[:6], max_block_size)

    parent: dict = {}

    def find(node: tuple) -> tuple:
        parent.setdefault(node, node)
        while parent[node] != node:
            parent[node] = parent[parent[node]]
            node = parent[node]
        return node

    pairs: set = set()
    for (etype, _), members in blocks.items():
        if len(members) > max_block_size:
            continue
        members = sorted(set(members))
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pairs.add((etype, a, b))
    for etype, a, b in pairs:
        if is_similar_pair(a, b):
            ra, rb = find((etype, a)), find((etype, b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

    return [
        (text, etype, norm,
         find((etype, norm))[1] if mt == "new" else canon,
         conf, mt)
        for text, etype, norm, canon, conf, mt in scored
    ]


def score_strings_ladder(strings: DataFrame, gazetteer_bc: Broadcast) -> DataFrame:
    """Distinct strings -> per-string exact/fuzzy/new scoring in one
    batched Arrow pass (the per-string half of the resolution ladder; the
    'new' rows still need the joint canonicalization)."""

    def ladder(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from islamic_ner_spark.functions.normalize import normalize
        from islamic_ner_spark.functions.resolve import ladder_match

        gazetteer = gazetteer_bc.value
        for batch in batches:
            norm_l, canon_l, conf_l, mt_l = [], [], [], []
            for text, etype in zip(batch["text"], batch["entity_type"]):
                norm = normalize(text or "")
                canon, conf, mt = ladder_match(norm, etype, gazetteer)
                norm_l.append(norm)
                canon_l.append(canon)
                conf_l.append(conf)
                mt_l.append(mt)
            out = batch[["text", "entity_type"]].copy()
            out["norm_text"] = norm_l
            out["canonical_name"] = canon_l
            out["confidence"] = conf_l
            out["match_type"] = mt_l
            yield out

    return strings.mapInPandas(ladder, schema=RESOLUTION_SCHEMA)


def resolution_from_scored(scored: DataFrame, new_canon: DataFrame) -> DataFrame:
    """Assemble the final resolution table: exact/fuzzy rows pass
    through; 'new' rows take their joint canonical (confidence 0.5,
    entity_resolver.py:55-68)."""
    resolved = scored.where(F.col("match_type") != "new")
    new_hits = (
        scored.where(F.col("match_type") == "new")
        .select("text", "entity_type", "norm_text")
        .join(new_canon, ["entity_type", "norm_text"])
        .select(
            "text", "entity_type", "norm_text",
            F.col("canonical_name"),
            F.lit(0.5).alias("confidence"),
            F.lit("new").alias("match_type"),
        )
    )
    return resolved.unionByName(new_hits)


def resolve_triples(
    triples: DataFrame,
    resolution: DataFrame,
    *,
    broadcast_resolution: bool = True,
    n_salts: int = 1,
) -> DataFrame:
    """Attach canonical endpoints to every triple (L5, builder.py:285-323).

    HADITH_REF endpoints canonicalize to the turn's ``doc_id`` (the
    metadata hadith_id always exists in this pipeline, builder.py:313-321);
    linkable endpoints join the resolution table.

    The resolution table is the *distinct mention vocabulary* — orders of
    magnitude smaller than the triple table — so it is broadcast by
    default (Catalyst sees a UDF/union plan with unknown stats and would
    otherwise pick a sort-merge join over the full fact table).  Pass
    ``broadcast_resolution=False`` for extreme vocabularies; hot narrator
    keys are Zipf-heavy, so that regime layers ``n_salts`` explicit key
    salting (operators/skew.salted_join) on top of AQE's runtime
    skew-join splitting.
    """
    if broadcast_resolution:
        resolution = F.broadcast(resolution)
    subj_res = resolution.select(
        F.col("text").alias("subj_text"),
        F.col("entity_type").alias("subj_type"),
        F.col("canonical_name").alias("subj_canonical_r"),
        F.col("confidence").alias("subj_confidence_r"),
        F.col("match_type").alias("subj_match_type_r"),
    )
    obj_res = resolution.select(
        F.col("text").alias("obj_text"),
        F.col("entity_type").alias("obj_type"),
        F.col("canonical_name").alias("obj_canonical_r"),
        F.col("confidence").alias("obj_confidence_r"),
        F.col("match_type").alias("obj_match_type_r"),
    )

    if not broadcast_resolution and n_salts > 1:
        from islamic_ner_spark.operators.skew import salted_join

        joined = salted_join(
            salted_join(triples, subj_res, ["subj_text", "subj_type"], n_salts=n_salts),
            obj_res, ["obj_text", "obj_type"], n_salts=n_salts,
        )
    else:
        joined = triples.join(subj_res, ["subj_text", "subj_type"], "left").join(
            obj_res, ["obj_text", "obj_type"], "left"
        )

    out = (
        joined
        .withColumn(
            "subj_canonical",
            F.when(F.col("subj_type") == "HADITH_REF", F.col("doc_id")).otherwise(
                F.col("subj_canonical_r")
            ),
        )
        .withColumn(
            "obj_canonical",
            F.when(F.col("obj_type") == "HADITH_REF", F.col("doc_id")).otherwise(
                F.col("obj_canonical_r")
            ),
        )
        .withColumn("source_hadith", F.col("doc_id"))
        .drop("subj_canonical_r", "obj_canonical_r")
    )
    return out
