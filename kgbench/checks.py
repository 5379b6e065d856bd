"""Output checks for the KG benchmark.

* :func:`content_hash` — an order-independent fingerprint of a table
  (row count plus the sum and xor of per-row 64-bit hashes over the
  columns in name order), so the in-memory, staged and streamed builds
  of one input can be compared without collecting them.
* :func:`triple_pr` — ``sources.transcripts.triple_precision_recall`` of
  the engine's triples on the sample conversations.  The golden set of the
  repetitive vocabulary is ``sources.transcripts.expected_triples`` (its
  rows are the engine's own synthetic transcripts); the isnad vocabulary
  is the benchmark's own, so its golden rows come from the same
  pure-Python semantic core that ``expected_triples`` runs.
* :func:`query_mix` — the read-query mix of the traced served slice, with
  arguments derived from the graph, returning comparable answers.
"""

from __future__ import annotations

from typing import Callable, Dict, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_GATE = 0.95


def content_hash(df: DataFrame) -> Tuple[int, str, int]:
    """(rows, sum of row hashes, xor of row hashes) over every column,
    taken in name order so column order does not matter."""
    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(c) for c in cols])
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(h).alias("x"),
    ).collect()[0]
    return int(row["n"]), str(row["s"]), int(row["x"] or 0)


def golden_rows(rows) -> list:
    """Golden triple rows (``EXPECTED_TRIPLES_SCHEMA``) for generated
    ``rows`` (conv_id, turn_idx, role, text, ...) from the engine's
    pure-Python semantic core."""
    from islamic_ner_spark.functions.annotate import annotate_raw
    from islamic_ner_spark.functions.normalize import normalize
    from islamic_ner_spark.functions.relations import extract_relations
    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR
    from islamic_ner_spark.sources.gazetteer import Gazetteer

    gazetteer = Gazetteer.from_dir(DEFAULT_GAZETTEER_DIR)
    out = []
    for conv_id, turn_idx, _role, text, _tool, _ts in rows:
        doc_id = f"{conv_id}:{turn_idx}"
        tokens, labels = annotate_raw(normalize(text), gazetteer, is_normalized=True)
        for rel in extract_relations(tokens, labels, metadata={"hadith_id": doc_id}):
            s, t = rel["source"], rel["target"]
            out.append((
                doc_id, rel["type"], s["text"], s["type"], s["start"], s["end"],
                t["text"], t["type"], t["start"], t["end"], float(rel["confidence"]),
                rel["evidence"],
            ))
    return out


def triple_pr(
    spark, triples: DataFrame, sample_rows, *, seed: int, turns_per_conv: int,
    repeat: bool,
) -> dict:
    """Precision/recall of ``triples`` restricted to the sample's
    conversations (conversations ``0..n-1`` of the input)."""
    from islamic_ner_spark.sources.transcripts import (
        EXPECTED_TRIPLES_SCHEMA,
        expected_triples,
        triple_precision_recall,
    )

    conv_ids = sorted({r[0] for r in sample_rows})
    if repeat:
        expected = expected_triples(
            spark, len(conv_ids), turns_per_conv=turns_per_conv, seed=seed
        )
    else:
        expected = spark.createDataFrame(golden_rows(sample_rows), EXPECTED_TRIPLES_SCHEMA)
    pr = triple_precision_recall(triples.where(F.col("conv_id").isin(conv_ids)), expected)
    pr["ok"] = (
        pr["precision"] >= PR_GATE and pr["recall"] >= PR_GATE and pr["expected"] > 0
    )
    return pr


def query_args(nodes: DataFrame, edges: DataFrame) -> dict:
    """Deterministic query arguments read off a built graph: the two
    busiest narrators, the first narrated document and the first book."""
    from islamic_ner_spark.operators.queries import top_narrators

    top = [r["src_key"] for r in top_narrators(edges, k=2).collect()]
    doc = edges.where(F.col("pred") == "NARRATED_FROM").agg(
        F.min("source_hadith").alias("d")
    ).collect()[0]["d"]
    book = nodes.where(F.col("label") == "Book").agg(F.min("key").alias("b")).collect()[0]["b"]
    return {
        "scholar": top[0], "other": top[-1], "doc_id": doc,
        "book": book or "", "name": top[0][:3],
    }


def _rows(df: DataFrame) -> list:
    return sorted(tuple(r) for r in df.collect())


def query_mix(args: dict) -> Dict[str, Callable]:
    """name -> fn(nodes, edges) returning a comparable answer."""
    from islamic_ner_spark.operators import queries as q
    from islamic_ner_spark.operators.components import connected_components
    from islamic_ner_spark.operators.graph_analytics import pagerank_integer

    def scholar_edges(edges):
        return edges.where(F.col("pred") == "NARRATED_FROM").select(
            F.col("src_key").alias("src"), F.col("tgt_key").alias("dst")
        )

    return {
        "find_scholar": lambda n, e: q.find_scholar(n, args["name"]),
        "narration_chain": lambda n, e: _rows(q.narration_chain(e, args["doc_id"])),
        "scholar_connections": lambda n, e: q.scholar_connections(e, args["scholar"]),
        "concepts_in_book": lambda n, e: _rows(q.concepts_in_book(n, e, args["book"])),
        "count_narrated_hadiths": lambda n, e: q.count_narrated_hadiths(e, args["scholar"]),
        "top_narrators": lambda n, e: _rows(q.top_narrators(e)),
        "shortest_path": lambda n, e: q.shortest_path(e, args["other"], args["scholar"]),
        "connected_components": lambda n, e: _rows(connected_components(scholar_edges(e))),
        "pagerank_integer": lambda n, e: _rows(pagerank_integer(e)),
    }
