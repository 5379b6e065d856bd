"""Per-stage wall-time profile of the KG pipeline at one parallelism level.

Usage: taskset -c 0-15 python scripts/profile_stages.py 16 [n_convs]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000

    from pyspark.sql import functions as F

    from islamic_ner_spark.operators.graph import build_edges_turn_local, build_nodes
    from islamic_ner_spark.operators.linking import build_resolution_table, resolve_triples
    from islamic_ner_spark.operators.ner import annotate_transcripts
    from islamic_ner_spark.operators.relations import extract_mentions, extract_triples
    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR, resolve_mentions_table
    from islamic_ner_spark.session import build_session
    from islamic_ner_spark.sources.gazetteer import Gazetteer
    from islamic_ner_spark.sources.transcripts import synthetic_transcripts

    t0 = time.time()
    spark = build_session("profile", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
    print(f"session_start: {time.time()-t0:.2f}s")

    staging = tempfile.mkdtemp(prefix="profile_transcripts_")
    synthetic_transcripts(spark, n_convs, turns_per_conv=4, partitions=cpus * 4).write.mode(
        "overwrite"
    ).parquet(staging)

    marks = {}

    def mark(name, fn):
        s = time.time()
        out = fn()
        marks[name] = round(time.time() - s, 2)
        print(f"{name}: {marks[name]}s")
        return out

    transcripts = spark.read.parquet(staging)
    gaz = Gazetteer.from_dir(DEFAULT_GAZETTEER_DIR)
    gaz_bc = spark.sparkContext.broadcast(gaz)

    annotated = annotate_transcripts(transcripts, gaz_bc)
    extracted = annotated.select("conv_id", "turn_idx", "doc_id", "mentions", "triples").persist()
    mark("annotate+persist (count)", lambda: extracted.count())

    mentions = extract_mentions(extracted)
    triples = extract_triples(extracted)
    mark("mentions count", lambda: mentions.count())
    mark("triples count", lambda: triples.count())

    resolution = mark(
        "build_resolution_table (plan)",
        lambda: build_resolution_table(spark, mentions, triples, gaz_bc).table,
    ).persist()
    mark("resolution materialize", lambda: resolution.count())

    resolved_triples = resolve_triples(triples, resolution)
    resolved_mentions = resolve_mentions_table(mentions, resolution)
    doc_index = extracted.select("conv_id", "turn_idx", "doc_id")
    from islamic_ner_spark.operators.graph import build_hadith_nodes_turn_local

    nodes = build_nodes(
        resolved_mentions, doc_index, resolved_triples, exclude_doc_scoped=True
    ).unionByName(build_hadith_nodes_turn_local(extracted))
    edges = build_edges_turn_local(resolved_triples)
    mark(
        "edges agg (count+sum)",
        lambda: edges.agg(
            F.count(F.lit(1)).alias("edges"), F.sum("merge_count").alias("triples")
        ).collect(),
    )
    mark("nodes count", lambda: nodes.count())

    print({"cpus": cpus, "n_convs": n_convs, "total": round(sum(marks.values()), 2), **marks})
    import shutil

    shutil.rmtree(staging, ignore_errors=True)


if __name__ == "__main__":
    main()
