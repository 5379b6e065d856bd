"""Isolate the edges/nodes aggregation scaling behavior.

Usage: taskset -c 0-15 python scripts/profile_edges.py 16 500000
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000

    from pyspark.sql import functions as F

    from islamic_ner_spark.operators.graph import build_edges, build_nodes
    from islamic_ner_spark.operators.linking import build_resolution_table, resolve_triples
    from islamic_ner_spark.operators.ner import annotate_transcripts
    from islamic_ner_spark.operators.relations import extract_mentions, extract_triples
    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR, resolve_mentions_table
    from islamic_ner_spark.session import build_session
    from islamic_ner_spark.sources.gazetteer import Gazetteer
    from islamic_ner_spark.sources.transcripts import synthetic_transcripts

    spark = build_session("profile_edges", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
    staging = tempfile.mkdtemp(prefix="profile_edges_")
    synthetic_transcripts(spark, n_convs, turns_per_conv=4, partitions=cpus * 4).write.mode(
        "overwrite"
    ).parquet(staging)

    transcripts = spark.read.parquet(staging)
    gaz = Gazetteer.from_dir(DEFAULT_GAZETTEER_DIR)
    gaz_bc = spark.sparkContext.broadcast(gaz)

    annotated = annotate_transcripts(transcripts, gaz_bc)
    extracted = annotated.select("conv_id", "turn_idx", "doc_id", "mentions", "triples").persist()
    extracted.count()
    mentions = extract_mentions(extracted)
    triples = extract_triples(extracted)
    resolution = build_resolution_table(spark, mentions, triples, gaz_bc).table.persist()
    resolution.count()

    resolved_triples = resolve_triples(triples, resolution)

    # --- A: resolved_triples materialize (join only) ---
    s = time.time()
    rt = resolved_triples.persist()
    n = rt.count()
    t_join = time.time() - s
    print(f"A resolved_triples join+persist: {t_join:.2f}s ({n} rows)")

    # --- B: edges agg from persisted resolved_triples ---
    s = time.time()
    build_edges(rt).count()
    t_edges = time.time() - s
    print(f"B edges agg (from cache): {t_edges:.2f}s")

    # --- C: nodes agg from persisted inputs ---
    resolved_mentions = resolve_mentions_table(mentions, resolution)
    doc_index = extracted.select("conv_id", "turn_idx", "doc_id")
    s = time.time()
    build_nodes(resolved_mentions, doc_index, rt).count()
    t_nodes = time.time() - s
    print(f"C nodes agg: {t_nodes:.2f}s")

    print({"cpus": cpus, "join": round(t_join, 2), "edges": round(t_edges, 2), "nodes": round(t_nodes, 2)})


if __name__ == "__main__":
    main()
