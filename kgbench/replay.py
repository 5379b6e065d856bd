"""Traced run: layer replay of one build, then a served slice.

Spark plans are lazy, so timing ``build_graph`` charges every layer to the
final action.  :func:`replay_build` instead calls each layer's public
functions in the order ``plans.pipeline.build_graph`` does on its fused
in-memory path, persists each layer's input and forces each layer's
output with a ``noop`` write inside that layer's span:

    ner.annotate_transcripts(extraction_only=True)
      -> relations.extract_mentions / extract_triples
      -> linking: distinct strings + score_strings_ladder, then
         new_entity_nodes + new_pair_edges (span ``linking.pairs``)
      -> components: canonicalize_from_pairs (connected components)
      -> linking: resolution_from_scored
      -> graph.fused_graph_outputs + edges_from_combined / nodes_from_combined

The replayed nodes and edges must hash equal to ``build_graph``'s, so the
replay cannot drift from the pipeline unnoticed.  :func:`serve_slice`
then builds a slice of the input three ways — in memory, staged to
parquet tables (``work_dir``) and streamed in two micro-batches then
compacted — checks that all three hash equal, and runs the query mix on
the staged tables against answers from the in-memory build.
"""

from __future__ import annotations

import json
import shutil
import statistics
from pathlib import Path

from pyspark.sql import functions as F

from checks import content_hash, query_args, query_mix

REPLAY_LAYERS = ("ner", "relations", "linking", "linking.pairs", "components", "graph")
LAYERS = ("ner", "relations", "linking", "components", "graph")
# Bucket count of the slice's staged build and streamed graph.  This is
# NOT a production setting: build_graph and start_graph_stream default to
# 64 and scripts/kg_build_job.py to 256.  Every bucket is rewritten on each
# micro-batch, and at 64 buckets the staged build, the two micro-batches
# and the compaction of the slice take about 75 s on 4 cores, which does
# not fit a traced run (180 s) beside the replay.  The tables.* and
# stream.* metrics therefore show the merge path at a small bucket count
# and understate the per-bucket file cost (kgbench/README.md).
SLICE_BUCKETS = 8
QUERIES = (
    "find_scholar", "narration_chain", "scholar_connections", "concepts_in_book",
    "count_narrated_hadiths", "top_narrators", "shortest_path",
    "connected_components", "pagerank_integer",
)


def _gazetteer_bc(spark):
    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR
    from islamic_ner_spark.sources.gazetteer import Gazetteer

    return spark.sparkContext.broadcast(Gazetteer.from_dir(DEFAULT_GAZETTEER_DIR))


def replay_build(run, tracer) -> dict:
    from islamic_ner_spark.operators import linking
    from islamic_ner_spark.operators.graph import (
        edges_from_combined,
        fused_graph_outputs,
        nodes_from_combined,
    )
    from islamic_ner_spark.operators.ner import annotate_transcripts
    from islamic_ner_spark.operators.relations import extract_mentions, extract_triples

    spark = run.spark
    cached: list = []

    def force(df):
        df = df.persist()
        cached.append(df)
        df.write.format("noop").mode("overwrite").save()
        return df

    bc = _gazetteer_bc(spark)
    with tracer.span("input"):
        transcripts = force(run.transcripts())
    with tracer.span("ner"):
        extracted = force(annotate_transcripts(transcripts, bc, extraction_only=True))
    with tracer.span("relations"):
        mentions = force(extract_mentions(extracted))
        triples = force(extract_triples(extracted))
    with tracer.span("linking"):
        # the one private helper the replay calls: build_resolution_table's
        # first step has no public counterpart
        strings = linking._distinct_linkable_strings(mentions, triples)
        scored = force(linking.score_strings_ladder(strings, bc))
        new_nodes = linking.new_entity_nodes(
            scored.where(F.col("match_type") == "new").select(
                "text", "entity_type", "norm_text"
            )
        )
    with tracer.span("linking.pairs"):
        pair_edges = force(linking.new_pair_edges(new_nodes, persisted=cached))
    with tracer.span("components"):
        canon = force(linking.canonicalize_from_pairs(new_nodes, pair_edges))
    with tracer.span("linking"):
        resolution = force(linking.resolution_from_scored(scored, canon))
    with tracer.span("graph"):
        res_dict = {
            (r["text"], r["entity_type"]): (r["canonical_name"], r["confidence"])
            for r in resolution.collect()
        }
        fused = force(fused_graph_outputs(extracted, spark.sparkContext.broadcast(res_dict)))
        edges = force(edges_from_combined(fused))
        nodes = force(nodes_from_combined(fused, extracted))

    with tracer.span("counts"):
        mix = {
            r["match_type"]: r["n"]
            for r in scored.groupBy("match_type").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        found = {
            "mentions": mentions.count(),
            "triples": triples.count(),
            "strings": scored.count(),
            "exact": mix.get("exact", 0),
            "fuzzy": mix.get("fuzzy", 0),
            "new": mix.get("new", 0),
            "hashes": (content_hash(nodes), content_hash(edges)),
            "resolution_hash": content_hash(resolution),
        }
    for df in cached:
        df.unpersist()
    return found


def _parquet_stats(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _touched(graph: Path, batch_id: int) -> tuple[int, int]:
    """Buckets whose watermark is ``batch_id`` and their parquet bytes."""
    touched, size = 0, 0
    for meta in graph.glob("*/bucket=*/_batch.json"):
        if json.loads(meta.read_text())["batch_id"] == batch_id:
            touched += 1
            size += _parquet_stats(meta.parent)[1]
    return touched, size


def _graph_tables(spark, graph: Path, columns: dict):
    nodes = spark.read.parquet(str(graph / "nodes")).drop("bucket")
    edges = spark.read.parquet(str(graph / "edges")).drop("bucket")
    return nodes.select(*columns["nodes"]), edges.select(*columns["edges"])


def serve_slice(run, tracer) -> dict:
    from islamic_ner_spark.sources import tables
    from islamic_ner_spark.plans.pipeline import build_graph
    from islamic_ner_spark.streaming.stream_pipeline import (
        compact_graph_stream,
        start_graph_stream,
    )

    spark, work, slice_dir = run.spark, run.work, run.slice_dir
    ref, ref_hashes = run.slice_ref
    found: dict = {}

    # query answers from the in-memory (warm-up) build of the slice
    with tracer.span("check"):
        ref_nodes, ref_edges = ref.nodes.persist(), ref.edges.persist()
        columns = {"nodes": ref_nodes.columns, "edges": ref_edges.columns}
        mix = query_mix(query_args(ref_nodes, ref_edges))
        expected = {name: mix[name](ref_nodes, ref_edges) for name in QUERIES}

    # staged tables: the kg_build_job path
    staged = work / "staged"
    with tracer.span("tables"):
        build_graph(spark, run.transcripts(slice_dir), work_dir=str(staged),
                    n_buckets=SLICE_BUCKETS)
    found["files_written"], found["bytes_written"] = _parquet_stats(staged)
    s_nodes = tables.read_table(spark, staged / "nodes").select(*columns["nodes"])
    s_edges = tables.read_table(spark, staged / "edges").select(*columns["edges"])
    with tracer.span("check"):
        run.check("staged_equals_in_memory",
                  (content_hash(s_nodes), content_hash(s_edges)) == ref_hashes)
    # write_table against a plain parquet write of the same persisted frames
    for label, write in (
        ("tables.write", lambda df, p, by: tables.write_table(
            df, p, stage=p.name, fingerprint="kgbench", partition_by=by)),
        ("tables.plain", lambda df, p, by: df.write.mode("overwrite")
            .partitionBy(*by).parquet(str(p))),
    ):
        with tracer.span(label):
            write(ref_nodes, work / label / "nodes", ["label"])
            write(ref_edges, work / label / "edges", ["pred"])

    # queries on the staged tables
    for name in QUERIES:
        with tracer.span(f"queries.{name}"):
            got = run.op(name, lambda: mix[name](s_nodes, s_edges))
        if got is not None:
            run.check(f"query_{name}", got == expected[name], name)
    ref_nodes.unpersist()
    ref_edges.unpersist()
    ref.unpersist()

    # streamed upsert: one micro-batch per slice file, then compaction
    bc = _gazetteer_bc(spark)
    inbox, graph = work / "stream_in", work / "graph"
    shutil.copytree(slice_dir, inbox)
    with tracer.span("stream"):
        query = start_graph_stream(
            spark, str(inbox), str(graph), str(work / "checkpoint"), bc,
            available_now=True, max_files_per_trigger=1, n_buckets=SLICE_BUCKETS,
        )
        query.awaitTermination()
    batches = [p for p in query.recentProgress if p["numInputRows"]]
    last = max(p["batchId"] for p in batches)
    touched, rewritten = _touched(graph, last)
    batch_bytes = _parquet_stats(inbox)[1] / len(batches)  # one file per batch
    with tracer.span("stream.compact"):
        compact_graph_stream(spark, str(graph), bc)
    with tracer.span("check"):
        g_nodes, g_edges = _graph_tables(spark, graph, columns)
        run.check("streamed_equals_in_memory",
                  (content_hash(g_nodes), content_hash(g_edges)) == ref_hashes)
    found.update({
        "batch_s": statistics.median(
            p["durationMs"]["triggerExecution"] / 1000 for p in batches
        ),
        "batches": len(batches),
        "buckets_touched": touched,
        "rewritten_per_input_byte": rewritten / batch_bytes,
    })
    return found


def run_all(run, tracer) -> dict:
    from islamic_ner_spark.plans.pipeline import build_graph

    # the first build of the whole input (set-up built only the slice),
    # forced the way the replay forces its layers, so the two walls compare
    with tracer.span("pipeline"):
        result = build_graph(run.spark, run.transcripts())
        for df in (result.nodes, result.edges):
            df.write.format("noop").mode("overwrite").save()
    run.attempted += 1
    with tracer.span("check"):
        hashes = (content_hash(result.nodes), content_hash(result.edges))
        run.check_linking(result.resolution)
        pipeline_resolution = content_hash(result.resolution)
    result.unpersist()
    found = replay_build(run, tracer)
    run.check("replay_equals_pipeline",
              found["hashes"] == hashes
              and found["resolution_hash"] == pipeline_resolution, found["hashes"])
    found.update(serve_slice(run, tracer))
    return found


def layer_metrics(run, tracer, rows: dict, found: dict) -> dict:
    def total(labels, key):
        return sum(rows.get(label, {}).get(key, 0.0) for label in labels)

    wall = tracer.wall_s
    linking = ("linking", "linking.pairs")
    replay_s = sum(wall(label) for label in REPLAY_LAYERS)
    layer_wall = {
        "ner": wall("ner"), "relations": wall("relations"),
        "linking": wall("linking") + wall("linking.pairs"),
        "components": wall("components"), "graph": wall("graph"),
    }
    pairs_in = total(["linking.pairs"], "py_rows_in")
    out = {
        "session.start_s": (run.session_s, "s"),
        "session.peak_rss_mb": (run.peak.peak_mb, "MB"),
        "pipeline.wall_s": (wall("pipeline"), "s"),
        "pipeline.self_s": (max(0.0, wall("pipeline") - total(["pipeline"], "job_s")), "s"),
        "pipeline.jobs": (total(["pipeline"], "jobs"), "count"),
        "ner.wall_s": (layer_wall["ner"], "s"),
        "ner.task_s": (total(["ner"], "task_s"), "s"),
        "ner.python_s": (total(["ner"], "python_s"), "s"),
        "ner.bytes_to_py": (total(["ner"], "bytes_to_py"), "bytes"),
        "ner.bytes_from_py": (total(["ner"], "bytes_from_py"), "bytes"),
        "ner.distinct_text_ratio": (run.profile["distinct_text_ratio"], "ratio"),
        "relations.wall_s": (layer_wall["relations"], "s"),
        "relations.mentions": (found["mentions"], "count"),
        "relations.triples": (found["triples"], "count"),
        "linking.wall_s": (layer_wall["linking"], "s"),
        "linking.python_s": (total(linking, "python_s"), "s"),
        "linking.strings": (found["strings"], "count"),
        "linking.exact": (found["exact"], "count"),
        "linking.fuzzy": (found["fuzzy"], "count"),
        "linking.new": (found["new"], "count"),
        "linking.pairs_scored": (pairs_in, "count"),
        "linking.pair_keep_ratio": (
            total(["linking.pairs"], "py_rows_out") / pairs_in if pairs_in else 0.0, "ratio"
        ),
        "linking.shuffle_bytes": (total(linking, "shuffle_bytes"), "bytes"),
        "components.wall_s": (layer_wall["components"], "s"),
        "components.jobs": (total(["components"], "jobs"), "count"),
        "graph.wall_s": (layer_wall["graph"], "s"),
        "graph.python_s": (total(["graph"], "python_s"), "s"),
        "graph.bytes_to_py": (total(["graph"], "bytes_to_py"), "bytes"),
        "graph.bytes_from_py": (total(["graph"], "bytes_from_py"), "bytes"),
        "graph.shuffle_bytes": (total(["graph"], "shuffle_bytes"), "bytes"),
        "graph.spill_bytes": (total(["graph"], "spill_bytes"), "bytes"),
        "tables.staged_build_s": (wall("tables"), "s"),
        "tables.write_s": (wall("tables.write"), "s"),
        "tables.manifest_overhead_s": (wall("tables.write") - wall("tables.plain"), "s"),
        "tables.bytes_written": (found["bytes_written"], "bytes"),
        "tables.files_written": (found["files_written"], "count"),
        "stream.batch_s": (found["batch_s"], "s"),
        "stream.batches": (found["batches"], "count"),
        "stream.buckets_touched": (found["buckets_touched"], "count"),
        "stream.bytes_rewritten_per_input_byte": (found["rewritten_per_input_byte"], "ratio"),
        "stream.compact_s": (wall("stream.compact"), "s"),
    }
    for name in QUERIES:
        out[f"queries.{name}_ms"] = (wall(f"queries.{name}") * 1000, "ms")
    for layer in LAYERS:
        out[f"share.{layer}"] = (layer_wall[layer] / replay_s, "ratio")
    out["trace.pipeline_turns_per_s"] = (run.turns / wall("pipeline"), "1/s")
    out["trace.replay_over_pipeline"] = (replay_s / wall("pipeline"), "ratio")
    out["trace.coverage"] = (
        total(REPLAY_LAYERS, "task_s") / max(1e-9, total(["pipeline"], "task_s")), "ratio"
    )
    failed_labels = {
        "ner": ["ner"], "relations": ["relations"], "linking": list(linking),
        "components": ["components"], "graph": ["graph"], "pipeline": ["pipeline"],
        "tables": ["tables", "tables.write", "tables.plain"],
        "stream": ["stream", "stream.compact"],
        "queries": [f"queries.{q}" for q in QUERIES],
    }
    for layer, labels in failed_labels.items():
        out[f"{layer}.tasks_failed"] = (total(labels, "tasks_failed"), "count")
    shares = {k: round(v / replay_s, 3) for k, v in layer_wall.items()}
    t0 = tracer.spans[0]["start"]
    timeline = " ".join(
        f"{s['label']}@{s['start'] - t0:.1f}+{s['end'] - s['start']:.1f}" for s in tracer.spans
    )
    print(f"spans (label@start+wall, s): {timeline}", flush=True)
    print(f"replay self-time shares (of {replay_s:.2f}s): {json.dumps(shares)}", flush=True)
    print(f"event-log rows: {json.dumps(rows, sort_keys=True)}", flush=True)
    return out
