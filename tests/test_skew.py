"""Skew neutralization operators: result parity + plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from islamic_ner_spark.operators.skew import count_distinct_skew_safe, salted_join


def _skewed_fact(spark, n=5000):
    """90% of rows share one hot key (Zipf extreme)."""
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("cold_"), (F.col("id") % 50).cast("string"))
        ).alias("k"),
        F.col("id").alias("payload"),
    )


def _dim(spark):
    rows = [("hot", "HOT")] + [(f"cold_{i}", f"C{i}") for i in range(50)]
    return spark.createDataFrame(rows, "k string, v string")


def test_salted_join_matches_plain_join(spark) -> None:
    fact, dim = _skewed_fact(spark), _dim(spark)
    plain = sorted(map(tuple, fact.join(dim, ["k"], "left").collect()))
    salted = sorted(map(tuple, salted_join(fact, dim, ["k"], n_salts=8).collect()))
    assert plain == salted


def test_salted_join_left_keeps_unmatched_big_rows(spark) -> None:
    fact = spark.createDataFrame([("miss", 1), ("hot", 2)], "k string, payload int")
    dim = _dim(spark)
    rows = {r["k"]: r["v"] for r in salted_join(fact, dim, ["k"], n_salts=4).collect()}
    assert rows == {"miss": None, "hot": "HOT"}


def test_salted_join_rejects_right_join(spark) -> None:
    fact, dim = _skewed_fact(spark), _dim(spark)
    with pytest.raises(ValueError):
        salted_join(fact, dim, ["k"], how="right")


def test_salted_join_spreads_hot_key(spark) -> None:
    """In the shuffle-join regime (broadcast + AQE disabled, the scenario
    salting exists for), the hot key's rows must land in >1 post-shuffle
    partition — the plain join pins them to exactly one."""
    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.enabled", "false")
        fact, dim = _skewed_fact(spark), _dim(spark)

        def hot_partitions(joined):
            return (
                joined.where(F.col("k") == "hot")
                .select(F.spark_partition_id().alias("p"))
                .distinct()
                .count()
            )

        assert hot_partitions(fact.join(dim, ["k"], "left")) == 1
        assert hot_partitions(salted_join(fact, dim, ["k"], n_salts=8)) > 1
    finally:
        for key, value in saved.items():
            conf.set(key, value)


def test_count_distinct_skew_safe_matches_naive(spark) -> None:
    df = _skewed_fact(spark).select("k", (F.col("payload") % 77).alias("v"))
    naive = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    safe = {r["k"]: r["n"] for r in count_distinct_skew_safe(df, "k", "v").collect()}
    assert naive == safe


def test_resolve_triples_salted_matches_broadcast(spark, resolver_gazetteer) -> None:
    """The salted non-broadcast linking regime produces the same resolved
    triples as the broadcast default."""
    from islamic_ner_spark.operators.linking import (
        build_resolution_table,
        resolve_triples,
    )
    from islamic_ner_spark.operators.ner import annotate_transcripts
    from islamic_ner_spark.operators.relations import extract_mentions, extract_triples
    from islamic_ner_spark.sources.transcripts import synthetic_transcripts

    bc = spark.sparkContext.broadcast(resolver_gazetteer)
    transcripts = synthetic_transcripts(spark, 30, turns_per_conv=4, skew=1.5)
    extracted = annotate_transcripts(transcripts, bc).select(
        "conv_id", "turn_idx", "doc_id", "mentions", "triples"
    )
    mentions, triples = extract_mentions(extracted), extract_triples(extracted)
    resolution = build_resolution_table(spark, mentions, triples, bc).table
    cols = ["doc_id", "rel_idx", "pred", "subj_canonical", "obj_canonical", "confidence"]
    broadcasted = sorted(
        map(tuple, resolve_triples(triples, resolution).select(cols).collect())
    )
    salted = sorted(
        map(
            tuple,
            resolve_triples(
                triples, resolution, broadcast_resolution=False, n_salts=4
            ).select(cols).collect(),
        )
    )
    assert broadcasted == salted and len(broadcasted) > 0
