"""The README's switching-from-spark-ext quickstart, executed verbatim
in shape (same stages, same params) on synthetic reference-example
inputs — keeps the documented API from rotting."""

from __future__ import annotations

import random

import pytest


def test_readme_quickstart_pipeline(spark):
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    from spark_ext_spark.operators.classification import (
        LocalLogisticRegression)
    from spark_ext_spark.operators.downsampling import Downsampling
    from spark_ext_spark.operators.evaluation import BinaryModelMetrics
    from spark_ext_spark.operators.gather import Gather
    from spark_ext_spark.operators.gather_encoder import GatherEncoder
    from spark_ext_spark.operators.s2cell import S2CellTransformer

    rng = random.Random(7)
    impressions = spark.createDataFrame(
        [(f"c{i}", f"site{rng.randint(0, 20)}", rng.randint(1, 5))
         for i in range(200) for _ in range(rng.randint(1, 4))],
        "cookie_id string, site string, impressions long")
    geo = spark.createDataFrame(
        [(f"c{i}", 40 + rng.random() * 10, -80 + rng.random() * 10)
         for i in range(200)],
        "cookie_id string, lat double, lon double")
    response = spark.createDataFrame(
        [(f"c{i}", float(rng.random() < 0.3)) for i in range(200)],
        "cookie_id string, label double")

    sites = Gather(primaryKeyCols=["cookie_id"], keyCol="site",
                   valueCol="impressions",
                   outputCol="sites").transform(impressions)
    dataset = sites.join(geo, "cookie_id").join(response, "cookie_id").cache()
    pipeline = Pipeline(stages=[
        S2CellTransformer(latCol="lat", lonCol="lon", cellCol="cell",
                          level=10),
        GatherEncoder(inputCol="sites", outputCol="site_features",
                      keyCol="site", valueCol="impressions",
                      transformation="top", cover=75.0),
        VectorAssembler(inputCols=["site_features"], outputCol="features"),
        Downsampling(labelCol="label", maxClassRatio=10.0),
        LocalLogisticRegression(featuresCol="features", labelCol="label"),
    ])
    model = pipeline.fit(dataset)

    scored = model.transform(dataset).select(
        vector_to_array("probability")[1].alias("score"), "label")
    metrics = BinaryModelMetrics(scored, score_col="score",
                                 label_col="label")
    auc = metrics.area_under_roc()
    assert 0.0 <= auc <= 1.0
    assert metrics.gains().count() > 2
    assert "cell" in model.transform(dataset).columns


def test_readme_llm_oneliners(spark):
    """The four LLM-surface calls quoted in the README, as written."""
    from spark_ext_spark.llm.dedup import minhash_lsh_pairs
    from spark_ext_spark.llm.similarity import ivf_topk_deterministic
    from spark_ext_spark.llm.splits import temperature_mix_sample
    from spark_ext_spark.llm.text import repeated_ngram_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    assert {"doc_a", "doc_b"} <= set(pairs.columns)

    topk = ivf_topk_deterministic(emb, k=5)
    assert topk.count() > 0
    assert {"query_id", "neighbor_id"} <= set(topk.columns) or \
        len(topk.columns) >= 3  # (query, neighbor, score) shape

    grams = repeated_ngram_spans(docs, "doc_id", "text")
    assert set(grams.columns) == {"gram", "df", "occurrences"}

    mixed = temperature_mix_sample(docs, "source", "doc_id")
    assert 0 < mixed.count() <= docs.count()
