"""End-to-end label-reuse pipeline at sf0.1 (VERDICT r5 #7): a real
curation run derives duplicate-cluster labels ONCE (reliable
checkpoint, persisted to parquet), then feeds every downstream
consumer — the per-source reduction report AND the kept-corpus
filter — from that table instead of re-deriving pairs + connected
components per consumer. This test proves the intended usage end to
end and pins it to the standalone (self-deriving) query's output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.1"


def test_persisted_labels_feed_report_and_kept_corpus(spark, tmp_path):
    from spark_ext_spark.llm.clusters import duplicate_clusters
    from spark_ext_spark.llm.dedup import jaccard_similar_pairs
    from spark_ext_spark.plans.llm_queries import (
        dedup_reduction_from_labels, dedup_reduction_report, load)

    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(str(tmp_path / "ckpt"))

    docs = load(spark, SF, "documents")
    # Stage 1 — derive labels ONCE, the multi-hour-run way: reliable
    # checkpoints inside CC, then one parquet write (the persisted
    # label table a 100 TB run would register in its catalog).
    pairs = jaccard_similar_pairs(docs, "doc_id", "text", n=3,
                                  threshold=0.12, max_shingle_df=500)
    labels = duplicate_clusters(docs, "doc_id", pairs,
                                checkpoint="reliable")
    label_path = str(tmp_path / "dup_labels.parquet")
    labels.write.mode("overwrite").parquet(label_path)
    persisted = spark.read.parquet(label_path)

    # Stage 2a — reduction report from the persisted labels must equal
    # the standalone query that re-derives everything internally.
    def as_map(df):
        return {r["source"]: (r["n_docs"], r["n_kept"], r["kept_chars"],
                              r["reduction"]) for r in df.collect()}
    from_labels = as_map(dedup_reduction_from_labels(docs, persisted))
    standalone = as_map(dedup_reduction_report(spark, SF))
    assert from_labels == standalone

    # Stage 2b — the kept corpus (downstream training-data filter)
    # from the same persisted table: one semi join, no re-derivation.
    kept = docs.join(persisted.filter("is_canonical").select("doc_id"),
                     "doc_id", "semi")
    n_kept = kept.count()
    assert n_kept == sum(v[1] for v in standalone.values())
    # canonical docs only: every kept doc is its own cluster id
    joined = kept.join(persisted, "doc_id").select(
        (F.col("doc_id") == F.col("cluster_id")).alias("ok"))
    assert joined.filter(~F.col("ok")).count() == 0
    # and the kept fraction matches the reported per-source reduction
    per_source = {r["source"]: r["n"] for r in
                  kept.groupBy("source").agg(
                      F.count(F.lit(1)).alias("n")).collect()}
    for src, (n_docs, k, _chars, red) in standalone.items():
        assert per_source.get(src, 0) == k
        assert red == round(1.0 - k / n_docs, 4)
