"""The benchmark workloads.

Each workload makes its seeded inputs, sets up, then runs passes:
one pass is the whole pipeline, every call into the library wrapped in a
span. ``check`` runs after each timed pass, outside its timing, and
returns one message per wrong output. Inputs are parquet files (the
fixed test tables, or files under the run's work directory), so
clearing Spark's cache between passes never drops them.
"""

from __future__ import annotations

import random
import time
import types

from pyspark.sql import functions as F

import datagen

AUDIENCE_COOKIES = 2000
CORPUS_DOCS = 1000
CORPUS_VECS = 600
IVF_CELLS = 8
JACCARD = 0.5
SQL_EVERY = 7
TEXT_PAIR_RECALL = 0.95
VEC_PAIR_RECALL = 0.95
MIN_AUC = 0.95


def _materialize(df):
    """Cache ``df`` and compute every row of it; returns (df, rows)."""
    df = df.cache()
    return df, df.count()


class AudienceModel:
    """The reference's worked example: Gather x2 and S2Cell, a 3-way
    join, GatherEncoder x2 + VectorAssembler + LocalLogisticRegression
    fit on a train split, scoring of the held-out split, and AUC, gains
    and lift from BinaryModelMetrics."""

    name = "audience_model"
    fit_spans = ("operators.gather_encoder.fit", "operators.classification.fit")

    def __init__(self, work_dir: str, seed: int):
        self.dir, self.seed = work_dir, seed

    def setup(self, spark, tr):
        from spark_ext_spark.sources.audience_gen import (
            register_audience_source)
        with tr.span("sources.audience_gen"):
            register_audience_source(spark)
            for table in ("sites", "geo", "response"):
                (spark.read.format("audience_gen")
                 .option("table", table)
                 .option("cookies", str(AUDIENCE_COOKIES))
                 .option("positiveFraction", "0.25")
                 .option("numPartitions", "4")
                 .option("seed", str(self.seed)).load()
                 .write.mode("overwrite").parquet(f"{self.dir}/{table}"))

    def count_inputs(self, spark) -> int:
        return sum(spark.read.parquet(f"{self.dir}/{t}").count()
                   for t in ("sites", "geo", "response"))

    def run_pass(self, spark, tr):
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.functions import vector_to_array

        from spark_ext_spark.operators.classification import (
            LocalLogisticRegression)
        from spark_ext_spark.operators.evaluation import BinaryModelMetrics
        from spark_ext_spark.operators.gather import Gather
        from spark_ext_spark.operators.gather_encoder import GatherEncoder
        from spark_ext_spark.operators.s2cell import S2CellTransformer

        sites, geo, resp = (spark.read.parquet(f"{self.dir}/{t}")
                            for t in ("sites", "geo", "response"))
        with tr.span("operators.gather"):
            g_sites, _ = _materialize(Gather(
                primaryKeyCols=["cookie"], keyCol="site",
                valueCol="impressions", outputCol="sites").transform(sites))
        with tr.span("operators.s2cell"):
            cells, _ = _materialize(S2CellTransformer(
                level=5, cellCol="s2_cell").transform(geo))
        # the second Gather span also holds the 3-way join that
        # assembles the gathered frames into one row per cookie
        with tr.span("operators.gather"):
            g_cells = Gather(primaryKeyCols=["cookie"], keyCol="s2_cell",
                             valueCol="impressions",
                             outputCol="s2_cells").transform(cells)
            dataset, n_rows = _materialize(
                resp.join(g_sites, "cookie").join(g_cells, "cookie"))
        train, test = dataset.randomSplit([0.8, 0.2], seed=7)
        with tr.span("operators.gather_encoder.fit"):
            enc_sites = GatherEncoder(
                inputCol="sites", outputCol="sites_f", keyCol="site",
                valueCol="impressions").fit(train)
        with tr.span("operators.gather_encoder.fit"):
            enc_cells = GatherEncoder(
                inputCol="s2_cells", outputCol="s2_cells_f",
                keyCol="s2_cell", valueCol="impressions",
                cover=95.0).fit(train)
        assemble = VectorAssembler(inputCols=["sites_f", "s2_cells_f"],
                                   outputCol="features")

        def features(df):
            return assemble.transform(enc_cells.transform(
                enc_sites.transform(df))).select("cookie", "response",
                                                 "features")

        with tr.span("operators.gather_encoder.transform"):
            train_f, _ = _materialize(features(train))
        with tr.span("operators.classification.fit"):
            model = LocalLogisticRegression(
                labelCol="response", featuresCol="features",
                regParam=0.01, elasticNetParam=0.5).fit(train_f.coalesce(1))
        t_score = time.perf_counter()
        with tr.span("operators.gather_encoder.transform"):
            test_f, n_test = _materialize(features(test))
        with tr.span("operators.classification.transform"):
            scored, _ = _materialize(model.transform(test_f).select(
                F.element_at(vector_to_array("probability"), 2)
                .alias("score"), F.col("response").alias("label")))
        score_s = time.perf_counter() - t_score
        with tr.span("operators.evaluation"):
            metrics = BinaryModelMetrics(scored)
            auc = metrics.area_under_roc()
            gains = metrics.gains().collect()
            lift = metrics.lift().collect()
        return {"rows": n_rows, "auc": auc, "gains": len(gains),
                "lift": len(lift), "score_rows_per_s": n_test / score_s}

    def check(self, out) -> list[str]:
        bad = []
        if out["rows"] != AUDIENCE_COOKIES:
            bad.append(f"joined rows {out['rows']} != {AUDIENCE_COOKIES}")
        if not out["auc"] >= MIN_AUC:
            bad.append(f"AUC {out['auc']} < {MIN_AUC}")
        if out["gains"] == 0 or out["lift"] == 0:
            bad.append("empty gains or lift curve")
        return bad

    def verified_ratio(self, spark) -> float:
        return 0.0


class LlmCuration:
    """A curation pipeline over a seeded corpus with planted duplicates:
    quality, Gopher and language filters; exact dedup, Jaccard pairs,
    connected components and the reduction report; an IVF fit with
    top-k search, and LSH semantic clusters over the embeddings."""

    def __init__(self, work_dir: str, seed: int):
        # the corpus is the benchmark's own input, written before the
        # set-up timing starts
        self.dir, self.seed = work_dir, seed
        self.doc_pairs, self.vec_pairs, self.dim = datagen.write_corpus(
            self.dir, self.seed, CORPUS_DOCS, CORPUS_VECS)

    def count_inputs(self, spark) -> int:
        return CORPUS_DOCS + CORPUS_VECS

    def run_pass(self, spark, tr):
        from spark_ext_spark.llm import dedup, similarity, text
        from spark_ext_spark.llm.clusters import duplicate_clusters
        from spark_ext_spark.plans.llm_queries import (
            dedup_reduction_from_labels)

        docs = spark.read.parquet(f"{self.dir}/documents.parquet")
        emb = spark.read.parquet(f"{self.dir}/embeddings.parquet")
        with tr.span("llm.text"):
            labelled, _ = _materialize(
                docs.select("doc_id", "text", "source", "n_chars")
                .join(text.quality_score(docs, "doc_id", "text"), "doc_id")
                .join(text.gopher_rules(docs, "doc_id", "text", min_words=10)
                      .select("doc_id", "ok_words", "ok_symbols"), "doc_id")
                .join(text.language_id(docs, "doc_id", "text"), "doc_id"))
        kept = labelled.filter(
            (F.col("quality_score") >= 0.5) & F.col("ok_words")
            & F.col("ok_symbols") & (F.col("lang_pred") != "und"))
        with tr.span("llm.dedup"):
            _materialize(dedup.exact_duplicates(kept, "doc_id", "text"))
        with tr.span("llm.dedup"):
            pairs, _ = _materialize(dedup.jaccard_similar_pairs(
                kept, "doc_id", "text", n=3, threshold=JACCARD,
                max_shingle_df=500))
        with tr.span("llm.clusters"):
            doc_labels, n_doc_labels = _materialize(
                duplicate_clusters(kept, "doc_id", pairs))
            report = dedup_reduction_from_labels(kept, doc_labels).collect()
        with tr.span("llm.similarity.fit"):
            cents = similarity.fit_ivf_centroids_quantized(
                emb, n_centroids=IVF_CELLS, n_iter=2, dim=self.dim)
        with tr.span("llm.similarity.search"):
            topk = similarity.ivf_topk_deterministic(
                emb, k=5, n_centroids=IVF_CELLS, n_probes=2, round_to=4,
                centroids=cents).collect()
        with tr.span("llm.similarity.search"):
            sem_pairs, _ = _materialize(similarity.embedding_near_dups(
                emb, threshold=0.9, method="lsh", n_planes=8, round_to=4))
        with tr.span("llm.clusters"):
            sem_labels, _ = _materialize(duplicate_clusters(
                emb, "vec_id", sem_pairs, pair_a="id_a", pair_b="id_b"))
        self.kept = kept
        return {"labelled": labelled, "kept": kept, "pairs": pairs,
                "doc_labels": doc_labels, "n_doc_labels": n_doc_labels,
                "report": report, "topk": topk, "sem_labels": sem_labels}

    def verified_ratio(self, spark) -> float:
        """Jaccard-verified pairs over the blocked candidate pairs of
        the last pass's kept documents (computed untimed)."""
        from spark_ext_spark.llm import dedup
        cand = dedup.blocked_pair_counts(self.kept, "doc_id", "text", n=3,
                                         max_shingle_df=500).count()
        verified = dedup.jaccard_similar_pairs(
            self.kept, "doc_id", "text", n=3, threshold=JACCARD,
            max_shingle_df=500).count()
        return verified / max(cand, 1)

    def check(self, out) -> list[str]:
        bad = []
        langs = out["labelled"].select("lang_pred").collect()
        if len(langs) != CORPUS_DOCS or any(r[0] is None for r in langs):
            bad.append("not every document has a language label")
        kept = {r[0] for r in out["kept"].select("doc_id").collect()}
        found_pairs = {(r[0], r[1]) for r in
                       out["pairs"].select("doc_a", "doc_b").collect()}
        doc_clusters = dict(out["doc_labels"]
                            .select("doc_id", "cluster_id").collect())
        report_docs = sum(r["n_docs"] for r in out["report"])
        if (out["n_doc_labels"] != len(kept) or report_docs != len(kept)
                or len(doc_clusters) != len(kept)):
            bad.append("not every kept document has a cluster label")
        planted = [p for p in self.doc_pairs if p[0] in kept and p[1] in kept]
        found = sum(p in found_pairs for p in planted)
        if not planted or found < TEXT_PAIR_RECALL * len(planted):
            bad.append(f"text near-dup recall {found}/{len(planted)}")
        same = sum(doc_clusters.get(a) == doc_clusters.get(b)
                   for a, b in planted)
        if same < found:
            bad.append("a found text pair is split across clusters")
        neigh = {}
        for r in out["topk"]:
            neigh.setdefault(r[0], set()).add(r[1])
        hits = sum(b in neigh.get(a, ()) for a, b in self.vec_pairs)
        if hits < VEC_PAIR_RECALL * len(self.vec_pairs):
            bad.append(f"IVF top-k twin recall {hits}/{len(self.vec_pairs)}")
        clus = dict(out["sem_labels"].select("vec_id", "cluster_id").collect())
        together = sum(clus.get(a) == clus.get(b) for a, b in self.vec_pairs)
        if len(clus) != CORPUS_VECS or (
                together < VEC_PAIR_RECALL * len(self.vec_pairs)):
            bad.append(f"semantic clusters hold {together}/"
                       f"{len(self.vec_pairs)} twins")
        return bad


class SqlAnalytics:
    """Every ``SQL_EVERY``-th ``plans.relational`` / ``plans.tpch``
    builder of ``queries()`` that has a DuckDB oracle (10 of 68), in a
    seed-shuffled order, on the sf0.01 test tables. Only Catalyst runs:
    no extension operator, no Python worker. Per-query cost is mostly
    fixed (planning, job start), which a sample of the builders
    measures at a seventh of the run time of all of them. Results are
    checked with the test suite's oracle comparison (tests/oracle_utils)."""

    def __init__(self, seed: int):
        self.dir, self.seed = datagen.SQL_TABLES, seed
        self.order: list[tuple[str, str, object]] = []
        self.oracle_sql: dict[str, str] = {}

    def setup(self, spark, tr):
        import __spark_entry__ as entry
        layer = {"spark_ext_spark.plans.relational": "plans.relational",
                 "spark_ext_spark.plans.tpch": "plans.tpch"}
        self.oracle_sql = entry.oracle_sql()
        order = [(name, layer[fn.__module__], fn)
                 for name, fn in entry.queries().items()
                 if fn.__module__ in layer and name in self.oracle_sql]
        order = order[::SQL_EVERY]
        random.Random(self.seed).shuffle(order)
        self.order = order

    def run_pass(self, spark, tr):
        out = {}
        for name, span, fn in self.order:
            with tr.span(span):
                df = fn(spark, self.dir)
                out[name] = (df.columns, df.collect())
        return out

    def count_inputs(self, spark) -> int:
        return datagen.table_rows(self.dir)

    def check(self, out) -> list[str]:
        from oracle_utils import compare_to_oracle, duck_connection
        bad = []
        con = duck_connection(self.dir)
        try:
            for name, (cols, rows) in out.items():
                # the pass's collected rows stand in for the DataFrame
                result = types.SimpleNamespace(columns=cols,
                                               collect=lambda r=rows: r)
                try:
                    compare_to_oracle(result, con, self.oracle_sql[name])
                except AssertionError as e:
                    bad.append(f"{name}: {e}")
        finally:
            con.close()
        return bad


class CurationSql:
    """The curation pipeline followed by the SQL control queries, each
    on its own inputs, in one pass. The two share a workload because a
    run's fixed cost (JVM start, warm-up pass) is most of its time."""

    name = "curation_sql"
    fit_spans = ("llm.similarity.fit",)

    def __init__(self, work_dir: str, seed: int):
        self.llm = LlmCuration(work_dir, seed)
        self.sql = SqlAnalytics(seed)

    def setup(self, spark, tr):
        self.sql.setup(spark, tr)

    def run_pass(self, spark, tr):
        return {"llm": self.llm.run_pass(spark, tr),
                "sql": self.sql.run_pass(spark, tr)}

    def check(self, out) -> list[str]:
        return self.llm.check(out["llm"]) + self.sql.check(out["sql"])

    def count_inputs(self, spark) -> int:
        return self.llm.count_inputs(spark) + self.sql.count_inputs(spark)

    def verified_ratio(self, spark) -> float:
        return self.llm.verified_ratio(spark)


WORKLOADS = {w.name: w for w in (AudienceModel, CurationSql)}
