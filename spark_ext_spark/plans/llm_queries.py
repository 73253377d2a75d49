"""LLM-pipeline headline queries over documents/embeddings.

Oracle-checked where expressible — which is almost everything: exact
dedup via sha256, n-gram Jaccard via set arithmetic, text stats via
regexps, fingerprints via md5, language-ID via a stopword VALUES
table, brute-force cosine via list_cosine_similarity, and the
hash-based ops (MinHash-LSH, SimHash, hyperplane-LSH ANN, multimodal
decode) replayed in exact integer/hex SQL. Rows-only remainders
(trained IVF quantizer, stub media features) keep golden unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ext_spark.llm import dedup, multimodal, similarity, text
from spark_ext_spark.plans.relational import load


# --- dedup ------------------------------------------------------------------

def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = dedup.exact_duplicates(docs, "doc_id", "text")
    return out.select("digest", "canonical_id", "n_members")


EXACT_DEDUP_SQL = """
SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')) AS digest,
       min(doc_id) AS canonical_id,
       count(*) AS n_members
FROM documents
GROUP BY 1
"""

_SHINGLE_CTE = """
WITH norm AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '), ' ') AS w
  FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM norm WHERE len(w) >= 3)
),
sh AS (  -- document-frequency cap = 500, mirroring max_shingle_df
  SELECT doc_id, shingle FROM sh_all
  WHERE shingle IN (SELECT shingle FROM sh_all
                    GROUP BY shingle HAVING count(*) <= 500)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency cap (500) applied in BOTH engines: a shingle
    shared by >500 docs carries no dedup signal but makes its join
    bucket quadratic — the SCALE.md stop-shingle guard, oracle-checked."""
    docs = load(spark, sf_dir, "documents")
    return dedup.jaccard_similar_pairs(docs, "doc_id", "text", n=3,
                                       threshold=0.12,
                                       max_shingle_df=500)


NGRAM_JACCARD_SQL = _SHINGLE_CTE + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(count(*) / (any_value(sa.n) + any_value(sb.n) - count(*)), 4)
         AS jaccard
FROM sh a
JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
JOIN sizes sa ON sa.doc_id = a.doc_id
JOIN sizes sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) / (any_value(sa.n) + any_value(sb.n) - count(*)) >= 0.12
"""


def ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT
    (shared / min sizes) — catches short-doc-quoted-in-long-doc pairs
    whose Jaccard stays tiny. Same blocked candidate join + df-cap as
    ngram_jaccard."""
    docs = load(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, "doc_id", "text", n=3,
                                   threshold=0.3, max_shingle_df=500)


NGRAM_CONTAINMENT_SQL = _SHINGLE_CTE + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(count(*) / least(any_value(sa.n), any_value(sb.n)), 4)
         AS containment
FROM sh a
JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
JOIN sizes sa ON sa.doc_id = a.doc_id
JOIN sizes sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) / least(any_value(sa.n), any_value(sb.n)) >= 0.3
"""


def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash-LSH pairs at the same τ as ngram_jaccard.
    Oracle-checkable: the base hash is md5-derived (= DuckDB
    md5_number_upper) and the k affine permutations are exact integer
    math DuckDB reproduces in HUGEINT (see MINHASH_LSH_SQL)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3,
                                   num_hashes=64, bands=32, threshold=0.12)


def _minhash_lsh_oracle() -> str:
    """DuckDB replica of minhash_lsh_pairs(n=3, num_hashes=64, bands=32,
    threshold=0.12, seed=42). The (a, b) permutation constants are baked
    in from the SAME numpy generator the Spark UDF uses, and the band
    equi-join happens on the raw 2-element signature slice (Spark hashes
    the slice with xxhash64 first, but equal slices ⇔ equal hashes
    barring a 64-bit collision, so the PAIR SET is identical)."""
    from spark_ext_spark.llm.dedup import _minhash_params
    a_p, b_p = _minhash_params(64, 42)
    params = ",\n    ".join(
        f"({i}, {int(a_p[i])}::HUGEINT, {int(b_p[i])}::HUGEINT)"
        for i in range(64))
    return f"""
WITH params(hi, a, b) AS (VALUES
    {params}),
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
shingles AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, unnest(range(1, len(w) - 1)) AS u(i)
),
hashes AS (
  SELECT doc_id, md5_number_upper(shingle)::HUGEINT AS h FROM shingles
),
mins AS (
  SELECT doc_id, hi, min((h * a + b) % 2305843009213693951::HUGEINT) AS mh
  FROM hashes CROSS JOIN params GROUP BY doc_id, hi
),
-- docs with < n words have no shingles → no signature → never pair
-- (matches minhash_signatures' NULL-signature contract)
sigs AS (SELECT doc_id, list(mh ORDER BY hi) AS sig FROM mins GROUP BY doc_id),
banded AS (
  SELECT doc_id, i AS band,
         sig[2*i+1]::VARCHAR || ':' || sig[2*i+2]::VARCHAR AS bh
  FROM sigs, unnest(range(0, 32)) AS u(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         list_sum(list_transform(range(1, 65),
           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 64.0
           AS e
  FROM cand
  JOIN sigs sa ON sa.doc_id = cand.doc_a
  JOIN sigs sb ON sb.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, round(e, 4) AS jaccard_est FROM est WHERE e >= 0.12
"""


MINHASH_LSH_SQL = _minhash_lsh_oracle()


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near pairs (Hamming ≤ 8). Oracle-checkable: the
    token hash is md5-derived and the bit-majority vote is exact
    integer math (see SIMHASH_PAIRS_SQL)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=8)


def _simhash_pairs_oracle(max_hamming: int = 8) -> str:
    """DuckDB replica of simhash_near_pairs(max_hamming). The band
    boundaries come from the SAME simhash_bands() the Spark operator
    uses, so blocking is byte-identical; empty docs (no words) never
    reach sh0 and so never pair — matching the NULL-simhash contract."""
    from spark_ext_spark.llm.dedup import simhash_bands
    bands = ",\n    ".join(
        f"({i}, {sh}, {(1 << w) - 1}::HUGEINT)"
        for i, (sh, w) in enumerate(simhash_bands(max_hamming)))
    return f"""
WITH bands(band, sh, mask) AS (VALUES
    {bands}),
norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
words AS (
  SELECT doc_id, u.word AS word, count(*) AS cnt
  FROM norm, unnest(string_split(t, ' ')) AS u(word)
  WHERE t <> ''
  GROUP BY doc_id, u.word
),
wh AS (SELECT doc_id, md5_number_upper(word) AS h, cnt FROM words),
acc AS (
  SELECT doc_id, i,
         sum(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS a
  FROM wh, unnest(range(0, 64)) AS u(i)
  GROUP BY doc_id, i
),
sh0 AS (
  SELECT doc_id,
         sum(CASE WHEN a > 0 THEN (1::HUGEINT << i) ELSE 0::HUGEINT END) AS v
  FROM acc GROUP BY doc_id
),
sim AS (
  SELECT doc_id, v,
         CASE WHEN v >= 9223372036854775808::HUGEINT
              THEN (v - 18446744073709551616::HUGEINT)::BIGINT
              ELSE v::BIGINT END AS s
  FROM sh0
),
banded AS (
  SELECT doc_id, s, band, (v >> sh) & mask AS key
  FROM sim CROSS JOIN bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.s AS h_a, b.s AS h_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(h_a, h_b)) AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}
"""


SIMHASH_PAIRS_SQL = _simhash_pairs_oracle(8)


# --- text analysis -----------------------------------------------------------

def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = text.text_stats(docs, "doc_id", "text")
    return out.select("doc_id", "n_chars", "n_tokens", "distinct_ratio",
                      "digit_ratio")


DOC_TEXT_STATS_SQL = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[\\s[:punct:]]+'),
                     t -> t <> '') AS tk
  FROM documents
)
SELECT doc_id,
       length(text) AS n_chars,
       len(tk) AS n_tokens,
       round(len(list_distinct(tk)) / greatest(len(tk), 1), 4)
         AS distinct_ratio,
       round(length(regexp_replace(text, '[^0-9]', '', 'g'))
             / greatest(length(text), 1), 4) AS digit_ratio
FROM toks
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.fingerprint(docs, "doc_id", "text")


DOC_FINGERPRINTS_SQL = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[\\s[:punct:]]+'),
                     t -> t <> '') AS tk
  FROM documents
)
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')) AS fingerprint,
       -- coalesce: DuckDB array_to_string([]) is NULL, Spark
       -- concat_ws of an empty array is '' — token-less docs
       -- fingerprint as md5(''); NULL text stays NULL on both engines
       CASE WHEN text IS NULL THEN NULL
            ELSE md5(coalesce(array_to_string(list_sort(tk), ' '), ''))
       END AS bag_fingerprint
FROM toks
"""


def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.language_id(docs, "doc_id", "text")


def _stopword_values() -> str:
    rows = ", ".join(f"('{w}', '{lang}')"
                     for lang, ws in text.STOPWORDS.items() for w in ws)
    return f"(VALUES {rows}) AS prof(word, lang)"


DOC_LANGUAGE_ID_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text),
                '[\\s[:punct:]]+'), t -> t <> '')) AS word
  FROM documents
),
hits AS (
  SELECT doc_id, lang, count(*) AS hits
  FROM toks JOIN {_stopword_values()} USING (word)
  GROUP BY doc_id, lang
),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, lang ASC) AS rk
  FROM hits
)
SELECT d.doc_id,
       coalesce(b.lang, 'und') AS lang_pred,
       coalesce(b.hits, 0) AS hits
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
  ON d.doc_id = b.doc_id
"""


def language_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language distribution — the corpus-composition table
    a multilingual training run logs: (source, lang_pred, n_docs,
    share-of-source). ``source`` rides language_id's carry_cols seam
    (r12: it travels the operator's own final doc join instead of a
    second doc-sized join back onto documents); the share's
    denominator is a window count, no second scan."""
    from pyspark.sql.window import Window
    docs = load(spark, sf_dir, "documents")
    joined = text.language_id(docs, "doc_id", "text",
                              carry_cols=("source",))
    agg = (joined.groupBy("source", "lang_pred")
           .agg(F.count(F.lit(1)).alias("n_docs")))
    w = Window.partitionBy("source")
    return agg.select(
        "source", "lang_pred", "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4)
        .alias("share"))


LANGUAGE_MIX_REPORT_SQL = f"""
WITH lang AS ({DOC_LANGUAGE_ID_SQL}),
j AS (
  SELECT d.source, l.lang_pred
  FROM documents d JOIN lang l ON d.doc_id = l.doc_id
),
agg AS (
  SELECT source, lang_pred, count(*) AS n_docs
  FROM j GROUP BY source, lang_pred
)
SELECT source, lang_pred, n_docs,
       round(n_docs / sum(n_docs) OVER (PARTITION BY source), 4)
           AS share
FROM agg
"""


# --- similarity --------------------------------------------------------------

def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb, k=5, round_to=4)


COSINE_TOPK_SQL = """
-- null embeddings are excluded from similarity search (operator
-- contract: they match nothing; a null row must not kill the job).
-- MATERIALIZED: DuckDB evaluates list_cosine_similarity over raw scan
-- batches before a pushed-down filter removes the null row, and the
-- function ERRORS on null input instead of returning NULL
WITH e0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
e AS MATERIALIZED (
  -- second layer: list_dot_product must only ever see the already-
  -- materialized null-free rows (same eager-batch hazard as above)
  SELECT vec_id, v, list_dot_product(v, v) = 0 AS z FROM e0
),
pairs AS (
  -- zero-norm guard: the operator defines cos(0, x) = 0.0; DuckDB's
  -- list_cosine_similarity returns -1.0 there
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CASE WHEN a.z OR b.z THEN 0.0
              ELSE round(list_cosine_similarity(a.v, b.v), 4)
         END AS sim
  FROM e a, e b
  WHERE a.vec_id <> b.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k. Oracle-checkable: the seeded
    hyperplanes are plan literals, so DuckDB reproduces the exact
    bucket assignment (identical left-fold dot products), candidate
    set, and post-round ranking (see ANN_LSH_TOPK_SQL). Recall vs
    exact is additionally asserted in tests/test_llm_similarity.py."""
    emb = load(spark, sf_dir, "embeddings")
    # dim=64 == the testdata embeddings dimensionality at every SF —
    # the same constant the DuckDB oracle (_ann_lsh_oracle) bakes into
    # its plane literals. Passing it skips the per-invocation
    # _infer_dim first() probe job (r13 optimization round); a
    # mismatched corpus fails loudly at the _finite_vec guard.
    return similarity.lsh_topk(emb, k=5, n_planes=8, round_to=4, dim=64)


def _lsh_bucket_ctes(dim: int = 64, n_planes: int = 8,
                     seed: int = 42) -> str:
    """Shared CTE prefix replaying lsh_buckets + multiprobe in DuckDB:
    plane constants come from the SAME numpy generator as the Spark
    plan literals; the dot product is a left fold starting at 0.0 in
    BOTH engines (F.aggregate's fold order == list_reduce's), so
    bucket signs agree bit-for-bit. Yields CTEs ``buckets`` (vec_id,
    own bucket) and ``probes`` (vec_id, each probed bucket incl. the
    1-bit flips)."""
    from spark_ext_spark.llm.similarity import _projections
    planes = _projections(dim, n_planes, seed)
    rows = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(
            p, ", ".join(repr(float(x)) for x in planes[p]))
        for p in range(n_planes))
    probes = ", ".join(f"xor(bucket, {1 << p})" for p in range(n_planes))
    return f"""planes(p, plane) AS (VALUES
    {rows}),
dots AS (
  SELECT e.vec_id, p.p,
         list_reduce(list_transform(range(1, {dim + 1}),
             i -> e.embedding[i]::DOUBLE * p.plane[i]),
             (a, b) -> a + b) AS d
  FROM embeddings e CROSS JOIN planes p
  WHERE e.embedding IS NOT NULL  -- operator contract: nulls excluded
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN d >= 0 THEN (1 << p) ELSE 0 END)::INT AS bucket
  FROM dots GROUP BY vec_id
),
probes AS (
  SELECT vec_id, unnest([bucket, {probes}]) AS bucket FROM buckets
)"""


def _ann_lsh_oracle(dim: int = 64, n_planes: int = 8, seed: int = 42,
                    k: int = 5) -> str:
    """DuckDB replica of lsh_topk(k=5, n_planes=8, multiprobe=True,
    round_to=4). Per-bucket top-k + max-merge in Spark equals global
    top-k over the DISTINCT candidate set (a candidate beaten by k
    bucket-mates is beaten by them globally), so the oracle ranks the
    candidate set directly."""
    return f"""
WITH {_lsh_bucket_ctes(dim, n_planes, seed)},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM probes q
  JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
),
-- MATERIALIZED null-filter before list_cosine_similarity: DuckDB
-- evaluates it over raw scan batches and ERRORS on a null embedding
-- (see COSINE_TOPK_SQL); candidates only ever reference non-null ids
emb_nn0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
emb_nn AS MATERIALIZED (
  SELECT vec_id, v, list_dot_product(v, v) = 0 AS z FROM emb_nn0
),
sims AS (
  -- zero-norm guard: operator contract cos(0, x) = 0.0 (DuckDB: -1.0)
  SELECT query_id, neighbor_id,
         CASE WHEN a.z OR b.z THEN 0.0
              ELSE round(list_cosine_similarity(a.v, b.v), 4)
         END AS sim
  FROM cand
  JOIN emb_nn a ON a.vec_id = cand.query_id
  JOIN emb_nn b ON b.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {k}
"""


ANN_LSH_TOPK_SQL = _ann_lsh_oracle()


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a trained coarse quantizer — oracle-checked: the
    quantized-Lloyd fit (integer lattice, deterministic init from the
    n_centroids smallest ids, exact integer sums) produces centroids a
    SQL engine re-derives bit-for-bit, so ANN_IVF_TOPK_SQL replays the
    fit, cell assignment, probe selection, and candidate re-rank (see
    similarity.fit_ivf_centroids_quantized). This is the library's one
    IVF path. Each call fits afresh, so a timed run of this query
    measures fit plus search, just as the oracle replays both."""
    emb = load(spark, sf_dir, "embeddings")
    # dim=64 (testdata embeddings at every SF, the oracle's constant)
    # skips the fit's _infer_dim first() probe job — see ann_lsh_topk
    centroids = similarity.fit_ivf_centroids_quantized(
        emb, n_centroids=16, n_iter=3, dim=64)
    return similarity.ivf_topk_deterministic(
        emb, k=5, n_centroids=16, n_probes=3, round_to=4,
        centroids=centroids)


def _ann_ivf_oracle(dim: int = 64, n_centroids: int = 16, n_iter: int = 3,
                    n_probes: int = 3, k: int = 5,
                    scale: int = 1_000_000) -> str:
    """DuckDB replica of ivf_topk_deterministic(k=5, n_centroids=16,
    n_probes=3, n_iter=3, round_to=4) INCLUDING the quantizer fit:
    each Lloyd iteration is an unrolled CTE pair (integer argmin
    assignment, floor-mean recompute with empty cells keeping their
    previous centroid), so the oracle works at any sf_dir without
    shipping fitted centroids as literals. All pre-cosine arithmetic
    is on BIGINTs (associative, order-independent); the final cosine
    re-rank rounds to 4dp before ranking on both engines."""
    mean_list = ", ".join(
        f"CAST(floor(CAST(sum(qv[{i}]) AS DOUBLE) / count(*)) AS BIGINT)"
        for i in range(1, dim + 1))
    dist = (f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])), "
            f"(a, b) -> a + b)")
    iters = []
    for t in range(1, n_iter + 1):
        iters.append(f"""
a{t} AS (
  SELECT vec_id, qv, cell FROM (
    SELECT q.vec_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist} ASC, c.cell ASC) AS rk
    FROM q CROSS JOIN c{t - 1} c)
  WHERE rk = 1
),
m{t} AS (
  SELECT cell, list_value({mean_list}) AS cv
  FROM a{t} GROUP BY cell
),
c{t} AS (
  SELECT p.cell, coalesce(m.cv, p.cv) AS cv
  FROM c{t - 1} p LEFT JOIN m{t} m USING (cell)
)""")
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * {scale}.0) AS BIGINT)) AS qv
  FROM embeddings
  WHERE embedding IS NOT NULL  -- operator contract: nulls excluded
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell,
         qv AS cv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {n_centroids})
),{",".join(iters)},
final AS (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {dist} ASC, c.cell ASC) AS rk
  FROM q CROSS JOIN c{n_iter} c
),
assigned AS (SELECT vec_id, cell FROM final WHERE rk = 1),
probes AS (SELECT vec_id, cell FROM final WHERE rk <= {n_probes}),
cand AS (
  SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
  FROM probes p
  JOIN assigned a ON p.cell = a.cell AND p.vec_id <> a.vec_id
),
-- MATERIALIZED null-filter before list_cosine_similarity (see
-- COSINE_TOPK_SQL's note); candidate ids are all non-null already
emb_nn0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
emb_nn AS MATERIALIZED (
  SELECT vec_id, v, list_dot_product(v, v) = 0 AS z FROM emb_nn0
),
sims AS (
  -- zero-norm guard: operator contract cos(0, x) = 0.0 (DuckDB: -1.0)
  SELECT query_id, neighbor_id,
         CASE WHEN ea.z OR eb.z THEN 0.0
              ELSE round(list_cosine_similarity(ea.v, eb.v), 4)
         END AS sim
  FROM cand
  JOIN emb_nn ea ON ea.vec_id = cand.query_id
  JOIN emb_nn eb ON eb.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {k}
"""


ANN_IVF_TOPK_SQL = _ann_ivf_oracle()


# --- multimodal ---------------------------------------------------------------

def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact method (oracle-checked);
    the LSH-blocked variant is exercised in tests."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dups(emb, threshold=0.4,
                                          method="exact", round_to=4)


EMBEDDING_NEAR_DUPS_SQL = """
-- MATERIALIZED null-filter: see COSINE_TOPK_SQL's note
WITH e0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
e AS MATERIALIZED (
  SELECT vec_id, v, list_dot_product(v, v) = 0 AS z FROM e0
)
-- zero-norm pairs have cos 0.0 by operator contract (DuckDB: -1.0),
-- which can never clear the 0.4 threshold, so excluding them matches
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS sim
FROM e a, e b
WHERE a.vec_id < b.vec_id AND NOT a.z AND NOT b.z
  AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (word pieces + isolated non-word glyphs), plus the chars/4
    subword-count estimate used for quick budget math."""
    docs = load(spark, sf_dir, "documents")
    c = F.col("text")
    ws = F.size(F.filter(F.split(c, r"\s+"), lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all(F.lower(c), F.lit(r"\w+|[^\w\s]"), 0))
    return docs.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.ceil(F.length(c) / 4).cast("bigint").alias("n_subword_est"))


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
         AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '\\w+|[^\\w\\s]'))
         AS n_bpe_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
FROM documents
"""


def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each event annotated with the
    user's latest order total at-or-before the event time."""
    from spark_ext_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (load(spark, sf_dir, "orders")
              .groupBy("o_custkey", "o_orderdate")
              .agg(F.max("o_totalprice").alias("o_totalprice")))
    joined = asof_join(ev, orders, on="user_id", left_ts="ts",
                       right_ts="o_orderdate", right_on="o_custkey",
                       value_cols=["o_totalprice"])
    return joined.select("event_id", "user_id",
                         F.round("o_totalprice_asof", 4)
                         .alias("last_order_price"))


ASOF_JOIN_ORDERS_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderdate, max(o_totalprice) AS o_totalprice
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id,
       round(o.o_totalprice, 4) AS last_order_price
FROM events e
ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""


# The chunked plan's persisted intermediate is a pure PERFORMANCE
# artifact since the value-deterministic rewrite (operators/asof.py
# _carried_chunked): releasing it while a result — or any plan derived
# from it — is still live costs a recompute of the slice window, never
# a wrong answer. One slot bounds the session to a single cached copy:
# each invocation releases everything registered before it. The frames
# list is registered BEFORE the join is built, so an invocation that
# fails mid-construction still has its partial persists swept by the
# next call (nothing is orphaned in the cache).
_CHUNKED_ASOF_HELD: list = []  # [[persisted frames], ...]


def _sweep_chunked_holds() -> None:
    """Unpersist every chunked intermediate registered so far. Frames
    are only popped AFTER their unpersist succeeds — if one raises
    (stopped session, py4j hiccup) the remainder stays registered for
    the next sweep instead of being orphaned in the cache."""
    while _CHUNKED_ASOF_HELD:
        frames = _CHUNKED_ASOF_HELD[-1]
        while frames:
            frames[-1].unpersist()
            frames.pop()
        _CHUNKED_ASOF_HELD.pop()


def asof_join_orders_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of join forced onto the SCALE path
    (``strategy="chunked"``: literal ts-quantile chunks → per-(chunk,
    key) LOCF → in-plan per-key carry window, operators/asof.py) so
    the hot-key-proof plan — including its carry propagation — gets
    driver hash evidence against the identical oracle, not just the
    local differential tests. Same oracle SQL as asof_join_orders by
    construction (the two strategies are output-identical).

    The persisted slice intermediate only avoids re-running the heavy
    window for the plan's summary branch; the chunked plan is a
    deterministic function of row values, so results stay correct
    even after the one-slot holder above releases the frames (a live
    older result just recomputes — regression-tested)."""
    from spark_ext_spark.operators.asof import asof_join

    _sweep_chunked_holds()
    frames: list = []
    _CHUNKED_ASOF_HELD.append(frames)
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (load(spark, sf_dir, "orders")
              .groupBy("o_custkey", "o_orderdate")
              .agg(F.max("o_totalprice").alias("o_totalprice")))
    joined = asof_join(ev, orders, on="user_id", left_ts="ts",
                       right_ts="o_orderdate", right_on="o_custkey",
                       value_cols=["o_totalprice"], strategy="chunked",
                       persisted_out=frames)
    return joined.select("event_id", "user_id",
                         F.round("o_totalprice_asof", 4)
                         .alias("last_order_price"))


def media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents' bytes treated as opaque media payloads → attach →
    stub-decode → stub-resize(64×64) → frame-sample → per-source stats
    (the full multimodal plumbing end-to-end; every stage is the real
    Arrow batch path, only the codec bodies are the documented stubs).
    Oracle-checkable because the fake decode derives dimensions from
    sha256(payload), which DuckDB reproduces from the same text bytes;
    the format sniff is separately oracle-checked by
    media_sniff_formats."""
    docs = load(spark, sf_dir, "documents")
    # source rides through every stage as a sidecar column (attach_media
    # keep=, round 11) instead of being joined back by media_id at the
    # end: the join-back cost an extra shuffle AND silently FANNED OUT
    # on duplicated doc_ids — items×docs both duplicated → n²
    # rows per id, inflating n_items/total_bytes where the per-row
    # oracle (and any sane reading) counts rows. Found by the r11
    # media byte-handling sweep on a duplicated-id fixture.
    media = multimodal.attach_media(
        docs.select("doc_id", F.encode("text", "utf-8").alias("payload"),
                    "source"),
        "doc_id", "payload", keep=["source"])
    decoded = multimodal.decode_media(media)
    resized = multimodal.resize_media(decoded, width=64, height=64)
    frames = multimodal.sample_frames(resized, every_n=5)
    # per-source frame totals; undecodable items (NULL/empty payload)
    # emit no frame rows, so n_decodable comes from the attach side
    # (byte_len >= 1 ⟺ the fake decode path yields dims)
    fcnt = (frames.groupBy("source")
            .agg(F.count(F.lit(1)).alias("__n_frames")))
    stats = (media.select(
                 "source", F.col("media_meta.byte_len").alias("byte_len"))
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.sum("byte_len").alias("total_bytes"),
                  F.sum(F.when(F.col("byte_len") >= 1, 1).otherwise(0))
                   .alias("__n_dec")))
    # null-safe: a NULL source is a group like any other in both aggs
    return (stats.join(F.broadcast(fcnt),
                       stats["source"].eqNullSafe(fcnt["source"]), "left")
            .select(stats["source"], "n_items", "total_bytes",
                    F.round(F.col("__n_frames")
                            / F.nullif(F.col("__n_dec"), F.lit(0)), 4)
                    .alias("avg_frames_sampled")))


MEDIA_PIPELINE_SQL = """
WITH m AS (
  SELECT doc_id, source,
         octet_length(encode(text)) AS byte_len,
         -- null/empty payloads are undecodable (decode_media contract
         -- on every path): no dims, no frames to sample
         CASE WHEN text IS NULL OR octet_length(encode(text)) = 0
              THEN NULL
              ELSE 1 + ('0x' || substr(sha256(text), 5, 2))::INTEGER % 30
         END AS n_frames
  FROM documents
)
SELECT source, count(*) AS n_items,
       CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       round(avg(floor((n_frames - 1) / 5) + 1), 4)
           AS avg_frames_sampled
FROM m GROUP BY source
"""


def media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked slice of the multimodal plumbing: binary length
    and hex prefix agree with DuckDB's blob functions."""
    docs = load(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("byte_len"),
        F.lower(F.hex(F.substring("text", 1, 4))).alias("hex_prefix"))


MEDIA_BYTE_STATS_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS byte_len,
       lower(to_hex(encode(substring(text, 1, 4)))) AS hex_prefix
FROM documents
"""


# --- duplicate clustering / TF-IDF -------------------------------------------

def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline end state: Jaccard pairs (same τ/df-cap as
    ngram_jaccard) → connected components (llm/clusters.py pointer-
    jumping iteration) → every document labeled with its cluster's
    canonical (min) id. The oracle replays the component closure with a
    recursive CTE — tractable because reachability sets are tiny at
    oracle scale; the Spark path is the one that scales."""
    from spark_ext_spark.llm.clusters import duplicate_clusters

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_similar_pairs(docs, "doc_id", "text", n=3,
                                        threshold=0.12, max_shingle_df=500)
    return duplicate_clusters(docs, "doc_id", pairs)


# Shared CTE prefix (through the per-doc `lab` cluster labels) for
# every oracle that consumes the dedup pipeline's cluster labeling —
# a named constant, NOT string surgery on a finished query, so a
# reformat of one consumer cannot silently corrupt another.
_DUP_CLUSTERS_LAB_CTES = _SHINGLE_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + """
, pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN sizes sa ON sa.doc_id = a.doc_id
  JOIN sizes sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) / (any_value(sa.n) + any_value(sb.n) - count(*)) >= 0.12
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT DISTINCT u AS node, u AS comp FROM edges
  UNION
  SELECT e.v AS node, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
cc AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node),
lab AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
)
"""

DUP_CLUSTERS_SQL = _DUP_CLUSTERS_LAB_CTES + """
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       (doc_id = cluster_id) AS is_canonical
FROM lab
"""


def winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local-overlap candidate pairs: documents
    sharing ≥2 window-min fingerprints — each certifies a common
    ≥(k+window-1)-word substring at some position, the local
    complement to MinHash's global set sketch."""
    docs = load(spark, sf_dir, "documents")
    return text.winnow_match_pairs(docs, "doc_id", "text",
                                   k=4, window=5, min_shared=2)


def _winnow_oracle(k: int = 4, window: int = 5,
                   min_shared: int = 2) -> str:
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    return f"""
WITH norm AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                     'g'), ' '), ' ') AS w
  FROM documents
),
hs AS (
  SELECT doc_id, i,
         ('0x' || substr(md5({gram}), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {k - 1}))
               AS i
        FROM norm WHERE len(w) >= {k})
),
wins AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW
                      AND {window - 1} FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM hs
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM wins
  WHERE i <= n - {window} + 1 OR (n < {window} AND i = 1)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {min_shared}
"""


WINNOW_PAIRS_SQL = _winnow_oracle()


def dedup_reduction_from_labels(docs: DataFrame,
                                labels: DataFrame) -> DataFrame:
    """Per-source reduction report from PRECOMPUTED cluster labels
    (``duplicate_clusters`` output, or any frame with doc_id +
    is_canonical). In a pipeline that also materializes the cluster
    table — the normal 100 TB curation run — persist the labels once
    and feed them here instead of re-deriving pairs + connected
    components a second time (the shingle join and the CC iteration
    are the two most expensive stages of the whole pipeline)."""
    joined = (docs.select("doc_id", "source", "n_chars")
              .join(labels.select("doc_id", "is_canonical"), "doc_id"))
    kept_chars = F.when(F.col("is_canonical"), F.col("n_chars"))
    return (joined.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("is_canonical").cast("long"))
                 .cast("bigint").alias("n_kept"),
                 F.coalesce(F.sum(kept_chars), F.lit(0)).cast("bigint")
                 .alias("kept_chars"),
                 F.round(F.lit(1.0)
                         - F.sum(F.col("is_canonical").cast("long"))
                         / F.count(F.lit(1)), 4).alias("reduction")))


def dedup_reduction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTCOME table: per source, how many docs
    survive keeping one canonical per duplicate cluster — n_docs,
    n_kept, kept-char volume, reduction rate. This is the number a
    100 TB curation run reports up. Standalone shape: derives labels
    itself; a pipeline that already has them calls
    :func:`dedup_reduction_from_labels` to avoid the double run."""
    from spark_ext_spark.llm.clusters import duplicate_clusters

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_similar_pairs(docs, "doc_id", "text", n=3,
                                        threshold=0.12, max_shingle_df=500)
    lab = duplicate_clusters(docs, "doc_id", pairs)
    return dedup_reduction_from_labels(docs, lab)


DEDUP_REDUCTION_REPORT_SQL = _DUP_CLUSTERS_LAB_CTES + """,
canon AS (
  SELECT doc_id, (doc_id = cluster_id) AS is_canonical FROM lab
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN c.is_canonical THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(coalesce(sum(CASE WHEN c.is_canonical THEN d.n_chars END), 0)
            AS BIGINT) AS kept_chars,
       round(1.0 - sum(CASE WHEN c.is_canonical THEN 1 ELSE 0 END)
                   / count(*), 4) AS reduction
FROM documents d JOIN canon c USING (doc_id)
GROUP BY d.source
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, "doc_id", "text", k=3)


TFIDF_TOP_TERMS_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text),
                '[\\s[:punct:]]+'), t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         round(tf * (ln((n_docs + 1) / (df + 1.0)) + 1), 4) AS tfidf
  FROM tf JOIN df USING (term), n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
)
SELECT doc_id, term, tf, tfidf, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 3
"""


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array expressions kept entirely JVM-side:
    zip_with + aggregate compute the self-dot-product (no Python, no
    shuffle — a pure map over the scan). The GEMM path in
    llm/similarity.py is for pairwise work; per-row reductions like
    norms belong in expressions."""
    emb = load(spark, sf_dir, "embeddings")
    sq = F.zip_with("embedding", "embedding", lambda a, b: a * b)
    ssum = F.aggregate(sq, F.lit(0.0),
                       lambda acc, x: acc + x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(ssum), 4).alias("l2_norm"))


EMBEDDING_NORMS_SQL = """
-- split null rows out BEFORE list_dot_product ever sees them: DuckDB
-- evaluates it over raw scan batches (even under a CASE guard) and
-- ERRORS on null input where Spark's zip_with/aggregate
-- null-propagate. A null embedding profiles as a null row.
WITH nn AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
)
SELECT vec_id, len(v) AS dim,
       round(sqrt(list_dot_product(v, v)), 4) AS l2_norm
FROM nn
UNION ALL
SELECT vec_id, CAST(NULL AS BIGINT) AS dim,
       CAST(NULL AS DOUBLE) AS l2_norm
FROM embeddings WHERE embedding IS NULL
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (llm/text.py chunk_documents):
    50-token chunks, 10-token overlap."""
    docs = load(spark, sf_dir, "documents")
    return text.chunk_documents(docs, "doc_id", "text",
                                chunk_tokens=50, overlap=10)


DOC_CHUNKS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[\\s[:punct:]]+'),
                     t -> t <> '') AS tk
  FROM documents
),
starts AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, greatest(len(tk), 1), 40)) AS s
  FROM toks
)
SELECT doc_id,
       CAST((s - 1) / 40 AS INT) AS chunk_idx,
       len(tk[s : least(s + 49, len(tk))]) AS n_chunk_tokens,
       array_to_string(tk[s : least(s + 49, len(tk))], ' ') AS chunk_text
FROM starts
WHERE len(tk[s : least(s + 49, len(tk))]) > 0
"""


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with synthetic injections (the corpus
    itself is clean): every 5th doc gets an email, every 7th a phone
    number, appended identically in both engines so the redaction and
    the counts are fully oracle-checked."""
    docs = load(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" call +1 555-01"),
                            F.lpad((F.col("doc_id") % 100).cast("string"),
                                   2, "0")))
            .otherwise(F.lit(""))).alias("text"))
    out = text.redact_pii(salted, "doc_id", "text")
    return out.select("doc_id", "n_emails", "n_numbers",
                      F.md5("redacted").alias("redacted_md5"))


PII_REDACTION_SQL = """
WITH salted AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 5 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END ||
         CASE WHEN doc_id % 7 = 0
              THEN ' call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\\.[A-Za-z0-9.-]+')) AS n_emails,
       len(regexp_extract_all(text,
           '\\+?[0-9][0-9 -]{7,}[0-9]')) AS n_numbers,
       md5(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\\.[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
           '\\+?[0-9][0-9 -]{7,}[0-9]', '<NUMBER>', 'g')) AS redacted_md5
FROM salted
"""


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (the Gopher-style quality rule): fraction
    of 3-word shingles that are repeats within the document. Pure
    per-row array math — no shuffle at all."""
    from spark_ext_spark.llm.dedup import normalize_text, shingle_array

    docs = load(spark, sf_dir, "documents")
    wdf = docs.select("doc_id", F.col("text").isNull().alias("__nil"),
                      F.split(normalize_text("text"), " ").alias("__words"))
    sh = shingle_array(F.col("__words"), 3)
    total = F.size(sh)
    distinct = F.size(F.array_distinct(sh))
    # NULL text → NULL row (not "0 shingles, fully repetitive"); a doc
    # too short to have shingles has repetition 0.0, not 1.0 — zero of
    # its zero shingles repeat
    nul = F.lit(None)
    return wdf.select(
        "doc_id",
        F.when(F.col("__nil"), nul).otherwise(total).alias("n_shingles"),
        F.when(F.col("__nil"), nul).otherwise(distinct).alias("n_distinct"),
        F.when(F.col("__nil"), nul)
         .when(total == 0, F.lit(0.0))
         .otherwise(F.round(F.lit(1.0) - distinct / total.cast("double"),
                            4)).alias("rep_ratio"))


DOC_REPETITION_SQL = """
WITH sh AS (
  SELECT doc_id,
         [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
          FOR i IN generate_series(1, len(w) - 2)] AS s
  FROM (SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),
                                           '\\s+', ' ', 'g'), ' '), ' ') AS w
        FROM documents)
)
SELECT doc_id,
       len(s) AS n_shingles,
       len(list_distinct(s)) AS n_distinct,
       -- NULL text propagates (len(NULL) is NULL); a shingle-less doc
       -- has repetition 0.0 — zero of its zero shingles repeat
       CASE WHEN len(s) = 0 THEN 0.0
            ELSE round(1.0 - len(list_distinct(s)) / len(s), 4)
       END AS rep_ratio
FROM sh
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality_score pre-filter (llm/text.py), oracle-checked:
    0.4·length-window + 0.3·token-diversity + 0.3·(1 - noise)."""
    docs = load(spark, sf_dir, "documents")
    return text.quality_score(docs, "doc_id", "text")


DOC_QUALITY_SQL = """
WITH stats AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(tk) AS n_tokens,
         round(len(list_distinct(tk)) / greatest(len(tk), 1), 4) AS distinct_ratio,
         round(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
               / greatest(length(text), 1), 4) AS punct_ratio,
         round(length(regexp_replace(text, '[^0-9]', '', 'g'))
               / greatest(length(text), 1), 4) AS digit_ratio
  FROM (SELECT doc_id, text,
               list_filter(string_split_regex(lower(text),
                           '[\\s[:punct:]]+'), t -> t <> '') AS tk
        FROM documents)
)
SELECT doc_id,
       -- NULL guard: DuckDB least/greatest SKIP null arguments, so a
       -- NULL text would fabricate 0.3 (least(NULL,1.0)=1.0) where
       -- Spark's null-propagating expressions yield NULL
       -- floor-quantize, not round(): see quality_score (the
       -- 0.3·4dp products land on the .00005 half-grid where the
       -- engines' round() rules flip opposite ways)
       CASE WHEN n_chars IS NULL THEN NULL ELSE
       floor((0.4 * (CASE WHEN n_chars BETWEEN 50 AND 10000
                          THEN 1.0 ELSE 0.0 END)
              + 0.3 * least(distinct_ratio * 2, 1.0)
              + 0.3 * greatest(0.0, 1.0 - (punct_ratio + digit_ratio) * 5))
             * 1e4 + 5e-1) / 1e4 END AS quality_score
FROM stats
"""


def quality_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile curation (llm/splits.py
    score_top_fraction): keep the top 30% of each source by
    quality_score — 'top X% per domain' with a deterministic
    (score desc, doc_id asc) budget of ceil(0.3·group_size)."""
    from spark_ext_spark.llm import splits
    docs = load(spark, sf_dir, "documents")
    scored = text.quality_score(docs, "doc_id", "text")
    joined = docs.select("doc_id", "source").join(scored, "doc_id")
    kept = splits.score_top_fraction(joined, "source", "doc_id",
                                     "quality_score", 0.3)
    return kept.select("doc_id", "source", "quality_score", "rk")


def _quality_top_fraction_oracle(fraction: float = 0.3) -> str:
    """Composes the proven DOC_QUALITY_SQL as a scored subquery, then
    replays the per-source window budget (same operand order for the
    ceil(fraction·n) boundary on both engines)."""
    return f"""
WITH scored AS ({DOC_QUALITY_SQL}),
j AS (
  SELECT d.doc_id, d.source, s.quality_score
  FROM documents d JOIN scored s USING (doc_id)
),
r AS (
  SELECT doc_id, source, quality_score,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality_score DESC,
                                     doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM j
)
SELECT doc_id, source, quality_score, rk
FROM r WHERE rk <= ceil({fraction} * n)
"""


QUALITY_TOP_FRACTION_SQL = _quality_top_fraction_oracle()


def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard quality rules (llm/text.py gopher_rules):
    per-doc rule booleans + keep flag, one scan, no shuffle.
    min_words lowered to 10 so the synthetic short docs exercise both
    outcomes of every rule."""
    docs = load(spark, sf_dir, "documents")
    return text.gopher_rules(docs, "doc_id", "text", min_words=10)


GOPHER_RULES_SQL = """
WITH w AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '')) AS n_words,
         length(regexp_replace(text, '\\s', '', 'g')) AS word_chars,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '' AND regexp_matches(x, '[A-Za-z]')))
             AS alpha_words,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '(\\.\\.\\.|…)')) AS n_symbols,
         len(list_intersect(
             list_distinct(list_filter(string_split_regex(lower(text),
                 '[\\s[:punct:]]+'), t -> t <> '')),
             ['the','a','of','and','to','in','is','that','it','for']))
             AS n_stop
  FROM documents
),
r AS (
  SELECT doc_id, n_words,
         round(word_chars / CAST(greatest(n_words, 1) AS DOUBLE), 4)
             AS mean_word_len,
         round(n_symbols / CAST(greatest(n_words, 1) AS DOUBLE), 4)
             AS symbol_ratio,
         round(alpha_words / CAST(greatest(n_words, 1) AS DOUBLE), 4)
             AS alpha_ratio,
         n_stop AS n_stopwords
  FROM w
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
       n_stopwords,
       (n_words >= 10 AND n_words <= 100000) AS ok_words,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_len,
       (symbol_ratio <= 0.1) AS ok_symbols,
       (alpha_ratio >= 0.8) AS ok_alpha,
       (n_stopwords >= 2) AS ok_stop,
       ((n_words >= 10 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND (symbol_ratio <= 0.1) AND (alpha_ratio >= 0.8)
        AND (n_stopwords >= 2)) AS keep
FROM r
"""


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: every corpus document scored by
    how many of its 5-gram shingles collide with a held-out
    'benchmark' slice (doc_id % 50 = 0 here; in production the actual
    eval sets). Hashed-shingle equi-join — blocking, never quadratic;
    the benchmark side is tiny so it broadcasts."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, "doc_id", "text", n=5)
    bench = (sh.filter(F.col("doc") % 50 == 0)
             .select(F.col("shingle").alias("bshingle")).distinct())
    corpus = sh.filter(F.col("doc") % 50 != 0)
    hits = (corpus.join(F.broadcast(bench),
                        corpus["shingle"] == bench["bshingle"])
            .groupBy("doc").agg(F.count(F.lit(1)).alias("n_overlap")))
    return (docs.filter(F.col("doc_id") % 50 != 0)
            .join(hits.withColumnRenamed("doc", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
                    (F.coalesce("n_overlap", F.lit(0)) > 0)
                    .alias("contaminated")))


BENCHMARK_CONTAMINATION_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
           || ' ' || w[i+4] AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                                                 '\\s+', ' ', 'g'), ' '), ' ') AS w
              FROM documents)
        WHERE len(w) >= 5)
),
hits AS (
  SELECT c.doc_id, count(*) AS n_overlap
  FROM sh c
  JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0) b
    ON c.shingle = b.shingle
  WHERE c.doc_id % 50 <> 0
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       coalesce(h.n_overlap, 0) AS n_overlap,
       coalesce(h.n_overlap, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 50 <> 0
"""


# --- dataset assembly: deterministic splits + sequence packing ---------------

def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-hash train/val/test assignment of documents
    (80/10/10, salt 'v1') with per-split counts — reproducible across
    engines and cluster layouts, unlike randomSplit."""
    from spark_ext_spark.llm import splits
    docs = load(spark, sf_dir, "documents")
    out = splits.hash_split(docs, "doc_id", salt="v1")
    return (out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc")))


TRAIN_TEST_SPLIT_SQL = """
WITH assigned AS (
  SELECT doc_id,
         ('0x' || substring(md5(doc_id::VARCHAR || 'v1'), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM documents
),
labeled AS (
  SELECT doc_id,
         CASE WHEN u < 0.8 THEN 'train'
              WHEN u < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM assigned
)
SELECT split, count(*) AS n_docs,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM labeled GROUP BY split
"""


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents packed into ≈2048-token training sequences by
    exclusive running token count in doc_id order (distributed
    two-phase prefix sums — no single-task window)."""
    from spark_ext_spark.llm import splits
    docs = load(spark, sf_dir, "documents")
    return splits.pack_sequences(docs, "doc_id", "text", budget=2048)


SEQUENCE_PACKING_SQL = """
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '[\\s[:punct:]]+'),
                         t -> t <> '')) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       (coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        // 2048)::BIGINT AS seq_id
FROM toks
"""


def media_sniff_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte format sniffing, oracle-checked: synthetic payloads
    get a real container magic (png/jpeg/gif/riff by doc_id%4, a 5th
    class left bare) prepended to the text bytes; attach_media must
    classify every payload identically to DuckDB's blob arithmetic.

    pmod, not %: both engines' % is sign-preserving, so a NEGATIVE
    doc_id made Spark's ``element_at(arr, doc_id % 5 + 1)`` count from
    the END (or die on index 0) while the oracle's CASE fell through
    to the bare class — a silent class-assignment split the positive-id
    testdata never fires (r11 media byte-handling sweep find); both
    sides now normalize the remainder to [0, 5)."""
    docs = load(spark, sf_dir, "documents")
    magic_hex = F.element_at(
        F.array(F.lit("89504e470d0a1a0a"), F.lit("ffd8ffe000104a46"),
                F.lit("4749463839616161"), F.lit("5249464624000000"),
                F.lit("")),
        (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"))
    payload = F.concat(F.unhex(magic_hex), F.encode("text", "utf-8"))
    media = multimodal.attach_media(
        docs.select("doc_id", payload.alias("payload")),
        "doc_id", "payload")
    return (media
            .groupBy(F.col("media_meta.format").alias("format"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("media_meta.byte_len").alias("total_bytes")))


MEDIA_SNIFF_FORMATS_SQL = """
WITH p AS (
  SELECT doc_id,
         -- ((x % 5) + 5) % 5 = Spark's pmod: % is sign-preserving in
         -- both engines, so negative ids need the same normalization
         from_hex(CASE ((doc_id % 5) + 5) % 5
                  WHEN 0 THEN '89504e470d0a1a0a'
                  WHEN 1 THEN 'ffd8ffe000104a46'
                  WHEN 2 THEN '4749463839616161'
                  WHEN 3 THEN '5249464624000000'
                  ELSE '' END) || encode(text) AS payload
  FROM documents
),
sniffed AS (
  SELECT doc_id, octet_length(payload) AS byte_len,
         substring(lower(hex(payload)), 1, 16) AS prefix
  FROM p
),
fmt AS (
  SELECT doc_id, byte_len,
         CASE WHEN prefix LIKE '89504e47%' THEN 'png'
              WHEN prefix LIKE 'ffd8ff%' THEN 'jpeg'
              WHEN prefix LIKE '47494638%' THEN 'gif'
              WHEN prefix LIKE '52494646%' THEN 'riff'
              WHEN prefix LIKE '494433%' THEN 'mp3'
              WHEN prefix LIKE '664c6143%' THEN 'flac'
              WHEN prefix LIKE '00000018%' THEN 'mp4'
              WHEN prefix LIKE '00000020%' THEN 'mp4'
              ELSE 'unknown' END AS format
  FROM sniffed
)
SELECT format, count(*) AS n_items,
       CAST(sum(byte_len) AS BIGINT) AS total_bytes
FROM fmt GROUP BY format
"""


def doc_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained character-trigram LM quality scores per doc."""
    docs = load(spark, sf_dir, "documents")
    return text.char_trigram_lm_scores(docs, "doc_id", "text")


DOC_LM_SCORES_SQL = """
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
tris AS (
  SELECT doc_id, substring(t, i, 3) AS tri
  FROM norm, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
),
profile AS (SELECT tri, count(*) AS cnt FROM tris GROUP BY tri),
total AS (SELECT count(*) AS total FROM tris)
SELECT doc_id, count(*) AS n_trigrams,
       round(avg(log10(cnt / total)), 4) AS lm_score
FROM tris JOIN profile USING (tri) CROSS JOIN total
GROUP BY doc_id
"""


def source_capped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cardinality cap (max 12 docs per source by
    deterministic hash rank) with per-source kept counts — the 'max N
    documents per domain' curation rule."""
    from spark_ext_spark.llm import splits
    docs = load(spark, sf_dir, "documents")
    kept = splits.source_cap_sample(docs, "source", "doc_id", cap=12,
                                   salt="cap1")
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("doc_id").alias("min_doc"),
                 F.sum("n_chars").alias("kept_chars")))


SOURCE_CAPPED_CORPUS_SQL = """
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substring(md5(doc_id::VARCHAR || 'cap1'), 1, 15))
                      ::BIGINT / 1152921504606846976.0 ASC,
                    doc_id ASC) AS rk
  FROM documents
)
SELECT source, count(*) AS n_kept, min(doc_id) AS min_doc,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM ranked WHERE rk <= 12 GROUP BY source
"""


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization error profile per embedding."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings(emb, "vec_id", "embedding")


EMBEDDING_QUANTIZE_SQL = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
),
scaled AS (
  -- guards mirror the operator's pinned null/empty/zero contract
  -- (DuckDB list_reduce ERRORS on NULL and on empty lists): null
  -- vector -> all-null row; empty vector -> scale 0; zero vector ->
  -- divide by 1 so q=0/err=0
  SELECT vec_id,
         CASE WHEN x IS NULL THEN NULL
              WHEN len(x) = 0 THEN 0.0
              ELSE list_reduce(list_transform(x, e -> abs(e)),
                               (a, b) -> greatest(a, b)) / 127.0
         END AS scale, x
  FROM v
),
errs AS (
  SELECT vec_id, scale,
         CASE WHEN x IS NULL OR len(x) = 0 THEN NULL
              ELSE list_transform(list_zip(x,
                  list_transform(x, e -> round(
                      e / (CASE WHEN scale = 0 THEN 1.0
                                ELSE scale END))::INT)),
                  p -> abs(p[1] - p[2] * scale))
         END AS err,
         len(x) AS n
  FROM scaled
)
SELECT vec_id, round(scale, 6) AS scale,
       CASE WHEN scale IS NULL THEN NULL
            WHEN err IS NULL THEN 0.0
            ELSE round(list_reduce(err, (a, b) -> greatest(a, b)), 4)
       END AS max_abs_err,
       round(list_sum(err) / n, 4) AS mean_abs_err
FROM errs
"""


def doc_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-100 document sample by hash order."""
    from spark_ext_spark.llm import splits
    docs = load(spark, sf_dir, "documents")
    out = splits.hash_sample_k(docs, "doc_id", k=100, salt="k1")
    return out.select("doc_id", "source", "n_chars")


DOC_SAMPLE_K_SQL = """
SELECT doc_id, source, n_chars
FROM (
  SELECT doc_id, source, n_chars,
         ('0x' || substring(md5(doc_id::VARCHAR || 'k1'), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM documents
)
ORDER BY u ASC, doc_id ASC
LIMIT 100
"""


def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixed corpus sample (size^0.5 source re-weighting,
    budget 200) — llm/splits.py temperature_mix_sample; membership is a
    pure function of md5(doc_id), so DuckDB replays it exactly."""
    from spark_ext_spark.llm import splits
    docs = load(spark, sf_dir, "documents")
    out = splits.temperature_mix_sample(docs, "source", "doc_id",
                                        alpha=0.5, budget=200, salt="mix")
    return out.select("doc_id", "source")


SOURCE_TEMPERATURE_MIX_SQL = """
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
),
z AS (SELECT sum(pow(n, 0.5)) AS z FROM counts),
rates AS (
  SELECT source, least(1.0, 200.0 * pow(n, 0.5) / z / n) AS rate
  FROM counts CROSS JOIN z
)
-- IS NOT DISTINCT FROM, not '=': the operator treats a NULL source as
-- a group like any other (llm/splits.py temperature_mix_sample joins
-- its rates null-safely); a bare equi-join here silently dropped every
-- null-source doc from the oracle — caught by the randomized assembly
-- sweep (round 8), invisible on the null-free synthetic corpus
SELECT doc_id, d.source
FROM documents d
JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
WHERE ('0x' || substring(md5(doc_id::VARCHAR || 'mix'), 1, 15))::BIGINT
      / 1152921504606846976.0 < r.rate
"""


def repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup signal: word 8-grams shared by ≥3 documents
    (llm/text.py repeated_ngram_spans — Lee et al. 2022 primitive).
    Grams built by per-doc lead windows over the posexploded token
    stream (codegen), then one map-side-combined gram-keyed shuffle."""
    docs = load(spark, sf_dir, "documents")
    return text.repeated_ngram_spans(docs, "doc_id", "text",
                                     n=8, min_df=3, k=50)


REPEATED_NGRAMS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[\\s[:punct:]]+'),
                     t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
  WHERE len(t) >= 8
)
SELECT gram, count(DISTINCT doc_id) AS df, count(*) AS occurrences
FROM grams
GROUP BY gram
HAVING count(DISTINCT doc_id) >= 3
ORDER BY df DESC, occurrences DESC, gram ASC
LIMIT 50
"""


def corpus_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline report: corpus-level dedup metrics — document count,
    exact-unique normalized texts, duplicate rate, and byte totals.
    One scan, one global aggregate (count distinct on the md5 digest
    shuffles 16-byte keys, not documents)."""
    docs = load(spark, sf_dir, "documents")
    digest = F.md5(dedup.normalize_text("text"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(digest).alias("n_unique"),
        F.round(F.lit(1.0)
                - F.countDistinct(digest) / F.count(F.lit(1)), 4)
        .alias("dup_rate"),
        F.sum(F.length("text")).alias("total_chars"))


CORPUS_DEDUP_STATS_SQL = """
-- collapse-then-trim ordering matches Spark's normalize_text (and
-- EXACT_DEDUP_SQL): trim-first leaves a stray edge space for texts
-- starting/ending in non-space whitespace (trim removes spaces only)
SELECT count(*) AS n_docs,
       count(DISTINCT md5(trim(regexp_replace(lower(text),
                                         '\\s+', ' ', 'g'), ' ')))
           AS n_unique,
       round(1.0 - count(DISTINCT
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')))
             / count(*), 4) AS dup_rate,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents
"""


def mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline report: the per-source data-mixture table (docs,
    whitespace tokens, token share) every training run logs. Token
    totals aggregate map-side; the share's corpus total rides as the
    broadcast scalar attach."""
    from spark_ext_spark.functions import attach_scalar_agg
    docs = load(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split(F.col("text"), r"\s+"),
                         lambda t: t != ""))
    per_source = (docs.groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum(ws).cast("bigint").alias("n_tokens")))
    return (attach_scalar_agg(per_source,
                              {"__tot": F.sum("n_tokens")})
            .select("source", "n_docs", "n_tokens",
                    F.round(F.col("n_tokens") / F.col("__tot"), 6)
                    .alias("token_share")))


MIXTURE_REPORT_SQL = """
WITH per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       round(n_tokens / (SELECT CAST(sum(n_tokens) AS DOUBLE)
                         FROM per_source), 6) AS token_share
FROM per_source
"""


def semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic duplicate clustering, 100 TB shape:
    LSH-blocked embedding-cosine near-dup pairs (hyperplane buckets +
    1-bit multiprobe, exact cosine re-check ≥ 0.4 inside buckets —
    candidates from equi-joins only, never all-pairs) → connected
    components → every vector labeled with its cluster's canonical
    (min) id. Same pointer-jumping engine as the text dup_clusters.
    The oracle replays bucket assignment (plan-literal hyperplanes,
    same trick as ANN_LSH_TOPK_SQL), the blocked pair set, and the
    closure via a recursive CTE. The exact all-pairs variant stays
    oracle-checked as embedding_near_dups and in
    tests/test_llm_similarity.py."""
    from spark_ext_spark.llm.clusters import duplicate_clusters
    emb = load(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dups(emb, threshold=0.4,
                                           method="lsh", n_planes=8,
                                           round_to=4)
    return duplicate_clusters(emb, "vec_id", pairs,
                              pair_a="id_a", pair_b="id_b")


def _semantic_clusters_oracle(dim: int = 64, n_planes: int = 8,
                              seed: int = 42,
                              threshold: float = 0.4) -> str:
    """DuckDB replica of semantic_clusters: LSH-blocked candidate pairs
    (a pair qualifies iff one side probes the other's own bucket — the
    probe relation is symmetric, hamming(bucket_a, bucket_b) ≤ 1), the
    exact cosine threshold check, then the transitive closure."""
    return f"""
WITH RECURSIVE {_lsh_bucket_ctes(dim, n_planes, seed)},
cand AS (
  SELECT DISTINCT q.vec_id AS id_a, c.vec_id AS id_b
  FROM probes q
  JOIN buckets c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
),
-- MATERIALIZED null-filter + zero-norm mask before
-- list_cosine_similarity (see COSINE_TOPK_SQL's note); a zero-norm
-- side has cos 0.0 by operator contract, below any threshold
sem_nn0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
sem_nn AS MATERIALIZED (
  SELECT vec_id, v, list_dot_product(v, v) = 0 AS z FROM sem_nn0
),
pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sem_nn a ON a.vec_id = cand.id_a
  JOIN sem_nn b ON b.vec_id = cand.id_b
  WHERE NOT a.z AND NOT b.z
    AND round(list_cosine_similarity(a.v, b.v), 4) >= {threshold}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT DISTINCT u AS node, u AS comp FROM edges
  UNION
  SELECT e.v AS node, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
cc AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node),
lab AS (
  SELECT m.vec_id, coalesce(cc.cluster_id, m.vec_id) AS cluster_id
  FROM embeddings m LEFT JOIN cc ON m.vec_id = cc.node
)
SELECT vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       (vec_id = cluster_id) AS is_canonical
FROM lab
"""


SEMANTIC_CLUSTERS_SQL = _semantic_clusters_oracle()

# exact all-pairs closure variant, kept for the local parity suite
SEMANTIC_CLUSTERS_EXACT_SQL = """
-- MATERIALIZED null-filter + zero-norm mask (see COSINE_TOPK_SQL)
WITH RECURSIVE e0 AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
e AS MATERIALIZED (
  SELECT vec_id, v, list_dot_product(v, v) = 0 AS z FROM e0
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a, e b
  WHERE a.vec_id < b.vec_id AND NOT a.z AND NOT b.z
    AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT DISTINCT u AS node, u AS comp FROM edges
  UNION
  SELECT e.v AS node, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
cc AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node),
lab AS (
  SELECT m.vec_id, coalesce(cc.cluster_id, m.vec_id) AS cluster_id
  FROM embeddings m LEFT JOIN cc ON m.vec_id = cc.node
)
SELECT vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       (vec_id = cluster_id) AS is_canonical
FROM lab
"""


def length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment (llm/splits.py
    length_bucketed_batches): 32-token buckets, 16 docs per batch."""
    from spark_ext_spark.llm import splits
    docs = load(spark, sf_dir, "documents")
    return splits.length_bucketed_batches(docs, "doc_id", "text",
                                          bucket_tokens=32, batch_size=16)


LENGTH_BATCHES_SQL = """
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text),
             '[\\s[:punct:]]+'), t -> t <> '')) AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         CAST(floor(n_tokens / 32) AS BIGINT) AS bucket
  FROM toks
)
SELECT doc_id, n_tokens, bucket,
       CAST(floor((row_number() OVER (PARTITION BY bucket
                                      ORDER BY doc_id) - 1) / 16)
            AS BIGINT) AS batch_idx
FROM b
"""
