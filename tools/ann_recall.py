"""Measure ANN recall@k vs the exact brute-force top-k on the REAL
embeddings table — the number a user choosing lsh_topk or
ivf_topk_deterministic over cosine_topk needs. Prints one markdown
table row per setting; the committed results live in SCALE.md ("ANN
recall vs exact").

Usage: python tools/ann_recall.py [sf_dir]   (default sf0.1)
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 10


def _topk_sets(df) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def recall_at_k(approx: dict, exact: dict) -> float:
    """Mean per-query |approx ∩ exact| / |exact| (exact sets are ≤ K;
    queries with no exact neighbors are skipped)."""
    total, n = 0.0, 0
    for q, truth in exact.items():
        if not truth:
            continue
        total += len(approx.get(q, set()) & truth) / len(truth)
        n += 1
    return total / n if n else 1.0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from spark_ext_spark.llm import similarity
    from spark_ext_spark.plans.relational import load
    from tools.measure import release, session
    spark = session("ann-recall")
    emb = load(spark, sf_dir, "embeddings").cache()
    n = emb.count()

    t0 = time.time()
    exact = _topk_sets(similarity.cosine_topk(emb, emb, k=K))
    t_exact = time.time() - t0
    print(f"corpus: {n} vectors ({sf_dir}); exact top-{K}: "
          f"{t_exact:.1f}s (the baseline every row below beats or buys "
          f"recall against)\n")
    print("| method | setting | recall@10 | wall s |")
    print("|---|---|---|---|")

    # the IVF quantizer is fit ONCE and shared across the probe sweep
    # (the library's intended usage) — timed separately and reported
    # on its own row so the per-query wall columns stay comparable:
    # every timed row below measures index-build + search EXCLUDING
    # this shared fit, for LSH (whose projection build is cheap and
    # inside each run) and IVF alike via the amortization note.
    t0 = time.time()
    centroids = similarity.fit_ivf_centroids_quantized(
        emb, n_centroids=16, dim=64)
    t_fit = time.time() - t0
    print(f"| ivf | shared quantized-Lloyd fit, 16 cells (once per "
          f"corpus) | - | {t_fit:.1f} |")
    for label, build in [
        ("lsh n_planes=8 multiprobe=off",
         lambda held: similarity.lsh_topk(emb, k=K, n_planes=8,
                                          multiprobe=False,
                                          persisted_out=held)),
        ("lsh n_planes=8 multiprobe=on",
         lambda held: similarity.lsh_topk(emb, k=K, n_planes=8,
                                          multiprobe=True,
                                          persisted_out=held)),
        ("lsh n_planes=6 multiprobe=on",
         lambda held: similarity.lsh_topk(emb, k=K, n_planes=6,
                                          multiprobe=True,
                                          persisted_out=held)),
        ("lsh n_planes=4 multiprobe=on",
         lambda held: similarity.lsh_topk(emb, k=K, n_planes=4,
                                          multiprobe=True,
                                          persisted_out=held)),
    ] + [
        (f"ivf 16 cells n_probes={p}",
         lambda held, p=p: similarity.ivf_topk_deterministic(
             emb, k=K, n_centroids=16, n_probes=p, round_to=None,
             centroids=centroids, persisted_out=held))
        for p in (1, 3, 5, 8)
    ]:
        held: list = []
        t0 = time.time()
        approx = _topk_sets(build(held))
        dt = time.time() - t0
        # release each run's cached index artifact OUTSIDE the timed
        # region — 8 accumulated artifacts would skew the later rows
        # under memory pressure on larger corpora
        release(held)
        method, setting = label.split(" ", 1)
        print(f"| {method} | {setting} | "
              f"{recall_at_k(approx, exact):.3f} | {dt:.1f} |")
    emb.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
