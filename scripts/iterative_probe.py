"""100× driver-loop probe for the iterative family (r13 verdict item 7).

``semantic_clusters`` (Lloyd k-means), ``bpe_merges`` (merge
induction), and ``pq_train`` (per-subspace Lloyd) are
DRIVER-CONTROLLED loops: each round launches Spark jobs and the driver
holds the loop state. The 30× probes in SCALE.md measured end-to-end
totals; the 100× risk they cannot see is PER-ROUND FIXED OVERHEAD — if
per-round cost grows with the round index (lineage accretion,
plan-string blowup, growing literal tables), a 100-TB run with the same
round count dies even though the 1× total looked linear.

This probe measures per-round cost DIRECTLY, with zero engine change:
run each loop at increasing round budgets and difference successive
totals — flat diffs ⇒ round N costs what round 1 did. Connected
components is not probed here: its round count is set by convergence,
and it raises rather than stop early at a truncated budget.

    python scripts/iterative_probe.py [--factor 100] [--skip-build]

Prints one JSON line; paste the table into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(ROOT, ".scratch", "iterative100"))
    ap.add_argument("--skip-build", action="store_true")
    args = ap.parse_args()

    from scripts.scale_probe import build  # noqa: E402

    from rt_bigdata_spark.operators.clustering import kmeans_lloyd
    from rt_bigdata_spark.operators.quantization import pq_train
    from rt_bigdata_spark.operators.text_analysis import bpe_merges
    from rt_bigdata_spark.session import get_spark
    from rt_bigdata_spark.sources.tables import load_table

    spark = get_spark("iterative-probe")
    spark.sparkContext.setLogLevel("WARN")
    if not args.skip_build:
        build(spark, args.src, args.out, args.factor,
              only_tables={"documents", "embeddings"})

    docs = load_table(spark, args.out, "documents")
    emb = load_table(spark, args.out, "embeddings")
    n_docs, n_vecs = docs.count(), emb.count()
    result: dict = {"factor": args.factor, "n_docs": n_docs, "n_vecs": n_vecs}

    # --- k-means Lloyd: per-iteration diff over 100× vectors ----------
    km: dict[str, float] = {}
    prev = None
    for iters in (1, 2, 4, 8):
        t = _timed(lambda i=iters: kmeans_lloyd(emb, k=8, iters=i)[0]
                   .write.format("noop").mode("overwrite").save())
        if prev is not None:
            km[f"iters_{prev[0]+1}-{iters}_per_iter"] = round((t - prev[1]) / (iters - prev[0]), 3)
        else:
            km["iters_1_total"] = t
        prev = (iters, t)
    result["kmeans_lloyd"] = km

    # --- PQ codebook training: per-iteration diff ---------------------
    pq: dict[str, float] = {}
    prev = None
    for iters in (1, 2, 4, 8):
        t = _timed(lambda i=iters: pq_train(emb, m=4, ks=4, iters=i))
        if prev is not None:
            pq[f"iters_{prev[0]+1}-{iters}_per_iter"] = round((t - prev[1]) / (iters - prev[0]), 3)
        else:
            pq["iters_1_total"] = t
        prev = (iters, t)
    result["pq_train"] = pq

    # --- BPE merge induction: per-merge-step diff ---------------------
    bpe: dict[str, float] = {}
    prev = None
    for n in (2, 6, 12, 24):
        t = _timed(lambda k=n: bpe_merges(docs, n_merges=k)
                   .write.format("noop").mode("overwrite").save())
        if prev is not None:
            bpe[f"steps_{prev[0]+1}-{n}_per_step"] = round((t - prev[1]) / (n - prev[0]), 3)
        else:
            bpe["steps_2_total"] = t
        prev = (n, t)
    result["bpe_merges"] = bpe

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
