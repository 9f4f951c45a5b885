"""IVF recall-vs-n_probe characterization (round 13, VERDICT r12 #5).

For both IVF tiers — the trained-KMeans quantizer (``ivf_topk``) and
the deterministic sampled quantizer (``ivf_fixed_topk``) — measure
recall@k against the exact brute-force cosine top-k at sf0.1, sweeping
``n_probe`` across the cell count. Emits one JSON snapshot
(tools/audits/r13_ivf_recall.json) that SCALE.md's table is copied
from, and that the tightened pytest floors (tests/test_ivf.py)
reference.

Usage: python tools/ivf_recall_sweep.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from exporter_spark.operators import similarity  # noqa: E402
from exporter_spark.sources.files import load_table  # noqa: E402

K = 10
N_QUERIES = 50
N_CLUSTERS = 16
PROBES = (1, 2, 4, 8, 16)


def recall_at_k(exact_rows, approx_rows) -> float:
    truth: dict[int, set] = {}
    for r in exact_rows:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set] = {}
    for r in approx_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    return hits / total


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "audits",
            "r13_ivf_recall.json",
        )
    )
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .appName("ivf-recall-sweep")
        .getOrCreate()
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = similarity.cosine_topk(emb, q, k=K).collect()

    result = {
        "sf_dir": sf_dir,
        "k": K,
        "n_queries": N_QUERIES,
        "n_clusters": N_CLUSTERS,
        "corpus_rows": emb.count(),
        "tiers": {"ivf_topk": {}, "ivf_fixed_topk": {}},
    }
    for n_probe in PROBES:
        a = similarity.ivf_topk(
            emb, q, k=K, n_clusters=N_CLUSTERS, n_probe=n_probe
        ).collect()
        r1 = recall_at_k(exact, a)
        b = similarity.ivf_fixed_topk(
            emb, q, k=K, centroid_ids=list(range(N_CLUSTERS)), n_probe=n_probe
        ).collect()
        r2 = recall_at_k(exact, b)
        result["tiers"]["ivf_topk"][str(n_probe)] = round(r1, 4)
        result["tiers"]["ivf_fixed_topk"][str(n_probe)] = round(r2, 4)
        print(
            f"n_probe={n_probe:>2}  ivf_topk recall@{K}={r1:.4f}  "
            f"ivf_fixed_topk recall@{K}={r2:.4f}",
            flush=True,
        )

    with open(out_json, "w") as fh:
        json.dump(result, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(f"wrote {out_json}")
    spark.stop()


if __name__ == "__main__":
    main()
