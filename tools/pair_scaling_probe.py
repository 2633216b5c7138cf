"""Measure pair/candidate-set cardinalities at two scale factors so the
SCALE.md verdicts "candidate-linear" / "output-linear" are numbers, not
claims.

    python tools/pair_scaling_probe.py /root/testdata/sf0.1 /tmp/sfgen/sf1

Prints, for each sf dir:
- jaccard_pairs:   rows of the exact-Jaccard pair artifact (>= threshold)
- gemm_pairs:      rows of the exact cosine pair artifact (>= tau)
- docs / embeddings: the input cardinalities the above scale against

With --l2 (VERDICT r8 #5: stress the AdaptJoin escalation's own
envelope), also prints the prefix-scheme decision stats and the RAW l2
candidate-set cardinality BEFORE exact verification:
- l1_entries:  prefix-index rows (the l2 budget's base)
- l1_cand:     Σ C(bucket,2) over the l1 index — the l1 join's output
- scheme:      which tier the data-driven trigger picks
- l2_cand:     _l2_candidate_pairs rows — the quantity that must stay
               ~linear as 2-gram document frequencies scale with the
               corpus; if it goes quadratic, the next escalation
               (l3 / PassJoin partitioning) is warranted
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_graph_coloring_with_pyspark_spark import cache
from distributed_graph_coloring_with_pyspark_spark.operators.similarity import (
    neardup_pair_frame_cached,
)
from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (
    jaccard_pair_frame,
)
from distributed_graph_coloring_with_pyspark_spark.session import (
    get_spark,
    release_session_caches,
)


def _l2_stats(spark, sf_dir: str) -> str:
    """Rebuild the prefix-index decision stats and count the raw l2
    candidate set (the _prefix_jaccard_pairs internals, instrumented)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from distributed_graph_coloring_with_pyspark_spark.operators import (
        text_dedup as TD,
    )

    grams = TD.shingle_frame(spark, sf_dir).filter(F.size("shingles") > 0)
    ex = grams.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("g")
    ).select("doc_id", "n", F.xxhash64("g").alias("gram"))
    gram_df = ex.groupBy("gram").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    pi1 = F.col("n") - F.floor(F.lit(TD._JACCARD_THRESHOLD) * F.col("n")) + 1
    ranked = (
        ex.join(gram_df, "gram")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= pi1 + 1)
        .persist()
    )
    try:
        stats = (
            ranked.filter(F.col("rk") <= pi1)
            .groupBy("gram")
            .count()
            .agg(
                F.sum("count").alias("entries"),
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cand"),
            )
            .first()
        )
        budget = max(
            TD._PREFIX_L2_BUDGET_FLOOR,
            TD._PREFIX_L2_BUDGET_FACTOR * int(stats["entries"] or 0),
        )
        scheme = "l2" if (stats["cand"] or 0) > budget else "l1"
        l2_cand = TD._l2_candidate_pairs(ranked, pi1).count()
    finally:
        ranked.unpersist(False)
    return (
        f"l1_entries={int(stats['entries'] or 0)} "
        f"l1_cand={int(stats['cand'] or 0)} budget={budget} "
        f"scheme={scheme} l2_cand={l2_cand}"
    )


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--l2"]
    with_l2 = "--l2" in sys.argv[1:]
    dirs = args or ["/root/testdata/sf0.1", "/tmp/sfgen/sf1"]
    spark = get_spark(app_name="pair-scaling-probe", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in dirs:
        release_session_caches(spark)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
        embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).count()
        cache.release(spark, "jaccard_pairs")
        jp = jaccard_pair_frame(spark, sf_dir).count()
        extra = ""
        if with_l2:
            extra = " " + _l2_stats(spark, sf_dir)
        cache.release(spark, "neardup_pairs", (sf_dir, "exact"))
        gp = neardup_pair_frame_cached(spark, sf_dir, "exact").count()
        print(
            f"{sf_dir}: docs={docs} embeddings={embs} "
            f"jaccard_pairs={jp} gemm_pairs={gp}{extra}",
            flush=True,
        )
    release_session_caches(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
