"""Isolated profile for the curate_corpus bench drift (VERDICT r6 #1).

Two phases at sf0.1 on the bench session config:
  A) fresh-session floor — 8 timed runs of curate_corpus alone
     (after the standard family-entry cache release);
  B) family reproduction — run the three artifact builds that the r6
     bench inserted ahead of it (jaccard_pair_build ×3 with the memo
     cleared per run, minhash_index_build ×3, dedup_incremental ×3)
     plus dedup_ngram_jaccard ×3, exactly the bench's family prefix,
     then 3 timed runs of curate_corpus.

If (B) reproduces the ~9.7 s median while (A) floors near ~6.5 s, the
drift is session-positional (storage/GC pressure from the preceding
artifact builds), not a plan regression.
"""

from __future__ import annotations

import gc
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_graph_coloring_with_pyspark_spark import cache  # noqa: E402
from distributed_graph_coloring_with_pyspark_spark.operators.text_dedup import (  # noqa: E402
    build_minhash_index,
    curate_corpus,
    dedup_incremental,
    dedup_ngram_jaccard,
    jaccard_pair_frame,
)
from distributed_graph_coloring_with_pyspark_spark.session import (  # noqa: E402
    get_spark,
    release_session_caches,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed(label: str, fn, n: int) -> list[float]:
    out = []
    for i in range(n):
        t0 = time.monotonic()
        df = fn()
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        out.append(dt)
        print(f"{label} run{i + 1}: {dt:.2f}s", flush=True)
        gc.collect()
    return out


def main() -> int:
    spark = get_spark(app_name="profile-curate", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()

    phase = os.environ.get("PHASE", "A")
    release_session_caches(spark)
    if phase == "B":
        mh_dir = tempfile.mkdtemp(prefix="profile_mh_")
        mh_path = os.path.join(mh_dir, "index")

        def pair_build():
            cache.release(spark, "jaccard_pairs")
            return jaccard_pair_frame(spark, SF_DIR)

        timed("jaccard_pair_build", pair_build, 3)
        timed("minhash_index_build",
              lambda: build_minhash_index(spark, SF_DIR, mh_path), 3)
        timed("dedup_incremental",
              lambda: dedup_incremental(spark, SF_DIR, mh_path), 3)
        timed("dedup_ngram_jaccard",
              lambda: dedup_ngram_jaccard(spark, SF_DIR), 3)
        runs = timed("curate_corpus", lambda: curate_corpus(spark, SF_DIR), 3)
    else:
        runs = timed("curate_corpus", lambda: curate_corpus(spark, SF_DIR), 8)
    runs_s = " ".join(f"{r:.2f}" for r in runs)
    print(f"PHASE {phase} curate_corpus runs: {runs_s}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
