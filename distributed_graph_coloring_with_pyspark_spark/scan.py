"""Global running totals without a single-partition window, and the
scan-width guard of the compute-heavy text operators.

``running_total`` is the package's one distributed prefix scan: the
packing manifest's token spans, the best-fit ranks, the epoch shuffle
order and the holdout AUC's negatives-below counts all call it.  A
``Window.orderBy`` with no partition spec would funnel the whole frame
through one task; instead the frame is cut into range buckets at
sampled key values (the sampled-CDF bucketing of "The Case for a
Learned Sorting Algorithm", SIGMOD 2020), each bucket is summed, and
the bucket offsets are accumulated on the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def widen_to_cores(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to the session's default parallelism when it
    has fewer partitions, else ``df`` itself.  For operators whose cost
    is all in a per-row projection ahead of the first shuffle: a
    single-file table scans as one partition, which would run that
    projection on one core."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par) if df.rdd.getNumPartitions() < par else df


def running_total(
    df: DataFrame,
    order: Sequence[str],
    weight: str | None = None,
    within: Sequence[str] = (),
) -> tuple[DataFrame, dict[tuple, int]]:
    """``df`` with ``cum`` appended: the sum of the integer ``weight`` (1
    per row when None) over the rows of the same ``within`` group whose
    ``order`` key is ≤ this row's, this row and its ties included.  Also
    returns the total of ``weight`` per ``within`` group,
    ``{(values…): total}`` (``{(): total}`` without ``within``; empty
    for an empty ``df``).  ``within`` columns hold no nulls.

    The scan, three driver actions and one window pass:

    1. count the rows and sample the ``order[0]`` values at rate
       min(1, cores·20/n); up to cores−1 evenly spaced sample values
       become the cut points, and a row's bucket ``pid`` is the number
       of cut points ≤ its ``order[0]`` value, so equal keys never
       straddle a bucket and a recompute assigns the same buckets;
    2. collect the per-(bucket, group) totals and accumulate them in
       bucket order on the driver into each bucket's offset;
    3. ``cum`` = offset + a running sum over a window partitioned by
       (``pid``, ``within``…), joined to the broadcast offsets.

    Cut points decide only which bucket a row lands in, never ``cum``.
    One bucket (fewer than two sampled keys per core) still works.

    Persistence: the three actions read ``df`` from the cache.  A ``df``
    the caller has persisted stays the caller's, and the returned frame
    reads it too; otherwise it is persisted here and released after the
    totals collect, and the returned frame recomputes it."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    key, within = order[0], list(within)
    w = F.lit(1) if weight is None else F.col(weight)
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df = df.persist()
    try:
        n = df.count()
        frac = min(1.0, (par * 20) / max(n, 1))  # ~20 sampled keys per bucket
        sample = sorted(
            r[0] for r in df.select(key).sample(False, frac, 42).collect()
        )
        step = max(1, len(sample) // par)
        cuts = sample[step::step][: par - 1]
        if cuts:
            cut_arr = F.array(*[F.lit(c) for c in cuts])
            pid = F.size(F.filter(cut_arr, lambda c: c <= F.col(key)))
        else:
            pid = F.lit(0)
        keyed = df.withColumn("pid", pid.cast("int"))
        per_bucket = keyed.groupBy("pid", *within).agg(F.sum(w).alias("off"))
        rows = sorted(per_bucket.collect(), key=lambda r: r[0])
    finally:
        if owned:
            df.unpersist(False)
    totals: dict[tuple, int] = {}
    offsets = []
    for pid_v, *group, tot in rows:
        acc = totals.get(tuple(group), 0)
        offsets.append((pid_v, *group, acc))
        totals[tuple(group)] = acc + tot
    off = spark.createDataFrame(offsets, per_bucket.schema)
    win = Window.partitionBy("pid", *within).orderBy(*order)
    ranked = keyed.join(F.broadcast(off), ["pid", *within]).withColumn(
        "cum", F.col("off") + F.sum(w).over(win)
    )
    return ranked.select(*df.columns, "cum"), totals
