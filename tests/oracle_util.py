"""Shared pytest helpers.  ``canon_rows`` serves the DuckDB-oracle
comparisons and reuses ``canon`` from tools/check_oracle.py, so pytest
gates and the local oracle gate can never canonicalize differently;
``jobs_launched`` counts the Spark jobs of one call for the job-budget
tests."""

from __future__ import annotations

from tools.check_oracle import canon


def canon_rows(cols, rows):
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted, every value through the driver-contract canon."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def jobs_launched(spark, group, fn):
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
