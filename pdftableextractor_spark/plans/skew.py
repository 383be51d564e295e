"""Skew breaking: explicit salted repartition (SURVEY.md §4.1).

A multi-hundred-page document (or a single fat parquet row group) must never
become one task. ``salted_repartition`` hash-partitions exploded spans on
(doc_id, offset): the offset acts as a deterministic salt, so one heavy
document spreads over many partitions while the doc-level reassembly window
later regroups it. This costs one shuffle of the raw spans — cheap relative
to the per-span kernel work it parallelizes, and the *only* way a
1000-executor cluster keeps its tail tasks short when doc sizes are
heavy-tailed (BASELINE.json north_star).

AQE (enabled in session.py) remains the backstop for residual skew in the
reassembly window and the LSH band joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def salted_repartition(
    df: DataFrame, *cols: str, num_partitions: int | None = None
) -> DataFrame:
    """Hash-repartition on ``cols`` (include a fine-grained column like
    ``offset`` as the salt). ``num_partitions`` defaults to
    spark.sql.shuffle.partitions."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    return df.repartition(num_partitions, *cols)


def spread_underparallel_scan(df: DataFrame, *cols: str) -> DataFrame:
    """Input-skew guard for HEAVY per-row work over an unsplittable input
    (guide case: one fat gzip/single-row-group file plans fewer scan tasks
    than the cluster has cores, so everything before the first exchange
    runs nearly serial). When the frame plans fewer partitions than
    ``defaultParallelism``, hash-repartition it on ``cols`` to
    spark.sql.shuffle.partitions; otherwise NO-OP — a well-laid-out input
    (the 100 TB case: thousands of splits) never pays the extra shuffle.

    Use ONLY where the map-side work after the scan is expensive enough to
    beat the shuffle of the input rows (measured: decimal aggregation wins
    40%; cheap codegen scans LOSE — the shuffle costs more than the serial
    scan). The deterministic key set keeps retries exact (never rand()).

    Runs no Spark job. The partition count is read from the physical plan
    of scan-shaped frames only (scans + narrow projections/filters, no
    exchange or subquery): there it is the scan's split count. A frame
    with an upstream exchange is returned unchanged — its partitions are
    not the scan's, and counting them would execute its upstream stages."""
    plan = df._jdf.queryExecution().executedPlan()
    if _has_exchange(plan):
        return df
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if plan.execute().getNumPartitions() >= parallelism:
        return df
    return salted_repartition(df, *cols)


def _has_exchange(plan) -> bool:
    """Whether a physical plan (py4j SparkPlan) contains an exchange or a
    subquery; an adaptive plan root means it has one of them."""
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if "Exchange" in name or name == "AdaptiveSparkPlan":
            return True
        if node.subqueries().nonEmpty():
            return True
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False
