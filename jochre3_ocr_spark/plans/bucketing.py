"""doc_id-bucketed storage for co-located joins (north_star: "doc_id-
bucketed partitioning").

At 100 TB scale, downstream jobs repeatedly join extraction output with
other per-document tables (gold corpora for evaluation, metadata,
dedup verdicts). Bucketing both sides by ``doc_id`` lets those joins run
with NO exchange: Spark's bucketed scan exposes the hash partitioning
to Catalyst, which elides the shuffle (SortMergeJoin over pre-bucketed
inputs). Bucketed tables require the session catalog (saveAsTable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jochre3_ocr_spark.plans.pipeline import plan_nodes


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 64,
    key: str = "doc_id",
    path: str | None = None,
) -> None:
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join_is_shuffle_free(
    spark: SparkSession, left_table: str, right_table: str, key: str = "doc_id"
) -> bool:
    """True when a sort-merge join of the two tables on ``key`` plans no
    shuffle on either side — the observable guarantee bucketing buys.
    The merge hint keeps a broadcast from masking the answer. Reads
    AQE's current physical plan, where a shuffle is an ``Exchange``
    node."""
    joined = spark.table(left_table).hint("merge").join(
        spark.table(right_table), key
    )
    plan = joined._jdf.queryExecution().executedPlan().executedPlan()
    return all(n.nodeName() != "Exchange" for n in plan_nodes(plan))
