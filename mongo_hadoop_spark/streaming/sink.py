"""Streaming document-store sink with bucketed collection routing.

Reference: Flume MongoDBSink / BucketedMongoDBSink
(flume/src/main/java/com/mongodb/flume/MongoDBSink.java:41-88,
BucketedMongoDBSink.java:25-90): events append to a collection whose name
is a template filled from event attributes/timestamps (e.g.
``events_%{type}_%Y%m%d``), with an LRU of open writers.

Spark-native shape: ``writeStream.foreachBatch(sink)`` — each micro-batch
is grouped by the rendered bucket name, and each task publishes one
segment per bucket it holds.  The bucket template accepts ``{column}`` plus
``%Y %m %d %H`` time fields from an event-time column.  There is no job
commit (unlike ``sinks.writers``): the segment name carries the batch id
and partition, so a retried task or batch overwrites rather than
duplicates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


class BucketedDocumentSink:
    def __init__(self, store_path: str, template: str,
                 time_col: str = "ts", num_partitions: int = 8,
                 max_buckets: int | None = None):
        self.store_path = store_path
        self.template = template
        self.time_col = time_col
        self.num_partitions = num_partitions
        #: optional safety bound on distinct buckets per batch — checked
        #: with a bounded distributed probe, never by collecting the names
        self.max_buckets = max_buckets

    def _bucket_col(self, df: DataFrame):
        """Render the template into a bucket-name column (JVM-side)."""
        out = F.lit(self.template)
        for name, fmt in (("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"), ("%H", "HH")):
            # only touch the time column when the template asks for it —
            # time-free templates must work on frames with no event time
            if name in self.template:
                out = F.replace(out, F.lit(name),
                                F.date_format(self.time_col, fmt))
        for c in df.columns:
            out = F.replace(out, F.lit("{" + c + "}"), F.col(c).cast("string"))
        return out

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from mongo_hadoop_spark.sinks.writers import compile_docs
        from mongo_hadoop_spark.store import DocumentStore

        store_path = self.store_path
        with_bucket = batch_df.withColumn("__bucket", self._bucket_col(batch_df))
        if self.max_buckets is not None:
            # bounded probe: distinct + limit(n+1) stops scanning once the
            # cap is exceeded; only a count crosses to the driver
            n = (with_bucket.select("__bucket").distinct()
                 .limit(self.max_buckets + 1).count())
            if n > self.max_buckets:
                raise ValueError(
                    f"bucket template {self.template!r} produced more than "
                    f"{self.max_buckets} distinct buckets in batch {batch_id}; "
                    "a runaway template column would create one collection "
                    "per value — fix the template or raise max_buckets"
                )

        to_docs = compile_docs(with_bucket.schema)

        def write_partition(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            by_bucket: dict[str, list] = {}
            for batch in batches:
                for d in to_docs(batch):
                    by_bucket.setdefault(d.pop("__bucket"), []).append(d)
            store = DocumentStore(store_path)
            for bucket, docs in by_bucket.items():
                # deterministic name per (batch, partition): a retried batch
                # re-renames over the same segment instead of duplicating
                store.collection(bucket).insert_many(
                    docs, segment_hint=f"b{batch_id:06d}p{pid:04d}")
            return iter(())

        # hash-repartition by bucket so each task writes few segments; no
        # driver-side bucket list — cardinality never touches the driver
        (with_bucket.repartition(max(1, self.num_partitions), "__bucket")
         .mapInArrow(write_partition, "n long").count())
