"""GridFS-style file reading into DataFrames (SURVEY §2.1 S6/S7, §2.9 U8).

Reference: GridFSInputFormat reads files matching a query, either as
regex-delimited text tokens or whole binary chunks, one split per chunk
(core/.../GridFSInputFormat.java:40-343; GridFSSplit.java:18-111).

Spark-native shape: the chunks collection *is* the partitionable dataset —
read `fs.chunks` through the mongodoc source (byte-range splits of its
segments, small ones packed into partitions of up to ``split_size``), join
broadcast file metadata, then:
- whole-chunk rows for binary processing, or
- per-file text reassembly + `split()`/`explode()` for token streams
  (default delimiter ``(\\n|\\r\\n)`` like the reference).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

DEFAULT_DELIMITER = r"(\n|\r\n)"


def read_gridfs_chunks(spark: SparkSession, store_path: str,
                       file_query: str | None = None) -> DataFrame:
    """(file_id, filename, chunk_n, data, length): one row per chunk."""
    files = (
        spark.read.format("mongodoc")
        .option("path", store_path).option("collection", "fs.files")
    )
    if file_query:
        files = files.option("query", file_query)
    files_df = files.load().select(
        F.col("_id").alias("file_id"), "filename", "length", "numChunks"
    )
    chunks = (
        spark.read.format("mongodoc")
        .option("path", store_path).option("collection", "fs.chunks").load()
        .select(F.col("files_id").alias("file_id"), F.col("n").alias("chunk_n"), "data")
    )
    return chunks.join(F.broadcast(files_df), "file_id")


def read_gridfs_files(spark: SparkSession, store_path: str,
                      file_query: str | None = None) -> DataFrame:
    """(file_id, filename, content): whole files reassembled from chunks —
    the whole-binary read mode.  Chunk bytes are concatenated in order;
    keep this for files that fit an executor, use chunk rows otherwise."""
    chunks = read_gridfs_chunks(spark, store_path, file_query)
    return (
        chunks.groupBy("file_id", "filename")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("chunk_n", "data"))
            ).alias("parts")
        )
        .select(
            "file_id", "filename",
            F.aggregate(
                "parts",
                F.lit(b""),
                lambda acc, p: F.concat(acc, p["data"]),
            ).alias("content"),
        )
    )


def read_gridfs_text_tokens(spark: SparkSession, store_path: str,
                            delimiter: str = DEFAULT_DELIMITER,
                            file_query: str | None = None) -> DataFrame:
    """(file_id, filename, token): regex-delimited token stream per file —
    the GridFS text mode (delimiter default matches the reference,
    MongoConfigUtil.java:123-125)."""
    files = read_gridfs_files(spark, store_path, file_query)
    toks = F.filter(
        F.split(F.col("content").cast("string"), delimiter),
        lambda t: t != "",
    )
    return files.select("file_id", "filename", F.explode(toks).alias("token"))
