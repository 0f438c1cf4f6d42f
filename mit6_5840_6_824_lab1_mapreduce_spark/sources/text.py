"""Text source/sink with reference parity (SURVEY §2.1).

S4 ``"key value"`` line sink, ``n_reduce`` partitions. The S1 whole-file
scan is ``operators/mapreduce.py:whole_text_input``. Atomic commit (S5)
is the built-in FileOutputCommitter; the NDJSON intermediate files
(S2/S3) are Spark's shuffle — both intentionally not reimplemented.

Scale note: whole-file records are the *reference's* input model; at
100 TB the chunked path is ``spark.read.text`` (line records, splittable)
— provided as ``read_lines_df``.
"""

from __future__ import annotations

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_lines_df(spark: SparkSession, path_glob: str) -> DataFrame:
    """Splittable line-record variant (the 100 TB input path)."""
    return (
        spark.read.text(path_glob)
        .withColumn("filename", F.input_file_name())
        .select("filename", "value")
    )


def write_text_output(result: RDD | DataFrame, out_dir: str, n_reduce: int = 10) -> None:
    """S4: lines ``"<key> <value>"`` across ``n_reduce`` partition files
    (reference src/mr/worker.go:120-124, format mrsequential.go:80-81).
    Intra-file order is unspecified in the reference (Go map iteration);
    comparisons must sort externally (test-mr.sh:100)."""
    if isinstance(result, DataFrame):
        cols = result.columns
        df = result.select(
            F.concat_ws(" ", F.col(cols[0]).cast("string"), F.col(cols[1]).cast("string")).alias("line")
        )
        df.repartition(n_reduce).write.mode("overwrite").text(out_dir)
    else:
        result.map(lambda kv: f"{kv[0]} {kv[1]}").saveAsTextFile(out_dir)
