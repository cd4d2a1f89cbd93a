"""S1/S2/S5 — reference CSV scans as Spark sources.

* S1/S2 document CSV: ``(index, content[, industry])``, NO header in
  test.csv (candidate_extraction/triples_from_test_data.py:16-22); the
  index-contiguity assertion of triples_from_contest_data.py:28 becomes a
  validation DataFrame check (never a driver-side loop).
* S5 ground-truth CSV → per-doc triple lists: group triples by index into
  arrays (joint_model/train.py:116-142) →
  ``groupBy(index).agg(collect_list(struct(...)))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOC_CSV_SCHEMA = T.StructType([
    T.StructField("index", T.IntegerType()),
    T.StructField("content", T.StringType()),
    T.StructField("industry", T.StringType()),
])

GT_CSV_SCHEMA = T.StructType([
    T.StructField("index", T.IntegerType()),
    T.StructField("s1", T.StringType()),
    T.StructField("r", T.StringType()),
    T.StructField("s2", T.StringType()),
])


def read_document_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2 — headerless (index, content[, industry]) rows."""
    return spark.read.csv(
        path, schema=DOC_CSV_SCHEMA, header=False, quote='"', escape='"',
        multiLine=True,
    )


def validate_index_contiguity(docs: DataFrame) -> DataFrame:
    """The reference asserts per-industry index contiguity
    (triples_from_contest_data.py:28); distributed version: rows whose
    index != row_number-1 within their industry, empty ⇔ valid."""
    from pyspark.sql import Window

    w = Window.partitionBy("industry").orderBy("index")
    return (
        docs.withColumn("expected", F.row_number().over(w) - 1)
        .where(F.col("index") != F.col("expected"))
    )


def read_ground_truth_csv(spark: SparkSession, path: str) -> DataFrame:
    """S5 scan — header (index,s1,r,s2), quoted fields."""
    return spark.read.csv(
        path, schema=GT_CSV_SCHEMA, header=True, quote='"', escape='"',
        multiLine=True,
    )


def triples_per_doc(gt: DataFrame) -> DataFrame:
    """S5 group — per-doc triple arrays, deterministically ordered."""
    return gt.groupBy("index").agg(
        F.array_sort(
            F.collect_list(F.struct("s1", "r", "s2"))
        ).alias("triples")
    )
