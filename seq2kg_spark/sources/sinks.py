"""S7 — triple sinks: parquet/Iceberg tables + reference-format CSV export.

The production sink is the bucketed parquet/Iceberg write in
:mod:`seq2kg_spark.operators.lineage`; this module adds the parity export —
the reference's exact CSV shapes so its evaluator can consume our output
directly:

* rule-based: header ``index,s1,r,s2``
  (candidate_extraction/triples_from_test_data.py:26-38)
* joint model: header ``index,s1,r,s2,t1,t2,ct1,ct2`` with space-joined
  type sets (joint_model/triples_from_test_data.py:28-40)
* filtering train data: ``index,s1,r,s2,label``
  (redcoat_parser/create_datasets.py:42-46)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_triples_csv(
    triples: DataFrame,
    path: str,
    *,
    index_col: str = "doc_idx",
    typed: bool = False,
    label_col: str | None = None,
) -> None:
    """Reference-format CSV export (single file per partition dir)."""
    cols = [
        F.col(index_col).cast("string").alias("index"),
        F.col("subj").alias("s1"),
        F.col("pred").alias("r"),
        F.col("obj").alias("s2"),
    ]
    if typed:
        cols += [
            F.array_join("subj_types", " ").alias("t1"),
            F.array_join("obj_types", " ").alias("t2"),
            F.lit("").alias("ct1"),
            F.lit("").alias("ct2"),
        ]
    if label_col:
        cols.append(F.col(label_col).cast("string").alias("label"))
    (
        triples.select(*cols)
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )


# --------------------------------------------------------------------------
# S8 — model checkpoint sink (joint_model/train.py's torch.save analog).
# The reference checkpoints its tagger with torch.save per epoch; here the
# weights dict (numpy, torch-GRU key layout — nlp/gru.py) round-trips
# through a parquet table (tensor, idx, value float32 + a shape row-group)
# so a checkpoint lives next to the pipeline's other tables on the same
# filesystem (HDFS/S3-safe), loads exactly (float32 is exact in parquet),
# and is inspectable with any engine.
# --------------------------------------------------------------------------

def write_weights_parquet(spark, weights: dict, path: str) -> None:
    """Persist a gru.init_weights-shaped dict: scalars + float32 ndarrays."""
    import numpy as np

    rows = []
    for name, val in weights.items():
        # the kind tag carries the python type so scalars round-trip
        # exactly (2.0 stays float; 2 stays int) — no is_integer() guess
        if isinstance(val, int) and not isinstance(val, bool):
            rows.append((name, "scalar_int", str(val), None, None))
            continue
        if isinstance(val, float):
            rows.append((name, "scalar_float", repr(val), None, None))
            continue
        arr = np.asarray(val, dtype=np.float32)
        rows.append((name, "shape", ",".join(map(str, arr.shape)), None,
                     None))
        flat = arr.reshape(-1)
        rows.extend(
            (name, "data", None, int(i), float(v))
            for i, v in enumerate(flat)
        )
    df = spark.createDataFrame(
        rows, "tensor string, kind string, meta string, idx long, "
              "value float")
    df.repartition(1).write.mode("overwrite").parquet(path)


def read_weights_parquet(spark, path: str) -> dict:
    """Exact inverse of :func:`write_weights_parquet`."""
    import numpy as np

    rows = spark.read.parquet(path).collect()
    shapes: dict[str, tuple] = {}
    data: dict[str, list] = {}
    out: dict = {}
    for r in rows:
        if r.kind == "scalar_int":
            out[r.tensor] = int(r.meta)
        elif r.kind == "scalar_float":
            out[r.tensor] = float(r.meta)
        elif r.kind == "scalar":  # legacy checkpoints (pre-type-tag)
            v = float(r.meta)
            out[r.tensor] = int(v) if v.is_integer() else v
        elif r.kind == "shape":
            shapes[r.tensor] = tuple(
                int(x) for x in r.meta.split(",")) if r.meta else ()
        else:
            data.setdefault(r.tensor, []).append((r.idx, r.value))
    for name, shape in shapes.items():
        vals = data.get(name, [])
        arr = np.empty(len(vals), dtype=np.float32)
        for i, v in vals:
            arr[i] = v
        out[name] = arr.reshape(shape)
    return out
