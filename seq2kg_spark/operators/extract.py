"""The rule-based extraction operator: ``pages`` → ``triples``.

Spark plan (one narrow UDF stage, one shuffle for skew balance):

    scan pages (column-pruned: url, text, lang)
      → filter lang == 'en'                (pushed to the scan)
      → project clean_text (T1 Catalyst chain, whole-stage codegen)
      → salted size-bucketed repartition   (the only shuffle)
      → mapInPandas(extract batch)         (Arrow-batched, pure Python NLP)
      → triples(url, subj, pred, obj)

Reference lifecycle being re-expressed: candidate_extraction/
triples_from_test_data.py:16-38 + triples_from_text.py (see SURVEY.md §3.1).
The reference reloads spaCy *per document* (triples_from_text.py:108); here
all lexicons are module-level constants imported once per executor process.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seq2kg_spark.functions.text_clean import clean_text_expr
from seq2kg_spark.operators.repartition import salted_size_repartition

TRIPLES_SCHEMA = "url string, subj string, pred string, obj string"


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # Import inside the worker so the lexicons load once per executor
    # process (not per row, not per batch — Python module cache).
    from seq2kg_spark.nlp.assemble import extract_triples_from_clean_text

    for pdf in batches:
        urls: list[str] = []
        subjs: list[str] = []
        preds: list[str] = []
        objs: list[str] = []
        for url, text in zip(pdf["url"], pdf["clean_text"]):
            if not text:
                continue
            for s, p, o in extract_triples_from_clean_text(text):
                urls.append(url)
                subjs.append(s)
                preds.append(p)
                objs.append(o)
        yield pd.DataFrame(
            {"url": urls, "subj": subjs, "pred": preds, "obj": objs}
        )


def extract_triples(
    pages: DataFrame,
    *,
    lang: str = "en",
    num_partitions: int | None = None,
    salt_buckets: int = 64,
) -> DataFrame:
    """pages → (url, subj, pred, obj) triples.

    Stage layout matters: the scan stage's parallelism is bounded by input
    file count, so only the (pushable) lang filter and a 2-column projection
    run there.  The T1 regex chain is deliberately placed *after* the salted
    repartition — it's the second-most expensive compute in the pipeline and
    must run at full shuffle-partition parallelism, not at file-count
    parallelism.  Raw ``length(text)`` is the size proxy (clean only
    shrinks whitespace, monotonicity holds).
    """
    scanned = pages.where(F.col("lang") == lang).select("url", "text")
    balanced = salted_size_repartition(
        scanned,
        F.length("text"),
        "url",
        num_partitions=num_partitions,
        salt_buckets=salt_buckets,
    )
    cleaned = balanced.select(
        "url", clean_text_expr(F.col("text")).alias("clean_text")
    )
    return cleaned.mapInPandas(_extract_batches, schema=TRIPLES_SCHEMA)
