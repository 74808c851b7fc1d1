"""NL → targeting-condition-set pipeline (SURVEY §3.1, nl_targeting.py).

Reference dataflow: free text → L1 keyword extraction → per-keyword embedding
→ MariaDB vector threshold search (V4) + groupwise max (A1) → code resolution
(L2 for free values) → L3 refinement → positive∖negative set subtraction
(U3/J8). The per-keyword loop (nl_targeting.py:46-104) collapses into ONE
distributed plan: all probes broadcast against the condition corpus at once;
its bounded result is collected once and the subtraction runs on the driver.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.clients import (
    EmbeddingClient,
    FakeEmbeddingClient,
    FakeLLMClient,
    LLMClient,
)
from ..operators.knn import probe_table, threshold_search
from .ingest import build_condition_vectors


def nl_targeting_conditions(
    spark: SparkSession,
    sf_dir: str,
    input_query: str,
    llm: LLMClient | None = None,
    embedder: EmbeddingClient | None = None,
    condition_vectors: DataFrame | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Returns the positive condition set minus negatives:
    (cond_nm, column_nm, table_nm, code, code_nm, cond_type, max_score, op_expr).
    """
    llm = llm or FakeLLMClient()
    embedder = embedder or FakeEmbeddingClient()
    cond_vec = (
        condition_vectors
        if condition_vectors is not None
        else build_condition_vectors(spark, sf_dir, llm, embedder)
    )

    # L1 keyword extraction + canonical probe sentences
    # (nl_targeting.py:46-54) — few rows, embedded driver-side in one batch.
    keywords = llm.extract_keywords(input_query)
    sentences = [f"{k['attr']} {k['value']} 검색 문장 0" for k in keywords]
    vecs = embedder.embed_batch(sentences)
    probes = probe_table(
        spark, vecs, **{c: [k[c] for k in keywords] for c in ("attr", "polarity", "value")}
    )

    # V4 + A1: one broadcast pass for every keyword at once.
    hits = threshold_search(
        cond_vec,
        probes,
        threshold=threshold,
        group_cols=["attr", "polarity", "value", "cond_nm", "code", "code_nm",
                    "cond_type", "column_nm", "table_nm"],
        corpus_vec="cond_vec",
    )

    # L2 operator normalization for free-typed conditions — batched, not
    # one LLM call per row (nl_targeting.py:70-79).
    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    with_op_schema = StructType(
        [*hits.schema.fields, StructField("op_expr", StringType())]
    )

    def add_op(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["op_expr"] = [
                llm.normalize_operator(ct, val)
                for ct, val in zip(pdf["cond_type"], pdf["value"])
            ]
            yield pdf

    resolved = hits.mapInPandas(add_op, with_op_schema)

    # U3/J8: positives minus negatives on (cond_nm, code). The resolved
    # hits are bounded by conditions × keywords, so they are collected
    # ONCE and marked on the driver: an anti-join against the broadcast
    # negatives ran the threshold aggregate a second time for the
    # negative branch. As in SQL, a null key never matches. The marked
    # rows return as a local relation (its filter and projection fold
    # into it), so the caller's collect runs no job.
    pdf = pd.DataFrame.from_records(
        resolved.collect(), columns=with_op_schema.names
    )
    is_neg = pdf["polarity"] == "부정"
    neg = set(zip(pdf["cond_nm"][is_neg], pdf["code"][is_neg]))
    pdf["kept"] = (pdf["polarity"] == "긍정") & pd.Series([
        c is None or d is None or (c, d) not in neg
        for c, d in zip(pdf["cond_nm"], pdf["code"])
    ], dtype=bool)
    kept_schema = StructType(
        [*with_op_schema.fields, StructField("kept", BooleanType())]
    )
    return spark.createDataFrame(pdf, kept_schema).filter("kept").select(
        "cond_nm", "column_nm", "table_nm", "code", "code_nm", "cond_type",
        F.round("max_score", 6).alias("max_score"), "op_expr",
    )
