"""Grouped chunk-summarizer — the reference's MeetingSummarizer.forward
(summarize.py:99-156) as an applyInPandas operator: one group (all segments
of one file) in, many rows out (one per chunk + one rollup).

This is the table-valued UDF shape SURVEY §2.11 maps the reference's dspy
module onto. The deterministic extractive kernel mirrors the module's
dataflow exactly: chunk loop (:115), threshold-filtered text (:20-25),
bounds from the raw window (:116-117), blank-chunk skip (:119-121),
summary-of-summaries rollup (:147-155) — so a SQL oracle can verify the
whole group transform.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from nocouncil_etl_spark.operators.models import SUMMARY_WORDS

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("group_key", T.LongType()),
        T.StructField("is_rollup", T.BooleanType()),
        T.StructField("chunk", T.LongType()),
        T.StructField("summary", T.StringType()),
        T.StructField("n_segments", T.IntegerType()),
        T.StructField("start_pos", T.LongType()),
        T.StructField("end_pos", T.LongType()),
    ]
)


def make_chunk_summarizer(
    chunk_size: int, value_threshold: float
) -> callable:
    """Returns an applyInPandas function: segments of one group → chunk rows
    + rollup row. ``value_threshold`` plays no_speech_prob's role."""

    def summarize_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        key = int(pdf["group_key"].iloc[0])
        rows = []
        for start in range(0, len(pdf), chunk_size):
            chunk_df = pdf.iloc[start : start + chunk_size]
            # text from filtered rows; bounds from the RAW chunk window
            passing = chunk_df[chunk_df["value"] < value_threshold]["token"]
            text = " ".join(passing)
            if len(text.strip()) < 2:  # blank-chunk skip (summarize.py:119-121)
                continue
            summary = " ".join(text.split(" ")[:SUMMARY_WORDS])
            rows.append(
                {
                    "group_key": key,
                    "is_rollup": False,
                    "chunk": start // chunk_size,
                    "summary": summary,
                    "n_segments": len(chunk_df),
                    "start_pos": int(chunk_df["pos"].iloc[0]),
                    "end_pos": int(chunk_df["pos"].iloc[-1]),
                }
            )
        if rows:
            merged = " ".join(r["summary"] for r in rows)
            rows.insert(
                0,
                {
                    "group_key": key,
                    "is_rollup": True,
                    "chunk": -1,
                    "summary": " ".join(merged.split(" ")[:SUMMARY_WORDS]),
                    "n_segments": sum(r["n_segments"] for r in rows),
                    "start_pos": rows[0]["start_pos"],
                    "end_pos": rows[-1]["end_pos"],
                },
            )
        return pd.DataFrame(rows, columns=[f.name for f in CHUNK_SCHEMA.fields])

    return summarize_group


def chunk_summarize(
    df: DataFrame,
    group_key: str,
    pos: str,
    token: str,
    value: str,
    chunk_size: int,
    value_threshold: float,
) -> DataFrame:
    """Apply the grouped summarizer: shuffles once on the group key, then
    each group is one pandas frame — at 100 TB group size is bounded by the
    longest single meeting, not the corpus."""
    from pyspark.sql import functions as F

    prepared = df.select(
        F.col(group_key).alias("group_key"),
        F.col(pos).alias("pos"),
        F.col(token).alias("token"),
        F.col(value).alias("value"),
    )
    fn = make_chunk_summarizer(chunk_size, value_threshold)
    return prepared.groupBy("group_key").applyInPandas(fn, schema=CHUNK_SCHEMA)
