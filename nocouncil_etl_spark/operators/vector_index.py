"""Vector-index sink (SURVEY.md §2.2 K4/K5) — the ChromaDB-collection
replacement: a parquet table ``(id, document, embedding, ...metadata)``
with id-upsert semantics, queried by the operators in similarity.py.

The reference's collection.add (vectorize.py:96-100,
article_vectorize.py:262-266) batches 500 docs per call and upserts by id;
here batching is partition-sized for free (K5) and upsert is keep-latest
merge. The HNSW index's role is played by the LSH/IVF strategies
(operators/similarity.py) — at 100 TB an index file per executor beats one
global graph anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nocouncil_etl_spark.operators.incremental import merge_state


def upsert_vectors(
    index: DataFrame, incoming: DataFrame, id_col: str = "id", version_col: str = "version"
) -> DataFrame:
    """K4: dedupe-on-write upsert into the vector table."""
    return merge_state(index, incoming, key=id_col, order_col=version_col)


def add_embeddings(df: DataFrame, text_col: str, embed_udf) -> DataFrame:
    """E1+K4 glue: attach embeddings via the (pluggable) embedding UDF."""
    return df.withColumn("embedding", embed_udf(F.col(text_col)))
