"""mapInArrow operators: zero-copy Arrow-native batch processing.

mapInPandas (operators/multimodal.py) pays an Arrow→pandas conversion per
batch; mapInArrow hands the Python function the raw ``pyarrow.RecordBatch``
— for fixed-width numeric kernels (vector math over ``array<float>``) the
whole batch stays in Arrow buffers and numpy views them without a copy.
This is the engine's template for the fastest Python escape hatch: use it
when the kernel is numeric and schema-stable; use mapInPandas when you
want pandas ergonomics; never use row-at-a-time Python UDFs.

Determinism contract: the kernel quantizes each float32 component to an
integer (floor(x * 1000) — floor, not round: round-half ties break
differently across engines' libm, floor cannot) and accumulates integer
sums, so the result is exact and oracle-checkable — the same discipline as
the int-quantized embedding near-dup (operators/dedup.py).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.queries import register

OUT_SCHEMA = "vec_id long, label int, norm_sq_q long, n_dims int"


def _norm_batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        emb = batch.column(batch.schema.get_field_index("embedding"))
        if isinstance(emb, pa.ChunkedArray):  # pragma: no cover - single chunk per batch
            emb = emb.combine_chunks()
        # list<float32> → flat values + offsets, viewed by numpy zero-copy
        offsets = emb.offsets.to_numpy(zero_copy_only=False)
        flat = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
        q = np.floor(flat * 1000.0).astype(np.int64)
        sq = q * q
        csum = np.concatenate(([0], np.cumsum(sq)))
        norm_sq = csum[offsets[1:]] - csum[offsets[:-1]]
        n_dims = (offsets[1:] - offsets[:-1]).astype(np.int32)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(batch.schema.get_field_index("vec_id")),
                batch.column(batch.schema.get_field_index("label")),
                pa.array(norm_sq, type=pa.int64()),
                pa.array(n_dims, type=pa.int32()),
            ],
            names=["vec_id", "label", "norm_sq_q", "n_dims"],
        )


def vector_norms(df: DataFrame) -> DataFrame:
    """(vec_id, embedding array<float>, label) → quantized squared L2 norms.

    One Arrow pass, no pandas materialization; partitioning is preserved,
    so at 100 TB the kernel runs wherever the vectors already live."""
    return df.mapInArrow(_norm_batches, schema=OUT_SCHEMA)


@register(
    "q_arrow_vector_norms",
    oracle="""
    WITH norms AS (
      SELECT vec_id, label,
             CAST(list_sum(list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                      * CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT)
               AS norm_sq_q
      FROM embeddings
    )
    SELECT CAST(label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(norm_sq_q) AS BIGINT) AS sum_norm_sq,
           CAST(MIN(norm_sq_q) AS BIGINT) AS min_norm_sq,
           CAST(MAX(norm_sq_q) AS BIGINT) AS max_norm_sq
    FROM norms
    GROUP BY label
    ORDER BY label
    """,
    doc="Arrow-native vector kernel: mapInArrow computes integer-quantized "
    "squared L2 norms over the embedding column with numpy viewing the "
    "Arrow buffers zero-copy (no pandas, no per-row Python), then a "
    "per-label rollup. Quantization makes the Python-kernel output "
    "bit-exact against the SQL oracle — the gate proves the Arrow escape "
    "hatch computes exactly what the declarative engine would.",
)
def q_arrow_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    norms = vector_norms(e.select("vec_id", "embedding", "label"))
    return (
        norms.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("norm_sq_q").cast("bigint").alias("sum_norm_sq"),
            F.min("norm_sq_q").cast("bigint").alias("min_norm_sq"),
            F.max("norm_sq_q").cast("bigint").alias("max_norm_sq"),
        )
        .orderBy("label")
    )
