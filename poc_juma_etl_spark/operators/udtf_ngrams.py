"""Python UDTF surface (Spark 4): a table function producing n-grams with
positions.

UDTFs are the third Python extension point next to scalar (pandas_udf) and
grouped (applyInPandas) — one input row fans out to many output rows from
arbitrary Python. Gated against the pure-SQL shingle construction, so like
the other UDF gates this checks *semantics*, not just plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from ..catalog import load_table
from ..plans.queries import register


@udtf(returnType="pos int, ngram string")
class NgramUDTF:
    """eval() per input row; each yield is an output row."""

    def eval(self, text: str, n: int):  # noqa: ANN001
        if text is None:
            return
        toks = text.strip().split()
        for i in range(max(len(toks) - n + 1, 0)):
            yield i, " ".join(toks[i : i + n])


@register(
    "q_udtf_ngrams",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(unnest(range(0, greatest(len(ts) - 2, 0))) AS INT) AS pos,
           unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS ngram
    FROM tok
    ORDER BY doc_id, pos
    """,
    doc="Python UDTF (table function): one document row fans out to "
    "positioned 3-gram rows from arbitrary Python; the oracle is the "
    "pure-SQL shingle construction — UDTF semantics, not plumbing.",
)
def q_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 50
    ).createOrReplaceTempView("udtf_docs")
    spark.udtf.register("ngrams3", NgramUDTF)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.ngram
        FROM udtf_docs d, LATERAL ngrams3(d.text, 3) t
        ORDER BY d.doc_id, t.pos
        """
    )
