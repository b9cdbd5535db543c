"""Corpus frequency-spectrum (Zipf/hapax) profile: hand-computed spectrum
pins, band arithmetic, oracle parity, empty guard."""

import pyspark.sql.functions as F

from poc_juma_etl_spark.operators.text import (
    ZIPF_PROFILE_ORACLE,
    q_text_zipf_profile,
)

from .conftest import SF_ORACLE


def _write_docs(spark, tmp_path, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    df.select(
        "doc_id",
        "text",
        F.lit("xx").alias("lang"),
        F.lit("unit").alias("source"),
        F.length("text").cast("bigint").alias("n_chars"),
    ).write.parquet(f"{tmp_path}/documents.parquet")


def test_zipf_profile_hand_computed(spark, tmp_path):
    """Corpus 'a a a a b b c' + 'a c':
    unigrams: a=5 (band 2), b=2 (band 1), c=2 (band 1).
    bigrams:  'a a'=3 (band 1), 'a b'=1, 'b b'=1, 'b c'=1, 'a c'=1 (band 0
    hapax x4)."""
    _write_docs(spark, tmp_path, ["a a a a b b c", "a c"])
    rows = {(r.gram, r.band): r for r in
            q_text_zipf_profile(spark, str(tmp_path)).collect()}
    assert rows[(1, 2)].n_types == 1 and rows[(1, 2)].total_occurrences == 5
    assert rows[(1, 1)].n_types == 2 and rows[(1, 1)].total_occurrences == 4
    assert (1, 0) not in rows  # no unigram hapax in this corpus
    assert rows[(2, 0)].n_types == 4  # the four singleton bigrams
    assert rows[(2, 1)].n_types == 1 and rows[(2, 1)].max_freq == 3
    # ppm shares: unigram vocab 3 -> band 2 holds 1/3
    assert rows[(1, 2)].types_ppm == 1_000_000 // 3
    # bigram vocab 5 -> hapax band holds 4/5
    assert rows[(2, 0)].types_ppm == 4 * 1_000_000 // 5


def test_zipf_profile_band_edges(spark, tmp_path):
    """Frequencies 1, 2, 3, 4 land in bands 0, 1, 1, 2 (floor-log2)."""
    texts = ["w4 w4 w4 w4 w3 w3 w3 w2 w2 w1"]
    _write_docs(spark, tmp_path, texts)
    uni = {r.band: r for r in
           q_text_zipf_profile(spark, str(tmp_path)).collect() if r.gram == 1}
    assert uni[0].n_types == 1 and uni[0].min_freq == 1
    assert uni[1].n_types == 2 and (uni[1].min_freq, uni[1].max_freq) == (2, 3)
    assert uni[2].n_types == 1 and uni[2].max_freq == 4


def test_zipf_profile_oracle_parity(spark, duck):
    got = [tuple(r) for r in q_text_zipf_profile(spark, SF_ORACLE).collect()]
    exp = [tuple(r) for r in duck.execute(ZIPF_PROFILE_ORACLE).fetchall()]
    assert got == exp and len(got) > 0
    # totals conservation: each gram's occurrence sum equals the token /
    # bigram count of the corpus
    n_tok = sum(r[3] for r in got if r[0] == 1)
    n_bi = sum(r[3] for r in got if r[0] == 2)
    assert n_tok > n_bi > 0


def test_zipf_profile_empty_input(spark, tmp_path):
    _write_docs(spark, tmp_path, [])
    assert q_text_zipf_profile(spark, str(tmp_path)).collect() == []
