"""Multinomial naive Bayes language-ID: planted-vocabulary separability,
train/test split discipline, oracle parity, empty guard."""

from poc_juma_etl_spark.operators.lm import (
    NB_LANGID_ORACLE,
    NB_TEST_MOD,
    q_ml_naive_bayes_langid,
)

from .conftest import SF_ORACLE


def _write_docs(spark, tmp_path, rows):
    """documents fixture with the catalog schema (doc_id, text, lang,
    source, n_chars)."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.select(
        "doc_id",
        "text",
        "lang",
        F.lit("unit").alias("source"),
        F.length("text").cast("bigint").alias("n_chars"),
    ).write.parquet(f"{tmp_path}/documents.parquet")


def test_nb_planted_vocabulary_is_separable(spark, tmp_path):
    """Disjoint per-language vocabularies: every held-out doc must classify
    to its own language (the smoothed cross-class score is strictly
    smaller), giving a diagonal confusion matrix."""
    rows = []
    for li, lang in enumerate(["aa", "bb", "cc"]):
        for d in range(10):
            doc_id = li * 100 + d  # both splits populated per language
            rows.append((doc_id, f"tok{lang} tok{lang} tok{lang}x", lang))
    _write_docs(spark, tmp_path, rows)
    got = {(r.true_lang, r.pred_lang): r.n_docs for r in
           q_ml_naive_bayes_langid(spark, str(tmp_path)).collect()}
    n_test = {lang: sum(1 for li, l2 in enumerate(["aa", "bb", "cc"])
                        for d in range(10)
                        if l2 == lang and (li * 100 + d) % NB_TEST_MOD == 0)
              for lang in ["aa", "bb", "cc"]}
    assert got == {(lang, lang): n_test[lang] for lang in ["aa", "bb", "cc"]}


def test_nb_train_test_disjoint(spark, tmp_path):
    """A token that appears ONLY in test docs must not influence the model:
    with planted vocabularies plus a shared test-only token, classification
    stays diagonal (the unseen token contributes the same smoothed floor
    term to every class)."""
    rows = []
    for li, lang in enumerate(["aa", "bb"]):
        for d in range(10):
            doc_id = li * 100 + d
            text = f"tok{lang} tok{lang}"
            if doc_id % NB_TEST_MOD == 0:
                text += " testonlytoken"
            rows.append((doc_id, text, lang))
    _write_docs(spark, tmp_path, rows)
    got = {(r.true_lang, r.pred_lang) for r in
           q_ml_naive_bayes_langid(spark, str(tmp_path)).collect()}
    assert got == {("aa", "aa"), ("bb", "bb")}


def test_nb_oracle_parity(spark, duck):
    got = [tuple(r) for r in q_ml_naive_bayes_langid(spark, SF_ORACLE).collect()]
    exp = [tuple(r) for r in duck.execute(NB_LANGID_ORACLE).fetchall()]
    assert got == exp and len(got) > 0


def test_nb_empty_input(spark, tmp_path):
    _write_docs(spark, tmp_path, [])
    assert q_ml_naive_bayes_langid(spark, str(tmp_path)).collect() == []
