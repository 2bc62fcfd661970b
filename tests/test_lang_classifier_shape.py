"""Trained language classifier: the Spark jobs its trainer and scorer
start, and cross-engine parity with the DuckDB oracle
(``__spark_entry__._lang_classifier_oracle``) on an adversarial
corpus."""

import random

import pytest
from pyspark.sql import functions as F

from rheoceros_spark.operators.text_analysis import (
    lang_classifier_score,
    lang_classifier_train,
)
from tests.test_classifier import _lang_corpus


def _jobs(spark, group, fn):
    """``fn()`` and the number of Spark jobs it started, counted through
    a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc._jsc.clearJobGroup()
    return out, len(jobs)


def test_trainer_runs_one_shuffle_per_round_and_scorer_none(spark):
    df = _lang_corpus(spark)
    _, one = _jobs(
        spark, "lang_train_iters1", lambda: lang_classifier_train(df, "lang", iters=1)
    )
    w, two = _jobs(
        spark, "lang_train_iters2", lambda: lang_classifier_train(df, "lang", iters=2)
    )
    # featurizing runs once, whatever the round count; a round is one
    # gradient shuffle plus the collect of its aggregate
    assert two - one == 2, (one, two)
    assert two <= 9, two
    # the weights are a LocalRelation: reading them and building the
    # scorer's lane table run no job
    rows, collect = _jobs(spark, "lang_weights_collect", w.collect)
    assert collect == 0 and len(rows) == 3 * 65
    _, score = _jobs(spark, "lang_score_build", lambda: lang_classifier_score(df, w))
    assert score == 0


def test_scorer_reads_the_lanes_of_the_classes_it_names(spark):
    # lane i of the scorer's table holds classes[i]: a subset keeps each
    # named class's own weights (an argmax over a subset that holds the
    # full argmax is unchanged), and a name the table lacks is rejected
    df = _lang_corpus(spark)
    w = lang_classifier_train(df, "lang", iters=2)
    full = {r.doc_id: tuple(r) for r in lang_classifier_score(df, w).collect()}
    sub = {
        r.doc_id: tuple(r)
        for r in lang_classifier_score(df, w, classes=["fr", "en"]).collect()
    }
    kept = [d for d, r in full.items() if r[1] in ("en", "fr")]
    assert len(kept) == 80
    assert all(sub[d] == full[d] for d in kept)
    with pytest.raises(ValueError, match="not in the weight table"):
        lang_classifier_score(df, w, classes=["en", "xx"])


def _adversarial_lang_docs(spark, tmp_path):
    from tests.test_portable_parity import _corpus

    vocab = {
        "en": "the of and to in is was for with that".split(),
        "de": "der die und das ist nicht ein mit von zu".split(),
        "fr": "le la et les des une dans pour est que".split(),
    }
    rng = random.Random(11)
    rows = []
    for lang, words in vocab.items():
        for _ in range(30):
            n = rng.choice([1, 1, 2, 5, 20])  # one-token docs included
            rows.append((len(rows), " ".join(rng.choice(words) for _ in range(n)), lang))
    langs = sorted(vocab)
    for i, s in enumerate(_corpus()):  # unicode, whitespace, soup
        rows.append((len(rows), s, langs[i % 3]))
    rows += [
        (len(rows), None, "en"),  # NULL text keeps its bias feature
        (len(rows) + 1, "", "de"),
        (len(rows) + 2, "der", None),  # scored, never trained
        (len(rows) + 3, "und die", "de"),
        (len(rows) + 3, "the the", "en"),  # duplicate id pools features
        (None, "le la", "fr"),  # no id: neither trained nor scored
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    path = str(tmp_path / "adv_lang_docs.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


@pytest.mark.parametrize(
    "train_frac, ngram_range",
    [(None, None), (0.5, None), (0.5, (2, 3))],
    ids=["word", "word-sampled", "subword-sampled"],
)
def test_oracle_parity_on_adversarial_corpus(spark, tmp_path, train_frac, ngram_range):
    import duckdb

    import __spark_entry__ as entry

    path = _adversarial_lang_docs(spark, tmp_path)
    docs = spark.read.parquet(path).where(F.col("doc_id").isNotNull())
    w = lang_classifier_train(
        docs, "lang", n_buckets=64, iters=2, lr=2.0,
        train_frac=train_frac, ngram_range=ngram_range,
    )
    got = sorted(
        tuple(r)
        for r in lang_classifier_score(
            docs, w, n_buckets=64, ngram_range=ngram_range
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
    sql = entry._lang_classifier_oracle(
        n_buckets=64, iters=2, lr=2.0, train_frac=train_frac, ngram_range=ngram_range
    )
    want = sorted(tuple(r) for r in con.sql(sql).fetchall())
    assert len(got) == len({r[0] for r in got}) == docs.select("doc_id").distinct().count()
    assert got == want
    # training moved the weights: not every document is predicted 'de'
    # (the all-zero model's tie-break class)
    assert {r[1] for r in got} != {"de"}
