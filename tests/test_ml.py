

def test_naive_bayes_hand_example(spark):
    import math

    from week5_datingnlp_big_data_spark.operators.ml import (
        NB_SCALE, naive_bayes_model, naive_bayes_predict,
    )

    train = spark.createDataFrame(
        [
            ("spam", ["buy", "cheap", "buy"]),
            ("spam", ["cheap", "pills"]),
            ("ham", ["meeting", "tomorrow"]),
            ("ham", ["lunch", "tomorrow", "meeting"]),
        ],
        "label string, tokens array<string>",
    )
    model, priors = naive_bayes_model(train)
    # sparse model: observed pairs + per-class default reconstruct the
    # dense (label, term, llr) view exactly (unobserved llr == default)
    obs = {(r["label"], r["term"]): r["llr"] for r in model.observed.collect()}
    defaults = {r["label"]: r["default"] for r in model.defaults.collect()}
    vocab = {r["term"] for r in model.vocab.collect()}
    m = {
        (lab, t): obs.get((lab, t), defaults[lab])
        for lab in defaults
        for t in vocab
    }
    # vocab = {buy, cheap, pills, meeting, tomorrow, lunch} -> V=6
    # spam totals 5, ham totals 5
    assert m[("spam", "buy")] == math.floor(math.log(3 / 11) * NB_SCALE)
    assert m[("spam", "meeting")] == math.floor(math.log(1 / 11) * NB_SCALE)
    assert m[("ham", "tomorrow")] == math.floor(math.log(3 / 11) * NB_SCALE)
    # "meeting" is unobserved for spam: it must ride the default, not an
    # observed row, and the default IS the dense smoothing constant
    assert ("spam", "meeting") not in obs
    assert defaults["spam"] == math.floor(math.log(1 / 11) * NB_SCALE)
    # dense reconstruction: every class has every vocab term
    assert len(m) == 12
    p = {r["label"]: r["prior"] for r in priors.collect()}
    assert p["spam"] == math.floor(math.log(0.5) * NB_SCALE) == p["ham"]

    test = spark.createDataFrame(
        [
            (1, ["cheap", "pills"]),          # -> spam
            (2, ["meeting", "lunch"]),        # -> ham
            (3, ["unseen", "words", "only"]),  # OOV -> prior tiebreak: ham
        ],
        "doc_id long, tokens array<string>",
    )
    got = {
        r["doc_id"]: (r["predicted"], r["score"])
        for r in naive_bayes_predict(test, model, priors).collect()
    }
    assert got[1][0] == "spam" and got[2][0] == "ham"
    # equal priors + no in-vocab terms: score ties, lexically smaller label
    assert got[3] == ("ham", p["ham"])


def test_naive_bayes_scores_are_integer_sums(spark):
    from week5_datingnlp_big_data_spark.operators.ml import (
        naive_bayes_model, naive_bayes_predict,
    )

    train = spark.createDataFrame(
        [("a", ["x", "y"]), ("b", ["y", "z"])],
        "label string, tokens array<string>",
    )
    model, priors = naive_bayes_model(train)
    test = spark.createDataFrame(
        [(1, ["x", "x", "z"])], "doc_id long, tokens array<string>"
    )
    row = naive_bayes_predict(test, model, priors).collect()[0]
    obs = {(r["label"], r["term"]): r["llr"] for r in model.observed.collect()}
    defaults = {r["label"]: r["default"] for r in model.defaults.collect()}
    vocab = {r["term"] for r in model.vocab.collect()}
    m = {
        (lab, t): obs.get((lab, t), defaults[lab])
        for lab in defaults
        for t in vocab
    }
    p = {r["label"]: r["prior"] for r in priors.collect()}
    exp_a = p["a"] + 2 * m[("a", "x")] + m[("a", "z")]
    exp_b = p["b"] + 2 * m[("b", "x")] + m[("b", "z")]
    assert row["score"] == max(exp_a, exp_b)
    assert row["predicted"] == ("a" if exp_a >= exp_b else "b")


def test_hashed_features_signed_collision_cancel(spark):
    from week5_datingnlp_big_data_spark.operators.ml import hashed_features

    docs = spark.createDataFrame(
        [(1, ["alpha", "alpha", "beta"]), (2, [])],
        "doc_id long, tokens array<string>",
    )
    rows = hashed_features(docs, n_buckets=8).collect()
    # only doc 1 emits; per-bucket values are signed sums of counts
    assert all(r["doc_id"] == 1 for r in rows)
    assert sum(abs(r["val"]) for r in rows) in (1, 3)  # ±2±1 same or diff bucket
    # determinism across reruns (md5-seedless)
    again = hashed_features(docs, n_buckets=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # unsigned mode counts plainly
    uns = hashed_features(docs, n_buckets=8, signed=False).collect()
    assert sum(r["val"] for r in uns) == 3


def test_naive_bayes_nul_label_fails_with_named_error(spark):
    # The scorer keys its per-doc token total under a NUL map key; a NUL
    # class label must fail on that invariant by name, not as a
    # map_concat duplicate-key error.
    import pytest

    from week5_datingnlp_big_data_spark.operators.ml import (
        naive_bayes_model, naive_bayes_score,
    )

    train = spark.createDataFrame(
        [("\x00", ["buy", "cheap"]), ("ham", ["meeting", "lunch"])],
        "label string, tokens array<string>",
    )
    model, priors = naive_bayes_model(train)
    test = spark.createDataFrame(
        [(1, ["cheap", "lunch"])], "doc_id long, tokens array<string>"
    )
    with pytest.raises(Exception, match="NUL sentinel"):
        naive_bayes_score(test, model, priors).collect()
