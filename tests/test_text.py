"""Text-analysis DataFrame operators (Column exprs are covered by the
oracle suite; this file tests the aggregation-shaped ones)."""

from ethereum_analytical_db_spark.operators import text


def test_top_ngram_share(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # 2-grams: ab,ba,ab,ba,ab → 3/5
            (2, "u v w x y z"),      # all 2-grams distinct → 1/5
            (3, "x"),                # shorter than n → 0.0
            (4, "spam spam spam"),   # "spam spam" ×2 → 2/2
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["top_ngram_share"]
        for r in text.top_ngram_share(docs, n=2).collect()
    }
    assert got[1] == 3 / 5
    assert got[2] == 1 / 5
    assert got[3] == 0.0
    assert got[4] == 1.0


def test_remove_duplicate_lines(spark):
    """C4-style within-doc repetition removal: later exact-duplicate
    lines drop, first-occurrence order is preserved, unique docs pass
    through byte-identical."""
    from ethereum_analytical_db_spark.operators.text import remove_duplicate_lines

    rows = [
        (0, "home\nabout\nproducts\nhome\ncontact\nabout"),
        (1, "only\none\nof\neach"),
        (2, "same\nsame\nsame\nsame"),
        (3, ""),
        (4, "a\n\nb\n\na"),  # empty lines dedupe like any other line
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean"]
        for r in df.select(
            "doc_id", remove_duplicate_lines("text").alias("clean")
        ).collect()
    }
    assert out[0] == "home\nabout\nproducts\ncontact"
    assert out[1] == rows[1][1]  # untouched
    assert out[2] == "same"
    assert out[3] == ""
    assert out[4] == "a\n\nb"

    # python-model cross-check on generated docs
    import random

    rnd = random.Random(7)
    texts = [
        "\n".join(rnd.choice(["x", "y", "z", "w", "line"]) for _ in range(20))
        for _ in range(30)
    ]
    gdf = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: r["clean"]
        for r in gdf.select(
            "doc_id", remove_duplicate_lines("text").alias("clean")
        ).collect()
    }
    for i, t in enumerate(texts):
        seen, keep = set(), []
        for ln in t.split("\n"):
            if ln not in seen:
                seen.add(ln)
                keep.append(ln)
        assert got[i] == "\n".join(keep), i


def test_remove_duplicate_lines_metachar_separator(spark):
    """The separator is a literal, not a regex: '|' (a regex
    metacharacter) must split on itself, not on every character."""
    from ethereum_analytical_db_spark.operators.text import remove_duplicate_lines

    df = spark.createDataFrame(
        [(0, "ab|cd|ab|ef"), (1, "x.y|x.y|z")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["clean"]
        for r in df.select(
            "doc_id", remove_duplicate_lines("text", sep="|").alias("clean")
        ).collect()
    }
    assert out[0] == "ab|cd|ef"
    assert out[1] == "x.y|z"


def test_memoized_lang_expr_matches_fresh_tree(spark):
    """r17: predicted_lang(name) returns a process-memoized Column; it
    must resolve identically to a freshly built tree on ANY frame (the
    memo returns the same immutable object across plans), and repeated
    calls must not mutate it."""
    from pyspark.sql import functions as F

    from ethereum_analytical_db_spark.operators.text import (
        predicted_lang,
        predicted_lang_from_text,
    )

    a = spark.createDataFrame(
        [(1, "the of and this text"), (2, "der die und das ist")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(3, "le la et les est"), (4, "el la y los es")],
        "doc_id long, text string",
    )
    memo1 = predicted_lang("text")
    memo2 = predicted_lang("text")
    assert memo1 is memo2  # one tree per (process, name)
    got_a = {r[0]: r[1] for r in a.select("doc_id", memo1.alias("l")).collect()}
    got_b = {r[0]: r[1] for r in b.select("doc_id", memo2.alias("l")).collect()}
    fresh = predicted_lang_from_text(F.col("text"))
    want_a = {r[0]: r[1] for r in a.select("doc_id", fresh.alias("l")).collect()}
    want_b = {r[0]: r[1] for r in b.select("doc_id", fresh.alias("l")).collect()}
    assert got_a == want_a == {1: "en", 2: "de"}
    assert got_b == want_b == {3: "fr", 4: "es"}


def test_lang_markers_read_only(spark):
    """The memoized lang tree is built from LANG_MARKERS once per
    process, so the table must not be mutable: a change would reach the
    fresh-tree builds but not the memo. The array form (isin over the
    split words) still scores the tuple markers."""
    import pytest

    with pytest.raises(TypeError):
        text.LANG_MARKERS["xx"] = ("foo",)
    with pytest.raises(TypeError):
        text.LANG_MARKERS["en"][0] = "foo"
    scores = text.lang_scores("text")
    row = spark.createDataFrame([("the a der row",)], "text string").select(
        *[c.alias(lang) for lang, c in scores.items()]
    ).first()
    assert row.asDict() == {"en": 3, "de": 1, "fr": 0, "es": 0, "zh": 0}
