"""C4 page cleaning (Raffel et al. 2020 §2.2) vs a Python model, both
engines, plus plan shape."""

from __future__ import annotations

import re

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from core_spark.functions.hexgrid import apply_steps
from core_spark.operators.c4clean import clean_steps, sql_c4_clean

MIN_WORDS = 3
MIN_SENTENCES = 5


def _keep_line(l: str) -> bool:
    # SQL trim/rtrim are space-only — model with strip(" "), not strip()
    ls = l.rstrip(" ")
    words = [w for w in re.split(" +", l.strip(" ")) if w]
    return (
        ls.endswith((".", "!", "?"))
        and len(words) >= MIN_WORDS
        and "javascript" not in l.lower()
    )


def model(text):
    if text is None:
        return (None, 0, 0, 0, False)
    lines = text.split("\n")
    kept = [l for l in lines if _keep_line(l)]
    clean = "\n".join(kept)
    n_sent = len(re.findall(r"[.!?]", clean))
    page_ok = (
        n_sent >= MIN_SENTENCES
        and "lorem ipsum" not in text.lower()
        and "{" not in text
    )
    return (clean, len(lines), len(kept), n_sent, page_ok)


PAGES = [
    (0, "Five good sentences live here one.\nSentence number two right here now!\nThird full sentence sits right here?\nFourth sentence is long enough too.\nFifth sentence closes the page out."),
    (1, "Only one good sentence lives here.\nno terminal punctuation on this line\nxy z."),
    (2, "Please enable JavaScript to view.\nSentence one stays in its place.\nSentence two stays in its place!\nSentence number three is kept here.\nSentence number four is kept here.\nSentence number five is kept here."),
    (3, "lorem ipsum dolor sit amet page.\nGood sentence one stays right here.\nGood sentence two stays right here!\nGood sentence three stays right here?\nGood sentence four stays right here.\nGood sentence five stays right here."),
    (4, "var f = function() { return 1; }.\nGood sentence one is kept here.\nGood sentence two is kept here!\nGood sentence three is kept here?\nGood sentence four is kept here.\nGood sentence five is kept here."),
    (5, None),
    (6, ""),
    (7, "a b.\nOne two three.\nFour five six!\nSeven eight nine?\nTen eleven twelve.\nFinal line sits here."),
    (8, "  padded but fine here.  \nSecond good sentence right here!\nThird good sentence right here?\nFourth good sentence right here.\nFifth good sentence right here."),
]


def _expected():
    return {i: model(t) for i, t in PAGES}


@pytest.mark.spark
def test_c4_matches_model_spark(spark):
    df = spark.createDataFrame(PAGES, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["c4_clean"], r["n_lines"], r["n_kept"], r["n_sent"], r["c4_kept"]
        )
        for r in apply_steps(df, clean_steps("text", "spark"))
        .select("doc_id", "c4_clean", "n_lines", "n_kept", "n_sent", "c4_kept")
        .collect()
    }
    assert got == _expected()
    # semantic spot checks, so the model itself is pinned too:
    assert got[0][4] is True  # clean 5-sentence page survives
    assert got[1][4] is False  # <5 sentences
    # javascript line dropped, the 5 real sentences keep the page alive
    assert got[2][2] == 5 and got[2][4] is True
    assert "javascript" not in got[2][0].lower()
    assert got[3][4] is False and got[4][4] is False  # lorem / brace
    assert got[5] == (None, 0, 0, 0, False)
    assert got[6] == ("", 1, 0, 0, False)


def _duck(pages):
    con = duckdb.connect()
    try:
        con.register(
            "pages",
            pd.DataFrame(
                {
                    "doc_id": [i for i, _ in pages],
                    "text": pd.Series([t for _, t in pages], dtype="string"),
                }
            ),
        )
        return {
            r[0]: tuple(r[1:])
            for r in con.execute(
                sql_c4_clean("SELECT * FROM pages", "doc_id")
            ).fetchall()
        }
    finally:
        con.close()


def test_c4_duckdb_twin_matches_model_fixed():
    assert _duck(PAGES) == _expected()


@pytest.mark.spark
def test_c4_banned_phrases_casefold_and_escape(spark):
    """Extra banned phrases must match case-insensitively (they compare
    against lower(text), so an uppercase phrase would silently never
    fire) and survive quotes in the phrase on BOTH engines."""
    pages = [
        (0, "Mixed Case Banner phrase here one.\nGood sentence two stays right here!\nGood sentence three stays right here?\nGood sentence four stays right here.\nGood sentence five stays right here."),
        (1, "Don't Sell my data notice here.\nGood sentence two stays right here!\nGood sentence three stays right here?\nGood sentence four stays right here.\nGood sentence five stays right here."),
        (2, "Totally clean page sentence one.\nGood sentence two stays right here!\nGood sentence three stays right here?\nGood sentence four stays right here.\nGood sentence five stays right here."),
    ]
    banned = ("Case BANNER", "don't sell")
    df = spark.createDataFrame(pages, "doc_id long, text string")
    got = {
        r["doc_id"]: r["c4_kept"]
        for r in apply_steps(df, clean_steps("text", "spark", banned=banned))
        .select("doc_id", "c4_kept").collect()
    }
    assert got == {0: False, 1: False, 2: True}
    con = duckdb.connect()
    con.register(
        "pages",
        pd.DataFrame(
            {"doc_id": [i for i, _ in pages],
             "text": pd.Series([t for _, t in pages], dtype="string")}
        ),
    )
    dgot = {  # columns: doc_id, c4_clean, n_lines, n_kept, n_sent, c4_kept
        r[0]: r[5]
        for r in con.execute(
            sql_c4_clean("SELECT * FROM pages", "doc_id", banned=banned)
        ).fetchall()
    }
    assert {k: bool(v) for k, v in dgot.items()} == got


_LINE_POOL = [
    "One two three here.",
    "no punctuation on this line",
    "x y!",
    "Enable javascript now please.",
    "lorem ipsum snippet sits here.",
    "code with a { brace dot.",
    "a b c?",
    "",
    "  padded line sits here.  ",
    "Tab\tseparated words stay one token.",
    "Ends with quote.'",
]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_LINE_POOL), max_size=8).map("\n".join),
        max_size=8,
    )
)
def test_c4_duckdb_twin_matches_model_fuzz(texts):
    pages = list(enumerate(texts))
    assert _duck(pages) == {i: model(t) for i, t in pages}


@pytest.mark.spark
def test_c4_plan_is_one_jvm_projection(spark):
    df = spark.createDataFrame(PAGES, "doc_id long, text string")
    plan = (
        apply_steps(df, clean_steps("text", "spark"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # row-local: no shuffle
    assert "EvalPython" not in plan  # no Python stage
