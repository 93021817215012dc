"""Gopher quality rules (Rae et al. 2021 Table A1) vs a Python model,
both engines, plus plan shape."""

from __future__ import annotations

import re
import string

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from core_spark.functions.hexgrid import apply_steps
from core_spark.operators.gopherrules import (
    GATE_COLS,
    GOPHER_STOPS,
    gopher_steps,
    sql_gopher_gate,
)

SIGNALS = [
    "words",
    "sum_word_len",
    "n_symbols",
    "n_lines",
    "bullet_lines",
    "ellipsis_lines",
    "alpha_words",
    "stop_types",
]


def model(text):
    if text is None:
        words, lines = [], []
    else:
        # SQL trim/ltrim/rtrim are space-only — strip(" "), not strip()
        words = [w for w in re.split("[ \t\n]+", text.strip(" ")) if w]
        lines = text.split("\n")
    n_words = len(words)
    sum_len = sum(len(w) for w in words)
    n_sym = (
        0
        if text is None
        else text.count("#") + len(re.findall(r"\.\.\.", text))
    )
    bullets = sum(
        1 for l in lines if l.lstrip(" ")[:1] in ("-", "*")
    )
    ells = sum(1 for l in lines if l.rstrip(" ").endswith("..."))
    alpha = sum(
        1
        for w in words
        if any(c in string.ascii_letters for c in w)
    )
    low = {w.lower() for w in words}
    stops = sum(1 for s in GOPHER_STOPS if s in low)
    g = {
        "g_word_count": 50 <= n_words <= 100_000,
        "g_mean_len": 3 * n_words <= sum_len <= 10 * n_words,
        "g_symbol": 10 * n_sym <= n_words,
        "g_bullet": 10 * bullets <= 9 * len(lines),
        "g_ellipsis": 10 * ells <= 3 * len(lines),
        "g_alpha": 5 * alpha >= 4 * n_words,
        "g_stop": stops >= 2,
    }
    g["gopher_kept"] = all(g.values())
    return (
        n_words, sum_len, n_sym, len(lines), bullets, ells, alpha, stops,
    ) + tuple(g[c] for c in GATE_COLS)


_BASE = " ".join(["alpha beta the gamma of words here now"] * 8)  # 64 words
PAGES = [
    (0, _BASE),  # passes every gate
    (1, "short doc the of"),  # word count
    (2, " ".join(["supercalifragilistic"] * 60)),  # mean length + stops
    (3, _BASE + " ##### ### ... extra"),  # symbol ratio
    (4, "- " + _BASE.replace(" ", "\n- ")),  # every line bulleted
    (5, (_BASE + " the of ").replace(" ", "...\n")),  # ellipsis lines
    (6, " ".join(["1234"] * 80) + " the of"),  # alpha fraction
    (7, None),
    (8, ""),
    (9, "word\tthe\tof " + _BASE),  # tab-separated words still split
]


def _expected():
    return {i: model(t) for i, t in PAGES}


@pytest.mark.spark
def test_gopher_matches_model_spark(spark):
    df = spark.createDataFrame(PAGES, "doc_id long, text string")
    got = {
        r["doc_id"]: tuple(r[c] for c in SIGNALS + GATE_COLS)
        for r in apply_steps(df, gopher_steps("text", "spark"))
        .select("doc_id", *SIGNALS, *GATE_COLS).collect()
    }
    assert got == _expected()
    # each fixture fails exactly the gate it was built to fail:
    kept = {i: got[i][-1] for i, _ in PAGES}
    assert kept == {0: True, 1: False, 2: False, 3: False, 4: False,
                    5: False, 6: False, 7: False, 8: False, 9: True}


def _duck(pages):
    con = duckdb.connect()
    try:
        con.register(
            "pages",
            pd.DataFrame(
                {
                    "doc_id": [i for i, _ in pages],
                    "text": pd.Series(
                        [t for _, t in pages], dtype="string"
                    ),
                }
            ),
        )
        return {
            r[0]: tuple(r[1:])
            for r in con.execute(
                sql_gopher_gate("SELECT * FROM pages", "doc_id")
            ).fetchall()
        }
    finally:
        con.close()


def test_gopher_duckdb_twin_matches_model_fixed():
    assert _duck(PAGES) == _expected()


_WORD_POOL = [
    "the", "of", "and", "that", "have", "with", "word", "zz",
    "####", "...", "-", "*", "1234", "supercalifragilistic", "a",
]


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(
            st.lists(st.sampled_from(_WORD_POOL), max_size=12).map(
                " ".join
            ),
            max_size=6,
        ).map("\n".join),
        max_size=6,
    )
)
def test_gopher_duckdb_twin_matches_model_fuzz(texts):
    pages = list(enumerate(texts))
    assert _duck(pages) == {i: model(t) for i, t in pages}


@pytest.mark.spark
def test_gopher_plan_is_one_jvm_projection(spark):
    df = spark.createDataFrame(PAGES, "doc_id long, text string")
    plan = (
        apply_steps(df, gopher_steps("text", "spark"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
