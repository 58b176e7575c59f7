"""Token-list kernels of ``functions/text.py``: outputs against pure-Python
references, and the plan shape that keeps them linear — each kernel
tokenizes a document once, never once per element it builds."""

from __future__ import annotations

import hashlib
import re

import pytest

from roddy_spark.functions import text as T

# empty, NULL, fewer than n tokens, tabs/newlines, mixed case, repeated
# grams, marker ties (ASCII whitespace only: Java's \s is ASCII)
EDGE_ROWS = [
    "", None, "one", "two words", "a b c", "Tab\tsep\nNew  LINE  x",
    "  lead and trail  ", "a a a a a a", "x y x y x y z x y",
    "The DER le la el que der das und", "的 是 了 the", "la la le le",
    "el la que le et", "!!! ??? ...", "The quick brown fox jumps over the "
    "lazy dog and the cat",
]


@pytest.fixture(scope="module")
def edge(spark):
    return spark.createDataFrame([(i, s) for i, s in enumerate(EDGE_ROWS)],
                                 "id int, text string")


def _tokens(s):
    return [] if s is None else [w for w in re.split(r"\s+", s.lower()) if w]


def _ngrams(s, n):
    t = _tokens(s)
    return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]


def _lang(s):
    t = _tokens(s)
    best, best_n = "und", 0
    for lang, markers in T.LANG_MARKERS.items():
        n = sum(x in markers for x in t)
        if n > best_n:
            best, best_n = lang, n
    return best


def _simhash16(s):
    hs = [int(hashlib.md5(x.encode()).hexdigest()[:8], 16)
          for x in _tokens(s)]
    return sum(1 << j for j in range(16)
               if sum(1 if h >> j & 1 else -1 for h in hs) > 0)


def _by_id(df, col):
    return [r[1] for r in sorted(df.select("id", col).collect())]


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
def test_word_ngrams_match_python_reference(edge, n):
    got = _by_id(edge, T.word_ngrams("text", n))
    assert got == [_ngrams(s, n) for s in EDGE_ROWS]
    got = _by_id(edge, T.word_shingles("text", n))
    assert got == [list(dict.fromkeys(_ngrams(s, n))) for s in EDGE_ROWS]


def test_lang_id_and_simhash_match_python_reference(edge):
    assert _by_id(edge, T.lang_id("text")) == [_lang(s) for s in EDGE_ROWS]
    assert _by_id(edge, T.simhash16("text")) == [
        _simhash16(s) for s in EDGE_ROWS]


def _optimized(df, col):
    """Optimized plan of ``df.select(col)``, under an alias so the column's
    own text does not name the output."""
    return df.select(col.alias("v"))._jdf.queryExecution() \
        .optimizedPlan().toString()


def _lambda_bodies(plan: str):
    """The text of every ``lambdafunction(...)`` in a plan string."""
    out, start = [], 0
    while (i := plan.find("lambdafunction(", start)) >= 0:
        depth, j = 0, i + len("lambdafunction")
        for j in range(j, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
        out.append(plan[i:j + 1])
        start = i + 1
    return out


def test_word_shingles_tokenize_outside_lambda_bodies(edge):
    plan = _optimized(edge, T.word_shingles("text", 3))
    bodies = _lambda_bodies(plan)
    assert bodies, plan
    assert not [b for b in bodies if "split(" in b], plan


@pytest.mark.parametrize("kernel", [
    lambda c: T.word_shingles(c, 3), T.lang_id, T.quality_score,
    T.simhash16], ids=["word_shingles", "lang_id", "quality_score",
                       "simhash16"])
def test_kernel_plan_tokenizes_once(edge, kernel):
    """One ``split(`` per kernel in the optimized plan. Higher-order
    functions are interpreted and get no subexpression elimination, so
    every textual copy of the tokenizer is one evaluation per row (the
    unbound kernels held 3, 57, 9 and 16)."""
    assert _optimized(edge, kernel("text")).count("split(") == 1


def test_repetition_stats_plan_tokenizes_once(edge):
    """repetition_stats names its sorted n-grams in three columns; they are
    bound once, so its plan holds one tokenizer (15 when every naming
    rebuilt them)."""
    from roddy_spark.operators.textquality import repetition_stats
    out = repetition_stats(edge, id_col="id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1


@pytest.mark.parametrize("scorer", ["lm_crossentropy", "nb_quality_score"])
def test_lm_scorers_plan_tokenizes_once(edge, scorer):
    """Both token-fold scorers select the tokens into a column once: the
    token count, the fold's argument and the zero-token guard read it, so
    the plan holds one tokenizer (4 when each use named it)."""
    from roddy_spark.operators import textquality as Q
    refs = (edge,) * (1 if scorer == "lm_crossentropy" else 2)
    out = getattr(Q, scorer)(edge, *refs, id_col="id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
