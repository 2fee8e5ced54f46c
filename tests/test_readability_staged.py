"""Flesch-Kincaid readability per lang (STAGED for r15).

Oracle differential, an independent Python recompute (re module — a
third regex engine next to Java regex and RE2), a hand-counted crafted
corpus pinned on both engines (known words/sentences/vowel groups and a
score checked against the closed-form constants), and the regex-
semantics pin the staging comment promises (vowel groups cannot span
word boundaries; [.!?]+ runs collapse).
"""

from __future__ import annotations

import math
import re


from talkinghead_datapipeline_spark.queries.textops import (
    READABILITY_ORACLE,
    readability_fk_per_lang,
)
from tests.oracle_harness import duckdb_connection, run_compare


def test_staged_oracle_matches(spark, sf_dir):
    res = run_compare(
        spark, sf_dir, "readability_fk_per_lang", readability_fk_per_lang,
        READABILITY_ORACLE,
    )
    assert res.ok, res.mismatches


def _counts(text: str):
    w = len(re.split(r"\s+", text))
    s = max(1, len(re.findall(r"[.!?]+", text)))
    y = len(re.findall(r"[aeiouy]+", text.lower()))
    return w, s, y


def _scores(sw, ss, sy):
    grade = math.floor(
        (0.39 * (sw / ss) + 11.8 * (sy / sw) - 15.59) * 1000.0
    )
    ease = math.floor(
        (206.835 - 1.015 * (sw / ss) - 84.6 * (sy / sw)) * 1000.0
    )
    return grade, ease


def test_matches_independent_python(spark, sf_dir):
    from collections import defaultdict

    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "documents").filter(
        "length(text) > 0"
    ).select("lang", "text").toPandas()
    sums = defaultdict(lambda: [0, 0, 0, 0])
    for r in pdf.itertuples():
        w, s, y = _counts(r.text)
        acc = sums[r.lang]
        acc[0] += 1
        acc[1] += w
        acc[2] += s
        acc[3] += y
    expect = {}
    for lang, (n, sw, ss, sy) in sums.items():
        grade, ease = _scores(sw, ss, sy)
        expect[lang] = (n, sw, ss, sy, grade, ease)
    got = {
        r["lang"]: (
            r["n_docs"], r["sum_words"], r["sum_sentences"],
            r["sum_syllables"], r["fk_grade_milli"], r["flesch_ease_milli"],
        )
        for r in readability_fk_per_lang(spark, sf_dir).collect()
    }
    assert got == expect


def test_crafted_hand_counted(spark, tmp_path):
    """'See spot run. See spot jump!' — 6 words, 2 sentences, 6 vowel
    groups (ee, o, u, ee, o, u) — hand-checked on both engines, plus the
    boundary cases: vowel groups never span whitespace ('a a' is two),
    '!?' collapses to one sentence run, a no-punctuation doc clamps to
    one sentence."""
    rows = [
        (1, "See spot run. See spot jump!", "en", "s", 28),
        (2, "a a", "xx", "s", 3),            # 2 words, 1 sentence, 2 groups
        (3, "wow!? ok", "yy", "s", 8),        # 2 words, 1 run, 2 groups (o, o)
        (4, "no punctuation here", "zz", "s", 19),  # clamps to 1 sentence
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["lang"]: r
        for r in readability_fk_per_lang(spark, str(tmp_path)).collect()
    }
    en = got["en"]
    assert (en["sum_words"], en["sum_sentences"], en["sum_syllables"]) == (
        6, 2, 6,
    )
    grade, ease = _scores(6, 2, 6)
    assert en["fk_grade_milli"] == grade and en["flesch_ease_milli"] == ease
    assert (got["xx"]["sum_words"], got["xx"]["sum_sentences"],
            got["xx"]["sum_syllables"]) == (2, 1, 2)
    assert (got["yy"]["sum_sentences"], got["yy"]["sum_syllables"]) == (1, 2)
    assert got["zz"]["sum_sentences"] == 1
    con = duckdb_connection(tmp_path)
    orc = {r[0]: r for r in con.execute(READABILITY_ORACLE).fetchall()}
    con.close()
    assert orc["en"][2:5] == (6, 2, 6)
    assert orc["en"][5] == grade and orc["en"][6] == ease
    assert orc["xx"][2:5] == (2, 1, 2)
