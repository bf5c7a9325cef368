"""Semantic tests for the Gopher quality-rule panel on CONSTRUCTED
documents — each rule is tripped by a document built to violate
exactly that rule (the oracle gate is blind to a bug implemented
identically in both engines, CLAUDE.md), with the expected flag
values computed by hand from the published thresholds."""

import pytest

from pdftotext_spark.operators import textstats as ts

pytestmark = pytest.mark.spark


GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs back "
    "home with great speed that nobody could have expected to see "
    "because the fox was very fast and the dog was very slow and the "
    "race was over before it began with the fox far ahead of the dog "
    "and that was that for the day with everyone happy"
)  # 62 words, all alphabetic, plenty of stopwords, mean len in range


def _rows(spark, rows):
    return {
        r.doc_id: r
        for r in ts.gopher_quality_for(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }


def test_good_document_passes_all_rules(spark):
    r = _rows(spark, [(1, GOOD)])[1]
    assert r.keep
    assert (
        r.ok_word_count
        and r.ok_word_len
        and r.ok_symbol_ratio
        and r.ok_line_shape
        and r.ok_alpha_words
        and r.ok_stopwords
    )
    assert r.n_words == 62


def test_word_count_bounds(spark):
    short = "the dog and the fox with that have be to of"  # 11 words < 50
    got = _rows(spark, [(1, short), (2, GOOD)])
    assert not got[1].ok_word_count and not got[1].keep
    assert got[2].ok_word_count


def test_mean_word_length_bounds(spark):
    # 50+ words of length 1 -> mean 1 < 3; stopword-rich base keeps
    # the other rules out of the way
    tiny = " ".join(["a"] * 60) + " the the"
    long_w = " ".join(["extraordinarily"] * 60) + " the the"  # mean ~14.9
    got = _rows(spark, [(1, tiny), (2, long_w), (3, GOOD)])
    assert not got[1].ok_word_len
    assert not got[2].ok_word_len
    assert got[3].ok_word_len
    assert got[2].mean_word_len > ts.GOPHER_MAX_WORD_LEN


def test_symbol_ratio_rules(spark):
    hashy = GOOD + " " + " ".join(["#"] * 10)  # 10 '#' / 72 words > 0.1
    elly = GOOD + " " + " ".join(["..."] * 10)
    got = _rows(spark, [(1, hashy), (2, elly), (3, GOOD)])
    assert not got[1].ok_symbol_ratio and not got[1].keep
    assert not got[2].ok_symbol_ratio
    assert got[3].ok_symbol_ratio
    assert got[1].hash_ratio > ts.GOPHER_MAX_HASH_RATIO


def test_line_shape_rules(spark):
    bullets = "\n".join(f"- {GOOD}" for _ in range(10))  # 100% bullet lines
    ells = "\n".join(
        [f"{GOOD} ..."] * 4 + [GOOD] * 6
    )  # 40% ellipsis-ended > 30%
    mixed = "\n".join([f"- {GOOD}"] * 8 + [GOOD] * 2)  # 80% <= 90% -> ok
    got = _rows(spark, [(1, bullets), (2, ells), (3, mixed), (4, GOOD)])
    assert not got[1].ok_line_shape and got[1].bullet_line_frac == 1.0
    assert not got[2].ok_line_shape and got[2].ellipsis_line_frac == 0.4
    assert got[3].ok_line_shape
    assert got[4].ok_line_shape
    # unicode ellipsis and '*' bullets count too
    uni = "\n".join([f"* {GOOD}"] * 10)
    ue = "\n".join([f"{GOOD} …"] * 5 + [GOOD] * 5)
    got2 = _rows(spark, [(5, uni), (6, ue)])
    assert got2[5].bullet_line_frac == 1.0
    assert got2[6].ellipsis_line_frac == 0.5


def test_alpha_word_fraction(spark):
    # 62 alpha words + 40 numeric -> 62/102 < 0.8
    nums = GOOD + " " + " ".join(str(i) for i in range(100, 140))
    got = _rows(spark, [(1, nums), (2, GOOD)])
    assert not got[1].ok_alpha_words and not got[1].keep
    assert got[2].ok_alpha_words and got[2].alpha_word_frac == 1.0


def test_stopword_occurrence_rule(spark):
    # >= 2 OCCURRENCES of the 8-word set (datatrove reading): one
    # 'the' fails, two pass — even when it is the same word twice
    base = " ".join(["fox"] * 60)
    got = _rows(
        spark,
        [(1, base), (2, base + " the"), (3, base + " the the"),
         (4, base + " the with")],
    )
    assert got[1].n_stopwords == 0 and not got[1].ok_stopwords
    assert got[2].n_stopwords == 1 and not got[2].ok_stopwords
    assert got[3].n_stopwords == 2 and got[3].ok_stopwords
    assert got[4].n_stopwords == 2 and got[4].ok_stopwords


def test_empty_and_zero_word_documents_emit_rows(spark):
    got = _rows(spark, [(1, ""), (2, "   ")])
    for d in (1, 2):
        r = got[d]
        assert r.n_words == 0 and not r.keep
        assert r.mean_word_len == 0.0 and r.alpha_word_frac == 0.0


def test_stopwords_match_whole_tokens_only(spark):
    # 'theme'/'andante' must not count as 'the'/'and'
    base = " ".join(["theme andante"] * 30)
    got = _rows(spark, [(1, base)])
    assert got[1].n_stopwords == 0


def test_registered_query_parity_shape(spark):
    """Registered wrapper: one row per document, keep is the exact
    conjunction of the six flags."""
    sf = "/root/testdata/sf0.001"
    rows = ts.gopher_quality(spark, sf).collect()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows:
        assert r.keep == (
            r.ok_word_count
            and r.ok_word_len
            and r.ok_symbol_ratio
            and r.ok_line_shape
            and r.ok_alpha_words
            and r.ok_stopwords
        )


# ------------------------------------------------- repetition panel


def _rep(spark, rows):
    return {
        r.doc_id: r
        for r in ts.gopher_repetition_for(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }


def test_repetition_good_doc_passes(spark):
    got = _rep(spark, [(1, GOOD)])[1]
    assert got.keep
    assert got.ok_dup_lines and got.ok_top_ngram and got.ok_dup_ngram
    assert got.dup_line_frac == 0.0


def test_top_bigram_char_fraction_hand_checked(spark):
    # "ab cd" repeated 5x + filler: top 2-gram "ab cd" (len 5) occurs
    # 5 times -> 25 chars over the text length; also trips 0.20
    text = "ab cd " * 5 + "x y z w v u t s q r"
    r = _rep(spark, [(1, text)])[1]
    exp = 25 / len(text)
    assert r.top_2gram_char_frac == pytest.approx(round(exp, 4))
    assert not r.ok_top_ngram and not r.keep


def test_dup_5gram_char_fraction_hand_checked(spark):
    # the 5-gram "a b c d e" (9 chars) appears twice in distinct
    # contexts; second occurrence counts as duplicate. Overlapping
    # derived dup 5-grams do not exist here because contexts differ.
    text = "a b c d e x1 x2 x3 a b c d e y1 y2 y3"
    r = _rep(spark, [(1, text)])[1]
    assert r.dup_5gram_char_frac == pytest.approx(round(9 / len(text), 4))
    # 9/37 = 0.2432 > 0.15 -> rule fires
    assert not r.ok_dup_ngram and not r.keep


def test_duplicate_line_rules_hand_checked(spark):
    # 4 lines, "same line" repeated 3x -> dup_line_cnt=2, frac=0.5;
    # dup chars = 2*len("same line")
    text = "same line\nsame line\nsame line\nunique and much longer line"
    r = _rep(spark, [(1, text)])[1]
    assert r.dup_line_frac == pytest.approx(0.5)
    assert r.dup_line_char_frac == pytest.approx(round(18 / len(text), 4))
    assert not r.ok_dup_lines and not r.keep


def test_duplicate_paragraph_rule_fires_where_line_rule_cannot(spark):
    # One single-line paragraph P repeated 3x + one long multi-line
    # unique paragraph: paragraph COUNT fraction = 2/4 = 0.5 (> 0.3,
    # fires) while the line fraction is diluted by the 12 unique
    # lines to 4/18 = 0.222 (<= 0.3, passes) — the paragraph rule is
    # genuinely new signal, not a restatement of the line rule.
    p = "alpha beta gamma delta"
    u = "\n".join(
        f"unique filler line {i} with some extra words" for i in range(12)
    )
    text = "\n\n".join([p, p, p, u])
    r = _rep(spark, [(1, text)])[1]
    assert r.dup_para_frac == pytest.approx(0.5)
    assert r.dup_para_char_frac == pytest.approx(
        round(2 * len(p) / len(text), 4)
    )
    assert not r.ok_dup_paras and not r.keep
    # 18 lines (3x P, 3 blank separators, 12 unique), 14 distinct
    assert r.dup_line_frac == pytest.approx(round(4 / 18, 4))
    assert r.ok_dup_lines


def test_single_block_doc_passes_paragraph_rule(spark):
    # no blank line -> one paragraph -> zero duplication by definition
    r = _rep(spark, [(1, "one two three\nfour five six")])[1]
    assert r.dup_para_frac == 0.0 and r.ok_dup_paras


def test_repetition_empty_and_short_docs_pass(spark):
    got = _rep(spark, [(1, ""), (2, "one"), (3, "one two")])
    for d in (1, 2, 3):
        assert got[d].keep, d
        assert got[d].dup_10gram_char_frac == 0.0


def test_repetition_python_replay_randomized(spark):
    """Independent pure-Python replay of every panel statistic on a
    seeded random corpus (third engine vs the DuckDB twin)."""
    import random
    from collections import Counter

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = []
    for d in range(1, 25):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        if rng.random() < 0.4 and len(words) >= 6:
            words += words[:6]  # plant repetition
        rows.append((d, " ".join(words)))

    got = _rep(spark, rows)
    for d, text in rows:
        a = [w for w in text.lower().split(" ") if w]
        tc = max(len(text), 1)
        for n, col in [(2, "top_2gram_char_frac"), (4, "top_4gram_char_frac")]:
            grams = [" ".join(a[i : i + n]) for i in range(len(a) - n + 1)]
            cnt = Counter(grams)
            top = max(
                (c * len(g) for g, c in cnt.items() if c >= 2), default=0
            )
            assert getattr(got[d], col) == pytest.approx(
                round(top / tc, 4)
            ), (d, n)
        for n in (5, 10):
            grams = [" ".join(a[i : i + n]) for i in range(len(a) - n + 1)]
            cnt = Counter(grams)
            dup = sum((c - 1) * len(g) for g, c in cnt.items())
            assert getattr(
                got[d], f"dup_{n}gram_char_frac"
            ) == pytest.approx(round(dup / tc, 4)), (d, n)


def catalyst_repetition_signature(df, keys):
    """Differential twin of ``ts.repetition_signature``: the Catalyst
    plan its row function replaced. One explode of every n-gram of
    the word array ``a`` (<= 9 rows per word), a count per (doc, n,
    gram), a max/sum per (doc, n), one row per doc, joined back onto
    ``keys`` (a doc without grams reads 0)."""
    from pyspark.sql import functions as F

    grams = df.select(
        "doc_id",
        F.explode(
            F.flatten(
                F.expr(
                    f"transform(array({', '.join(map(str, ts.REP_NS))}), n -> "
                    "CASE WHEN size(a) >= n THEN "
                    "transform(sequence(1, size(a) - n + 1), "
                    "i -> named_struct('n', n, 'g', "
                    "concat_ws(' ', slice(a, i, n)))) "
                    "ELSE array() END)"
                )
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.n").alias("n"), F.col("s.g").alias("g"))
    per_n = (
        grams.groupBy("doc_id", "n", "g")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id", "n")
        .agg(
            F.max(
                F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("g"))
            ).alias("top_chars"),
            F.sum((F.col("cnt") - 1) * F.length("g")).alias("dup_chars"),
        )
    )
    sig = per_n.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(
                    F.col("n") == n,
                    F.col("top_chars" if n in ts.GOPHER_REP_TOP else "dup_chars"),
                )
            ).alias(c)
            for n, c in zip(ts.REP_NS, ts.REPETITION_FIELDS)
        ]
    )
    return (
        df.select(*keys)
        .join(sig, "doc_id", "left")
        .select(
            *keys,
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                for c in ts.REPETITION_FIELDS
            ],
        )
    )


def _twin_corpus():
    """Seeded documents for the signature twin: words the JVM and
    Python could count differently (Greek final sigma, dotted capital
    I, sharp s, an astral-plane emoji), empty and whitespace-only
    texts, texts shorter than every n, planted repeats and one
    2,000-word document."""
    import random

    rng = random.Random(17)
    vocab = [
        "ΟΔΟΣ", "λόγος", "İstanbul", "İ", "Straße", "ß", "🙂", "a🙂b",
        "aa", "bb", "cc", "dd", "ee",
    ]
    rows = [(1, ""), (2, "   \n  \n\n "), (3, "ΟΔΟΣ"), (4, None)]
    for d in range(5, 45):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 40))]
        if rng.random() < 0.5 and len(words) >= 10:
            words += words[:10]  # plant repetition up to n = 10
        sep = rng.choice([" ", "  ", "\n", " \n\n "])
        rows.append((d, sep.join(words)))
    long_words = [rng.choice(vocab) for _ in range(1900)]
    long_words += long_words[500:600]
    rows.append((45, " ".join(long_words)))
    return rows


def test_repetition_row_function_matches_catalyst_twin(spark):
    """The row function and the Catalyst twin give every document the
    same n-gram signature ``t2..t4``, ``d5..d10``."""
    from pyspark.sql import functions as F

    rows = _twin_corpus()
    base = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), x -> x <> '')").alias("a"),
    )
    got = {
        r.doc_id: tuple(r)[1:]
        for r in ts.repetition_signature(base, ["doc_id"]).collect()
    }
    want = {
        r.doc_id: tuple(r)[1:]
        for r in catalyst_repetition_signature(base, ["doc_id"]).collect()
    }
    assert len(got) == len(rows)
    assert got == want
    # no empty or too-short document scores, and every statistic is
    # exercised somewhere (the 2,000-word document repeats 100 words)
    for d in (1, 2, 3, 4):
        assert got[d] == (0,) * len(ts.REPETITION_FIELDS), d
    assert all(v > 0 for v in got[45])


# ------------------------------------------------------ C4 cleaning


def _c4(spark, rows):
    return {
        r.doc_id: r
        for r in ts.c4_quality_for(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }


C4_GOOD = "\n".join(
    [
        "This is a perfectly reasonable first sentence.",
        "Here is another sentence that ends properly!",
        "Does this one end with a question mark?",
        'A quoted line can end with a quote."',
        "And one more plain terminal sentence.",
    ]
)


def test_c4_good_page_kept_and_cleaned_text_identity(spark):
    r = _c4(spark, [(1, C4_GOOD)])[1]
    assert r.keep
    assert r.n_lines == 5 and r.n_kept_lines == 5
    assert r.cleaned_text == C4_GOOD
    # 3 periods + 1 bang + 1 question = 5 sentences
    assert r.n_sentences == 5


def test_c4_line_rules(spark):
    text = "\n".join(
        [
            "No terminal punctuation here",  # dropped: no terminal
            "Too short.",  # dropped: < 3 words
            "This javascript line must be dropped.",  # dropped: js
            "This line is kept because it qualifies.",
        ]
    )
    r = _c4(spark, [(1, text)])[1]
    assert r.n_lines == 4 and r.n_kept_lines == 1
    assert r.cleaned_text == "This line is kept because it qualifies."
    assert not r.keep  # only 1 sentence < 5


def test_c4_policy_phrase_lines_dropped(spark):
    """The paper's six published cookie/ToS boilerplate phrases drop
    the LINE (case-insensitive), not the page."""
    policy_lines = [
        "By continuing you accept our Terms of Use without reserve.",
        "Please read the full privacy policy before registering.",
        "Our cookie policy explains the tracking technologies used.",
        "This site uses cookies to improve your experience.",
        "The use of cookies is described in a separate notice.",
        "We use cookies for the shopping basket to work.",
    ]
    text = "\n".join([*policy_lines, C4_GOOD])
    r = _c4(spark, [(1, text)])[1]
    assert r.n_lines == 6 + 5 and r.n_kept_lines == 5
    assert r.cleaned_text == C4_GOOD
    assert r.keep  # the page survives; only the lines are stripped


def test_c4_page_rules(spark):
    lorem = C4_GOOD + "\nSome lorem ipsum filler appears here."
    brace = C4_GOOD + "\nfunction f() { return 1; }"
    got = _c4(spark, [(1, lorem), (2, brace), (3, C4_GOOD)])
    assert got[1].has_lorem_ipsum and not got[1].keep
    assert got[2].has_curly_brace and not got[2].keep
    assert got[3].keep


def test_c4_empty_text(spark):
    r = _c4(spark, [(1, "")])[1]
    assert r.n_kept_lines == 0 and r.cleaned_text == "" and not r.keep


# ------------------------------------------------------ FineWeb


def _fw(spark, rows):
    return {
        r.doc_id: r
        for r in ts.fineweb_quality_for(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }


FW_GOOD = "\n".join(
    [
        "This is a long and perfectly reasonable prose line for tests.",
        "Here is another long sentence that ends with terminal punctuation!",
        "Every line here is comfortably beyond the short-line threshold.",
    ]
)


def test_fineweb_good_doc_passes_hand_checked(spark):
    r = _fw(spark, [(1, FW_GOOD)])[1]
    assert r.keep
    assert r.n_lines == 3
    assert r.line_punct_ratio == 1.0
    assert r.short_line_frac == 0.0 and r.char_dup_frac == 0.0
    # 2 newlines / 30 words
    assert r.newline_word_ratio == pytest.approx(round(2 / 30, 4))


def test_fineweb_line_punct_rule(spark):
    # 9 of 10 long lines end without terminal punctuation -> ratio
    # 0.1 <= 0.12 -> only the punct rule fires
    lines = [
        f"a rather long line number {i} that simply trails off with no end"
        for i in range(9)
    ] + ["the single line that terminates the way prose normally would."]
    r = _fw(spark, [(1, "\n".join(lines))])[1]
    assert r.line_punct_ratio == pytest.approx(0.1)
    assert not r.ok_line_punct and not r.keep
    assert r.ok_short_lines and r.ok_char_dup and r.ok_list_ratio


def test_fineweb_short_line_rule(spark):
    # all lines end with '.' but are <= 30 chars -> short frac 1.0
    lines = [f"short listing row {i}." for i in range(8)]
    r = _fw(spark, [(1, "\n".join(lines))])[1]
    assert r.short_line_frac == 1.0
    assert not r.ok_short_lines and not r.keep
    assert r.ok_line_punct and r.ok_char_dup


def test_fineweb_char_dup_rule_hand_checked(spark):
    # one duplicated 62-char line among otherwise unique prose: dup
    # chars = 62 over ~500 newline-free chars -> ~0.12 >= 0.01 fires
    dup = "this exact navigation banner appears twice on the same page01."
    uniq = [
        f"a unique long paragraph line number {i} with ordinary phrasing."
        for i in range(6)
    ]
    text = "\n".join([dup, *uniq, dup])
    r = _fw(spark, [(1, text)])[1]
    nchars = len(text.replace("\n", ""))
    assert r.char_dup_frac == pytest.approx(round(len(dup) / nchars, 4))
    assert not r.ok_char_dup and not r.keep
    assert r.ok_line_punct and r.ok_short_lines


def test_fineweb_list_ratio_rule(spark):
    # long two-word lines: 9 newlines over 20 words = 0.45 >= 0.3 ->
    # the list detector fires while every other rule stays green
    lines = [
        f"aaaaaaaaaaaaaaaaaaa{i} bbbbbbbbbbbbbbbbbbb{i}." for i in range(10)
    ]
    r = _fw(spark, [(1, "\n".join(lines))])[1]
    assert r.newline_word_ratio == pytest.approx(0.45)
    assert not r.ok_list_ratio and not r.keep
    assert r.ok_line_punct and r.ok_short_lines and r.ok_char_dup


def test_fineweb_empty_and_blank_docs_drop(spark):
    got = _fw(spark, [(1, ""), (2, "   \n \n  ")])
    for d in (1, 2):
        assert not got[d].keep
        assert got[d].n_lines == 0
        assert not got[d].ok_line_punct


# ------------------------------------------------------ panel vote


BENCH_PASSAGE = (
    "astronomers gathered on the high plateau to study the comet as "
    "it crossed the southern sky. their instruments recorded faint "
    "traces of dust streaming behind the bright nucleus. observations "
    "continued through the cold night until clouds finally covered "
    "the horizon. the team compared new measurements with records "
    "from earlier decades. that work later shaped several papers "
    "about orbital drift and solar wind."
)

CLEAN_PASSAGE = (
    "the quick brown fox jumps over the lazy dog while morning "
    "light settles across the quiet valley. farmers walk along "
    "narrow paths carrying baskets of ripe fruit toward the village "
    "market. children laugh near the old stone bridge and watch "
    "silver fish turn beneath clear water. a gentle wind moves "
    "through tall grass and carries distant smells of rain. "
    "everyone agrees that autumn arrived early this year."
)

DUP_PASSAGE = (
    "sailors trimmed the canvas as the harbor lights faded behind "
    "the breakwater and open water began. charts were spread across "
    "the table while the navigator marked a careful course to the "
    "south. waves grew taller through the evening and spray carried "
    "over the rail in long cold sheets. the watch changed at "
    "midnight under a clearing sky. morning brought calmer seas and "
    "a distant line of green coast."
)


def test_curation_pipeline_panels_disagreement(spark, tmp_path):
    """curation_pipeline_panels == curation_pipeline ∩
    quality_vote.keep_majority, proven on a constructed corpus where
    the two actually disagree: a spam doc passes the shallow gate (so
    the base pipeline keeps it) but loses the panel vote 2-of-5
    (repetition: the spam run; C4: no sentences; FineWeb: no
    line-terminal punctuation)."""
    from pdftotext_spark.operators import curation

    # unique tail so the spam doc is NOT an LSH near-dup of any other
    # row — only the panel vote may drop it; no terminal '.' so C4
    # and FineWeb also reject, pushing it below the 3-vote majority
    spam = (
        "spam spam " * 25
        + "the crew counted supplies and wrote careful notes that evening"
    )
    contaminated = BENCH_PASSAGE + " a small appended remark closes it."
    rows = [
        (0, BENCH_PASSAGE, "en", "src0", len(BENCH_PASSAGE)),
        (1, CLEAN_PASSAGE, "en", "src1", len(CLEAN_PASSAGE)),
        (2, spam, "en", "src1", len(spam)),
        (3, contaminated, "en", "src1", len(contaminated)),
        (4, DUP_PASSAGE, "en", "src1", len(DUP_PASSAGE)),
        (5, DUP_PASSAGE, "en", "src2", len(DUP_PASSAGE)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    base = {r.doc_id for r in curation.curation_pipeline(spark, sf).collect()}
    panels = {
        r.doc_id
        for r in curation.curation_pipeline_panels(spark, sf).collect()
    }
    # base: benchmark src0 excluded (0), contaminated copy dropped
    # (3), exact dedup keeps the min-id copy of the duplicate (4 not
    # 5); the spam doc passes the shallow gate
    assert base == {1, 2, 4}
    # panels: the 2-of-5 vote removes the spam doc — the engineered
    # disagreement — and nothing else changes
    assert panels == {1, 4}
    # intersection identity vs the standalone vote
    vote = {
        r.doc_id: r for r in curation.quality_vote(spark, sf).collect()
    }
    assert vote[2].n_keep_votes == 2 and not vote[2].keep_majority
    majority = {d for d, r in vote.items() if r.keep_majority}
    assert panels == base & majority


def test_curation_funnel_coherence(spark, sf_dir, tmp_path):
    """Every funnel stage's count is the size of the intersection of
    the standalone survivor sets up to that stage, in application
    order, and the final row equals the panels pipeline's survivor
    count.  On the sf0.001 corpus the shallow gate and exact dedup drop
    nothing, so two rows are planted to make every stage drop a doc:
    a one-line doc the shallow gate rejects, and a higher-id copy of
    a doc that passes the vote, which exact dedup drops.  A fold that
    swapped two stage markers then changes some count."""
    from pyspark.sql import functions as F

    from pdftotext_spark.operators import curation, dedup

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    voted = curation.quality_vote(spark, sf_dir).filter(
        "keep_majority AND keep_shallow"
    )
    orig = (
        base.filter(F.col("source") != "src0")
        .join(voted, "doc_id", "left_semi")
        .orderBy("doc_id")
        .first()
    )
    top = base.agg(F.max("doc_id")).first()[0]
    planted = spark.createDataFrame(
        [
            (top + 1, "too short.", "en", "src1", 10),
            (top + 2, orig.text, orig.lang, "src1", orig.n_chars),
        ],
        base.schema,
    )
    base.unionByName(planted).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    rows = sorted(
        curation.curation_funnel(spark, sf).collect(),
        key=lambda r: r.stage_idx,
    )
    assert [r.stage for r in rows] == list(curation._FUNNEL_STAGES)
    counts = [r.n_docs for r in rows]

    docs = spark.read.parquet(f"{sf}/documents.parquet")

    def ids(df, col="doc_id"):
        return {r[0] for r in df.select(col).collect()}

    corpus = ids(docs)
    lsh_losers = ids(dedup.minhash_lsh_pairs(spark, sf), "doc_b")
    stages = [
        ids(docs.filter(F.col("source") != "src0")),
        ids(docs.filter(ts.qf_keep_predicate())),
        ids(curation.quality_vote(spark, sf).filter("keep_majority")),
        ids(dedup.dedup_exact(spark, sf), "canonical_doc_id"),
        corpus - lsh_losers,
        ids(dedup.decontaminate_apply(spark, sf)),
    ]
    survivors, expected = corpus, [len(corpus)]
    for keep in stages:
        survivors = survivors & keep
        expected.append(len(survivors))
    assert counts == expected
    assert all(a > b for a, b in zip(counts, counts[1:])), counts
    final = curation.curation_pipeline_panels(spark, sf).count()
    assert counts[-1] == final


def test_quality_vote_matches_standalone_panels(spark):
    """quality_vote's per-policy flags must equal the standalone
    operators' keeps doc-by-doc, and the compositions must be exact
    functions of the votes (the curation_pipeline coherence rule)."""
    from pdftotext_spark.operators import curation

    sf = "/root/testdata/sf0.001"
    vote = {r.doc_id: r for r in curation.quality_vote(spark, sf).collect()}
    gq = {r.doc_id: r.keep for r in ts.gopher_quality(spark, sf).collect()}
    gr = {
        r.doc_id: r.keep for r in ts.gopher_repetition(spark, sf).collect()
    }
    c4 = {r.doc_id: r.keep for r in ts.c4_quality(spark, sf).collect()}
    fw = {r.doc_id: r.keep for r in ts.fineweb_quality(spark, sf).collect()}
    assert set(vote) == set(gq) == set(gr) == set(c4) == set(fw)
    for d, r in vote.items():
        assert r.keep_gopher_quality == gq[d]
        assert r.keep_gopher_repetition == gr[d]
        assert r.keep_c4 == c4[d]
        assert r.keep_fineweb == fw[d]
        n = sum(
            [r.keep_shallow, r.keep_gopher_quality,
             r.keep_gopher_repetition, r.keep_c4, r.keep_fineweb]
        )
        assert r.n_keep_votes == n
        assert r.keep_all == (n == 5)
        assert r.keep_majority == (n >= 3)
    # the panels must disagree somewhere at this sf or the vote is
    # degenerate evidence
    assert len({
        (r.keep_shallow, r.keep_gopher_quality,
         r.keep_gopher_repetition, r.keep_c4)
        for r in vote.values()
    }) > 1
