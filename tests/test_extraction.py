"""Spark vectorized extraction ≡ single-process reference oracle."""

from __future__ import annotations

import pytest
from hypothesis import given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kgsum_spark.assembly import assemble_turns
from kgsum_spark.extraction import extract_raw_triples, mention_norm, mentions_from_raw
from kgsum_spark.rules import (
    block_key_of,
    extract_sentence,
    normalize_mention,
    split_sentences,
)


def _oracle_extract(transcripts_pdf):
    """Pure-Python single-process extraction over the corpus (the reference
    path: per-row loops as kgsum does, /root/reference/src/preprocessing.py:308)."""
    out = set()
    for _, row in transcripts_pdf.iterrows():
        for sent in split_sentences(row["text"] or ""):
            hit = extract_sentence(sent)
            if hit:
                rule, s, o = hit
                out.add((s, rule.pred, o, row["conv_id"], int(row["turn_idx"])))
    return out


def test_spark_extraction_matches_oracle(spark, transcripts_df, corpus):
    raw = extract_raw_triples(assemble_turns(transcripts_df).drop("rn"))
    got = {
        (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in raw.collect()
    }
    want = _oracle_extract(corpus.transcripts)
    assert got == want


def test_extraction_count_matches_golden(spark, transcripts_df, corpus):
    n = extract_raw_triples(transcripts_df).count()
    assert n == len(corpus.golden)


def test_mentions_norm_and_block(spark, transcripts_df):
    raw = extract_raw_triples(transcripts_df)
    m = mentions_from_raw(raw).limit(500).collect()
    assert len(m) > 0
    for r in m:
        assert r["norm"] == normalize_mention(r["mention"])
        assert r["block_key"] == block_key_of(r["norm"])


def test_mention_norm_matches_python_oracle_on_hostile_strings(spark):
    """The one JVM normalization (mention norms, sameAs edge ends, stage-3
    join keys) equals `rules.normalize_mention` on case-mapping and
    whitespace edge cases: `\r`, NBSP, a diacritic, dotted capital I
    (lowercases to two code points), the Kelvin sign (lowercases to ASCII
    `k`), empty and punctuation-only strings."""
    texts = ["Acme\r\nCorp", "\r", "Acme\u00a0Corp", "\u00a0", "naïve café",
             "\u0130stanbul", "\u212aelvin", "", "---", "  Zorblax  Labs. ",
             "A\u2028B\u3000C"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r[0] for r in df.select(mention_norm(F.col("t"))).collect()]
    assert got == [normalize_mention(t) for t in texts]


def test_part_id_lineage_present(spark, transcripts_df):
    raw = extract_raw_triples(transcripts_df)
    assert raw.filter(F.col("part_id").isNull()).count() == 0


def test_first_match_wins_matches_oracle(spark):
    """ADVICE r1: a sentence fullmatching two rules ('A was created by B
    same as http://u.') emitted 2 triples on the Spark path but 1 from the
    single-process oracle. Both paths must be first-match-wins now."""
    from kgsum_spark.rules import extract_sentence

    s = "A was created by B same as http://u."
    rule, subj, obj = extract_sentence(s)
    df = spark.createDataFrame([("c0", 0, s)], "conv_id string, turn_idx int, text string")
    rows = extract_raw_triples(df).collect()
    assert len(rows) == 1
    assert (rows[0]["pred"], rows[0]["subj"], rows[0]["obj"]) == (rule.pred, subj, obj)


def test_hostile_inputs(spark):
    """None / empty / unicode / huge / near-miss turns must not crash the
    extractor or emit spurious triples."""
    rows = [
        ("c0", 0, None),
        ("c0", 1, ""),
        ("c0", 2, "   "),
        ("c0", 3, "Ünïcødé 漢字 is a test."),          # non-ascii subject: rule obj ok
        ("c0", 4, "almost is a"),                      # near-miss: no final period
        ("c0", 5, "x was created by"),                 # near-miss: missing obj
        ("c0", 6, ("verylong " * 12000) + "Z is a token."),  # ~100KB turn
        ("c0", 7, "A is a b. " * 500),                 # many sentences, one rule
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = extract_raw_triples(df).collect()
    by_turn = {}
    for r in got:
        by_turn.setdefault(r["turn_idx"], []).append(r)
    assert set(by_turn) <= {3, 6, 7}
    assert len(by_turn.get(6, [])) == 1 and by_turn[6][0]["subj"].endswith("Z")
    assert len(by_turn.get(7, [])) == 500
    # unicode subject survives byte-identically
    assert by_turn[3][0]["subj"] == "Ünïcødé 漢字"


def test_empty_dataframe_extraction(spark):
    df = spark.createDataFrame([], "conv_id string, turn_idx int, text string")
    assert extract_raw_triples(df).count() == 0


def _assert_parity_with_oracle(spark, texts):
    """extract_raw_triples over `texts` (one row each) equals the
    single-process oracle (rules.split_sentences + rules.extract_sentence),
    slot kinds included."""
    rows = [(f"c{i}", i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = sorted(
        (r["subj"], r["pred"], r["obj"], r["obj_is_iri"], r["obj_is_mention"],
         r["conv_id"], r["turn_idx"])
        for r in extract_raw_triples(df).collect())
    exp = []
    for i, t in enumerate(texts):
        for s in split_sentences(t or ""):
            hit = extract_sentence(s)
            if hit:
                rule, subj, obj = hit
                exp.append((subj, rule.pred, obj, rule.obj_kind == "I",
                            rule.obj_kind == "M", f"c{i}", i))
    assert got == sorted(exp)
    return got


def test_jvm_fastpath_dispatch_parity_with_oracle(spark):
    """Rows that the old JVM/Python row dispatch sent to Python because
    Java's `.` and Python's `.` disagree on them now take the one Catalyst
    plan and must still match the oracle: the `(?d)` (UNIX_LINES)
    translation keeps `.` off \\r, \\x85 and U+2028 the way Python's is."""
    texts = [
        None, "", "A is a b.", "A is a b. C was created by D.",
        "A was created by B same as http://u.",
        "CR\rX is a b.",                  # \r inside subject
        "A is a b.\rC is a d.",           # \r as split whitespace
        "Ünïcode is a tëst.",
        'E titled "".',                    # empty quoted object
        "tab\tis a b.\n\nH has subject k.",
        "J uses vocabulary http://v.org/v. K has identifier id9.",
        "x is a b is a c.",               # lazy backtracking
        "no anchor sentence here.", "trailing. ",
        "F\x0corm feed is a b.",
        "N\x85L is a b.", "L\u2028S is a b.", "Emoji 😀 is a b.",
        "A is a b\n.", "A is a b.\r\n", 'T titled "a\nb".',
    ]
    assert len(_assert_parity_with_oracle(spark, texts)) > 0


def test_arrow_fastpath_parity_with_python_oracle(spark):
    """Rows that the old Arrow/RE2 fast path handed to the pandas fallback
    because RE2 and Python disagree on whitespace now take the one Catalyst
    plan and must still match the oracle: the explicit class that stands in
    for Python's Unicode `\\s` (\\x0b, \\x1c, \\x85, NBSP, U+2028, U+3000)
    in the sentence split, its negation in the URI slot's `\\S`, and the
    \\x00 byte."""
    texts = [
        None, "", "   ", "A is a b.", "A is a b. C was created by D.",
        "A was created by B same as http://u.",     # two-rule overlap
        "x is a b is a c.",                         # lazy backtracking
        "Ünïcode is a tëst.",
        "NB\xa0SP is a b.", "A is a b.\xa0C is a d.",
        "V\x0bT is a b.",
        "A is a b.\x1cC is a d.",
        "S\x00entinel is a b.",
        'E titled "".',                             # empty quoted object
        "tab\tis a b.\n\nH has subject k.",
        "multi.  space. I has theme t.",
        "no anchor sentence here.",
        "J uses vocabulary http://v.org/v. K has identifier id9.",
        "trailing. ",
        "A is a b.\x85C is a d.", "A is a b.\u2028C is a d.",
        "I\u3000S is a b.", "A is a b.\u3000C is a d.",
        "K same as http://x\u3000y.", "K same as http://x\x85.",
        "K same as http://😀.",
    ]
    assert len(_assert_parity_with_oracle(spark, texts)) > 0


_HOSTILE_ALPHABET = [
    "A", "b", "x", "-", "é", "😀", ".", " ", '"', "/",
    "\t", "\n", "\r", "\x0b", "\x0c", "\x1c", "\x00", "\x85", "\xa0",
    "\u2028", "\u3000",
    " is a ", " was created by ", " same as ", " titled ", "http://",
]


@seed(20261017)
@settings(max_examples=30, deadline=None, database=None)
@given(st.lists(st.lists(st.sampled_from(_HOSTILE_ALPHABET), max_size=24)
                .map("".join), min_size=1, max_size=16))
def test_single_plan_parity_property(spark, texts):
    _assert_parity_with_oracle(spark, texts)


def test_whitespace_and_dot_translation_over_all_code_points(spark):
    """The Java translations of `\\s`, `\\S` and `.` match exactly the code
    points Python's match, over every code point a Spark string can hold
    (all but the surrogates). One row holds them all; Java's
    regexp_replace deletes the matches and Python's re.sub must leave the
    same string."""
    import re
    import sys

    from kgsum_spark.extraction import _java_regex

    allcp = "".join(chr(c) for c in range(sys.maxunicode + 1)
                    if not 0xD800 <= c <= 0xDFFF)
    df = spark.createDataFrame([(allcp,)], "s string")
    pats = [r"\s", r"\S", "."]
    row = df.select(*[F.regexp_replace("s", _java_regex(p), "").alias(f"p{i}")
                      for i, p in enumerate(pats)]).first()
    for i, p in enumerate(pats):
        assert row[f"p{i}"] == re.sub(p, "", allcp), p
    assert len(re.findall(r"\s", allcp)) == 29


def test_translation_guard_rejects_classes_it_cannot_keep_exact():
    from kgsum_spark.extraction import _SPACE, _java_regex

    for bad in (r"[\s]+", r"[^\S]", r"a[\\x]", r"[a[b]]"):
        with pytest.raises(ValueError):
            _java_regex(bad)
    # outside a class an escaped backslash stays a literal, not a \s
    assert _java_regex(r"a\\s") == r"(?d)a\\s"
    assert _java_regex(r"a\s[^\n]") == "(?d)a" + _SPACE + r"[^\n]"


def test_extraction_plan_is_one_jvm_scan(spark, tmp_path):
    """One scan of the source, no Python evaluation node anywhere."""
    path = str(tmp_path / "turns")
    spark.createDataFrame(
        [("c0", 0, "A is a b. C\rD is a e.")],
        "conv_id string, turn_idx int, text string").write.parquet(path)
    raw = extract_raw_triples(spark.read.parquet(path))
    plan = raw._sc._jvm.PythonSQLUtils.explainString(
        raw._jdf.queryExecution(), "formatted")
    for node in ("MapInPandas", "ArrowEvalPython", "PythonUDF",
                 "BatchEvalPython", "Union"):
        assert node not in plan, node
    scans = [ln for ln in plan.splitlines()
             if ln.startswith("(") and " Scan " in ln]
    assert len(scans) == 1, scans
