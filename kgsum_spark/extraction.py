r"""Triple + mention extraction as one Catalyst plan.

`extract_raw_triples` is a single scan of the turns: split each turn into
sentences, explode, pick the first rule (in rule-table order) whose anchored
regex matches the sentence, and capture its two slots. Every step is a
built-in expression, so the plan is whole-stage-codegen'd end to end and
no row crosses into a Python worker. The rule table and the per-sentence
semantics live in `rules.py`, which stays the Python-`re` oracle.

Java regex and Python `re` read the same pattern text differently in two
places that matter here, so every pattern is translated once, at import,
before Spark sees it:

- `.`: Java's default `.` also excludes `\r`, `\x85`, U+2028 and U+2029;
  Python's excludes only `\n`. The `(?d)` (UNIX_LINES) prefix makes `\n`
  Java's only line terminator, so `.` excludes exactly `\n` in both.
- `\s`/`\S`: Java's `\s` is the ASCII class `[ \t\n\x0b\f\r]`;
  Python's str `\s` is Unicode-aware (29 code points, e.g. `\x1c`,
  `\x85`, NBSP, U+3000). Each `\s` becomes an explicit class listing
  exactly the code points Python's `\s` matches, computed from `re` itself
  over every code point, and each `\S` its negation.

`_java_regex` refuses, at import, the patterns it cannot translate
exactly: `\s`, `\S`, an escaped backslash or a nested `[` inside a
`[...]` class. Rule patterns are anchored `^(?:...)\z`; `\z` is the
absolute end of input, so Java's `find()` with that anchor is Python's
`fullmatch`.

Scale notes: extraction is embarrassingly parallel per turn; the only
shuffle upstream is the turn-assembly window's hash partition on conv_id
(pruned entirely when the caller drops `rn`). `part_id`
(spark_partition_id at extraction time) is carried on every output row
as per-partition lineage (north_rule).
"""

from __future__ import annotations

import re
import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rules import RULES, SENTENCE_SPLIT


def _java_class(code_points: list[int], negate: bool = False) -> str:
    """A Java character class listing `code_points`, runs as ranges."""
    runs: list[list[int]] = []
    for c in code_points:
        if runs and c == runs[-1][1] + 1:
            runs[-1][1] = c
        else:
            runs.append([c, c])
    body = "".join(
        f"\\x{{{a:x}}}" if a == b else f"\\x{{{a:x}}}-\\x{{{b:x}}}"
        for a, b in runs)
    return f"[{'^' if negate else ''}{body}]"


# Every code point Python's str `\s` matches (29 of them).
_PY_SPACE = [ord(c) for c in
             re.findall(r"\s", "".join(map(chr, range(sys.maxunicode + 1))))]
_SPACE = _java_class(_PY_SPACE)
_NON_SPACE = _java_class(_PY_SPACE, negate=True)


def _java_regex(pattern: str) -> str:
    """Translate a Python `re` pattern into a Java regex that matches the
    same strings (see the module docstring). Raises ValueError on a
    construct inside a `[...]` class that the translation cannot keep
    exact."""
    out = ["(?d)"]
    in_class = False
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            esc = pattern[i:i + 2]
            if in_class and esc in ("\\s", "\\S", "\\\\"):
                raise ValueError(
                    f"cannot translate {esc!r} inside a class: {pattern!r}")
            out.append(_SPACE if esc == "\\s"
                       else _NON_SPACE if esc == "\\S" else esc)
            i += 2
            continue
        if ch == "[":
            if in_class:
                raise ValueError(
                    f"'[' inside a class is a nested class in Java: {pattern!r}")
            in_class = True
        elif ch == "]" and in_class:
            in_class = False
        out.append(ch)
        i += 1
    return "".join(out)


_SENTENCE_SPLIT_JAVA = _java_regex(SENTENCE_SPLIT)
# `\z` (absolute end of input) has no Python spelling, so it is appended
# after the translation.
_RULES_JAVA = [_java_regex(f"^(?:{r.pattern})") + "\\z" for r in RULES]


def extract_raw_triples(turns: DataFrame) -> DataFrame:
    """turns(conv_id, turn_idx, text, ...) → raw triples with surface-form
    subjects/objects, one row per sentence that fullmatches a rule.

    One scan, one plan: sentence split (Java-regex lookbehind), explode,
    then a first-match-wins CASE chain over the rule table — literal-anchor
    `contains` prefilter, anchored `rlike` dispatch, `regexp_extract`
    capture. The split and rule patterns are the import-time translations
    `_SENTENCE_SPLIT_JAVA` / `_RULES_JAVA`, which match exactly what
    `rules.split_sentences` + `rules.extract_sentence` match on every
    input (module docstring; tests assert parity on hostile text). Null
    text splits to null and explodes to no sentences, as "" does in the
    oracle."""
    sent = turns.select(
        "conv_id", "turn_idx", F.spark_partition_id().alias("part_id"),
        F.explode(F.split(F.col("text"), _SENTENCE_SPLIT_JAVA)).alias("s"),
    ).filter(F.col("s") != "")
    rid = F.lit(-1)
    for i in reversed(range(len(RULES))):
        cond = F.col("s").contains(RULES[i].anchor) & F.col("s").rlike(_RULES_JAVA[i])
        rid = F.when(cond, F.lit(i)).otherwise(rid)
    sent = sent.withColumn("_rid", rid).filter(F.col("_rid") >= 0)
    subj = F.lit(None).cast("string")
    obj = F.lit(None).cast("string")
    pred = F.lit(None).cast("string")
    is_iri = F.lit(None).cast("boolean")
    is_mention = F.lit(None).cast("boolean")
    for i in reversed(range(len(RULES))):
        r = RULES[i]
        c = F.col("_rid") == i
        subj = F.when(c, F.regexp_extract("s", _RULES_JAVA[i], 1)).otherwise(subj)
        obj = F.when(c, F.regexp_extract("s", _RULES_JAVA[i], 2)).otherwise(obj)
        pred = F.when(c, F.lit(r.pred)).otherwise(pred)
        is_iri = F.when(c, F.lit(r.obj_kind == "I")).otherwise(is_iri)
        is_mention = F.when(c, F.lit(r.obj_kind == "M")).otherwise(is_mention)
    return sent.select(
        subj.alias("subj"), pred.alias("pred"), obj.alias("obj"),
        is_iri.alias("obj_is_iri"), is_mention.alias("obj_is_mention"),
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("part_id").cast("int").alias("part_id"))


def mention_norm(c: Column) -> Column:
    """The one mention normalization of the KG path: lowercase, every run
    outside `[a-z0-9]` → one space, trimmed (`rules.normalize_mention` is
    its Python oracle). Mention norms, sameAs edge ends and stage 3's
    canonicalization join keys all use it, so the join keys equal the
    linked norms exactly."""
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def mentions_from_raw(raw: DataFrame) -> DataFrame:
    """Derive the mentions table (FIXTURES.md §3) declaratively from raw
    triples: every subj slot plus every mention-kind obj slot.

    norm = `mention_norm` (reference normalizer analog
    /root/reference/src/pipeline_gemma.py:16-22); block_key = first token
    (token-blocking for the linking join). All JVM-side built-ins.
    """
    # ONE scan: subj always a mention, obj conditionally — emitted together
    # via explode of a 2-slot array (null slot filtered) instead of a
    # 2-leg union that reads the raw-triples source twice.
    slots = F.array(
        F.col("subj"),
        F.when(F.col("obj_is_mention"), F.col("obj")),
    )
    m = (
        raw.select(F.explode(slots).alias("mention"), "conv_id", "turn_idx")
        .filter(F.col("mention").isNotNull())
    )
    return (
        m.withColumn("norm", mention_norm(F.col("mention")))
        .filter(F.col("norm") != "")
        .withColumn("block_key", F.substring_index(F.col("norm"), " ", 1))
    )
