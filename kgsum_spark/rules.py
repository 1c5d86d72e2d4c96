"""The closed extraction-rule table, shared by the Spark extractor and the
single-process reference oracle.

kgsum's extraction is a fixed battery of SPARQL patterns over an RDF graph
(/root/reference/src/dataset_preparation.py:26-368); ours is a fixed battery
of sentence templates over transcript text. Determinism discipline mirrors
the reference's seed pinning (/root/reference/src/preprocessing.py:16).

Each rule maps one sentence shape to one (subj, pred, obj) triple. Slots:
  subj — always an entity mention
  obj  — entity mention (M), IRI (I), or literal (L)

The rule regexes are applied with fullmatch semantics per sentence
(sentences split on '(?<=\\.)\\s+'), so a rule never fires on filler text.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# --- normalization (reference analog: label normalization,
# /root/reference/src/pipeline_gemma.py:16-22) ---------------------------

_NORM_RE = re.compile(r"[^a-z0-9]+")


def normalize_mention(s: str) -> str:
    """lowercase, strip punctuation, collapse whitespace."""
    return " ".join(_NORM_RE.sub(" ", s.lower()).split())


def block_key_of(norm: str) -> str:
    """Token-blocking key: first token of the normalized mention."""
    return norm.split(" ", 1)[0] if norm else ""


def jaccard_tokens(a: str, b: str) -> float:
    sa, sb = set(a.split()), set(b.split())
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


# Minimum token-set Jaccard for a similarity edge between two normalized
# mentions sharing a block. 0.5 links an abbreviation ("zorblax") to its
# 2-token full form ("zorblax labs") without linking unrelated names.
JACCARD_THRESHOLD = 0.5

SENTENCE_SPLIT = r"(?<=\.)\s+"

# --- rule table ----------------------------------------------------------

# Entity slot: one or two tokens of letters/digits/hyphens starting with an
# alphanumeric. Non-greedy (.+?) is safe because every template has a unique
# verb anchor and rules are fullmatched per sentence.
_ENT = r"(.+?)"
_QUOTED = r'"([^"]*)"'
_URI = r"(https?://\S+?)"
_WORD = r"([a-z][a-z0-9-]*)"


@dataclass(frozen=True)
class Rule:
    name: str
    pred: str
    pattern: str          # fullmatch pattern with 2 capture groups (subj, obj)
    obj_kind: str         # 'M' mention, 'I' iri, 'L' literal
    template: str         # generation template with {s} and {o}
    anchor: str           # literal substring every match contains (prefilter)


RULES: list[Rule] = [
    Rule("isa", "rdf:type", rf"{_ENT} is a {_WORD}\.", "L", "{s} is a {o}.",
         " is a "),
    Rule("created_by", "dcterms:creator", rf"{_ENT} was created by {_ENT}\.", "M",
         "{s} was created by {o}.", " was created by "),
    Rule("same_as", "owl:sameAs", rf"{_ENT} same as {_URI}\.", "I",
         "{s} same as {o}.", " same as "),
    Rule("aka", "owl:sameAs", rf"{_ENT} also known as {_ENT}\.", "M",
         "{s} also known as {o}.", " also known as "),
    Rule("titled", "dcterms:title", rf"{_ENT} titled {_QUOTED}\.", "L",
         '{s} titled "{o}".', " titled "),
    Rule("described", "dcterms:description", rf"{_ENT} described as {_QUOTED}\.", "L",
         '{s} described as "{o}".', " described as "),
    Rule("licensed", "dcterms:license", rf"{_ENT} licensed under {_URI}\.", "I",
         "{s} licensed under {o}.", " licensed under "),
    Rule("subject", "dcterms:subject", rf"{_ENT} has subject {_WORD}\.", "L",
         "{s} has subject {o}.", " has subject "),
    Rule("keyword", "dcat:keyword", rf"{_ENT} tagged keyword {_WORD}\.", "L",
         "{s} tagged keyword {o}.", " tagged keyword "),
    Rule("theme", "dcat:theme", rf"{_ENT} has theme {_WORD}\.", "L",
         "{s} has theme {o}.", " has theme "),
    Rule("vocab", "void:vocabulary", rf"{_ENT} uses vocabulary {_URI}\.", "I",
         "{s} uses vocabulary {o}.", " uses vocabulary "),
    Rule("identifier", "dcterms:identifier", rf"{_ENT} has identifier {_WORD}\.", "L",
         "{s} has identifier {o}.", " has identifier "),
]

RULES_BY_NAME = {r.name: r for r in RULES}

COMPILED = [(r, re.compile(r.pattern)) for r in RULES]


def canonical_id(norm: str) -> str:
    """Mint a deterministic canonical entity id from a normalized mention
    (reference analog: URL-encoded IRI mint,
    /root/reference/src/generate_profile.py:226-237 — ours is sha-free and
    human-readable; collisions impossible within a closed vocabulary)."""
    return "ent:" + norm.replace(" ", "_")


def extract_sentence(sentence: str):
    """Reference-oracle extraction for ONE sentence (pure Python, used by
    the single-process oracle and unit tests — the Spark path is the
    Catalyst plan in extraction.py, whose Java-regex translations of these
    patterns the tests hold to this function).

    Returns (rule, subj_surface, obj_surface) or None.
    """
    for rule, rx in COMPILED:
        m = rx.fullmatch(sentence)
        if m:
            return rule, m.group(1), m.group(2)
    return None


def split_sentences(text: str) -> list[str]:
    return [s for s in re.split(SENTENCE_SPLIT, text) if s]
