"""Deterministic synthetic transcript corpus + golden-triple oracle.

This is the stand-in for kgsum's single-node extraction semantics: because
`text` is template-generated, the exact expected triple set is known at
generation time and written alongside the input (FIXTURES.md §2). The golden
set is computed from the template parameters — an independent single-process
path, never by running the Spark pipeline.

Determinism: one `random.Random(seed)` drives everything (reference seed
discipline: /root/reference/src/preprocessing.py:16,
/root/reference/src/pipeline_build.py:425). Same (n_convs, seed) → identical
corpus bytes and golden set.

Corpus shape (FIXTURES.md §1):
  - Zipf-ish conversation lengths 2..64 (skewed per-conv_id partitions);
  - entity vocabulary of ~190 groups × case/punct/abbreviation variants
    (~500 surface forms) with unique coined first tokens so token-blocking
    is exact; a few hot entities carry >10% of mentions (hot-key skew);
  - `aka` spine sentences union groups into chains and a hub component to
    exercise multi-hop connected components;
  - rows are written shuffled so stable (conv_id, turn_idx) re-ordering is
    actually exercised.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .rules import RULES_BY_NAME, canonical_id, normalize_mention

_SYL_A = ["zor", "quin", "vel", "tav", "mor", "bex", "dral", "fen", "gly", "hux",
          "jav", "kel", "lum", "nyx", "plov", "rask", "syl", "trex", "ulm", "wren"]
_SYL_B = ["ara", "ben", "cor", "dex", "eth", "fon", "gar", "hil", "ion", "jor",
          "kan", "lor", "mek", "nor", "oss", "pex", "qua", "rin", "sol", "tur"]
_SUFFIXES = ["Labs", "Corp", "Systems", "Group", "Institute"]

CLASS_WORDS = ["dataset", "ontology", "catalog", "service", "vocabulary",
               "corpus", "index", "registry"]
KEYWORDS = ["genomics", "weather", "finance", "transport", "census", "energy",
            "health", "music", "geospatial", "linguistics", "chemistry", "law"]
THEMES = ["science", "government", "media", "commerce", "culture", "education"]
SUBJECTS = ["biology", "economics", "history", "physics", "sociology", "art"]
IDENT_WORDS = [f"ds-{i:04d}" for i in range(300)]
TITLE_WORDS = ["open", "linked", "global", "annual", "public", "survey",
               "archive", "atlas", "report", "series", "collection", "graph"]
FILLERS = [
    "the quick brown fox jumps over the lazy dog.",
    "see {url} for details.",
    "processing complete.",
    "rows returned {n}.",
    "no further action needed.",
    "let me check that again.",
    "the table looks consistent.",
    "query finished without errors.",
]
TOOLS = ["search", "sql", "browser"]
ROLES = ["user", "assistant", "tool"]

# random-rule mix (aka excluded — aka sentences come only from the planned
# spine so group merges stay book-kept)
_RULE_WEIGHTS = [
    ("isa", 30), ("created_by", 12), ("same_as", 8), ("titled", 10),
    ("described", 6), ("licensed", 6), ("subject", 6), ("keyword", 8),
    ("theme", 5), ("vocab", 5), ("identifier", 4),
]


@dataclass
class EntityGroup:
    gid: int
    base: str                      # canonical surface, e.g. "Zorblax Labs"
    variants: list[str]            # all surface forms

    @property
    def norms(self) -> set[str]:
        return {normalize_mention(v) for v in self.variants}


@dataclass
class Corpus:
    transcripts: pd.DataFrame      # conv_id, turn_idx, role, text, tool, ts
    golden: pd.DataFrame           # subj, pred, obj, obj_is_iri, conv_id, turn_idx
    groups: list[EntityGroup] = field(default_factory=list)


def _make_groups(rnd: random.Random, n_groups: int) -> list[EntityGroup]:
    firsts = [(a + b).capitalize() for a in _SYL_A for b in _SYL_B]
    rnd.shuffle(firsts)
    groups: list[EntityGroup] = []
    for gid in range(n_groups):
        first = firsts[gid]
        two_token = rnd.random() < 0.6
        if two_token:
            base = f"{first} {rnd.choice(_SUFFIXES)}"
            pool = [base, base.lower(), base.replace(" ", "-"), first.upper()]
        else:
            base = first
            pool = [base, base.lower(), base.upper()]
        k = rnd.randint(2, len(pool))
        variants = pool[:k]
        groups.append(EntityGroup(gid, base, variants))
    return groups


class _UF:
    def __init__(self, n: int):
        self.p = list(range(n))

    def find(self, x: int) -> int:
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _aka_spine(n_groups: int) -> list[tuple[int, int]]:
    """Planned group merges: a 12-group chain + a 6-spoke hub (FIXTURES.md §3)."""
    pairs = [(g, g + 1) for g in range(10, 21)]           # chain 10—11—…—21
    pairs += [(30, g) for g in range(31, 37)]             # hub 30—{31..36}
    return [(a, b) for a, b in pairs if a < n_groups and b < n_groups]


def generate_corpus(n_convs: int, seed: int = 42, n_groups: int = 190) -> Corpus:
    rnd = random.Random(seed)
    groups = _make_groups(rnd, n_groups)
    hot = [0, 1, 2]
    uris = [f"http://ex.org/r/{k}" for k in range(200)]
    lic_uris = [f"http://ex.org/license/{k}" for k in range(12)]
    voc_uris = [f"http://vocab.ex.org/{k}#core" for k in range(40)]
    rule_names = [n for n, w in _RULE_WEIGHTS for _ in range(w)]

    def pick_group() -> EntityGroup:
        if rnd.random() < 0.45:
            return groups[rnd.choice(hot)]
        return groups[rnd.randrange(len(groups))]

    def pick_surface(g: EntityGroup) -> str:
        return rnd.choice(g.variants)

    # pass 1: generate sentences, recording (rule, subj_group, subj_surface,
    # obj_group_or_None, obj_surface) per triple sentence
    rows: list[tuple] = []        # conv_id, turn_idx, role, text, tool, ts
    facts: list[tuple] = []       # conv_id, turn_idx, rule_name, sg, ssurf, og, osurf
    observed: dict[int, set[str]] = {}

    def note(g: EntityGroup, surf: str) -> None:
        observed.setdefault(g.gid, set()).add(normalize_mention(surf))

    def triple_sentence(conv_id: str, turn_idx: int) -> str:
        rname = rnd.choice(rule_names)
        rule = RULES_BY_NAME[rname]
        sg = pick_group()
        ssurf = pick_surface(sg)
        note(sg, ssurf)
        if rule.obj_kind == "M":
            og = pick_group()
            osurf = pick_surface(og)
            note(og, osurf)
            facts.append((conv_id, turn_idx, rname, sg.gid, ssurf, og.gid, osurf))
            return rule.template.format(s=ssurf, o=osurf)
        if rname == "same_as":
            o = rnd.choice(uris)
        elif rname == "licensed":
            o = rnd.choice(lic_uris)
        elif rname == "vocab":
            o = rnd.choice(voc_uris)
        elif rname == "isa":
            o = rnd.choice(CLASS_WORDS)
        elif rname == "titled":
            o = " ".join(rnd.sample(TITLE_WORDS, rnd.randint(2, 4)))
        elif rname == "described":
            o = " ".join(rnd.sample(TITLE_WORDS, rnd.randint(4, 6)))
        elif rname == "subject":
            o = rnd.choice(SUBJECTS)
        elif rname == "keyword":
            o = rnd.choice(KEYWORDS)
        elif rname == "theme":
            o = rnd.choice(THEMES)
        else:  # identifier
            o = rnd.choice(IDENT_WORDS)
        facts.append((conv_id, turn_idx, rname, sg.gid, ssurf, None, o))
        return rule.template.format(s=ssurf, o=o)

    def filler_sentence() -> str:
        f = rnd.choice(FILLERS)
        return f.format(url=rnd.choice(uris), n=rnd.randint(1, 999))

    base_ts = pd.Timestamp("2024-01-01T00:00:00")
    spine = _aka_spine(len(groups))
    aka_rule = RULES_BY_NAME["aka"]

    for ci in range(n_convs):
        conv_id = f"conv-{ci:08d}"
        n_turns = min(64, 2 + int(rnd.paretovariate(1.2)))
        conv_start = base_ts + pd.Timedelta(seconds=ci * 3600)
        for ti in range(n_turns):
            role = ROLES[ti % 3]
            tool = rnd.choice(TOOLS) if role == "tool" else None
            sents = []
            for _ in range(1 if rnd.random() < 0.7 else 2):
                if rnd.random() < 0.55:
                    sents.append(triple_sentence(conv_id, ti))
                else:
                    sents.append(filler_sentence())
            rows.append((conv_id, ti, role, " ".join(sents), tool,
                         conv_start + pd.Timedelta(seconds=ti * 7)))

    # spine conversations: guarantee every planned aka merge occurs
    for si, (ga, gb) in enumerate(spine):
        conv_id = f"conv-spine-{si:04d}"
        a, b = groups[ga], groups[gb]
        sa, sb = rnd.choice(a.variants), rnd.choice(b.variants)
        note(a, sa)
        note(b, sb)
        facts.append((conv_id, 0, "aka", a.gid, sa, b.gid, sb))
        rows.append((conv_id, 0, "user", aka_rule.template.format(s=sa, o=sb),
                     None, base_ts + pd.Timedelta(days=365, seconds=si)))
        rows.append((conv_id, 1, "assistant", "processing complete.", None,
                     base_ts + pd.Timedelta(days=365, seconds=si) + pd.Timedelta(seconds=7)))

    # pass 2: canonical ids — union groups over aka facts, then min observed norm
    uf = _UF(len(groups))
    for _, _, rname, sg, _, og, _ in facts:
        if rname == "aka" and og is not None:
            uf.union(sg, og)
    comp_norms: dict[int, set[str]] = {}
    for gid, norms in observed.items():
        comp_norms.setdefault(uf.find(gid), set()).update(norms)
    canon: dict[int, str] = {
        gid: canonical_id(min(comp_norms[uf.find(gid)])) for gid in observed
    }

    golden_rows = []
    for conv_id, turn_idx, rname, sg, ssurf, og, osurf in facts:
        rule = RULES_BY_NAME[rname]
        subj = canon[sg]
        if rule.obj_kind == "M":
            obj, is_iri = canon[og], False
        elif rule.obj_kind == "I":
            obj, is_iri = osurf, True
        else:
            obj, is_iri = osurf, False
        golden_rows.append((subj, rule.pred, obj, is_iri, conv_id, turn_idx))

    tdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    tdf["turn_idx"] = tdf["turn_idx"].astype("int32")
    # shuffle rows so stable re-ordering is exercised (FIXTURES.md §1)
    perm = np.random.RandomState(seed).permutation(len(tdf))
    tdf = tdf.iloc[perm].reset_index(drop=True)

    gdf = pd.DataFrame(
        golden_rows,
        columns=["subj", "pred", "obj", "obj_is_iri", "conv_id", "turn_idx"],
    )
    gdf["turn_idx"] = gdf["turn_idx"].astype("int32")
    return Corpus(transcripts=tdf, golden=gdf, groups=groups)


def write_corpus(out_dir: str, n_convs: int, seed: int = 42) -> tuple[str, str]:
    """Materialize (and cache) the corpus as parquet; skip if already present
    (reference resume analog: /root/reference/src/dataset_preparation.py:532-534).
    Returns (transcripts_path, golden_path)."""
    tp = os.path.join(out_dir, "transcripts.parquet")
    gp = os.path.join(out_dir, "golden_triples.parquet")
    if os.path.exists(tp) and os.path.exists(gp):
        return tp, gp
    os.makedirs(out_dir, exist_ok=True)
    corpus = generate_corpus(n_convs, seed=seed)
    t = corpus.transcripts.copy()
    # Spark's parquet reader rejects TIMESTAMP(NANOS); write microseconds.
    # Small row groups keep the single file splittable — otherwise the scan
    # is one task and serializes every downstream stage.
    t["ts"] = t["ts"].astype("datetime64[us]")
    t.to_parquet(tp, index=False, row_group_size=10_000)
    corpus.golden.to_parquet(gp, index=False)
    return tp, gp
