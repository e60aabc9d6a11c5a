"""Single-process reference for the benchmark's output check.

The loop is the one in ``tools/reference_baseline.py`` (``DictTaggerModel``
tags, ``kernels.entities_from_bio_tags`` decodes, the SVO gap rule pairs
mentions), extended to emit rows: the relation is the first predicate
token strictly between subject and object, as in
``operators.triples``.

It runs over the distinct base documents only; replicas share the text,
so a replica's expected rows are its base document's rows under its own
``doc_id``.

Canonical ids are checked by an invariant that holds for both
per-partition and table-wide connected components: within a partition
every surface has one id, co-mentioned surfaces share it, the id is at
most the minimum of the surface's partition-local co-mention component,
and it is a surface of the same table-wide component.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable, List, Sequence, Tuple

from ddaugner_spark import config
from ddaugner_spark.kernels import entities_from_bio_tags
from ddaugner_spark.operators.tagging import DictTaggerModel

Triple = Tuple[int, str, str, str]  # (sent_id, subj, pred, obj)
#: one output row as checked: (doc_id, sent_id, subj, pred, obj,
#: subj_surface, obj_surface), subj/obj being canonical ids
Row = Tuple[int, int, str, str, str, str, str]
COLUMNS = ["doc_id", "sent_id", "subj", "pred", "obj", "subj_surface", "obj_surface"]

_MODEL = DictTaggerModel()
_PRED_WORDS = frozenset(config.PRED_WORDS)


def analyse(text: str) -> Tuple[List[Triple], List[frozenset]]:
    """Triples of one document, and the surface set of each of its
    sentences that holds a mention (its co-mention cliques)."""
    toks = text.split(" ")
    tags = _MODEL.tag_tokens(toks)
    sent_ids, c = [], 0
    for t in toks:
        sent_ids.append(c)
        if t == config.SENT_TERM:
            c += 1
    ents = entities_from_bio_tags(toks, tags)
    pred_pos = [i for i, t in enumerate(toks) if t in _PRED_WORDS]
    triples: List[Triple] = []
    for s in ents:
        for o in ents:
            if not s.end_idx + 1 < o.start_idx <= s.end_idx + 1 + config.TRIPLE_MAX_GAP:
                continue
            if sent_ids[s.start_idx] != sent_ids[o.start_idx]:
                continue
            between = [p for p in pred_pos if s.end_idx < p < o.start_idx]
            if between:
                triples.append((sent_ids[s.start_idx], s.surface, toks[between[0]], o.surface))
    by_sent: dict = {}
    for e in ents:
        by_sent.setdefault(sent_ids[e.start_idx], set()).add(e.surface)
    return triples, [frozenset(s) for s in by_sent.values()]


def single_process_loop(texts: Iterable[str]) -> int:
    """The reference loop over every document; returns the triple count."""
    return sum(len(analyse(t)[0]) for t in texts)


class Reference:
    """Expected rows and co-mention components of a generated table."""

    def __init__(self, base_texts: Sequence[str], stride: int):
        self.stride = stride
        self.triples: List[List[Triple]] = []
        self.cliques: List[List[frozenset]] = []
        for text in base_texts:
            t, c = analyse(text)
            self.triples.append(t)
            self.cliques.append(c)
        #: surface → minimum of its co-mention component over the table
        self.table_components = self.components(range(len(base_texts)))

    def base(self, doc_id: int) -> int:
        return doc_id % self.stride

    def expected(self, doc_ids: Iterable[int]) -> Counter:
        """Multiset of (doc_id, sent_id, subj, pred, obj) surface rows."""
        out: Counter = Counter()
        for d in doc_ids:
            for sent, s, p, o in self.triples[self.base(d)]:
                out[(d, sent, s, p, o)] += 1
        return out

    def components(self, doc_ids: Iterable[int]) -> dict:
        """surface → minimum of its co-mention component over ``doc_ids``."""
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for b in {self.base(d) for d in doc_ids}:
            for clique in self.cliques[b]:
                first, *rest = sorted(clique)
                for s in rest:
                    ra, rb = find(first), find(s)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        return {s: find(s) for s in parent}


def check_partition(rows: Sequence[Row], ref: Reference, doc_ids: Sequence[int]) -> List[str]:
    """Problems found in one partition's output rows; empty when correct."""
    problems: List[str] = []
    got = Counter((r[0], r[1], r[5], r[3], r[6]) for r in rows)
    want = ref.expected(doc_ids)
    if got != want:
        missing, extra = want - got, got - want
        problems.append(
            f"triples differ: {sum(missing.values())} missing, {sum(extra.values())} extra"
            f" (e.g. missing {next(iter(missing), None)}, extra {next(iter(extra), None)})"
        )
    comp = ref.components(doc_ids)
    ids: dict = {}
    for r in rows:
        ids.setdefault(r[5], set()).add(r[2])
        ids.setdefault(r[6], set()).add(r[4])
    by_comp: dict = {}
    for surface, seen in ids.items():
        if len(seen) != 1:
            problems.append(f"surface {surface!r} has ids {sorted(seen)}")
            continue
        (cid,) = seen
        local_min = comp.get(surface, surface)
        table = ref.table_components
        if cid > local_min or table.get(cid) != table.get(surface, surface):
            problems.append(
                f"surface {surface!r} has id {cid!r}; component min {local_min!r} here,"
                f" {table.get(surface, surface)!r} over the table"
            )
        by_comp.setdefault(local_min, set()).add(cid)
    for local_min, seen in by_comp.items():
        if len(seen) != 1:
            problems.append(f"component of {local_min!r} has ids {sorted(seen)}")
    return problems
