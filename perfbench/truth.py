"""Planted truth and output checks, in plain Python.

Nothing here calls the program under test.  The KG truth is derived from
the generated dictionary rows and page rows alone, following the pipeline's
documented semantics: all-by-all candidates inside equal-name buckets
across namespaces (the later CURIE is the subject), minus the curated
(J5), xref (J6) and same-curated-component (J7) exclusions; components over
the accepted edges with the smallest CURIE as representative; evidence per
(surface, entity) from the planted mention sentence of every kept
(English) page.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq

from perfbench.inputs import EXACT, Dictionary

_PREFIX, _SUFFIX = "we discuss ", " in detail"


def planted_surfaces(paths: list[str]) -> Counter:
    """Kept pages per planted surface, read from the persisted page rows.

    The generator writes English, German and Spanish pages; only English
    pages pass the pipeline's language filter, and each page carries at
    most one planted mention sentence.
    """
    counts: Counter = Counter()
    for path in paths:
        table = pq.read_table(path, columns=["text", "lang"])
        for text, lang in zip(table.column("text").to_pylist(), table.column("lang").to_pylist()):
            if lang != "en":
                continue
            for line in text.split("\n"):
                if line.startswith(_PREFIX) and line.endswith(_SUFFIX):
                    counts[line[len(_PREFIX):-len(_SUFFIX)]] += 1
    return counts


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def components(self) -> dict[str, str]:
        groups: dict[str, list[str]] = defaultdict(list)
        for node in list(self.parent):
            groups[self.find(node)].append(node)
        return {n: min(members) for members in groups.values() for n in members}


def mapping_truth(d: Dictionary) -> dict:
    """Expected mapping triples and node→representative map of a dictionary.
    They do not depend on the pages; ``with_evidence`` adds the part that
    does."""
    buckets: dict[str, set] = defaultdict(set)
    for r in d.labels:
        buckets[r["norm_text"]].add((r["prefix"], f"{r['prefix']}:{r['identifier']}"))
    cands = set()
    for members in buckets.values():
        for lp, lc in members:
            for rp, rc in members:
                if lp != rp and lc > rc:
                    cands.add((lc, rc))
    curated_keys = {
        (c["subject_id"], c["object_id"])
        for c in d.curated
        if c["predicate_modifier"] is None and c["mapping_justification"] == "semapv:LexicalMatching"
    }
    xref = {(x["entity_curie"], x["mapped_prefix"]) for x in d.xrefs}
    curated_uf = _UnionFind()
    for c in d.curated:
        if c["predicate_modifier"] is None:
            curated_uf.union(c["subject_id"], c["object_id"])
    curated_cc = curated_uf.components()

    def prefix(curie: str) -> str:
        return curie.split(":", 1)[0]

    accepted = set()
    for s, o in cands:
        if (s, o) in curated_keys:
            continue
        if (s, prefix(o)) in xref or (o, prefix(s)) in xref:
            continue
        if s in curated_cc and o in curated_cc and curated_cc[s] == curated_cc[o]:
            continue
        accepted.add((s, EXACT, o))
    uf = _UnionFind()
    for s, _, o in accepted:
        uf.union(s, o)
    return {"triples": accepted, "components": uf.components(), "buckets": buckets}


def with_evidence(mappings: dict, surfaces: Counter) -> dict:
    """``mappings`` (from ``mapping_truth``) plus the expected evidence of
    a corpus whose planted surfaces are ``surfaces``."""
    evidence = {}
    for surface, n in surfaces.items():
        for _, curie in mappings["buckets"].get(surface, ()):
            evidence[(surface, curie)] = (n, n)
    return {**mappings, "evidence": evidence}


def kg_truth(d: Dictionary, surfaces: Counter) -> dict:
    """Expected mapping triples, node→representative map and evidence."""
    return with_evidence(mapping_truth(d), surfaces)


def check_kg(truth: dict, *, triples=None, components=None, evidence=None) -> list[str]:
    """Problems found in a build's outputs (empty list = correct).

    ``triples``: iterable of (subject, predicate, object); ``components``:
    iterable of (node, component); ``evidence``: iterable of
    (surface, object_id, n_docs, n_mentions).
    """
    problems = []
    if triples is not None:
        got = set(triples)
        want = truth["triples"]
        tp = len(got & want)
        precision = tp / len(got) if got else 1.0
        recall = tp / len(want) if want else 1.0
        if precision != 1.0 or recall != 1.0:
            problems.append(f"mappings P={precision:.4f} R={recall:.4f}")
    if components is not None:
        got_cc = dict(components)
        if got_cc != truth["components"]:
            wrong = sum(1 for n, c in truth["components"].items() if got_cc.get(n) != c)
            extra = len(set(got_cc) - set(truth["components"]))
            problems.append(f"components: {wrong} nodes mislabelled, {extra} unexpected")
    if evidence is not None:
        got_ev = {(s, o): (int(nd), int(nm)) for s, o, nd, nm in evidence}
        if got_ev != truth["evidence"]:
            wrong = sum(1 for k, v in truth["evidence"].items() if got_ev.get(k) != v)
            extra = len(set(got_ev) - set(truth["evidence"]))
            problems.append(f"evidence: {wrong} keys wrong, {extra} unexpected")
    return problems


def read_rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a parquet file or directory as tuples, in ``columns`` order."""
    table = pq.read_table(path, columns=columns)
    return list(zip(*(table.column(c).to_pylist() for c in columns)))


def count_rows(path: str) -> int:
    """Row count of a parquet file or directory, from its metadata."""
    return pq.ParquetDataset(path).read(columns=[]).num_rows
