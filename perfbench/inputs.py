"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is made here from ``--seed`` and
written as parquet into the run's work directory, so the program receives
only generated inputs.  The dictionaries are plain Python (the planted
truth in ``truth.py`` is derived from the same rows); the page corpora come
from the package's own deterministic ``generate_pages`` with a seed-picked
page range and the dictionary's names as planted labels.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pandas as pd

NAMESPACES = ("CHEBI", "mesh", "wikidata")
LEXICAL = "semapv:LexicalMatching"
MANUAL = "semapv:ManualMappingCuration"
EXACT = "skos:exactMatch"

# Words the page generator and the mention sentence use; dictionary tokens
# avoid them so a label can only occur where it was planted.
_RESERVED = set(
    (
        "the quick brown fox jumps over a lazy dog while many researchers study new "
        "data systems for large scale text processing and web analysis with modern "
        "tools that index billions of pages every day der die das und ist nicht mit "
        "ein zu den viele forscher untersuchen neue daten systeme im netz jeden tag "
        "el la de que y en un es los por muchos sistemas de datos web analizan "
        "paginas cada dia we discuss in detail doc"
    ).split()
)
_CONS = "bdfgklmnprstvz"
_VOWS = "aeiou"


def _tokens(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct pronounceable pseudo-words of three syllables."""
    out: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(_CONS) + rng.choice(_VOWS) for _ in range(3))
        if w not in _RESERVED:
            out.add(w)
    return sorted(out, key=lambda _: rng.random())


@dataclass
class Dictionary:
    """A label dictionary plus the curated and xref tables that go with it."""

    labels: list[dict]  # LABELS_SCHEMA rows
    curated: list[dict]  # MAPPING_SCHEMA subset rows
    xrefs: list[dict]  # XREFS_SCHEMA rows
    names: list[str]  # distinct primary names, for planting into pages
    hub: str  # the name shared by many CHEBI and mesh ids
    stats: dict = field(default_factory=dict)


def make_dictionary(
    seed: int,
    *,
    n_concepts: int,
    hub_ids: int,
    n_chains: int = 0,
    chain_len: int = 4,
    n_curated: int = 0,
    n_xrefs: int = 0,
) -> Dictionary:
    """Concepts spread over three namespaces with cross-namespace name
    collisions (the all-by-all candidates), optional synonym chains that
    join several concepts into one component, and one hub name.

    Every dictionary token is used by exactly one name, so no label is a
    sub-phrase of another and every mention span is unambiguous.
    """
    rng = random.Random(seed)
    toks = _tokens(rng, 2 * n_concepts + 2)
    names = []
    for i in range(n_concepts):
        names.append(toks[2 * i] if rng.random() < 0.5 else f"{toks[2 * i]} {toks[2 * i + 1]}")
    hub = toks[-1]
    rows: list[dict] = []
    curies: dict[int, dict[str, str]] = {}

    def add(prefix: str, ident: str, name: str, synonym: bool) -> None:
        rows.append(
            {
                "prefix": prefix,
                "identifier": ident,
                "name": name,
                "norm_text": name,
                "is_synonym": synonym,
                "source_version": "2026-01",
            }
        )

    ident = {"CHEBI": lambda i: str(100000 + i), "mesh": lambda i: f"D{500000 + i}",
             "wikidata": lambda i: f"Q{9000000 + i}"}
    for i, name in enumerate(names):
        r = rng.random()
        spaces = (
            ("CHEBI",) if r < 0.2 else ("mesh",) if r < 0.35 else
            ("CHEBI", "mesh") if r < 0.75 else ("mesh", "wikidata") if r < 0.85 else NAMESPACES
        )
        curies[i] = {}
        for ns in spaces:
            add(ns, ident[ns](i), name, False)
            curies[i][ns] = f"{ns}:{ident[ns](i)}"
    # synonym chains: the mesh entry of concept j also carries concept j+1's
    # name, so the chain's cross-namespace matches link into one component
    order = list(range(n_concepts))
    rng.shuffle(order)
    chained = 0
    for c in range(n_chains):
        chain = order[c * chain_len:(c + 1) * chain_len]
        for a, b in zip(chain, chain[1:]):
            if "mesh" in curies[a]:
                add("mesh", curies[a]["mesh"].split(":", 1)[1], names[b], True)
                chained += 1
    for k in range(hub_ids):
        add("CHEBI", str(900000 + k), hub, False)
        add("mesh", f"H{k:05d}", hub, True)
    # candidate pairs the curated table and xrefs will exclude
    multi = [i for i in range(n_concepts) if len(curies[i]) >= 2]
    rng.shuffle(multi)
    curated = []
    for i in multi[:n_curated]:
        cs = sorted(curies[i].values(), reverse=True)
        kind = rng.random()
        just, modifier = (
            (LEXICAL, None) if kind < 0.4 else (MANUAL, None) if kind < 0.8 else (MANUAL, "Not")
        )
        curated.append(
            {
                "subject_id": cs[0],
                "subject_label": names[i],
                "predicate_id": EXACT,
                "predicate_modifier": modifier,
                "object_id": cs[1],
                "object_label": names[i],
                "mapping_justification": just,
                "confidence": 1.0,
                "status": "positive" if modifier is None else "negative",
            }
        )
    xrefs = []
    for i in multi[n_curated:n_curated + n_xrefs]:
        cs = sorted(curies[i].values(), reverse=True)
        xrefs.append({"entity_curie": cs[0], "mapped_prefix": cs[1].split(":", 1)[0]})
    return Dictionary(
        labels=rows,
        curated=curated,
        xrefs=xrefs,
        names=names,
        hub=hub,
        stats={"label_rows": len(rows), "chain_synonyms": chained},
    )


def dictionary_frames(spark, d: Dictionary, out_dir: str) -> dict:
    """Persist the dictionary tables as parquet and return them read back."""
    from sssom_curator_spark.schema import LABELS_SCHEMA, MAPPING_SCHEMA, XREFS_SCHEMA

    frames = {}
    for name, rows, schema in (
        ("labels", d.labels, LABELS_SCHEMA),
        ("curated", d.curated, MAPPING_SCHEMA),
        ("xrefs", d.xrefs, XREFS_SCHEMA),
    ):
        cols = [f.name for f in schema.fields]
        pdf = pd.DataFrame([[r.get(c) for c in cols] for r in rows], columns=cols, dtype=object)
        path = f"{out_dir}/{name}"
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode("overwrite").parquet(path)
        frames[name] = spark.read.parquet(path)
    return frames


def write_pages(spark, path: str, *, n: int, start: int, labels: list[str], hub: str,
                n_sentences: int, files: int) -> None:
    """``generate_pages`` over ``[start, start+n)`` with ``labels`` planted."""
    from sssom_curator_spark.sources.pages import generate_pages

    pages = generate_pages(
        spark, n, start=start, labels=labels, hub_label=hub, n_sentences=n_sentences
    )
    pages.repartition(files).write.mode("overwrite").parquet(path)
