"""Seeded input generator for the benchmark.

Everything the program sees is generated here from one integer seed and
written as parquet: pages in the web-corpus shape ``(url, warc_ts, html,
text, lang)``, the term dictionary, ``curie_norm`` with multi-CURIE
equivalence clusters, ``kg_nodes`` / ``kg_edges``, recrawl increments and
the serving query stream.  The same seed gives the same bytes.

Expected triples are known by construction: every dictionary surface is
made of tokens that occur nowhere else (filler words never contain
``q``, ``x`` or ``z``; surface tokens always do), placed surfaces are
always separated by filler, so the set of surfaces a page matches is
exactly the set the generator placed.  :func:`World.resolve` maps a
surface to its final canonical CURIEs with the engine's documented
rules (link threshold, normalization greenlist, equivalence-component
election), which gives the ground truth per triple family.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

HAS_CONCEPT = "HAS_CONCEPT"
SUBCLASS_OF = "biolink:subclass_of"
CO_MENTIONED = "co_mentioned_with"
FAMILIES = (HAS_CONCEPT, SUBCLASS_OF, CO_MENTIONED)

# engine defaults the truth model mirrors (link.score_candidates threshold,
# normalize.ONTOLOGY_GREENLIST, triples max_concepts_per_doc)
SCORE_THRESHOLD = 0.8
GREENLIST = ("PATO", "CHEBI", "MONDO", "UBERON", "HP", "MESH", "UMLS")
MAX_CONCEPTS_PER_DOC = 64

_PREFIXES = ("MONDO", "HP", "CHEBI", "UBERON")
_CATEGORY = {
    "MONDO": "biolink:Disease",
    "HP": "biolink:PhenotypicFeature",
    "CHEBI": "biolink:SmallMolecule",
    "UBERON": "biolink:AnatomicalEntity",
    "PATO": "biolink:PhenotypicQuality",
}
# (subject prefix, predicate, object prefix) — shapes the expansion
# templates in operators/expand.DEFAULT_QUERIES fire on
_CROSS_EDGES = (
    ("MONDO", "biolink:has_phenotype", "HP"),
    ("MONDO", "biolink:disease_has_location", "UBERON"),
    ("CHEBI", "biolink:treats", "MONDO"),
    ("HP", "biolink:phenotype_has_location", "UBERON"),
)

_FILLER_CONS = "bcdfghjklmnprstvw"
_VOWELS = "aeiou"
_SURF_CONS = "qxz"
_NON_EN = ("straße", "über", "été", "déjà", "größe", "naïve", "français", "mañana")


def _syllable_word(rng: random.Random, cons: str, n_syl: int) -> str:
    return "".join(rng.choice(cons) + rng.choice(_VOWELS) for _ in range(n_syl))


def _ok_token(w: str) -> bool:
    # the annotator's default debreviator rewrites "bmi" and "_" inside
    # any token; keep both out so tokenization is the identity
    return "bmi" not in w and "_" not in w and len(w) >= 4


def filler_words(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        w = _syllable_word(rng, _FILLER_CONS, rng.randint(2, 4))
        if _ok_token(w):
            out.add(w)
    return sorted(out)


def surface_tokens(rng: random.Random, n: int) -> list[str]:
    """Tokens that each carry one of q/x/z, so no filler word equals one."""
    out: set[str] = set()
    while len(out) < n:
        w = _syllable_word(rng, _FILLER_CONS, rng.randint(1, 3))
        pos = rng.randrange(len(w) + 1)
        w = w[:pos] + rng.choice(_SURF_CONS) + rng.choice(_VOWELS) + w[pos:]
        if _ok_token(w):
            out.add(w)
    return sorted(out)


@dataclass
class Concept:
    cid: str
    name: str
    surfaces: list[str]
    parent: str | None = None


@dataclass
class World:
    """Dimension tables plus the truth model over them."""

    dictionary: list[tuple]
    curie_norm: list[tuple]
    kg_nodes: list[tuple]
    kg_edges: list[tuple]
    concepts: list[Concept]
    hot: list[Concept]
    # probe entries with quote/backslash/brace labels (build_dense only)
    probe_dictionary: list[tuple] = field(default_factory=list)
    _canon: dict[str, str] = field(default_factory=dict, repr=False)
    _resolved: dict[str, frozenset] = field(default_factory=dict, repr=False)

    def __post_init__(self):
        self._canon = canonical_ids(self.curie_norm)
        norm = {r[0]: r[1] for r in self.curie_norm}
        by_surface: dict[str, set] = {}
        for term, curie, _label, _types, score in self.dictionary:
            s = by_surface.setdefault(term, set())
            if score is None or score < SCORE_THRESHOLD:
                continue
            if curie in norm:
                pref = norm[curie]
            elif curie.split(":")[0] in GREENLIST:
                pref = curie
            else:
                continue
            s.add(self._canon.get(pref, pref))
        self._resolved = {k: frozenset(v) for k, v in by_surface.items()}

    def resolve(self, surface: str) -> frozenset:
        return self._resolved.get(surface, frozenset())

    def canonical(self, curie: str) -> str:
        return self._canon.get(curie, curie)

    def subclass_parent(self) -> dict[str, str]:
        return {
            e[1]: e[3] for e in self.kg_edges if e[2] == SUBCLASS_OF
        }


def canonical_ids(curie_norm: list[tuple]) -> dict[str, str]:
    """Union-find over curie↔preferred and curie↔equivalent edges; each
    component elects its smallest preferred id (smallest member when it
    has none) — the rule operators/canonicalize.canonical_mapping states."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    prefs = set()
    for curie, pref, _l, _d, _t, eq in curie_norm:
        prefs.add(pref)
        if curie != pref:
            union(curie, pref)
        for e in eq or []:
            if e != curie:
                union(curie, e)
    members: dict[str, list[str]] = {}
    for v in parent:
        members.setdefault(find(v), []).append(v)
    out = {}
    for group in members.values():
        elected = [v for v in group if v in prefs]
        canon = min(elected) if elected else min(group)
        for v in group:
            out[v] = canon
    return out


def make_world(
    seed: int,
    n_concepts: int,
    surfaces_per_concept: tuple[int, int] = (1, 2),
    n_hot: int = 3,
    with_probe: bool = False,
) -> World:
    """A dictionary of ``n_concepts`` canonical concepts plus aliases,
    equivalence twins, dropped senses and greenlisted orphans."""
    rng = random.Random(seed * 7919 + 11)
    toks = surface_tokens(rng, n_concepts * 5 + 64)
    rng.shuffle(toks)
    tok_iter = iter(toks)
    dictionary: list[tuple] = []
    norm: list[tuple] = []
    concepts: list[Concept] = []
    lo, hi = surfaces_per_concept
    for i in range(n_concepts):
        pfx = _PREFIXES[i % len(_PREFIXES)]
        cid = f"{pfx}:{1000000 + i}"
        surfaces = [
            " ".join(next(tok_iter) for _ in range(rng.choice((1, 1, 2, 2, 3))))
            for _ in range(rng.randint(lo, hi))
        ]
        name = surfaces[0]
        desc = f"{name} concept of kind {pfx.lower()}"
        typ = _CATEGORY[pfx].split(":")[1]
        norm.append((cid, cid, name, desc, typ, [cid]))
        kind = rng.random()
        for j, surf in enumerate(surfaces):
            score = round(0.82 + rng.random() * 0.17, 3)
            if j == 1 and kind < 0.10:
                # alias CURIE normalizing onto the concept
                alias = f"MESH:D{500000 + i}"
                norm.append((alias, cid, name, desc, typ, [alias, cid]))
                dictionary.append((surf, alias, name, [typ], score))
            elif j == 1 and kind < 0.16:
                # equivalence twin: a second preferred id merged with the
                # concept through a shared equivalent identifier
                twin = f"{pfx}:{2000000 + i}"
                shared = f"UMLS:C{700000 + i}"
                norm.append((twin, twin, name, desc, typ, [twin, shared]))
                norm[-2] = (cid, cid, name, desc, typ, [cid, shared])
                dictionary.append((surf, twin, name, [typ], score))
            else:
                dictionary.append((surf, cid, name, [typ], score))
        r = rng.random()
        if r < 0.03:
            # unnormalizable sense (prefix off the greenlist): dropped
            dictionary.append((surfaces[0], f"XNA:{i}", "unmapped", ["thing"], 0.9))
        elif r < 0.06:
            # below the link threshold: dropped
            dictionary.append((surfaces[0], f"{pfx}:{3000000 + i}", name, [typ], 0.5))
        concepts.append(Concept(cid, name, surfaces))
    # greenlisted CURIEs with no norm row survive as themselves
    for k in range(max(2, n_concepts // 50)):
        surf = next(tok_iter)
        cid = f"PATO:{4000000 + k}"
        dictionary.append((surf, cid, surf, ["quality"], 0.9))
        concepts.append(Concept(cid, surf, [surf]))
    # a few ambiguous surfaces: a second valid sense on another concept
    for k in range(max(1, n_concepts // 60)):
        a, b = rng.sample(range(n_concepts), 2)
        dictionary.append(
            (concepts[a].surfaces[0], concepts[b].cid, concepts[b].name,
             ["thing"], 0.85)
        )
    # ontology: subclass tree over canonical concepts, cross-type edges,
    # and subclass edges on alias ids (never live: aliases canonicalize)
    edges: list[tuple] = []
    for i in range(1, n_concepts):
        if rng.random() < 0.7:
            p = concepts[rng.randrange(max(1, i // 3), i)] if i > 3 else concepts[0]
            concepts[i].parent = p.cid
            edges.append((f"s{i}", concepts[i].cid, SUBCLASS_OF, p.cid, []))
    for i in range(0, n_concepts, 17):
        edges.append((f"a{i}", f"MESH:D{500000 + i}", SUBCLASS_OF, concepts[0].cid, []))
    by_pfx: dict[str, list[Concept]] = {}
    for c in concepts[:n_concepts]:
        by_pfx.setdefault(c.cid.split(":")[0], []).append(c)
    for n, (sp, pred, op) in enumerate(_CROSS_EDGES):
        for c in by_pfx.get(sp, [])[:: 3]:
            o = rng.choice(by_pfx[op])
            edges.append((f"x{n}-{c.cid}", c.cid, pred, o.cid, [f"PMID:{n}"]))
    nodes = [
        (c.cid, c.name, [_CATEGORY[c.cid.split(":")[0]]], c.surfaces[1:], None)
        for c in concepts
    ]
    hot = concepts[1 : 1 + n_hot]
    probe = []
    if with_probe:
        # labels as real ontologies spell them: CHEBI IUPAC names carry
        # braces, eponyms carry apostrophes, some labels carry backslashes
        probe = [
            (next(tok_iter), "CHEBI:9000001", "N-{2S}-amine", ["chemical"], 0.95),
            (next(tok_iter), "MONDO:9000002", "o'brien syndrome", ["disease"], 0.95),
            (next(tok_iter), "HP:9000003", "reflex \\ type {b}", ["phenotype"], 0.95),
        ]
    return World(dictionary, norm, nodes, edges, concepts, hot, probe)


@dataclass
class Corpus:
    rows: list[tuple]  # (url, ts_seconds, html, text, lang)
    placed: dict[str, list[str]]  # url -> placed surfaces (en pages)
    dup_urls: set[str]
    non_en_urls: set[str]

    def head(self, n: int) -> "Corpus":
        """The first ``n`` pages."""
        rows = self.rows[:n]
        urls = {r[0] for r in rows}
        return Corpus(
            rows, {u: s for u, s in self.placed.items() if u in urls},
            self.dup_urls & urls, self.non_en_urls & urls,
        )


def _sentence_pool(rng: random.Random, words: list[str], n: int, lo: int, hi: int):
    """(text, html) sentence pairs; html wraps some words in inline tags."""
    pool = []
    for k in range(n):
        ws = [rng.choice(words) for _ in range(rng.randint(lo, hi))]
        if rng.random() < 0.3:
            ws[rng.randrange(1, len(ws))] = "the"
        ws[-1] += rng.choice((".", ".", ",", ";"))
        hs = list(ws)
        for j in range(len(hs)):
            r = rng.random()
            if r < 0.06:
                hs[j] = f"<b>{hs[j]}</b>"
            elif r < 0.1:
                hs[j] = f'<a href="/w/{k}/{j}" class="ref">{hs[j]}</a>'
        pool.append((ws, hs))
    return pool


_HEAD = (
    '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
    '<title></title><link rel="stylesheet" href="/s.css"></head>'
    '<body><nav class="top"></nav><div class="content" id="main">'
)
_TAIL = '</div><footer class="f"></footer></body></html>'


def _render(paras: list[list[tuple[list[str], list[str]]]]) -> tuple[str, str]:
    text = "\n".join(" ".join(" ".join(ws) for ws, _ in para) for para in paras)
    html = _HEAD + "\n".join(
        "<p>" + " ".join(" ".join(hs) for _, hs in para) + "</p>" for para in paras
    ) + _TAIL
    return text, html


def _place(sentence, surface: str, rng: random.Random):
    """Insert a surface strictly inside a sentence (filler on both sides)."""
    ws, hs = sentence
    pos = rng.randint(1, len(ws) - 1)
    if ws[pos - 1] == "the":  # keep a non-stopword on the left
        pos = pos - 1 if pos > 1 else pos + 1
        pos = min(max(pos, 1), len(ws) - 1)
    wrap = f"<i>{surface}</i>" if rng.random() < 0.2 else surface
    return ws[:pos] + [surface] + ws[pos:], hs[:pos] + [wrap] + hs[pos:]


def page_content(
    rng: random.Random,
    pool,
    surfaces: list[str],
    n_paras: tuple[int, int],
    sents_per_para: tuple[int, int],
) -> tuple[str, str, list[str]]:
    """(text, html, surfaces placed) of one page."""
    paras = []
    for _ in range(rng.randint(*n_paras)):
        paras.append([rng.choice(pool) for _ in range(rng.randint(*sents_per_para))])
    slots = [(p, s) for p in range(len(paras)) for s in range(len(paras[p]))]
    rng.shuffle(slots)
    placed = surfaces[: len(slots)]  # one surface per sentence at most
    for surf, (p, s) in zip(placed, slots):
        paras[p][s] = _place(paras[p][s], surf, rng)
    return (*_render(paras), placed)


@dataclass
class PageShape:
    n_pages: int
    concepts_per_page: tuple[int, int]
    n_paras: tuple[int, int]
    sents_per_para: tuple[int, int]
    sentence_words: tuple[int, int]
    hot_prob: float
    non_en_share: float
    dup_share: float


def pick_surfaces(rng: random.Random, world: World, shape: PageShape) -> list[str]:
    n = rng.randint(*shape.concepts_per_page)
    picked = rng.sample(world.concepts, min(n, len(world.concepts)))
    out = [rng.choice(c.surfaces) for c in picked]
    for h in world.hot:
        if rng.random() < shape.hot_prob and h not in picked:
            out.append(rng.choice(h.surfaces))
    return out


def make_corpus(seed: int, world: World, shape: PageShape, url_prefix: str) -> Corpus:
    rng = random.Random(seed * 104729 + 3)
    words = filler_words(rng, 600)
    pool = _sentence_pool(rng, words, 400, *shape.sentence_words)
    rows, placed, dups, non_en = [], {}, set(), set()
    for i in range(shape.n_pages):
        url = f"https://{url_prefix}{i % 97}.example.org/p/{i}"
        r = rng.random()
        if i > 10 and r < shape.dup_share:
            src = rows[rng.randrange(len(rows))]
            rows.append((url, i, src[2], src[3], src[4]))
            dups.add(url)
            if src[0] in placed:
                placed[url] = placed[src[0]]
            continue
        text, html, surfaces = page_content(
            rng, pool, pick_surfaces(rng, world, shape), shape.n_paras,
            shape.sents_per_para,
        )
        if r > 1.0 - shape.non_en_share:
            extra = " ".join(rng.choice(_NON_EN) for _ in range(8))
            text, html = text + " " + extra, html.replace(_TAIL, " " + extra + _TAIL)
            rows.append((url, i, html, text, rng.choice(("de", "fr"))))
            non_en.add(url)
            continue
        rows.append((url, i, html, text, "en"))
        placed[url] = surfaces
    return Corpus(rows, placed, dups, non_en)


def recrawl(seed: int, version: int, world: World, shape: PageShape,
            prev: Corpus, changed_share: float) -> tuple[Corpus, list[str]]:
    """Next crawl of ``prev``: a fixed share of its en, non-duplicate
    pages get new content (a new concept set); everything else is
    byte-identical.  Returns the new corpus and the changed urls."""
    rng = random.Random(seed * 15485863 + version)
    words = filler_words(random.Random(seed * 104729 + 3), 600)
    pool = _sentence_pool(rng, words, 120, *shape.sentence_words)
    eligible = sorted(u for u in prev.placed if u not in prev.dup_urls)
    n = max(1, int(round(len(prev.rows) * changed_share)))
    changed = sorted(rng.sample(eligible, min(n, len(eligible))))
    cset = set(changed)
    placed = dict(prev.placed)
    rows = []
    for url, ts, html, text, lang in prev.rows:
        if url in cset:
            text, html, placed[url] = page_content(
                rng, pool, pick_surfaces(rng, world, shape), shape.n_paras,
                shape.sents_per_para,
            )
            rows.append((url, ts + 86400 * version, html, text, lang))
        else:
            rows.append((url, ts, html, text, lang))
    return Corpus(rows, placed, prev.dup_urls, prev.non_en_urls), changed


# -- ground truth -----------------------------------------------------------

def doc_concepts(world: World, corpus: Corpus) -> dict[str, frozenset]:
    """url -> canonical concept set, for pages the pipeline keeps (en)."""
    out = {}
    for url, surfaces in corpus.placed.items():
        cs = set()
        for s in surfaces:
            cs |= world.resolve(s)
        if cs:
            out[url] = frozenset(cs)
    return out


def truth_triples(world: World, docs: dict[str, frozenset]) -> dict[str, set]:
    """Expected (subj, obj) pairs per triple family."""
    has = {(u, c) for u, cs in docs.items() for c in cs}
    live = {c for cs in docs.values() for c in cs}
    sub = {(c, p) for c, p in world.subclass_parent().items() if c in live}
    co = set()
    for cs in docs.values():
        if 2 <= len(cs) <= MAX_CONCEPTS_PER_DOC:
            s = sorted(cs)
            co.update((s[i], s[j]) for i in range(len(s)) for j in range(i + 1, len(s)))
    return {HAS_CONCEPT: has, SUBCLASS_OF: sub, CO_MENTIONED: co}


# -- parquet writers -----------------------------------------------------------

_EPOCH = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())


def write_corpus(corpus: Corpus, path: str, n_files: int) -> int:
    """Write pages as ``n_files`` parquet files; returns html bytes."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    html_bytes = 0
    step = (len(corpus.rows) + n_files - 1) // n_files
    for f in range(n_files):
        chunk = corpus.rows[f * step : (f + 1) * step]
        if not chunk:
            break
        htmls = [r[2].encode("utf-8") for r in chunk]
        html_bytes += sum(len(h) for h in htmls)
        tbl = pa.table(
            [
                [r[0] for r in chunk],
                pa.array([(_EPOCH + r[1]) * 1_000_000 for r in chunk],
                         pa.timestamp("us", tz="UTC")),
                htmls,
                [r[3] for r in chunk],
                [r[4] for r in chunk],
            ],
            schema=schema,
        )
        pq.write_table(tbl, os.path.join(path, f"part-{f:04d}.parquet"))
    return html_bytes


_DIM_SCHEMAS = {
    "dictionary": pa.schema([
        ("term", pa.string()), ("curie", pa.string()), ("label", pa.string()),
        ("types", pa.list_(pa.string())), ("score", pa.float64()),
    ]),
    "curie_norm": pa.schema([
        ("curie", pa.string()), ("preferred_id", pa.string()),
        ("preferred_label", pa.string()), ("description", pa.string()),
        ("biolink_type", pa.string()),
        ("equivalent_identifiers", pa.list_(pa.string())),
    ]),
    "kg_nodes": pa.schema([
        ("id", pa.string()), ("name", pa.string()),
        ("category", pa.list_(pa.string())), ("synonyms", pa.list_(pa.string())),
        ("attributes", pa.map_(pa.string(), pa.string())),
    ]),
    "kg_edges": pa.schema([
        ("id", pa.string()), ("subject", pa.string()), ("predicate", pa.string()),
        ("object", pa.string()), ("publications", pa.list_(pa.string())),
    ]),
}


def write_dim(rows: list[tuple], name: str, path: str, kind: str | None = None) -> None:
    schema = _DIM_SCHEMAS[kind or name]
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    tbl = pa.table([list(c) for c in cols], schema=schema)
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))


def write_world(world: World, path: str) -> None:
    write_dim(world.dictionary, "dictionary", path)
    write_dim(world.curie_norm, "curie_norm", path)
    write_dim(world.kg_nodes, "kg_nodes", path)
    write_dim(world.kg_edges, "kg_edges", path)
    if world.probe_dictionary:
        write_dim(world.probe_dictionary, "probe_dictionary", path, "dictionary")


def zipf_queries(seed: int, world: World, indexed: set[str], n: int,
                 s: float = 1.1) -> list[tuple[str, str]]:
    """(query text, expected concept id) over the ``indexed`` concepts:
    drawn Zipf-wise so the head repeats and the tail is unique; the text
    is the concept's name."""
    rng = random.Random(seed * 31337 + 5)
    # concepts outside curie_norm (greenlisted orphans) carry no
    # description, which the search filter requires
    cands = [
        c for c in world.concepts
        if c.cid.split(":")[0] in _PREFIXES
        and world.canonical(c.cid) in indexed
        and world.resolve(c.surfaces[0]) == {world.canonical(c.cid)}
    ]
    # one Zipf stream per query length (1-3 words), taken in rotation, so
    # every run sees the same mix of query lengths
    by_len: dict[int, list[Concept]] = {}
    for c in cands:
        by_len.setdefault(len(c.surfaces[0].split()), []).append(c)
    streams = []
    for k in sorted(by_len):
        group = by_len[k]
        rng.shuffle(group)
        weights = [1.0 / (r + 1) ** s for r in range(len(group))]
        streams.append(rng.choices(group, weights=weights, k=n))
    return [
        (c.surfaces[0], world.canonical(c.cid))
        for c in (streams[i % len(streams)][i // len(streams)] for i in range(n))
    ]
