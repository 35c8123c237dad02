"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship corpus→triples pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the training-data ops); ``oracle_sql()`` gives the
DuckDB-equivalent SQL for each.  Column names and value types are aligned
on both sides; float aggregates go through exact decimal arithmetic or
are rounded so cross-engine hashes match.
"""

from __future__ import annotations

import random
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from dug_spark import fixtures
from dug_spark.operators import (
    annotate,
    bgp,
    canonicalize,
    dedup,
    expand,
    multimodal,
    normalize,
    similarity,
)
from dug_spark.operators import triples as triples_op

GREENLIST_SQL = "('PATO','CHEBI','MONDO','UBERON','HP','MESH','UMLS')"

# ---------------------------------------------------------------------------
# Inline dimension data shared by Spark and the DuckDB oracle.

_DICT = [(t, c) for (t, c, _l, _ty, _s) in fixtures.VOCAB_DICTIONARY]
_DICT_SCORED = [(t, c, s) for (t, c, _l, _ty, s) in fixtures.VOCAB_DICTIONARY]
_NORM = [(c, p) for (c, p, *_rest) in fixtures.VOCAB_NORM_ROWS]
_KGE = [(s, p, o) for (_i, s, p, o, _pub) in fixtures.VOCAB_KG_EDGE_ROWS]

# equivalence edges derived from the vocab norm rows (same rule as
# dug_spark.operators.canonicalize.equivalence_edges: curie↔preferred and
# curie↔each equivalent, src≠dst)
_EQ_EDGES = sorted(
    {
        (a, b)
        for (c, p, _l, _d, _t, eq) in fixtures.VOCAB_NORM_ROWS
        for (a, b) in [(c, p)] + [(c, e) for e in eq]
        if a != b
    }
)
_PREFERRED = sorted({p for (_c, p) in _NORM})

# deterministic small-component graph for the connected-components oracle
_rng = random.Random(13)
_CC_NODES = [f"n{i:03d}" for i in range(120)]
_CC_EDGES: list[tuple[str, str]] = []
_i = 0
while _i < len(_CC_NODES):
    _size = _rng.randint(2, 6)
    _grp = _CC_NODES[_i : _i + _size]
    _CC_EDGES.extend(zip(_grp, _grp[1:]))
    if _size > 3:
        _CC_EDGES.append((_grp[0], _grp[-1]))
    _i += _size


def _vals(rows) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    return ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)


# Oracle CTE fragments (DuckDB dialect).
_SQL_CORPUS = (
    "corpus AS (SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url, "
    "text, lang FROM documents)"
)
_SQL_DICT = f"dict(term, curie) AS (VALUES {_vals(_DICT)})"


_SQL_DICT_SCORED = f"dict(term, curie, score) AS (VALUES {_vals(_DICT_SCORED)})"
_SQL_MENTIONS = (
    "mentions AS (SELECT c.url AS url, d.term AS search_text, d.curie AS curie "
    "FROM corpus c JOIN dict d ON (' ' || c.text || ' ') LIKE ('% ' || d.term || ' %') "
    "WHERE c.lang = 'en')"
)
_SQL_NORM = f"norm(curie, preferred_id) AS (VALUES {_vals(_NORM)})"
_SQL_NMENTIONS = (
    "nmentions AS (SELECT m.url AS url, m.search_text AS search_text, "
    "COALESCE(n.preferred_id, m.curie) AS curie "
    "FROM mentions m LEFT JOIN norm n ON n.curie = m.curie "
    f"WHERE n.curie IS NOT NULL OR split_part(m.curie, ':', 1) IN {GREENLIST_SQL})"
)
_SQL_KGE = f"kg_edges(subject, predicate, object) AS (VALUES {_vals(_KGE)})"

# href-extracted host edge list over the synthetic linked corpus
# (_web_linked_docs) — shared by the web-graph oracles; mirrors
# weblinks.extract_links/host_edges
_SQL_WEB_EDGES = (
    "WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
    "  SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' AS src, "
    "  unnest(["
    "    'h' || CAST((doc_id // 20) % (1 + (doc_id % 20) % 5) % 20 AS VARCHAR) || '.example.org', "
    "    'h' || CAST(((doc_id // 40) % (1 + (doc_id % 20) % 7) + 5) % 20 AS VARCHAR) || '.example.org', "
    "    'h' || CAST(((doc_id // 60) % (1 + (doc_id % 20) % 4) + 12) % 20 AS VARCHAR) || '.example.org'"
    "  ]) AS dst FROM documents) WHERE src != dst)"
)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _record_sf_dir(sf_dir)
    return fixtures.corpus_from_documents(spark, sf_dir)


_LAST_SF_DIR: str | None = None


def _record_sf_dir(sf_dir: str) -> None:
    """Remember the sf_dir the driver passes to queries(): oracle_sql()
    takes no sf_dir argument, but the pyoracle VALUES tables must be
    recomputed over the SAME input the Spark queries read."""
    global _LAST_SF_DIR
    _LAST_SF_DIR = sf_dir


def _dict_entries(rows) -> dict[str, list]:
    """Precollected annotate entries straight from the fixture list —
    the documented ``entries=`` fast path of annotate_mentions, skipping
    the per-query createDataFrame → collect round-trip of a dimension
    table that already lives driver-side."""
    entries: dict[str, list] = {}
    for (t, c, l, ty, s) in rows:
        entries.setdefault(t, []).append((c, l, list(ty or []), s))
    return entries


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """en-corpus × vocab dictionary, no preprocessing (the oracle LIKE
    predicate mirrors word-boundary presence matching exactly)."""
    corpus = _corpus(spark, sf_dir).where(F.col("lang") == "en")
    return annotate.annotate_mentions(
        corpus, None, preprocess=False,
        entries=_dict_entries(fixtures.VOCAB_DICTIONARY),
    )


def _nmentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize.normalize_mentions(
        _mentions(spark, sf_dir), fixtures.vocab_norm(spark)
    )


def _pq(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _record_sf_dir(sf_dir)
    # schema-memoized scan (metadata only — rows re-read per action)
    return fixtures.read_parquet(spark, f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# KG-construction queries (SURVEY §2.8, §2.3 J1/J7, §2.4, BASELINE north_rule)


def q_kg_mentions(spark, sf_dir):
    """N1: dictionary/Aho-Corasick mention detection."""
    return _mentions(spark, sf_dir).select("url", "search_text", "curie")


def q_kg_mentions_scored(spark, sf_dir):
    """F5: score-threshold filter on the dictionary prior (≥0.9)."""
    return (
        _mentions(spark, sf_dir)
        .where(F.col("score") >= 0.9)
        .select("url", "search_text", "curie")
    )


def q_kg_mentions_norm(spark, sf_dir):
    """J4+F6: broadcast normalization + greenlist."""
    return _nmentions(spark, sf_dir).select("url", "curie").distinct()


def q_kg_concept_terms(spark, sf_dir):
    """A1/A2: per-concept sorted-dedup search terms."""
    return (
        _nmentions(spark, sf_dir)
        .groupBy("curie")
        .agg(
            F.array_join(F.array_sort(F.collect_set("search_text")), "|").alias(
                "search_terms"
            ),
            F.count_distinct("url").alias("n_docs"),
        )
    )


def q_kg_triples_has_concept(spark, sf_dir):
    """J1 → HAS_CONCEPT triples."""
    return triples_op.has_concept_triples(_nmentions(spark, sf_dir)).select(
        "subj", "pred", "obj"
    )


def q_kg_npmi(spark, sf_dir):
    """NPMI-weighted co-mention edges (triples.co_mention_npmi): the same
    per-document pair derivation as kg_triples_co_mention (which this row
    supersedes in the driver window — the unweighted pair set is exactly
    this row's (src, dst) projection) plus document-frequency marginals
    and the Bouma-normalized PMI weight.  Oracle: the full count + ln
    arithmetic re-derived in SQL; npmi rounds to 5 (cross-engine libm,
    same reasoning as the PageRank rounding)."""
    return triples_op.co_mention_npmi(_nmentions(spark, sf_dir)).select(
        "src", "dst", "n_co", "npmi"
    )


def q_kg_disambiguate(spark, sf_dir):
    """Entity disambiguation by type coherence
    (link.disambiguate_mentions) over the vocab dictionary AUGMENTED with
    ambiguous senses (fixtures.AMBIG_EXTRA: "window" → OP:0003 operator /
    SYS:0002 system, "stream" → OP:0006 / MEDIA:0001): unambiguous
    mentions anchor each document, candidates rank by same-type anchor
    count, then dictionary prior, then CURIE.  One verdict row per
    candidate; exactly one chosen per span.  Oracle: the span stats,
    anchor type counts and winner window re-derived in SQL."""
    from dug_spark.operators import link

    corpus = _corpus(spark, sf_dir).where(F.col("lang") == "en")
    adict = fixtures.ambig_dictionary(spark)
    mentions = annotate.annotate_mentions(corpus, adict, preprocess=False)
    types = adict.select(
        "curie", F.element_at("types", 1).alias("ctype")
    ).distinct()
    out = link.disambiguate_mentions(mentions, types, doc_col="url")
    return out.select(
        "url", "search_text", "curie", "score",
        F.col("n_cands").cast("long").alias("n_cands"),
        "coherence", "chosen",
    )


_AMBIG_DICT_SQL = (
    "adict(term, curie, score, typ) AS (VALUES "
    + _vals(
        [
            (t, c, s, ty[0])
            for (t, c, _l, ty, s) in fixtures.VOCAB_DICTIONARY
            + fixtures.AMBIG_EXTRA
        ]
    )
    + ")"
)

_DISAMBIG_SQL = (
    f"WITH {_SQL_CORPUS}, {_AMBIG_DICT_SQL}, "
    "am AS (SELECT c.url AS url, d.term AS surface, d.curie AS curie, "
    "  d.score AS score, d.typ AS typ FROM corpus c JOIN adict d "
    "  ON (' ' || c.text || ' ') LIKE ('% ' || d.term || ' %') "
    "  WHERE c.lang = 'en'), "
    "spans AS (SELECT url, surface, COUNT(DISTINCT curie) AS n_cands "
    "  FROM am GROUP BY url, surface), "
    "anchors AS (SELECT DISTINCT m.url, m.curie, m.typ FROM am m "
    "  JOIN spans s ON s.url = m.url AND s.surface = m.surface "
    "  WHERE s.n_cands = 1), "
    "tcount AS (SELECT url, typ, COUNT(DISTINCT curie) AS nt "
    "  FROM anchors GROUP BY url, typ), "
    "amem AS (SELECT DISTINCT url, curie FROM anchors), "
    "scored AS (SELECT m.url, m.surface, m.curie, m.score, s.n_cands, "
    "  COALESCE(t.nt, 0) - CASE WHEN a.curie IS NOT NULL THEN 1 ELSE 0 END "
    "    AS coherence "
    "  FROM am m JOIN spans s ON s.url = m.url AND s.surface = m.surface "
    "  LEFT JOIN tcount t ON t.url = m.url AND t.typ = m.typ "
    "  LEFT JOIN amem a ON a.url = m.url AND a.curie = m.curie) "
    "SELECT url, surface AS search_text, curie, score, n_cands, coherence, "
    "(ROW_NUMBER() OVER (PARTITION BY url, surface "
    "ORDER BY coherence DESC, score DESC, curie ASC) = 1) AS chosen "
    "FROM scored"
)


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (operators/importance.dsir_resample,
    Xie et al. 2023): hashed unigram+bigram Laplace multinomials over a
    trusted target slice (en docs with doc_id % 7 == 0) vs the full raw
    corpus, per-doc log importance weight, Gumbel-top-100 selection with
    xxhash-seeded noise.  One verdict row per document.  Oracle: full
    VALUES recompute via the pyoracle xxh64 spec implementation
    (_pyoracle_values — DuckDB has no xxhash64)."""
    from dug_spark.operators import importance

    docs = _pq(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    target = docs.where((F.col("lang") == "en") & (F.col("doc_id") % 7 == 0))
    return importance.dsir_resample(
        docs, target, k=100, buckets=512
    ).select("doc_id", "n_feats", "logw", "keep")


def q_kg_pagerank(spark, sf_dir):
    """PageRank over the DIRECTED co-mention concept graph (edges point
    lexicographically smaller→larger curie, the pair orientation
    co_mention_triples emits) — concept-importance ranking downstream of
    KG assembly; 10 iterations, damping 0.85.  The DAG orientation makes
    ranks non-uniform (the symmetrized graph here is complete, where
    PageRank is trivially uniform) and its sink nodes exercise the
    dangling-mass redistribution on both engines.  Oracle: REAL
    unrolled-iteration SQL (10 chained CTEs) independently aggregated by
    DuckDB over the same mention-derivation CTEs."""
    from dug_spark.operators import graph

    edges = triples_op.co_mention_triples(_nmentions(spark, sf_dir)).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    pr = graph.pagerank(edges, damping=0.85, iterations=10)
    # ROUND(5), not 6: Spark's partial aggregation and DuckDB sum rank
    # contributions in different orders, so a value near a 6th-decimal
    # rounding boundary could flip a digit — coarser rounding keeps the
    # hash gate deterministic (same reasoning as ann_lsh's ROUND(4)).
    return pr.select("node", F.round("rank", 5).alias("rank"))


def _pagerank_iters(prefix_with_e: str, damping: float = 0.85, iters: int = 10,
                    weighted: bool = False) -> str:
    """Unrolled PageRank iterations over any prefix SQL that defines a CTE
    ``e(src, dst)`` (or ``e(src, dst, w)`` with ``weighted=True``);
    dangling mass (sink-node rank, redistributed uniformly) included —
    mirrors operators/graph.pagerank exactly."""
    d = repr(damping)
    deg_expr = "SUM(w)" if weighted else "COUNT(*)"
    sql = (
        f"{prefix_with_e}, "
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e), "
        f"deg AS MATERIALIZED (SELECT src AS node, {deg_expr} AS out_deg FROM e GROUP BY src), "
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes), "
        "r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"
    )
    for i in range(iters):
        dang = (
            f"(SELECT COALESCE(SUM(r.rank), 0) FROM r{i} r "
            "LEFT JOIN deg ON deg.node = r.node WHERE deg.node IS NULL)"
        )
        contrib_sel = (
            "SELECT e.dst AS node, SUM(r.rank * e.w / deg.out_deg) AS contrib "
            if weighted
            else "SELECT e.dst AS node, SUM(r.rank / deg.out_deg) AS contrib "
        )
        sql += (
            f", r{i + 1} AS MATERIALIZED (SELECT b.node, "
            f"(1 - {d}) / (SELECT n FROM nn) + {d} * (COALESCE(c.contrib, 0) "
            f"+ {dang} / (SELECT n FROM nn)) AS rank "
            "FROM nodes b LEFT JOIN ("
            + contrib_sel
            + f"FROM e JOIN r{i} r ON e.src = r.node "
            "JOIN deg ON deg.node = e.src GROUP BY e.dst) c ON b.node = c.node)"
        )
    # ROUND(5) matches the Spark side — see q_kg_pagerank's rounding note
    return sql + f" SELECT node, ROUND(rank, 5) AS rank FROM r{iters}"


def _pagerank_sql(norm_cte: str, damping: float = 0.85, iters: int = 10) -> str:
    """PageRank oracle over the directed co-mention edge CTE."""
    return _pagerank_iters(
        f"{norm_cte}, dm AS (SELECT DISTINCT url, curie FROM nmentions), "
        "e AS MATERIALIZED (SELECT DISTINCT a.curie AS src, b.curie AS dst FROM dm a "
        "  JOIN dm b ON a.url = b.url AND a.curie < b.curie)",
        damping,
        iters,
    )


def q_kg_closure(spark, sf_dir):
    """Ontology ancestor closure (graph.transitive_closure): semi-naive
    reachability with minimum hop depth over a synthetic subsumption DAG
    derived from doc_id arithmetic — binary-tree parent i//2 for every
    node plus a second parent i//3 on every 5th node, so multiple paths
    exercise the first-discovery-is-min-depth property.  The reference
    inherits exactly ONE ancestor level (crawler.py expand; J2 /
    concepts.inherit_parent_concepts mirrors it) — this is that rule run
    to fixpoint, the full ancestor set per concept.  Oracle: DuckDB
    WITH RECURSIVE walk + MIN(depth) GROUP BY."""
    from dug_spark.operators import graph

    did = F.col("doc_id")

    def c(col):
        return F.concat(
            F.lit("C"), F.lpad(col.cast("long").cast("string"), 8, "0")
        )

    docs = _pq(spark, sf_dir, "documents").select("doc_id")
    tree = docs.where(did >= 1).select(
        c(did).alias("src"), c(F.floor(did / 2)).alias("dst")
    )
    cross = docs.where((did >= 2) & (did % 5 == 0)).select(
        c(did).alias("src"), c(F.floor(did / 3)).alias("dst")
    )
    return graph.transitive_closure(tree.unionByName(cross)).select(
        "src", "dst", "depth"
    )


_CLOSURE_SQL = (
    "WITH RECURSIVE e AS MATERIALIZED ("
    "SELECT 'C' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS src, "
    "'C' || lpad(CAST(doc_id // 2 AS VARCHAR), 8, '0') AS dst "
    "FROM documents WHERE doc_id >= 1 "
    "UNION "
    "SELECT 'C' || lpad(CAST(doc_id AS VARCHAR), 8, '0'), "
    "'C' || lpad(CAST(doc_id // 3 AS VARCHAR), 8, '0') "
    "FROM documents WHERE doc_id >= 2 AND doc_id % 5 = 0), "
    "tc AS ("
    "SELECT src, dst, 1 AS depth FROM e "
    "UNION ALL "
    "SELECT tc.src, e2.dst, tc.depth + 1 FROM tc JOIN e e2 ON tc.dst = e2.src) "
    "SELECT src, dst, CAST(MIN(depth) AS INTEGER) AS depth "
    "FROM tc GROUP BY src, dst"
)


# injected relation-sentence vocabulary: single-word dictionary surfaces
_REL_TERMS = ("window", "filter", "scan", "stream")


def q_relation_extract(spark, sf_dir):
    """Typed (subj, pred, obj) relation triples via Hearst-style
    connective patterns (operators/relations.py) over the documents
    corpus with a deterministically injected relation sentence per doc
    (doc_id arithmetic picks subject term, predicate family, connective
    variant and object term), run through the REAL longest-first regex
    build, zipped two-group extraction and broadcast surface→CURIE
    joins.  Oracle: the same injected text rebuilt in SQL, the same
    literal regexes through DuckDB's RE2 (pattern class chosen so Java
    and RE2 semantics agree: literal alternations, \\s+, \\b),
    parallel-unnest zipping and dict VALUES joins."""
    from dug_spark.operators import relations

    did = F.col("doc_id")
    terms = F.array(*[F.lit(t) for t in _REL_TERMS])
    subj = F.element_at(terms, (did % 4 + 1).cast("int"))
    obj = F.element_at(terms, ((did + 1) % 4 + 1).cast("int"))
    pats = relations.DEFAULT_PATTERNS
    conn = (
        F.when(
            did % 3 == 0,
            F.when(did % 2 == 0, F.lit(pats["biolink:causes"][0])).otherwise(
                F.lit(pats["biolink:causes"][1])
            ),
        )
        .when(
            did % 3 == 1,
            F.when(
                did % 2 == 0, F.lit(pats["biolink:interacts_with"][0])
            ).otherwise(F.lit(pats["biolink:interacts_with"][1])),
        )
        .otherwise(
            F.when(did % 2 == 0, F.lit(pats["biolink:treats"][0])).otherwise(
                F.lit(pats["biolink:treats"][1])
            )
        )
    )
    injected = _pq(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lower(F.coalesce(F.col("text"), F.lit(""))),
            F.lit(" . "),
            subj,
            F.lit(" "),
            conn,
            F.lit(" "),
            obj,
            F.lit(" ."),
        ).alias("text"),
    )
    rel = relations.extract_relations(
        injected,
        None,
        text_col="text",
        id_col="doc_id",
        vocab=[(t, c) for (t, c, _l, _ty, _s) in fixtures.VOCAB_DICTIONARY],
    )
    return rel.select(
        F.col("id").alias("doc_id"), "subj", "pred", "obj",
        "surf_subj", "surf_obj",
    )


def _relation_sql() -> str:
    """The relation-extraction oracle: injected text + per-predicate
    regexes rebuilt in SQL; regex literals come from the SAME
    relations.relation_regex builder the Spark side uses."""
    from dug_spark.operators import relations

    all_terms = sorted({t for t, _c in _DICT})
    t_arr = "[" + ", ".join(f"'{t}'" for t in _REL_TERMS) + "]"
    conn_case = (
        "CASE WHEN doc_id % 3 = 0 THEN "
        "(CASE WHEN doc_id % 2 = 0 THEN 'causes' ELSE 'leads to' END) "
        "WHEN doc_id % 3 = 1 THEN "
        "(CASE WHEN doc_id % 2 = 0 THEN 'interacts with' ELSE 'binds' END) "
        "ELSE (CASE WHEN doc_id % 2 = 0 THEN 'treats' ELSE 'mitigates' END) END"
    )
    inj = (
        "inj AS (SELECT doc_id, lower(COALESCE(text, '')) || ' . ' || "
        f"{t_arr}[CAST(doc_id % 4 AS INT) + 1] || ' ' || {conn_case} || ' ' || "
        f"{t_arr}[CAST((doc_id + 1) % 4 AS INT) + 1] || ' .' AS t2 "
        "FROM documents)"
    )
    branches = []
    for pred in sorted(relations.DEFAULT_PATTERNS):
        rx = relations.relation_regex(
            all_terms, relations.DEFAULT_PATTERNS[pred]
        )
        branches.append(
            f"SELECT doc_id, '{pred}' AS pred, "
            f"regexp_extract_all(t2, '{rx}', 1) AS s, "
            f"regexp_extract_all(t2, '{rx}', 2) AS o FROM inj"
        )
    m = " UNION ALL ".join(branches)
    return (
        f"WITH {_SQL_DICT}, {inj}, m AS ({m}), "
        "z AS (SELECT doc_id, pred, unnest(s) AS rs, unnest(o) AS ro FROM m), "
        "n AS (SELECT doc_id, pred, "
        "regexp_replace(rs, '\\s+', ' ', 'g') AS surf_subj, "
        "regexp_replace(ro, '\\s+', ' ', 'g') AS surf_obj FROM z) "
        "SELECT DISTINCT n.doc_id, ds.curie AS subj, n.pred, dd.curie AS obj, "
        "n.surf_subj, n.surf_obj "
        "FROM n JOIN dict ds ON ds.term = n.surf_subj "
        "JOIN dict dd ON dd.term = n.surf_obj"
    )


def q_kg_triples_all(spark, sf_dir):
    """Full triple materialization (union of the three families)."""
    return triples_op.build_triples(
        _nmentions(spark, sf_dir), fixtures.vocab_kg_edges(spark)
    ).select("subj", "pred", "obj")


def q_kg_bgp(spark, sf_dir):
    """Conjunctive basic-graph-pattern query over the materialized triple
    table (operators/bgp.py — the declarative layer replacing the
    reference's TranQL query strings, tranql.py:257-286): documents
    mentioning a concept that has an ontology parent AND co-occurs with a
    second mentioned concept.  Four patterns -> three keyed self-joins;
    the two-constant subclass pattern broadcasts."""
    t = triples_op.build_triples(
        _nmentions(spark, sf_dir), fixtures.vocab_kg_edges(spark)
    ).select("subj", "pred", "obj")
    return bgp.match_bgp(
        t,
        [
            ("?doc", "HAS_CONCEPT", "?c"),
            ("?c", "biolink:subclass_of", "?parent"),
            ("?doc", "HAS_CONCEPT", "?c2"),
            ("?c", "co_mentioned_with", "?c2"),
        ],
    )


def q_kg_khop(spark, sf_dir):
    """Bounded k-hop reachability (bgp.bounded_reachability) over the
    symmetrized co-mention concept graph from the two lexicographically
    first co-mention sources; first-reach hop = min-hop distance, which
    is what the recursive-CTE oracle computes."""
    com = (
        triples_op.build_triples(
            _nmentions(spark, sf_dir), fixtures.vocab_kg_edges(spark)
        )
        .where(F.col("pred") == "co_mentioned_with")
        .select("subj", "obj")
    )
    sym = com.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).unionByName(com.select(F.col("obj").alias("src"), F.col("subj").alias("dst")))
    seeds = com.select(F.col("subj").alias("seed")).distinct().orderBy("seed").limit(2)
    return bgp.bounded_reachability(sym, seeds, 3).select("seed", "node", "hops")


def q_kg_validate(spark, sf_dir):
    """SHACL-lite integrity gate (operators/validate.py) over the full
    materialized triple table: domain/range by CURIE prefix, cardinality
    caps, closed predicate vocabulary — the post-materialization analog
    of the reference's ingest-time identifier exclude-list and
    CURIE-prefix validity rules (crawler.py:70-92, factory.py:63-70).
    The constraint set deliberately violates each family the fixture can
    exercise: co_mentioned_with is undeclared (unknown_pred), subclass
    subjects are OP: against a MONDO domain (domain), HAS_CONCEPT objects
    outside OP: (SYS/EXPR/PATO) trip range, and max_out=2 flags documents
    with ≥3 distinct concepts (cardinality).  Oracle: the same constraint
    VALUES + prefix/cardinality predicates re-derived in SQL."""
    from dug_spark.operators import validate as validate_op

    t = triples_op.build_triples(
        _nmentions(spark, sf_dir), fixtures.vocab_kg_edges(spark)
    ).select("subj", "pred", "obj")
    constraints = spark.createDataFrame(
        [
            ("HAS_CONCEPT", "https", "OP", 2),
            ("biolink:subclass_of", "MONDO", "OP", 1),
        ],
        "pred string, domain_prefix string, range_prefix string, max_out int",
    )
    return validate_op.validate_triples(t, constraints).select(
        "subj", "pred", "obj", "violation"
    )


def q_kg_connected_components(spark, sf_dir):
    """N4: iterative min-label-propagation connected components."""
    edges = spark.createDataFrame(_CC_EDGES, "src string, dst string")
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return canonicalize.connected_components(sym).select("id", "comp")


def q_kg_canonical_mapping(spark, sf_dir):
    """N4: equivalence-component canonical-id election."""
    return canonicalize.canonical_mapping(fixtures.vocab_norm(spark)).select(
        "curie", "canonical_id"
    )


# Fixed identifier set for the KG-expansion oracle (heart fixtures are
# deterministic and sf-independent).
_EXPAND_IDS = [
    "MONDO:0005068", "MONDO:0004979", "HP:0001658", "CHEBI:15365",
    "UBERON:0000948",
]
_TMPL_ROWS = [
    (q, pfx, expand._SNAKE_TO_CLASS.get(obj, obj), obj)
    for q, (src, obj) in expand.DEFAULT_QUERIES.items()
    for pfx in expand.CURIE_PREFIXES.get(src, [])
]
_CAT_ROWS = [(i, c) for (i, _n, cats, _s) in fixtures.KG_NODE_ROWS for c in cats]
_NODE_ROWS = [(i, n) for (i, n, _cats, _s) in fixtures.KG_NODE_ROWS]
_SYN_ROWS = [(i, s) for (i, _n, _cats, syns) in fixtures.KG_NODE_ROWS for s in syns]
_HEART_EDGES = [(s, p, o) for (_i, s, p, o, _pub) in fixtures.KG_EDGE_ROWS]


def q_kg_expand(spark, sf_dir):
    """J7/J8/F4/F8: template-gated 1-hop KG expansion with answer ids."""
    ids = spark.createDataFrame(
        [(c, c) for c in _EXPAND_IDS], "concept_id string, curie string"
    )
    ans = expand.expand_concepts(ids, fixtures.kg_edges(spark), fixtures.kg_nodes(spark))
    return ans.select(
        "concept_id", "query_name", "answer_id", "subject", "predicate", "object"
    )


def q_search_kg(spark, sf_dir):
    """search_kg (async_search.py:400-436): kg_answers docs where the
    concept matches the unique id and the query matches search_targets."""
    from dug_spark.operators import search

    ids = spark.createDataFrame(
        [(c, c) for c in _EXPAND_IDS], "concept_id string, curie string"
    )
    ans = expand.expand_concepts(ids, fixtures.kg_edges(spark), fixtures.kg_nodes(spark))
    docs = ans.select(
        F.concat_ws("_", "concept_id", "subject", "object").alias("doc_id"),
        "concept_id",
        F.array_distinct(F.array_union("node_names", "node_synonyms")).alias(
            "search_targets"
        ),
        "subject",
        "predicate",
        "object",
    ).distinct()
    out = search.search_kg(docs, "MONDO:0005068", "heart infarction", size=10)
    return out.select("doc_id", "concept_id", "subject", "predicate", "object", "score")


# ---------------------------------------------------------------------------
# Relational operators (SURVEY §2.2–2.6) over the TPC-H-ish testdata.


def _vars_view(spark, sf_dir):
    """Deterministic variables-index view derived from the events table
    (the sf dirs carry no elements table; the oracle derives the identical
    view in SQL)."""
    ev = _pq(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("element_id"),
        F.concat(F.lit("var "), (F.col("event_id") % 50).cast("string")).alias(
            "element_name"
        ),
        F.col("props").alias("element_desc"),
        F.col("event_type").alias("data_type"),
        F.concat(F.lit("study_"), (F.col("user_id") % 20).cast("string")).alias(
            "collection_id"
        ),
        F.concat(F.lit("Study "), (F.col("user_id") % 20).cast("string")).alias(
            "collection_name"
        ),
        F.concat(F.lit("action_"), (F.col("user_id") % 5).cast("string")).alias(
            "collection_action"
        ),
    )


_SQL_VARS = (
    "vars AS (SELECT CAST(event_id AS VARCHAR) AS element_id, "
    "'var ' || CAST(event_id % 50 AS VARCHAR) AS element_name, "
    "props AS element_desc, event_type AS data_type, "
    "'study_' || CAST(user_id % 20 AS VARCHAR) AS collection_id, "
    "'Study ' || CAST(user_id % 20 AS VARCHAR) AS collection_name, "
    "'action_' || CAST(user_id % 5 AS VARCHAR) AS collection_action FROM events)"
)


def q_search_study(spark, sf_dir):
    """search_study (async_search.py:437-472): study lookup by id match."""
    from dug_spark.operators import search

    return search.search_study(
        _vars_view(spark, sf_dir), study_id="study_1", size=50
    ).select("element_id", "collection_id", "collection_name")


def q_search_program(spark, sf_dir):
    """search_program (async_search.py:473-533): per-collection top_hits(1)
    page filtered to one program (data_type)."""
    from dug_spark.operators import search

    return search.search_program(_vars_view(spark, sf_dir), program_name="click")


def q_agg_data_types(spark, sf_dir):
    """agg_data_type (async_search.py:91-110): variables-index data_type
    terms-agg bucket keys + counts."""
    from dug_spark.operators import search

    return search.agg_data_types(_vars_view(spark, sf_dir))


def _grouped_hits_view(spark, sf_dir):
    """Flat variable×study hits where element fields are functions of the
    variable id (so first()-election in group_variables is deterministic)
    and one variable appears in many studies."""
    ev = _pq(spark, sf_dir, "events")
    vid = (F.col("event_id") % 50).cast("string")
    return ev.select(
        vid.alias("element_id"),
        F.concat(F.lit("var "), vid).alias("element_name"),
        F.concat(F.lit("desc "), vid).alias("element_desc"),
        F.when((F.col("event_id") % 50) % 2 == 0, "dbgap")
        .otherwise("topmed")
        .alias("data_type"),
        F.concat(F.lit("study_"), (F.col("user_id") % 20).cast("string")).alias(
            "collection_id"
        ),
        F.concat(F.lit("Study "), (F.col("user_id") % 20).cast("string")).alias(
            "collection_name"
        ),
    )


_SQL_GHITS = (
    "ghits AS (SELECT CAST(event_id % 50 AS VARCHAR) AS element_id, "
    "'var ' || CAST(event_id % 50 AS VARCHAR) AS element_name, "
    "'desc ' || CAST(event_id % 50 AS VARCHAR) AS element_desc, "
    "CASE WHEN (event_id % 50) % 2 = 0 THEN 'dbgap' ELSE 'topmed' END AS data_type, "
    "'study_' || CAST(user_id % 20 AS VARCHAR) AS collection_id, "
    "'Study ' || CAST(user_id % 20 AS VARCHAR) AS collection_name FROM events)"
)
_GROUPED_FILTERS = {"study name": ["Study 3", "Study 5"], "data_type": ["dbgap"]}


def q_var_grouped_filtered(spark, sf_dir):
    """/search_var_grouped (server.py:132-304): variables grouped across
    studies, then filtered by study-name membership + data_type."""
    from dug_spark.operators import search

    res = search.search_var_grouped(
        _grouped_hits_view(spark, sf_dir), filters=_GROUPED_FILTERS
    )
    v = res["variables"]
    return v.select(
        "element_id",
        "element_name",
        "data_type",
        F.size("studies").alias("n_studies"),
        F.concat_ws(
            ",", F.transform("studies", lambda s: s["collection_id"])
        ).alias("studies_csv"),
    )


def q_var_grouped_facets(spark, sf_dir):
    """/search_var_grouped facet aggregation: exclude-own-filter counts,
    title-cased values; Study Name counts per (variable, study)."""
    from dug_spark.operators import search

    res = search.search_var_grouped(
        _grouped_hits_view(spark, sf_dir),
        filters=_GROUPED_FILTERS,
        facet_keys=["data_type", "study name"],
    )
    out = None
    for display, df in res["agg_counts"].items():
        part = df.withColumn("facet", F.lit(display)).select(
            "facet", "key", "doc_count"
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_search_concepts_simple(spark, sf_dir):
    """Simple-query path (async_search.py:220-230, 738-789): a query
    containing '\"' and '*' routes to simple_query_string semantics —
    phrase + prefix OR-groups summed per field."""
    from dug_spark.operators import search

    concepts = _vars_view(spark, sf_dir).select(
        F.col("element_id").alias("concept_id"),
        F.col("element_name").alias("name"),
        F.col("element_desc").alias("description"),
        F.col("data_type").alias("type"),
        F.array("data_type").alias("search_terms"),
        F.array().cast("array<string>").alias("optional_terms"),
    )
    out = search.search_concepts(concepts, '"var 7" | error*', size=20)
    return out["hits"].select("concept_id", "name", "type", "score")


def q_rel_facet_counts(spark, sf_dir):
    """A10/A14: facet counts on a filtered plan, upper-cased facet label
    (X12 analog)."""
    ev = _pq(spark, sf_dir, "events")
    return (
        ev.where(F.col("value") > 100)
        .groupBy(F.upper("event_type").alias("facet"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_rel_top_events_per_user(spark, sf_dir):
    """T3: top-3 rows per group via row_number with deterministic ties."""
    ev = _pq(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("user_id", "event_id", "value", "rk")
    )


def q_rel_merge_upsert(spark, sf_dir):
    """S14 MERGE semantics: new-wins upsert via full outer join."""
    o = _pq(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"), F.lit("old").alias("src_old")
    )
    new = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"), F.lit("new").alias("src_new")
    )
    return (
        old.join(new, "k", "full_outer")
        .select(
            F.col("k").alias("o_orderkey"),
            F.coalesce("src_new", "src_old").alias("src"),
        )
    )


def q_rel_facet_exclude(spark, sf_dir):
    """A14 (server.py:234-275): exclude-own-filter faceting — each facet
    key counts values under every OTHER filter."""
    from dug_spark.operators.search import facet_counts

    ev = _pq(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 3).cast("string").alias("bucket")
    )
    out = facet_counts(
        ev,
        ["event_type", "bucket"],
        {"event_type": ["click", "error"], "bucket": ["0", "1"]},
    )
    a = out["event_type"].withColumn("facet", F.lit("event_type"))
    b = out["bucket"].withColumn("facet", F.lit("bucket"))
    return a.unionByName(b).select("facet", "value", "n")


def q_search_concepts_bm25(spark, sf_dir):
    """True per-field BM25 × clause-boost concept search — the actual ES
    scoring semantics of _get_concepts_query (async_search.py:113-218:
    name phrase^10+and^4, description phrase^6+and^3+or^2, search_terms
    phrase^8+and^5+or^1), tokenized by the std_with_stopwords analyzer
    (index.py:87-117).  Concepts view derived from documents so every
    field has real text; optional_terms is empty corpus-wide and must
    contribute nothing (the per-field docCount skip)."""
    from dug_spark.operators import search

    d = _pq(spark, sf_dir, "documents")
    w = F.split("text", " ")
    concepts = d.select(
        F.col("doc_id").cast("string").alias("concept_id"),
        F.array_join(F.slice(w, 1, 8), " ").alias("name"),
        F.col("text").alias("description"),
        F.array(F.array_join(F.slice(w, 5, 2), " ")).alias("search_terms"),
        F.array().cast("array<string>").alias("optional_terms"),
        F.col("lang").alias("type"),
    )
    return search.search_concepts_bm25(concepts, "spark window stream", k=20)


# ---------------------------------------------------------------------------
# Training-data-pipeline operators over documents/embeddings.


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: corpus unioned with a shifted copy of itself, grouped
    by content hash, keep min id."""
    d = _pq(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 10000))
    return dup.groupBy(F.md5(F.encode("text", "utf-8")).alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def q_text_quality(spark, sf_dir):
    """Quality scoring: token count, avg token length, stopword ratio."""
    d = _pq(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    sumlen = F.expr(
        "aggregate(transform(split(text, ' '), x -> length(x)), 0L, (a, x) -> a + x)"
    )
    stop = F.size(F.filter(w, lambda x: x.isin("the", "a")))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(sumlen.cast("double") / n, 6).alias("avg_token_len"),
        F.round(stop.cast("double") / n, 6).alias("stopword_ratio"),
    )


def q_text_gopher(spark, sf_dir):
    """Gopher §A1.1 document-quality gates + repetition signals (dup-line /
    dup-3-gram / top-word fractions) over documents; VALUES oracle from the
    independent rule recompute in pyoracle.gopher_rows."""
    from dug_spark.operators import textstats

    d = _pq(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.gopher_quality(d).drop("text")


def q_curate_corpus(spark, sf_dir):
    """Full curation composition (C4 line clean → Gopher gates → PII
    redaction → corpus-global line dedup → exact-doc keeper election) as
    ONE frame; VALUES oracle from the independent pure-Python recompute
    in pyoracle.curate_rows.  curated_len uses -1 (not NULL) for dropped
    docs so the VALUES table stays literal-only."""
    from dug_spark import fixtures
    from dug_spark.operators.curate import curate_corpus

    d = fixtures.webify_documents(
        _pq(spark, sf_dir, "documents").select("doc_id", "text")
    )
    cur = curate_corpus(d)
    return cur.select(
        "doc_id",
        "c4_keep",
        "gopher_keep",
        "n_email",
        "n_ipv4",
        "n_phone",
        "pii_found",
        "n_lines_removed",
        "is_canonical_copy",
        "keep",
        F.coalesce(F.length("curated_text"), F.lit(-1)).alias("curated_len"),
    )


def q_build_vocab(spark, sf_dir):
    """Corpus token-frequency top-500 (tokenizer-training prep): one
    partial-aggregating shuffle on token + TakeOrdered — SQL oracle."""
    from dug_spark.operators import textstats

    return textstats.build_vocab(
        _pq(spark, sf_dir, "documents"), top_n=500, min_count=2
    )


def q_host_profile(spark, sf_dir):
    """Per-host corpus profile (doc count, text bytes, https share) over
    synthesized urls — the aggregation behind host blocklists/sampling
    caps; partial-aggregating groupBy on host."""
    from dug_spark.operators import textstats

    d = _pq(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    scheme = F.when(did % 3 == 0, F.lit("http://www.h")).otherwise(
        F.lit("https://h")
    )
    url = F.concat(
        scheme,
        (did % 5).cast("string"),
        F.lit(".example.org/a/b/"),
        did.cast("string"),
    )
    return textstats.host_profile(d.select(url.alias("url"), "text"))


# ---------------------------------------------------------------------------
# Non-SQL-expressible ops (rows-only driver check): LSH families, media
# plumbing, node→element casting.


def q_near_dedup_corpus(spark, sf_dir):
    """Near-dedup carried to its end state (round 5): minhash pairs →
    connected duplicate clusters → min-id keeper election → one verdict
    row per document.  Oracle: independent pure-Python recompute
    (pyoracle.near_dedup_rows — its own union-find over its own LSH
    pipeline).  At sf0.01 the organic pair graph yields 22 two-doc
    clusters AND one three-doc cluster, so the transitive closure carries
    real weight in the hash (not just pair mirroring)."""
    return dedup.near_dedup_corpus(
        _pq(spark, sf_dir, "documents"), threshold=0.9
    )


def q_dedup_simhash(spark, sf_dir):
    """SimHash banded Hamming pairs (hamming≤7 with 8 blocks is exact)."""
    return dedup.simhash_near_duplicates(
        _pq(spark, sf_dir, "documents"), max_hamming=7, bands=8
    )


def q_ann_lsh(spark, sf_dir):
    """Random-hyperplane LSH approximate top-5 for the first 50 vectors."""
    emb = _pq(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb.where(F.col("vec_id") < 50), emb, dim=64, k=5, bits=16, bands=8
    )


def q_ann_pq(spark, sf_dir):
    """IVF-ADC product-quantization search (similarity.pq_ivf_topk,
    Jégou et al. 2011): trained IVF coarse cells restrict each query to
    one inverted list, PQ codes (m=8 subspaces × 16 centroids) rank it by
    table-lookup distances — corpus carries (id, cell, code) only.
    Oracle: bit-identical pure-Python recompute (pyoracle.pq_ivf_topk:
    same xxhash64 seeds, 6-decimal Lloyd rounding, sequential folds)."""
    emb = _pq(spark, sf_dir, "embeddings")
    return similarity.pq_ivf_topk(
        emb.where(F.col("vec_id") < 30), emb, k=5, k_cells=8, m=8, ksub=16,
        iters=1, pq_iters=1,
    )


def q_dedup_embedding(spark, sf_dir):
    """Embedding cosine near-dup pairs (exact audit path on a subset —
    the LSH scale path is pytest-validated as a verified-subset of this)."""
    emb = _pq(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    return dedup.embedding_near_duplicates(emb, threshold=0.35, exact=True)


def q_ann_ivf_trained(spark, sf_dir):
    """Trained-quantizer IVF ANN: centroids learned with DataFrame Lloyd
    rounds (means rounded to 6 decimals for bit-reproducibility), queries
    assigned to the same cells.  Full VALUES oracle via
    pyoracle.ivf_trained_topk."""
    emb = _pq(spark, sf_dir, "embeddings")
    return similarity.ivf_trained_topk(
        emb.where(F.col("vec_id") < 30), emb, k=5, k_cells=8, iters=1
    )


def _real_media_payload(i: int):
    """Driver-side mirror of synthetic_real_media's integer formulas
    (seed 7), decoupled from the Spark operator under test; returns
    (mime, payload, width, height)."""
    from dug_spark.functions import codecs

    if i % 3 == 0:
        w, h = 24, 16
        px = [
            bytearray(
                b
                for x in range(w)
                for b in (
                    (x * 7 + i * 13 + 7) % 256,
                    (y * 11 + i * 5) % 256,
                    (x * y + i) % 256,
                )
            )
            for y in range(h)
        ]
        return "image/png", codecs.encode_png(w, h, 3, px), w, h
    if i % 3 == 1:
        samples = [((t * (i + 3) + 7) % 2048 - 1024) * 16 for t in range(400)]
        return "audio/wav", codecs.encode_wav(8000, 1, samples), None, None
    w, h = 8, 6
    planes = []
    for f in range(6):
        y = bytes(
            (x * 7 + yy * 3 + f * 11 + i * 5 + 7) % 256
            for yy in range(h)
            for x in range(w)
        )
        u = bytes(
            (x * 13 + yy * 17 + f * 7 + i) % 256
            for yy in range(h // 2)
            for x in range(w // 2)
        )
        v = bytes(
            (x * 19 + yy * 23 + f * 5 + 7) % 256
            for yy in range(h // 2)
            for x in range(w // 2)
        )
        planes.append((y, u, v))
    return "video/y4m", codecs.encode_y4m(w, h, 4, 1, planes), w, h


def q_search_bm25(spark, sf_dir):
    """True BM25 top-20 over the documents table (the ES similarity
    behind every boosted clause in async_search.py:113-218), fully
    distributed: the per-index state's vocabulary aggregate + map-side
    scoring + top-k."""
    from dug_spark.operators import search

    return search.bm25_topk(
        _pq(spark, sf_dir, "documents"), "spark window stream", k=20
    ).select(F.col("id").alias("doc_id"), "score")


def q_search_bm25_fuzzy(spark, sf_dir):
    """The reference's DEFAULT match semantics — fuzziness=1,
    prefix_length=3 on every match clause (async_search.py:113, :278-315,
    :624) — as a driver-visible contract row: each query token expands to
    its edit-distance-1 neighborhood sharing its first 3 characters in
    the field vocabulary (search._expand_in_vocab, on the driver over the
    index state's vocabulary) and scores with Lucene SynonymQuery
    blending (tf = Σ member tfs, docFreq = max member df).  The DuckDB
    oracle derives the SAME expansion independently in SQL (levenshtein
    + prefix + the sorted-ascending max_expansions cap) — nothing is
    pre-folded as literals, so the gate covers expansion + blending
    end-to-end.

    The raw documents vocabulary has no edit-distance-1 neighbors, which
    would make fuzziness a no-op; the view appends doc_id-derived variant
    tokens (sparks/sparc, streams/strean, windows/window — each 1 edit
    from a query token with the 3-char prefix intact) plus 'winter' as
    the negative control (prefix 'win' but 3 edits — must NOT expand),
    so the groups, the SynonymQuery blend, AND the exclusion boundary all
    carry real weight in the hash."""
    from dug_spark.operators import search

    dec = F.array(
        F.lit(" sparks strean"),
        F.lit(" sparc windows"),
        F.lit(" streams window"),
        F.lit(" window spark"),
        F.lit(" winter"),
    )
    docs = _pq(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            "text", F.element_at(dec, (F.col("doc_id") % 5 + 1).cast("int"))
        ).alias("text"),
    )
    return search.bm25_topk(
        docs,
        "spark window stream",
        k=20,
        fuzziness=1,
        prefix_length=3,
    ).select(F.col("id").alias("doc_id"), "score")


def q_multimodal_real_features(spark, sf_dir):
    """REAL decode path: from-spec stdlib PNG/WAV/Y4M codecs
    (dug_spark/functions/codecs.py) decode valid synthetic media inside
    the Arrow mapInPandas plumbing — no stub mode exists any more.
    Features projected to fixed-precision CSV for cross-engine hashing."""
    media = multimodal.synthetic_real_media(spark, n=12)
    feats = multimodal.extract_features(media)  # real decode
    return feats.select(
        "media_id",
        "mime",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_string("%.6f", x))
        ).alias("features_csv"),
    )


def _multimodal_real_rows() -> list[tuple[str, str, str]]:
    """Driver-side recompute of the real-codec features: regenerates the
    same synthetic media (same integer formulas) and decodes with the
    PURE-PYTHON codec path (use_numpy=False) — independent of the numpy
    fast path the executors run, validating both the Arrow plumbing and
    the numpy/pure bit-identity contract."""
    from dug_spark.functions import codecs
    from dug_spark.functions.pyoracle import round_half_up

    def fmt(feats):
        # Java String.format("%.6f") (the Spark-side projection) rounds
        # HALF_UP; Python's %.6f is half-even — pre-round half-up so both
        # engines print the same digits at exact ties
        return ",".join(f"{round_half_up(x, 6):.6f}" for x in feats)

    rows = []
    for i in range(12):
        mime, payload, _w, _h = _real_media_payload(i)
        fn = {
            "image/png": codecs.png_features,
            "audio/wav": codecs.wav_features,
            "video/y4m": codecs.y4m_features,
        }[mime]
        rows.append((f"r{i:04d}", mime, fmt(fn(payload, use_numpy=False))))
    return rows


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style perplexity filter (operators/lm.py, Wenzek et al. 2020
    §4.3), round-5 model: a PRUNED INTERPOLATED TRIGRAM (count-threshold
    pruning, Jelinek-Mercer backoff into the bigram/unigram mix — the
    step toward CCNet's actual pruned KenLM) trained on the doc_id%10==0
    slice scores every document; buckets head/middle/tail come from the
    reference slice's own perplexity tertiles (broadcast constants — no
    corpus-wide percentile at scoring time).  Map-only over the corpus.
    VALUES oracle: pyoracle.lm_rows(order=3) (independent pure-Python
    recompute of the training counts, pruning, scoring loop and
    cutoffs)."""
    from dug_spark.operators import lm

    docs = _pq(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 10 == 0)
    return lm.perplexity_filter(docs, ref, order=3).select(
        "doc_id", "n_tokens", "cross_entropy", "perplexity", "ppl_bucket"
    )


def q_lm_pack(spark, sf_dir):
    """Shard-local greedy sequence packing (operators/lm.py): documents →
    fixed-token-budget training sequences inside deterministic shards
    (doc_id % 8), one corpus shuffle keyed by shard.  VALUES oracle:
    pyoracle.pack_rows."""
    from dug_spark.operators import lm

    docs = _pq(spark, sf_dir, "documents")
    return lm.pack_sequences(docs, budget=128, n_shards=8)


def q_kg_node_to_elements(spark, sf_dir):
    """J9: cast qualifying KG nodes into new elements (crawler.py:203-276).
    Projects the scalar element columns (metadata map omitted — map-typed
    value hashing differs across engines)."""
    ids = spark.createDataFrame(
        [(c, c) for c in _EXPAND_IDS], "concept_id string, curie string"
    )
    ans = expand.expand_concepts(ids, fixtures.kg_edges(spark), fixtures.kg_nodes(spark),
                                 queries={"pub": ("disease", "publication")},
                                 curie_prefixes={"disease": ["MONDO"]})
    return expand.nodes_to_elements(ans, fixtures.kg_nodes(spark)).select(
        "element_id", "element_name", "element_desc", "data_type",
        "collection_id", "element_action",
    )


_pyoracle_values_cache: dict[str, dict[str, str]] = {}


def _pyoracle_sf() -> str:
    """Input dir for the pure-Python recompute oracles: an explicit env
    override, else the sf_dir the driver last passed to any queries()
    callable, else the driver's documented comparison scale."""
    import os

    return (
        os.environ.get("SPARK_GRAFT_ORACLE_SF")
        or _LAST_SF_DIR
        or "/root/testdata/sf0.01"
    )


def _values_or_empty(rows, cols: str, types: str) -> str:
    """VALUES table, or a correctly-TYPED empty relation: bare NULLs would
    be typeless in DuckDB and fail the gate's schema comparison even when
    an empty result is correct."""
    names = [c.strip() for c in cols.split(",")]
    if not rows:
        sel = ", ".join(
            f"CAST(NULL AS {t.strip()}) AS {n}"
            for n, t in zip(names, types.split(","))
        )
        return f"SELECT {sel} WHERE FALSE"
    return f"SELECT * FROM (VALUES {_vals(rows)}) AS t({cols})"


def _pyoracle_values() -> dict[str, str]:
    """VALUES oracles for the xxhash64/hyperplane families: results of the
    spec-derived pure-Python recomputation (dug_spark/functions/pyoracle.py
    — validated against Spark at sf0.001 by tests/test_python_oracles.py)
    over the driver's comparison tables, read WITHOUT Spark.  This upgrades
    these queries from the rows-only check to full rows+schema+hash.

    Failure here (missing parquet at the resolved sf dir, duckdb import)
    degrades ONLY these entries to the rows-only check — it never takes
    down the other oracles by raising out of oracle_sql()."""
    sf = _pyoracle_sf()
    if sf in _pyoracle_values_cache:
        return _pyoracle_values_cache[sf]
    import sys

    try:
        import duckdb
    except ImportError as e:  # degrade, don't take down the SQL oracles
        print(f"pyoracle VALUES degraded to rows-only for {sf}: {e!r}",
              file=sys.stderr)
        _pyoracle_values_cache[sf] = {}
        return {}
    try:

        from dug_spark.functions import pyoracle as po

        con = duckdb.connect()
        docs = [
            (int(d), t)
            for d, t in con.execute(
                f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
            ).fetchall()
        ]
        docs_lang = [
            (int(d), t, lg)
            for d, t, lg in con.execute(
                f"SELECT doc_id, text, lang FROM '{sf}/documents.parquet'"
            ).fetchall()
        ]
        vecs = [
            (int(v), [float(x) for x in e], lab)
            for v, e, lab in con.execute(
                f"SELECT vec_id, embedding, label FROM '{sf}/embeddings.parquet'"
            ).fetchall()
        ]
        con.close()
        flat = [(v, e) for v, e, _l in vecs]
        qs = [(v, e) for v, e, _l in vecs if v < 50]
        qs3 = [t for t in vecs if t[0] < 50]
        qs30 = [(v, e) for v, e, _l in vecs if v < 30]
        vals = {
            # params mirror the q_* queries exactly
            "dsir_select": _values_or_empty(
                po.dsir_rows(
                    docs,
                    [
                        (d, t)
                        for d, t, lg in docs_lang
                        if lg == "en" and d % 7 == 0
                    ],
                    buckets=512,
                    k=100,
                ),
                "doc_id, n_feats, logw, keep",
                "BIGINT, BIGINT, DOUBLE, BOOLEAN",
            ),
            "dedup_simhash": _values_or_empty(
                po.simhash_pairs(docs, max_hamming=7, bands=8),
                "id_a, id_b, hamming",
                "BIGINT, BIGINT, INTEGER",
            ),
            "near_dedup_corpus": _values_or_empty(
                po.near_dedup_rows(docs, threshold=0.9),
                "doc_id, cluster_id, cluster_size, keep",
                "BIGINT, BIGINT, BIGINT, BOOLEAN",
            ),
            "ann_lsh": _values_or_empty(
                po.lsh_topk(qs, flat, dim=64, k=5, bits=16, bands=8),
                "q_id, neighbor_id, rk, cos_sim",
                "BIGINT, BIGINT, INTEGER, DOUBLE",
            ),
            "ann_ivf_trained": _values_or_empty(
                po.ivf_trained_topk(qs30, flat, k=5, k_cells=8, iters=1),
                "q_id, neighbor_id, rk, cos_sim",
                "BIGINT, BIGINT, INTEGER, DOUBLE",
            ),
            "ann_pq": _values_or_empty(
                po.pq_ivf_topk(
                    qs30, flat, k=5, k_cells=8, m=8, ksub=16,
                    iters=1, pq_iters=1,
                ),
                "q_id, neighbor_id, rk, adc_dist",
                "BIGINT, BIGINT, INTEGER, DOUBLE",
            ),
            "web_scc": _values_or_empty(
                po.scc_rows(po.web_edges_py([d for d, _t in docs])),
                "node, scc_id",
                "VARCHAR, VARCHAR",
            ),
            # published web-corpus filter rule sets (Gopher §A1.1 / C4
            # §2.2): independent pure-Python recompute of the rules
            "text_gopher": _values_or_empty(
                po.gopher_rows(docs),
                "doc_id, dup_line_frac, dup_3gram_frac, top_word_frac, "
                "g_word_count, g_mean_word_len, g_symbol_ratio, "
                "g_bullet_lines, g_ellipsis_lines, g_alpha_words, "
                "g_stopwords, g_dup_lines, g_top_word, gopher_keep",
                "BIGINT, DOUBLE, DOUBLE, DOUBLE, BOOLEAN, BOOLEAN, "
                "BOOLEAN, BOOLEAN, BOOLEAN, BOOLEAN, BOOLEAN, BOOLEAN, "
                "BOOLEAN, BOOLEAN",
            ),
            # full curation composition verdicts (independent recompute of
            # C4 → Gopher → PII → global line dedup → exact keeper)
            # LM-perplexity filter + shard-local sequence packing
            # (operators/lm.py): independent pure-Python recompute of the
            # bigram training counts, scoring loop, tertile cutoffs, and
            # the per-shard greedy packing
            "lm_perplexity": _values_or_empty(
                po.lm_rows(docs, order=3),
                "doc_id, n_tokens, cross_entropy, perplexity, ppl_bucket",
                "BIGINT, INTEGER, DOUBLE, DOUBLE, VARCHAR",
            ),
            "lm_pack": _values_or_empty(
                po.pack_rows(docs, budget=128, n_shards=8),
                "shard, seq_id, doc_id, tok_offset, n_tokens, oversize",
                "BIGINT, INTEGER, BIGINT, INTEGER, INTEGER, BOOLEAN",
            ),
            "curate_corpus": _values_or_empty(
                po.curate_rows(docs, webify=True),
                "doc_id, c4_keep, gopher_keep, n_email, n_ipv4, n_phone, "
                "pii_found, n_lines_removed, is_canonical_copy, keep, "
                "curated_len",
                "BIGINT, BOOLEAN, BOOLEAN, INTEGER, INTEGER, INTEGER, "
                "BOOLEAN, BIGINT, BOOLEAN, BOOLEAN, INTEGER",
            ),
        }
    except (OSError, duckdb.Error) as e:
        # expected degradations only (missing/unreadable parquet): a BUG
        # in the recompute itself must raise, not silently weaken five
        # queries to the rows-only check
        print(f"pyoracle VALUES degraded to rows-only for {sf}: {e!r}",
              file=sys.stderr)
        vals = {}
    _pyoracle_values_cache[sf] = vals
    return vals


def _simple_concepts_oracle() -> str:
    """Oracle for the simple-query path: the same simple_query_string
    expansion ('\"var 7\"' phrase OR 'error*' prefix per field, summed
    across name/description/search_terms) in DuckDB SQL — fields analyzed
    with the SAME std_with_stopwords analyzer as the Spark side (round 4:
    ES applies the index analyzer to simple_query_string too)."""

    def field_match(f: str) -> str:
        an = _analyzer_sql(f"coalesce({f}, '')")
        return (
            f"CASE WHEN contains(' ' || array_to_string({an}, ' ') || ' ', ' var 7 ') "
            f"OR len(list_filter({an}, "
            f"x -> starts_with(x, 'error'))) > 0 THEN 1.0 ELSE 0.0 END"
        )

    score = " + ".join(
        field_match(f) for f in ["name", "description", "search_terms_joined"]
    )
    return (
        f"WITH {_SQL_VARS}, "
        "concepts AS (SELECT element_id AS concept_id, element_name AS name, "
        "element_desc AS description, data_type AS type, "
        "data_type AS search_terms_joined FROM vars), "
        f"scored AS (SELECT concept_id, name, type, ROUND({score}, 6) AS score "
        "FROM concepts WHERE length(coalesce(name, '')) > 0 "
        "AND length(coalesce(description, '')) > 0) "
        "SELECT concept_id, name, type, CAST(score AS DOUBLE) AS score FROM scored "
        "WHERE score > 0 ORDER BY score DESC, concept_id ASC LIMIT 20"
    )


def _analyzer_sql(expr: str) -> str:
    """Shared std_with_stopwords analyzer as a DuckDB fragment — the same
    tokenization the Spark operators use (dug_spark/functions/analyzer.py)."""
    from dug_spark.functions import analyzer

    return analyzer.analyze_sql(expr)


def _bm25_fuzzy_oracle() -> str:
    """Oracle for fuzziness=1 BM25: DuckDB independently derives the
    fuzzy expansion groups (distinct field vocabulary → levenshtein ≤ 1
    with exact 3-char prefix → sorted-ascending cap at max_expansions=50
    with the original token always kept) and the SynonymQuery blend
    (group tf = Σ member tfs, group docFreq = max member df) — the full
    semantics of search._expand_in_vocab + bm25_topk, nothing folded in
    as precomputed literals.  Both engines use plain Levenshtein
    (insert/delete/substitute; ES's transposition-as-1 Damerau variant is
    the documented deviation, noted in _expand_in_vocab)."""
    an = _analyzer_sql
    return (
        # same doc_id-derived variant decoration as q_search_bm25_fuzzy
        "WITH docs AS (SELECT doc_id, text || CASE doc_id % 5 "
        "  WHEN 0 THEN ' sparks strean' WHEN 1 THEN ' sparc windows' "
        "  WHEN 2 THEN ' streams window' WHEN 3 THEN ' window spark' "
        "  ELSE ' winter' END AS text FROM documents), "
        "toks AS (SELECT doc_id, "
        f"  {an('text')} AS tk FROM docs), "
        "lens AS (SELECT doc_id, tk, len(tk) AS dl FROM toks), "
        "stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens), "
        "q(tok) AS (VALUES ('spark'), ('stream'), ('window')), "
        "vocab AS (SELECT DISTINCT t FROM (SELECT unnest(tk) AS t FROM lens)), "
        # expansion candidates: share the token's first 3 chars exactly,
        # within 1 edit; the token itself joins via the UNION below
        "cand AS (SELECT q.tok, v.t FROM q JOIN vocab v ON v.t <> q.tok "
        "  AND starts_with(v.t, substr(q.tok, 1, 3)) "
        "  AND levenshtein(v.t, q.tok) <= 1), "
        # deterministic cap: expansions sorted ascending, top 49 + self
        "capped AS (SELECT tok, t FROM (SELECT tok, t, "
        "  ROW_NUMBER() OVER (PARTITION BY tok ORDER BY t) AS rn FROM cand) "
        "  WHERE rn <= 49), "
        "grp AS (SELECT tok, tok AS t FROM q UNION SELECT tok, t FROM capped), "
        "members AS (SELECT DISTINCT t FROM grp), "
        "tf AS (SELECT l.doc_id, l.dl, m.t, "
        "  len(list_filter(l.tk, x -> x = m.t)) AS tf "
        "  FROM lens l CROSS JOIN members m), "
        "df AS (SELECT t, SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df "
        "  FROM tf GROUP BY t), "
        "gdf AS (SELECT g.tok, MAX(df.df) AS df FROM grp g "
        "  JOIN df ON df.t = g.t GROUP BY g.tok), "
        "gtf AS (SELECT tf.doc_id, g.tok, MAX(tf.dl) AS dl, SUM(tf.tf) AS tf "
        "  FROM tf JOIN grp g ON g.t = tf.t GROUP BY tf.doc_id, g.tok), "
        "scored AS (SELECT t.doc_id, "
        "  SUM(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) "
        "      * t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))) AS score "
        "  FROM gtf t JOIN gdf d ON t.tok = d.tok CROSS JOIN stats s "
        "  GROUP BY t.doc_id) "
        "SELECT doc_id, ROUND(score, 6) AS score FROM scored WHERE score > 0 "
        "ORDER BY score DESC, doc_id ASC LIMIT 20"
    )


def _concepts_bm25_oracle() -> str:
    """Oracle for the multi-field boosted-BM25 concept search: per-field
    Lucene BM25 (per-field docCount/avgdl/df) × the reference's clause
    boosts (name phrase^10+and^4, description phrase^6+and^3+or^2,
    search_terms phrase^8+and^5+or^1), std_with_stopwords tokenization —
    mirrors search.bm25_boosted_topk closed-form in DuckDB SQL."""
    an = _analyzer_sql
    phrase = " spark window stream "
    toks = ["spark", "stream", "window"]
    q_vals = ", ".join(f"('{t}')" for t in toks)
    flds = ["name", "desc", "st"]

    def bm25_sum(f: str) -> str:
        return (
            f"SUM(ln(1.0 + (s.n_{f} - d.df_{f} + 0.5) / (d.df_{f} + 0.5)) "
            f"* t.tf_{f} * 2.2 / (t.tf_{f} + 1.2 * (0.25 + 0.75 * t.dl_{f} "
            f"* s.n_{f} / s.s_{f}))) AS b_{f}"
        )

    def gate(f: str) -> str:
        andc = " AND ".join(f"list_contains(tk_{f}, '{t}')" for t in toks)
        return (
            f"CASE WHEN contains(' ' || array_to_string(tk_{f}, ' ') || ' ', "
            f"'{phrase}') THEN 1.0 ELSE 0.0 END AS p_{f}, "
            f"CASE WHEN {andc} THEN 1.0 ELSE 0.0 END AS a_{f}"
        )

    return (
        "WITH c AS (SELECT CAST(doc_id AS VARCHAR) AS concept_id, "
        "  array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS name, "
        "  text AS description, "
        "  array_to_string(list_slice(string_split(text, ' '), 5, 6), ' ') AS stx, "
        "  lang AS type FROM documents), "
        "base AS (SELECT concept_id, name, type, "
        f"  {an('name')} AS tk_name, {an('description')} AS tk_desc, "
        f"  {an('stx')} AS tk_st "
        "  FROM c WHERE length(coalesce(name, '')) > 0 "
        "  AND length(coalesce(description, '')) > 0), "
        "lens AS (SELECT *, len(tk_name) AS dl_name, len(tk_desc) AS dl_desc, "
        "  len(tk_st) AS dl_st FROM base), "
        f"q(tok) AS (VALUES {q_vals}), "
        "stats AS (SELECT "
        + ", ".join(
            f"SUM(CASE WHEN dl_{f} > 0 THEN 1 ELSE 0 END) AS n_{f}, "
            f"SUM(dl_{f}) AS s_{f}"
            for f in flds
        )
        + " FROM lens), "
        "tf AS (SELECT l.concept_id, q.tok, "
        + ", ".join(f"l.dl_{f}" for f in flds) + ", "
        + ", ".join(
            f"len(list_filter(l.tk_{f}, x -> x = q.tok)) AS tf_{f}" for f in flds
        )
        + " FROM lens l CROSS JOIN q), "
        "df AS (SELECT tok, "
        + ", ".join(
            f"SUM(CASE WHEN tf_{f} > 0 THEN 1 ELSE 0 END) AS df_{f}" for f in flds
        )
        + " FROM tf GROUP BY tok), "
        "fsc AS (SELECT t.concept_id, "
        + ", ".join(bm25_sum(f) for f in flds)
        + " FROM tf t JOIN df d ON t.tok = d.tok CROSS JOIN stats s "
        "  GROUP BY t.concept_id), "
        "gates AS (SELECT concept_id, "
        + ", ".join(gate(f) for f in flds)
        + " FROM lens), "
        "scored AS (SELECT f.concept_id, "
        "  f.b_name * (10 * g.p_name + 4 * g.a_name) "
        "+ f.b_desc * (6 * g.p_desc + 3 * g.a_desc + 2) "
        "+ f.b_st * (8 * g.p_st + 5 * g.a_st + 1) AS raw "
        "FROM fsc f JOIN gates g USING (concept_id)) "
        "SELECT b.concept_id, b.name, b.type, ROUND(s.raw, 6) AS score "
        "FROM scored s JOIN base b USING (concept_id) WHERE s.raw > 0 "
        "ORDER BY score DESC, b.concept_id ASC LIMIT 20"
    )


# ---------------------------------------------------------------------------
# Driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full corpus→triples pipeline on sf0.001."""
    from dug_spark.pipeline import Pipeline

    corpus = _corpus(spark, "/root/testdata/sf0.001")
    pipe = Pipeline(
        dictionary=fixtures.vocab_dictionary(spark),
        curie_norm=fixtures.vocab_norm(spark),
        kg_edges=fixtures.vocab_kg_edges(spark),
        kg_nodes=fixtures.vocab_kg_nodes(spark),
        expand_queries=fixtures.VOCAB_EXPAND_QUERIES,
        expand_prefixes=fixtures.VOCAB_EXPAND_PREFIXES,
        use_extracted_html=True,
    )
    return pipe.run(corpus).triples


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_mentions": q_kg_mentions,
        "kg_mentions_scored": q_kg_mentions_scored,
        "kg_mentions_norm": q_kg_mentions_norm,
        "kg_concept_terms": q_kg_concept_terms,
        "kg_triples_has_concept": q_kg_triples_has_concept,
        # round 4 (cont.): kg_triples_subclass (a strict pred-filter subset
        # of kg_triples_all, which carries the same 5 subclass triples)
        # cedes its slot to PageRank over the co-mention concept graph
        "kg_pagerank": q_kg_pagerank,
        # round 5 (cont.): kg_triples_co_mention (unweighted pairs — a
        # strict projection of kg_npmi's output, and its triple form still
        # rides in kg_triples_all) cedes its slot to the NPMI-weighted
        # edge family
        "kg_npmi": q_kg_npmi,
        "kg_triples_all": q_kg_triples_all,
        "kg_connected_components": q_kg_connected_components,
        "kg_canonical_mapping": q_kg_canonical_mapping,
        # round 5 (cont. 3): the declarative KG-query layer — conjunctive
        # BGP matching (the TranQL-analog) and seeded k-hop reachability.
        # rel_pricing_summary / rel_window_hourly cede their slots (plain
        # one-shot SQL aggregations whose shapes ride in dedup_exact /
        # rel_top_events_per_user)
        "kg_bgp": q_kg_bgp,
        "kg_khop": q_kg_khop,
        # round 5 (cont. 4): dedup_near_shingle (the documented crossJoin
        # exact-audit path — near-dup semantics stay driver-visible via
        # near_dedup_corpus, whose candidate verify IS this Jaccard on
        # the LSH candidate set) cedes its slot to the SHACL-lite triple
        # integrity gate, the kg_construct publish gate
        "kg_validate": q_kg_validate,
        "kg_expand": q_kg_expand,
        "kg_node_to_elements": q_kg_node_to_elements,
        "search_kg": q_search_kg,
        "search_study": q_search_study,
        "search_program": q_search_program,
        "agg_data_types": q_agg_data_types,
        "search_concepts_simple": q_search_concepts_simple,
        # BM25 family early in dict order: the r3 driver artifact captured
        # exactly 50 rows and dropped the dict-LAST registered query —
        # keep the newest oracles far from the tail (and the registry at
        # exactly 50 entries; the retired search_scored / fake-codec
        # multimodal_features rows are subsumed by these + the real-codec
        # multimodal queries)
        "search_bm25": q_search_bm25,
        # round 5: text_c4_clean (a strict sub-stage of curate_corpus,
        # whose oracle row carries the same per-doc C4 verdicts) cedes
        # its slot to the fuzziness=1 contract row — the reference's
        # DEFAULT match semantics
        "search_bm25_fuzzy": q_search_bm25_fuzzy,
        "search_concepts_bm25": q_search_concepts_bm25,
        "rel_var_grouped_filtered": q_var_grouped_filtered,
        "rel_var_grouped_facets": q_var_grouped_facets,
        "rel_facet_exclude": q_rel_facet_exclude,
        # round 5 (cont.): rel_top_hit_per_group (A9 top_hits(1) — its
        # argmax-per-group window semantics stay driver-visible via
        # rel_top_events_per_user AND via kg_disambiguate's own winner
        # election) cedes its slot to entity disambiguation, the
        # kg_construct-core operator
        "kg_disambiguate": q_kg_disambiguate,
        # round 5 (cont.): rel_top_orders (plain pagination, T2 —
        # rel_top_events_per_user keeps window-rank semantics driver-
        # visible) cedes its slot to the ontology ancestor closure
        "kg_closure": q_kg_closure,
        "rel_facet_counts": q_rel_facet_counts,
        "rel_top_events_per_user": q_rel_top_events_per_user,
        # round 4: the trivial TPC-H semi/anti-join rows (semi/anti
        # semantics stay pytest- and kg-query-covered; anti was a 0-row
        # oracle) ceded their registry slots to the published web-corpus
        # filter rule sets — first-class training-data operators
        "text_gopher": q_text_gopher,
        # round 4 (cont.): the full curation composition + the web-corpus
        # URL/vocab operators take the slots of four redundant rows
        # (lang_id, doc_fingerprint, multimodal_frames, rel_program_list —
        # all still pytest-covered; fingerprint/frames semantics remain
        # driver-visible via dedup_exact / multimodal_real_features)
        "curate_corpus": q_curate_corpus,
        "build_vocab": q_build_vocab,
        "host_profile": q_host_profile,
        # round 5 (cont.): rel_union_dedup (U1 unionByName+distinct —
        # exercised inside kg_triples_all and near_dedup_corpus) cedes
        # its slot to typed relation extraction, the kg_construct-core
        # operator
        "relation_extract": q_relation_extract,
        "rel_merge_upsert": q_rel_merge_upsert,
        # round 5 (cont. 2): rel_grouped_collect (A12 collect_list
        # reshaping — still exercised by rel_var_grouped_filtered's
        # grouped flatten) and rel_metadata_extract (X-class regex
        # projection — exercised inside relation_extract's zipped
        # two-group extraction) cede their slots to the IVFPQ ANN search
        # and web-graph SCC rows
        "ann_pq": q_ann_pq,
        "web_scc": q_web_scc,
        # round 5 (cont. 4): url_dedup (newest-capture max_by election —
        # its argmax-per-key shape stays driver-visible via
        # rel_top_events_per_user) cedes its slot to link prediction
        # over the host graph
        "web_link_pred": q_web_link_pred,
        "dedup_exact": q_dedup_exact,
        "text_quality": q_text_quality,
        # round 5 (cont.): knn_cosine (the brute-force exact-audit path —
        # cosine top-k semantics stay driver-visible via ann_lsh /
        # ann_ivf_trained, whose exact re-rank IS this computation on the
        # candidate set) cedes its slot to DSIR importance resampling,
        # the training-data selection operator
        "dsir_select": q_dsir_select,
        "dedup_embedding": q_dedup_embedding,
        # round 4 (cont.): LM-perplexity filtering and sequence packing
        # take the slots of two subsumed rows — multimodal_resize (Arrow
        # media plumbing stays driver-visible via multimodal_real_features,
        # resize itself pytest-covered) and ann_ivf (its equi-join top-k
        # machinery is a strict subset of ann_ivf_trained, which adds the
        # Lloyd quantizer on top; ann_ivf stays pytest-covered)
        "lm_perplexity": q_lm_perplexity,
        "lm_pack": q_lm_pack,
        # xxhash64/hyperplane families: full VALUES oracles from the
        # pure-Python spec recompute (see _pyoracle_values)
        # round 5: dedup_minhash (candidate pairs) cedes its slot to the
        # composed end-state — pairs → connected clusters → keeper
        # election
        "near_dedup_corpus": q_near_dedup_corpus,
        "dedup_simhash": q_dedup_simhash,
        "ann_lsh": q_ann_lsh,
        "ann_ivf_trained": q_ann_ivf_trained,
        "multimodal_real_features": q_multimodal_real_features,
    }


def oracle_sql() -> dict[str, str]:
    corpus_cte = f"WITH {_SQL_CORPUS}, {_SQL_DICT}, {_SQL_MENTIONS}"
    norm_cte = f"{corpus_cte}, {_SQL_NORM}, {_SQL_NMENTIONS}"
    return {
        # xxhash64/hyperplane families: VALUES tables from the pure-Python
        # recompute over the sf0.01 inputs (see _pyoracle_values)
        **_pyoracle_values(),
        "kg_mentions": f"{corpus_cte} SELECT url, search_text, curie FROM mentions",
        "kg_mentions_scored": (
            f"WITH {_SQL_CORPUS}, {_SQL_DICT_SCORED}, "
            "mentions AS (SELECT c.url AS url, d.term AS search_text, d.curie AS curie, d.score "
            "FROM corpus c JOIN dict d ON (' ' || c.text || ' ') LIKE ('% ' || d.term || ' %') "
            "WHERE c.lang = 'en') "
            "SELECT url, search_text, curie FROM mentions WHERE score >= 0.9"
        ),
        "kg_mentions_norm": f"{norm_cte} SELECT DISTINCT url, curie FROM nmentions",
        "kg_concept_terms": (
            f"{norm_cte} SELECT curie, string_agg(DISTINCT search_text, '|' ORDER BY search_text) "
            "AS search_terms, COUNT(DISTINCT url) AS n_docs FROM nmentions GROUP BY curie"
        ),
        "kg_triples_has_concept": (
            f"{norm_cte} SELECT DISTINCT url AS subj, 'HAS_CONCEPT' AS pred, curie AS obj "
            "FROM nmentions"
        ),
        "kg_pagerank": _pagerank_sql(norm_cte),
        "kg_npmi": (
            f"{norm_cte}, dm AS (SELECT DISTINCT url, curie FROM nmentions), "
            "pd AS (SELECT url, COUNT(*) AS sz FROM dm GROUP BY url), "
            "docs AS (SELECT url FROM pd WHERE sz BETWEEN 1 AND 64), "
            "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM docs), "
            "marg AS (SELECT curie, COUNT(*) AS c FROM dm JOIN docs USING (url) GROUP BY curie), "
            "co AS (SELECT a.curie AS src, b.curie AS dst, COUNT(*) AS n_co "
            "  FROM dm a JOIN dm b ON a.url = b.url AND a.curie < b.curie "
            "  JOIN docs ON docs.url = a.url GROUP BY 1, 2) "
            "SELECT src, dst, n_co, "
            "CASE WHEN CAST(n_co AS DOUBLE) = (SELECT n FROM nn) THEN 1.0 "
            "ELSE ROUND(ln(n_co * (SELECT n FROM nn) / (ma.c * mb.c)) "
            "         / ln((SELECT n FROM nn) / n_co), 5) END AS npmi "
            "FROM co JOIN marg ma ON ma.curie = co.src "
            "JOIN marg mb ON mb.curie = co.dst"
        ),
        "kg_triples_all": (
            f"{norm_cte}, {_SQL_KGE}, dm AS (SELECT DISTINCT url, curie FROM nmentions) "
            "SELECT DISTINCT url AS subj, 'HAS_CONCEPT' AS pred, curie AS obj FROM nmentions "
            "UNION ALL "
            "SELECT DISTINCT e.subject, 'biolink:subclass_of', e.object FROM kg_edges e "
            "WHERE e.predicate = 'biolink:subclass_of' AND e.subject IN (SELECT curie FROM dm) "
            "UNION ALL "
            "SELECT DISTINCT a.curie, 'co_mentioned_with', b.curie "
            "FROM dm a JOIN dm b ON a.url = b.url AND a.curie < b.curie"
        ),
        "kg_bgp": (
            f"{norm_cte}, {_SQL_KGE}, dm AS (SELECT DISTINCT url, curie FROM nmentions), "
            "t AS (SELECT DISTINCT url AS subj, 'HAS_CONCEPT' AS pred, curie AS obj "
            "FROM nmentions "
            "UNION ALL SELECT DISTINCT e.subject, 'biolink:subclass_of', e.object "
            "FROM kg_edges e WHERE e.predicate = 'biolink:subclass_of' "
            "AND e.subject IN (SELECT curie FROM dm) "
            "UNION ALL SELECT DISTINCT a.curie, 'co_mentioned_with', b.curie "
            "FROM dm a JOIN dm b ON a.url = b.url AND a.curie < b.curie) "
            "SELECT DISTINCT t1.obj AS c, t3.obj AS c2, t1.subj AS doc, t2.obj AS parent "
            "FROM t t1 "
            "JOIN t t2 ON t2.pred = 'biolink:subclass_of' AND t2.subj = t1.obj "
            "JOIN t t3 ON t3.pred = 'HAS_CONCEPT' AND t3.subj = t1.subj "
            "JOIN t t4 ON t4.pred = 'co_mentioned_with' AND t4.subj = t1.obj "
            "AND t4.obj = t3.obj "
            "WHERE t1.pred = 'HAS_CONCEPT'"
        ),
        "kg_khop": (
            "WITH RECURSIVE " + norm_cte[len("WITH ") :] + ", "
            "dm AS (SELECT DISTINCT url, curie FROM nmentions), "
            "cm AS (SELECT DISTINCT a.curie AS s, b.curie AS o "
            "FROM dm a JOIN dm b ON a.url = b.url AND a.curie < b.curie), "
            "sym AS (SELECT s AS src, o AS dst FROM cm UNION SELECT o, s FROM cm), "
            "seeds AS (SELECT DISTINCT s AS seed FROM cm ORDER BY seed LIMIT 2), "
            "reach AS (SELECT seed, seed AS node, 0 AS hops FROM seeds "
            "UNION SELECT r.seed, sy.dst, r.hops + 1 FROM reach r "
            "JOIN sym sy ON sy.src = r.node WHERE r.hops < 3) "
            "SELECT seed, node, CAST(MIN(hops) AS INTEGER) AS hops "
            "FROM reach GROUP BY seed, node HAVING MIN(hops) > 0"
        ),
        "kg_validate": (
            f"{norm_cte}, {_SQL_KGE}, dm AS (SELECT DISTINCT url, curie FROM nmentions), "
            "t AS (SELECT DISTINCT url AS subj, 'HAS_CONCEPT' AS pred, curie AS obj "
            "FROM nmentions "
            "UNION ALL SELECT DISTINCT e.subject, 'biolink:subclass_of', e.object "
            "FROM kg_edges e WHERE e.predicate = 'biolink:subclass_of' "
            "AND e.subject IN (SELECT curie FROM dm) "
            "UNION ALL SELECT DISTINCT a.curie, 'co_mentioned_with', b.curie "
            "FROM dm a JOIN dm b ON a.url = b.url AND a.curie < b.curie), "
            "c(pred, domain_prefix, range_prefix, max_out) AS (VALUES "
            "('HAS_CONCEPT', 'https', 'OP', 2), "
            "('biolink:subclass_of', 'MONDO', 'OP', 1)), "
            "j AS (SELECT t.subj, t.pred, t.obj, c.domain_prefix, "
            "c.range_prefix, c.max_out, c.pred AS c_pred, "
            "CASE WHEN contains(t.subj, ':') THEN split_part(t.subj, ':', 1) "
            "ELSE '' END AS sp, "
            "CASE WHEN contains(t.obj, ':') THEN split_part(t.obj, ':', 1) "
            "ELSE '' END AS op FROM t LEFT JOIN c ON c.pred = t.pred), "
            "card AS (SELECT subj, pred FROM j WHERE max_out IS NOT NULL "
            "GROUP BY subj, pred, max_out HAVING COUNT(DISTINCT obj) > max_out) "
            "SELECT subj, pred, obj, 'unknown_pred' AS violation FROM j "
            "WHERE c_pred IS NULL "
            "UNION ALL SELECT subj, pred, obj, 'domain' FROM j "
            "WHERE domain_prefix IS NOT NULL AND sp <> domain_prefix "
            "UNION ALL SELECT subj, pred, obj, 'range' FROM j "
            "WHERE range_prefix IS NOT NULL AND op <> range_prefix "
            "UNION ALL SELECT DISTINCT j.subj, j.pred, j.obj, 'cardinality' "
            "FROM j JOIN card ON card.subj = j.subj AND card.pred = j.pred"
        ),
        "kg_connected_components": (
            f"WITH RECURSIVE e(src, dst) AS (VALUES {_vals(_CC_EDGES)}), "
            "sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), "
            "nodes AS (SELECT DISTINCT src AS id FROM sym), "
            "reach(id, r) AS (SELECT id, id FROM nodes "
            "  UNION SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id) "
            "SELECT id, MIN(r) AS comp FROM reach GROUP BY id"
        ),
        "kg_canonical_mapping": (
            f"WITH RECURSIVE e(src, dst) AS (VALUES {_vals(_EQ_EDGES)}), "
            "sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), "
            "nodes AS (SELECT DISTINCT src AS id FROM sym), "
            "reach(id, r) AS (SELECT id, id FROM nodes "
            "  UNION SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.id), "
            "comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id), "
            f"pref(p) AS (VALUES {_vals([(p,) for p in _PREFERRED])}), "
            "elect AS (SELECT c.comp, "
            "  MIN(CASE WHEN pr.p IS NOT NULL THEN c.id END) AS canon_pref, "
            "  MIN(c.id) AS canon_any "
            "  FROM comp c LEFT JOIN pref pr ON pr.p = c.id GROUP BY c.comp) "
            "SELECT c.id AS curie, COALESCE(el.canon_pref, el.canon_any) AS canonical_id "
            "FROM comp c JOIN elect el ON c.comp = el.comp"
        ),
        "kg_expand": (
            f"WITH ids(concept_id, curie) AS (VALUES {_vals([(c, c) for c in _EXPAND_IDS])}), "
            f"tmpl(query_name, source_prefix, object_category, object_type) AS "
            f"(VALUES {_vals(_TMPL_ROWS)}), "
            f"edges(subject, predicate, object) AS (VALUES {_vals(_HEART_EDGES)}), "
            f"cats(id, category) AS (VALUES {_vals(_CAT_ROWS)}) "
            "SELECT DISTINCT i.concept_id AS concept_id, t.query_name AS query_name, "
            "i.curie || '_' || e.object || '_' || t.query_name AS answer_id, "
            "i.curie AS subject, e.predicate AS predicate, e.object AS object "
            "FROM ids i "
            "JOIN tmpl t ON split_part(i.curie, ':', 1) = t.source_prefix "
            "JOIN edges e ON e.subject = i.curie "
            "JOIN cats c ON c.id = e.object AND "
            "(lower(c.category) = lower(t.object_category) OR c.category = t.object_type) "
            "WHERE i.curie != 'CHEBI:17336'"
        ),
        "kg_node_to_elements": (
            f"WITH ids(concept_id, curie) AS (VALUES {_vals([(c, c) for c in _EXPAND_IDS])}), "
            f"edges(subject, predicate, object) AS (VALUES {_vals(_HEART_EDGES)}), "
            f"cats(id, category) AS (VALUES {_vals(_CAT_ROWS)}), "
            f"nodes(id, name) AS (VALUES {_vals(_NODE_ROWS)}) "
            "SELECT n.id AS element_id, n.name AS element_name, '' AS element_desc, "
            "'cde' AS data_type, '' AS collection_id, '' AS element_action "
            "FROM nodes n "
            "WHERE EXISTS (SELECT 1 FROM cats c WHERE c.id = n.id "
            "              AND c.category = 'biolink:Publication') "
            "AND n.id LIKE 'HEALCDE%' "
            "AND n.id IN (SELECT e.object FROM ids i JOIN edges e ON e.subject = i.curie "
            "             WHERE split_part(i.curie, ':', 1) = 'MONDO' "
            "             AND i.curie != 'CHEBI:17336' "
            "             AND EXISTS (SELECT 1 FROM cats c2 WHERE c2.id = e.object "
            "                 AND (lower(c2.category) = lower('biolink:Publication') "
            "                      OR c2.category = 'publication')))"
        ),
        "search_kg": (
            f"WITH ids(concept_id, curie) AS (VALUES {_vals([(c, c) for c in _EXPAND_IDS])}), "
            f"tmpl(query_name, source_prefix, object_category, object_type) AS "
            f"(VALUES {_vals(_TMPL_ROWS)}), "
            f"edges(subject, predicate, object) AS (VALUES {_vals(_HEART_EDGES)}), "
            f"cats(id, category) AS (VALUES {_vals(_CAT_ROWS)}), "
            f"nodes(id, name) AS (VALUES {_vals(_NODE_ROWS)}), "
            f"syns(id, syn) AS (VALUES {_vals(_SYN_ROWS)}), "
            "targets AS (SELECT id, name AS t FROM nodes UNION SELECT id, syn FROM syns), "
            "ans AS (SELECT DISTINCT i.concept_id AS concept_id, "
            "  i.concept_id || '_' || i.curie || '_' || e.object AS doc_id, "
            "  i.curie AS subject, e.predicate AS predicate, e.object AS object "
            "  FROM ids i JOIN tmpl t ON split_part(i.curie, ':', 1) = t.source_prefix "
            "  JOIN edges e ON e.subject = i.curie "
            "  JOIN cats c ON c.id = e.object AND "
            "  (lower(c.category) = lower(t.object_category) OR c.category = t.object_type) "
            "  WHERE i.curie != 'CHEBI:17336'), "
            "scored AS (SELECT doc_id, concept_id, subject, predicate, object, "
            "  (CASE WHEN EXISTS (SELECT 1 FROM targets tg WHERE tg.id = ans.object "
            "     AND contains(lower(tg.t), 'heart')) THEN 1.0 ELSE 0.0 END "
            " + CASE WHEN EXISTS (SELECT 1 FROM targets tg WHERE tg.id = ans.object "
            "     AND contains(lower(tg.t), 'infarction')) THEN 1.0 ELSE 0.0 END) AS score "
            "  FROM ans WHERE concept_id = 'MONDO:0005068') "
            "SELECT doc_id, concept_id, subject, predicate, object, "
            "CAST(score AS DOUBLE) AS score FROM scored WHERE score > 0 "
            "ORDER BY score DESC, doc_id ASC LIMIT 10"
        ),
        "search_study": (
            f"WITH {_SQL_VARS} "
            "SELECT element_id, collection_id, collection_name FROM vars "
            "WHERE list_contains(string_split_regex(lower(collection_id), '\\s+'), 'study_1') "
            "ORDER BY element_id ASC LIMIT 50"
        ),
        "search_program": (
            f"WITH {_SQL_VARS}, "
            "ranked AS (SELECT collection_id, collection_name, collection_action, "
            "ROW_NUMBER() OVER (PARTITION BY collection_id ORDER BY element_id ASC) AS rk "
            "FROM vars WHERE lower(data_type) = 'click') "
            "SELECT collection_id, collection_name, collection_action FROM ranked "
            "WHERE rk = 1 ORDER BY collection_id ASC"
        ),
        "agg_data_types": (
            f"WITH {_SQL_VARS} "
            "SELECT data_type, COUNT(*) AS n FROM vars GROUP BY data_type"
        ),
        "search_concepts_simple": _simple_concepts_oracle(),
        "rel_var_grouped_filtered": (
            f"WITH {_SQL_GHITS}, "
            "sel AS (SELECT element_id FROM ghits GROUP BY element_id "
            "  HAVING bool_or(lower(collection_name) IN ('study 3', 'study 5'))) "
            "SELECT g.element_id AS element_id, "
            "  MIN(g.element_name) AS element_name, MIN(g.data_type) AS data_type, "
            "  COUNT(DISTINCT g.collection_id) AS n_studies, "
            "  string_agg(DISTINCT g.collection_id, ',' ORDER BY g.collection_id) AS studies_csv "
            "FROM ghits g JOIN sel USING (element_id) "
            "WHERE lower(g.data_type) = 'dbgap' "
            "GROUP BY g.element_id"
        ),
        "rel_var_grouped_facets": (
            f"WITH {_SQL_GHITS}, "
            "sel AS (SELECT element_id FROM ghits GROUP BY element_id "
            "  HAVING bool_or(lower(collection_name) IN ('study 3', 'study 5'))) "
            # Data_Type facet: every filter EXCEPT data_type → study-name
            # filter only; counts VARIABLES (grouped rows), title-cased key
            "SELECT 'Data_Type' AS facet, "
            "  upper(substr(data_type, 1, 1)) || substr(data_type, 2) AS key, "
            "  COUNT(*) AS doc_count FROM "
            "  (SELECT DISTINCT g.element_id, g.data_type FROM ghits g "
            "   JOIN sel USING (element_id)) "
            "GROUP BY data_type "
            "UNION ALL "
            # Study Name facet: every filter EXCEPT study name → data_type
            # filter only; counts (variable, study) pairs
            "SELECT 'Study Name', collection_name, COUNT(*) FROM "
            "  (SELECT DISTINCT element_id, collection_id, collection_name "
            "   FROM ghits WHERE lower(data_type) = 'dbgap') "
            "GROUP BY collection_name"
        ),
        "rel_facet_exclude": (
            "WITH ev AS (SELECT event_type, CAST(user_id % 3 AS VARCHAR) AS bucket FROM events) "
            "SELECT 'event_type' AS facet, event_type AS value, COUNT(*) AS n FROM ev "
            "WHERE lower(bucket) IN ('0', '1') GROUP BY event_type "
            "UNION ALL "
            "SELECT 'bucket', bucket, COUNT(*) FROM ev "
            "WHERE lower(event_type) IN ('click', 'error') GROUP BY bucket"
        ),
        "kg_disambiguate": _DISAMBIG_SQL,
        "kg_closure": _CLOSURE_SQL,
        "rel_facet_counts": (
            "SELECT UPPER(event_type) AS facet, COUNT(*) AS n FROM events "
            "WHERE value > 100 GROUP BY UPPER(event_type)"
        ),
        "rel_top_events_per_user": (
            "SELECT user_id, event_id, value, rk FROM ("
            "SELECT user_id, event_id, value, ROW_NUMBER() OVER "
            "(PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rk FROM events) "
            "WHERE rk <= 3"
        ),
        "relation_extract": _relation_sql(),
        "rel_merge_upsert": (
            "WITH old AS (SELECT o_orderkey AS k, 'old' AS src_old FROM orders WHERE o_orderkey % 3 = 0), "
            "new AS (SELECT o_orderkey AS k, 'new' AS src_new FROM orders WHERE o_orderkey % 2 = 0) "
            "SELECT COALESCE(old.k, new.k) AS o_orderkey, COALESCE(src_new, src_old) AS src "
            "FROM old FULL OUTER JOIN new ON old.k = new.k"
        ),
        "dedup_exact": (
            "WITH dup AS (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 10000, text FROM documents) "
            "SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies "
            "FROM dup GROUP BY md5(text)"
        ),
        "web_link_pred": (
            _SQL_WEB_EDGES
            + ", canon AS (SELECT DISTINCT LEAST(src, dst) AS lo, "
            "GREATEST(src, dst) AS hi FROM e), "
            "adj AS (SELECT lo AS node, hi AS nbr FROM canon "
            "UNION SELECT hi, lo FROM canon), "
            "deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY node), "
            "pairs AS (SELECT a.node AS src, b.node AS dst, COUNT(*) AS cn, "
            "SUM(1.0 / LN(dz.deg)) AS aa "
            "FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node "
            "JOIN deg dz ON dz.node = a.nbr GROUP BY a.node, b.node) "
            "SELECT p.src, p.dst, p.cn AS common_neighbors, "
            "ROUND(CAST(p.cn AS DOUBLE) / (da.deg + db.deg - p.cn), 6) AS jaccard, "
            "ROUND(p.aa, 5) AS adamic_adar "
            "FROM pairs p JOIN deg da ON da.node = p.src "
            "JOIN deg db ON db.node = p.dst "
            "WHERE NOT EXISTS (SELECT 1 FROM canon c "
            "WHERE c.lo = p.src AND c.hi = p.dst)"
        ),
        "text_quality": (
            "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, "
            "ROUND(list_aggregate(list_transform(string_split(text, ' '), x -> length(x)), 'sum') "
            "  * 1.0 / len(string_split(text, ' ')), 6) AS avg_token_len, "
            "ROUND(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) "
            "  * 1.0 / len(string_split(text, ' ')), 6) AS stopword_ratio "
            "FROM documents"
        ),
        # round-4 web-corpus operators: token-vocab top-N, newest-capture
        # URL dedup, and per-host profile over deterministically
        # synthesized (url, warc_ts) crawl rows — the synthesis arithmetic
        # is mirrored verbatim on both engines
        "build_vocab": (
            "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), "
            "c AS (SELECT token, COUNT(*) AS n FROM tok WHERE token <> '' "
            "GROUP BY token HAVING COUNT(*) >= 2) "
            "SELECT token, n FROM c ORDER BY n DESC, token ASC LIMIT 500"
        ),
        "host_profile": (
            "WITH u AS (SELECT doc_id, text, "
            "'h' || (doc_id % 5) || '.example.org' AS host, "
            "CASE WHEN doc_id % 3 = 0 THEN 0.0 ELSE 1.0 END AS ih FROM documents) "
            "SELECT host, COUNT(*) AS n_docs, "
            "CAST(SUM(length(text)) AS BIGINT) AS total_chars, "
            "ROUND(AVG(length(text)), 2) AS mean_chars, "
            "ROUND(AVG(ih), 6) AS https_share FROM u GROUP BY host"
        ),
        "dedup_embedding": (
            "WITH v AS (SELECT vec_id AS id, embedding AS e FROM embeddings "
            "  WHERE vec_id < 300), "
            "sums AS (SELECT a.id AS id_a, b.id AS id_b, "
            "  SUM(CAST(a.e[t.i] AS DOUBLE) * CAST(b.e[t.i] AS DOUBLE)) AS dot, "
            "  SUM(CAST(a.e[t.i] AS DOUBLE) * CAST(a.e[t.i] AS DOUBLE)) AS aa, "
            "  SUM(CAST(b.e[t.i] AS DOUBLE) * CAST(b.e[t.i] AS DOUBLE)) AS bb "
            "  FROM v a, v b, range(1, 65) t(i) WHERE a.id < b.id "
            "  GROUP BY a.id, b.id) "
            "SELECT id_a, id_b, ROUND(dot / (SQRT(aa) * SQRT(bb)), 6) AS cos_sim "
            "FROM sums WHERE ROUND(dot / (SQRT(aa) * SQRT(bb)), 6) >= 0.35"
        ),
        "multimodal_real_features": (
            "SELECT media_id, mime, features_csv FROM (VALUES "
            + _vals(_multimodal_real_rows())
            + ") AS t(media_id, mime, features_csv)"
        ),
        # true BM25 (k1=1.2, b=0.75, ES idf) over documents.text for the
        # query tokens {spark, stream, window} — same two-phase structure:
        # corpus stats CTE, then the closed-form score per doc; doc
        # tokenization goes through the SAME std_with_stopwords analyzer
        # as the Spark side (functions/analyzer.py)
        "search_bm25": (
            "WITH toks AS (SELECT doc_id, "
            f"  {_analyzer_sql('text')} AS tk "
            "  FROM documents), "
            "lens AS (SELECT doc_id, tk, len(tk) AS dl FROM toks), "
            "stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens), "
            "q(tok) AS (VALUES ('spark'), ('stream'), ('window')), "
            "tf AS (SELECT l.doc_id, l.dl, q.tok, "
            "  len(list_filter(l.tk, x -> x = q.tok)) AS tf FROM lens l CROSS JOIN q), "
            "df AS (SELECT tok, SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df FROM tf GROUP BY tok), "
            "scored AS (SELECT t.doc_id, "
            "  SUM(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) "
            "      * t.tf * 2.2 / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl / s.avgdl))) AS score "
            "  FROM tf t JOIN df d ON t.tok = d.tok CROSS JOIN stats s GROUP BY t.doc_id) "
            "SELECT doc_id, ROUND(score, 6) AS score FROM scored WHERE score > 0 "
            "ORDER BY score DESC, doc_id ASC LIMIT 20"
        ),
        "search_bm25_fuzzy": _bm25_fuzzy_oracle(),
        "search_concepts_bm25": _concepts_bm25_oracle(),
    }


# ---------------------------------------------------------------------------
# Web-graph queries over a synthetic linked corpus (href-extracted host
# edges; _SQL_WEB_EDGES and pyoracle.web_edges_py mirror it oracle-side).


def _web_linked_docs(spark, sf_dir):
    """Deterministic linked HTML corpus synthesized from the documents
    table (20 hosts; three doc_id-derived absolute / www-prefixed /
    scheme-relative links per page, plus a relative and a fragment link
    that must drop out) — shared by the web_link_pred and web_scc rows;
    the oracle side mirrors the arithmetic in the web_edges CTE."""
    did = F.col("doc_id")
    h = lambda k: F.concat(
        F.lit("h"), (k % 20).cast("long").cast("string"), F.lit(".example.org")
    )
    html = F.concat(
        F.lit('<html><body><a href="https://'),
        h(F.floor(did / 20) % (1 + (did % 20) % 5)),
        F.lit('/p">a</a><a href="https://www.'),
        h(F.floor(did / 40) % (1 + (did % 20) % 7) + 5),
        F.lit('/q">b</a><a href="//'),
        h(F.floor(did / 60) % (1 + (did % 20) % 4) + 12),
        F.lit('/r">c</a><a href="/local">d</a><a href="#top">e</a><p>t</p></body></html>'),
    )
    return _pq(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://"), h(did), F.lit("/d/"), did.cast("string")
        ).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )


def q_web_link_pred(spark, sf_dir):
    """Link prediction (graph.link_prediction: common neighbors / Jaccard
    / Adamic-Adar, Liben-Nowell & Kleinberg 2003) over the href-extracted
    host graph — proposing the missing host-host edges neighborhood
    overlap implies, the graph-structural counterpart of the reference's
    stored-answer-only relatedness (crawler.py expands TranQL answers but
    never scores structure).  One wedge self-join keyed on the shared
    neighbor; scores exact rationals except Adamic-Adar (libm log → both
    sides round 5; jaccard rounds 6 per the cross-engine division ULP)."""
    from dug_spark.operators import graph, weblinks

    edges = weblinks.host_edges(
        weblinks.extract_links(_web_linked_docs(spark, sf_dir))
    )
    lp = graph.link_prediction(edges, src_col="src_host", dst_col="dst_host")
    return lp.select(
        "src",
        "dst",
        "common_neighbors",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("adamic_adar", 5).alias("adamic_adar"),
    )


def q_web_scc(spark, sf_dir):
    """Strongly connected components of the DIRECTED href host graph
    (graph.strongly_connected_components: trim + forward-color +
    backward-confirm rounds) — the Broder bowtie decomposition primitive.
    Oracle: iterative-Tarjan pure-Python mirror (pyoracle.scc_rows) over
    the shared web_edges_py synthesis."""
    from dug_spark.operators import graph, weblinks

    edges = weblinks.host_edges(
        weblinks.extract_links(_web_linked_docs(spark, sf_dir))
    )
    return graph.strongly_connected_components(
        edges, src_col="src_host", dst_col="dst_host"
    )
