"""Search surface: boosted full-text scoring + faceting + pagination.

Re-expresses the reference's Elasticsearch DSL as DataFrame plans:

- `search_concepts` (async_search.py:112-276): bool query with boosts —
  match_phrase name^10 / description^6 / search_terms^8, fuzzy-AND
  name^4 / search_terms^5 / description^3, fuzzy-OR description^2 /
  search_terms^1 / optional_terms^0, minimum_should_match=1, non-empty
  name+description filter (:118-125), type facet agg (:232-233), optional
  type post-filter (:234-242), offset/size pagination (:243-252).
- `search_variables` (async_search.py:278-315, _get_var_query :624-736):
  same shape over element fields, plus must-match concept membership
  (:730-736).
- facet helpers (server.py:234-291): exclude-own-filter counts, ordering.

Scoring fidelity: one BM25 engine implements the actual Lucene BM25
similarity behind every ES match clause, composed with the reference's
per-field clause boosts and tokenized by the shared
``std_with_stopwords`` analyzer (functions/analyzer.py).
``bm25_boosted_topk`` and its index wrappers (``search_concepts_bm25``,
``search_variables_bm25``) score several boosted fields; ``bm25_topk``
is the same engine over one text column with one plain-match clause.
ES ``fuzziness`` — the reference's default (fuzziness=1, prefix_length=3
on every match clause, async_search.py:113) — is SynonymQuery blending
over a deterministic expansion that the driver derives in the
vocabulary the index state already holds (``_expand_in_vocab``, no
Spark job).  It carries a full cross-engine oracle (the
``search_bm25_fuzzy`` contract row derives the same expansion in DuckDB
SQL).  The legacy ``concept_score``/``variable_score`` structure-only
predicates are kept for the deterministic fallback paths.  Remaining
documented deviation: phrase matching is contiguous on stopword-stripped
tokens (ES keeps position gaps where stopwords were removed).

Serving plan shape: as in ES, where tokens, field lengths and term
statistics are index-time state, every BM25 entry point builds that
state once per index DataFrame — the tokenized base, persisted, plus
per-field docCount, Σdl and the term → docFreq vocabulary, which the
driver holds (vocabulary-sized, as Lucene's resident term dictionary).
Every later query against the same DataFrame object folds idf on the
driver and runs one map-side scoring scan ending in
TakeOrderedAndProject: one Spark job, fuzzy or not.  Query text reaches
Spark SQL only as analyzer output (``[a-z0-9 ]``), so the spliced
literals parse the same under every parser setting.
"""

from __future__ import annotations

import bisect
import itertools
import logging
import queue
import re
import threading
import weakref
from functools import reduce
from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dug_spark.functions import analyzer


def _tokens(col):
    return F.split(F.lower(F.trim(col)), r"\s+")


def _overlap_ratio(field, query: str):
    """|query tokens ∩ field tokens| / |query tokens| — the deterministic
    stand-in for ES fuzzy match."""
    qtoks = [t for t in query.lower().split() if t]
    if not qtoks:
        return F.lit(0.0)
    hits = sum(
        F.when(F.array_contains(_tokens(field), t), 1).otherwise(0) for t in qtoks
    )
    return hits / F.lit(float(len(qtoks)))


def _phrase(field, query: str):
    return F.when(
        F.lower(F.coalesce(field, F.lit(""))).contains(query.lower()), 1.0
    ).otherwise(0.0)


def _terms_phrase(arr_field, query: str):
    """phrase hit inside an array<string> field."""
    q = query.lower()
    return F.when(
        F.exists(
            F.coalesce(arr_field, F.array().cast("array<string>")),
            lambda t: F.lower(t).contains(q),
        ),
        1.0,
    ).otherwise(0.0)


# ---------------------------------------------------------------------------
# Simple-query detection + simple_query_string semantics
# (async_search.py:220-221: queries containing * " + - switch from the
# boosted bool query to a simple_query_string DSL, :738-831).


def is_simple_query(query: str) -> bool:
    """is_simple_search_query (async_search.py:220-221)."""
    return any(c in query for c in ('*', '"', '+', '-'))


def parse_simple_query(query: str) -> list[list[tuple[str, str, bool]]]:
    """Parse a simple_query_string query (default_operator=and, flags
    OR|AND|NOT|PHRASE|PREFIX — async_search.py:741-746) into OR-groups of
    (kind, token, negated): '|' separates OR groups; whitespace and '+'
    both mean AND inside a group; a leading '-' negates (NOT); '"..."' is
    a PHRASE; a trailing '*' is a PREFIX."""
    groups: list[list[tuple[str, str, bool]]] = []
    for part in query.split("|"):
        terms: list[tuple[str, str, bool]] = []
        for m in re.finditer(r'-?"[^"]*"|[^\s+]+', part):
            tok = m.group(0)
            neg = tok.startswith("-")
            if neg:
                tok = tok[1:]
            if tok.startswith('"') and tok.endswith('"') and len(tok) >= 2:
                kind, tok = "phrase", tok[1:-1]
            elif tok.endswith("*") and len(tok) > 1:
                kind, tok = "prefix", tok[:-1]
            else:
                kind = "term"
            tok = tok.lower().strip()
            if tok:
                terms.append((kind, tok, neg))
        if terms:
            groups.append(terms)
    return groups


def _simple_field_match(field, query: str) -> F.Column:
    """1.0 iff the field satisfies the parsed simple_query_string boolean
    expression (ES scores vary; the deterministic stand-in scores each
    field 0/1 and sums across fields — score_mode=sum, :786).

    Field text and query terms go through the shared std_with_stopwords
    analyzer (the indexes declare it, index.py:96-117): term/phrase
    matching is over analyzed tokens, and stopword-only terms/phrases
    vanish from the query exactly as ES's query-time analysis drops them
    (a group left empty is ignored)."""
    # null-safe: without the coalesce, a NULL field makes every predicate
    # NULL, so a purely-NEGATED clause (ES must_not matches docs missing
    # the phrase) would wrongly evaluate to no-match
    field = F.coalesce(field, F.lit(""))
    toks = analyzer.analyze_col(field)
    pad = F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))
    stop = set(analyzer.ENGLISH_STOPWORDS)

    def pred(kind: str, tok: str) -> F.Column | None:
        if kind == "phrase":
            phrase = " ".join(analyzer.analyze(tok))
            if not phrase:
                return None  # stopword-only phrase: dropped by analysis
            return pad.contains(f" {phrase} ")
        if kind == "prefix":
            return F.exists(toks, lambda t: t.startswith(tok))
        if tok in stop:
            return None  # stopword term: dropped by analysis
        return F.array_contains(toks, tok)

    group_cols = []
    for terms in parse_simple_query(query):
        g = None
        for kind, tok, neg in terms:
            p = pred(kind, tok)
            if p is None:
                continue
            if neg:
                p = ~p
            g = p if g is None else (g & p)
        if g is not None:
            group_cols.append(g)
    if not group_cols:
        return F.lit(0.0)
    return F.when(reduce(lambda a, b: a | b, group_cols), 1.0).otherwise(0.0)


def simple_concept_score(query: str) -> F.Column:
    """get_simple_concept_search_query (async_search.py:738-789): one
    simple_query_string per field {name, description, search_terms},
    summed (score_mode=sum)."""
    return (
        _simple_field_match(F.col("name"), query)
        + _simple_field_match(F.col("description"), query)
        + _simple_field_match(
            F.array_join(F.coalesce("search_terms", F.array().cast("array<string>")), " "),
            query,
        )
    )


def simple_variable_score(query: str) -> F.Column:
    """get_simple_variable_search_query (async_search.py:791-831): same
    shape over element fields."""
    return (
        _simple_field_match(F.col("element_name"), query)
        + _simple_field_match(F.col("element_desc"), query)
        + _simple_field_match(
            F.array_join(F.coalesce("search_terms", F.array().cast("array<string>")), " "),
            query,
        )
    )


def _cap_group(q: str, terms, max_expansions: int) -> list[str]:
    """The sorted expansion group of ``q`` under the max_expansions cap:
    the original token ALWAYS stays in its group (ES keeps the distance-0
    term); only the expansions compete for the cap."""
    rest = sorted(t for t in terms if t != q)[: max_expansions - 1]
    return sorted([q] + rest)


def _levenshtein(a: str, b: str) -> int:
    """Plain Levenshtein distance (insert, delete, substitute)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _expand_in_vocab(
    terms: list[str], qtoks: list[str], fuzziness: int, prefix_length: int,
    max_expansions: int = 50,
) -> dict[str, list[str]]:
    """ES ``match`` fuzziness (the reference passes ``fuzziness=1,
    prefix_length=3`` to every match clause — async_search.py:126-218,
    :624-736) in a field vocabulary the driver already holds (a BM25 index
    state's sorted term list), so no Spark job: each query token expands
    to the terms within ``fuzziness`` edits that share its first
    ``prefix_length`` characters exactly (the token itself is always in
    its group).  The prefix rule is a bisect into ``terms``; only terms
    inside the prefix range are measured.

    The cap keeps the widest group bounded (ES default max_expansions=50)
    with a deterministic keep-order: matched terms sorted ascending (ES
    keeps top-by-frequency — a documented deviation, irrelevant until a
    group exceeds the cap).  Edit distance is plain Levenshtein (ES counts
    a transposition as 1 edit — Damerau — the second documented
    deviation, affecting only swapped-adjacent-character typos).  Returns
    {query token: sorted expansion group}."""
    groups = {}
    for q in qtoks:
        prefix = q[:prefix_length]
        i = bisect.bisect_left(terms, prefix)
        near = []
        while i < len(terms) and terms[i].startswith(prefix):
            t = terms[i]
            if abs(len(t) - len(q)) <= fuzziness and _levenshtein(t, q) <= fuzziness:
                near.append(t)
            i += 1
        groups[q] = _cap_group(q, near, max_expansions)
    return groups


_ANALYZED = re.compile(r"[a-z0-9 ]*")


def _sql_str(v: str) -> str:
    """Spark-SQL single-quoted literal of analyzer output: a token, a
    fuzzy-expanded vocabulary term or the space-joined phrase.  Those hold
    only ``[a-z0-9 ]`` (the analyzer splits on ``[^a-z0-9]+``), which
    parse the same under every parser setting — no escaping can, since
    ``spark.sql.parser.escapedStringLiterals`` changes how quotes and
    backslashes read.  Anything else raises."""
    if not _ANALYZED.fullmatch(v):
        raise ValueError(f"not analyzer output: {v!r}")
    return f"'{v}'"


def _sql_dbl(v: float) -> str:
    """Exact double literal as SQL text: repr() is the shortest string
    that round-trips, and CAST(string AS DOUBLE) parses via
    Double.parseDouble (correctly rounded) — the spliced constant is
    bit-identical to the F.lit(v) it replaces."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _sql_group(group: list[str]) -> str:
    """A synonym group as SQL: its one term, or an array of its terms."""
    if len(group) == 1:
        return _sql_str(group[0])
    return "array(" + ", ".join(_sql_str(t) for t in group) + ")"


def _group_tf_sql(tk_col: str, members: str, single: bool) -> str:
    """SynonymQuery tf = Σ member tfs == count of tokens ∈ group (members
    are distinct): ONE membership scan over the token array, not |group|
    chained size(filter) additions — keeps the score expression
    O(|query|) wide at fuzziness>0.  ``members`` is SQL for the group (a
    string, or an array unless ``single``).  Composed as SQL text — py4j
    round-trip economy for the scoring expression."""
    if single:
        return f"CAST(size(filter({tk_col}, x -> x = {members})) AS DOUBLE)"
    return (
        f"CAST(size(filter({tk_col}, x -> array_contains({members}, x)))"
        " AS DOUBLE)"
    )


def _group_present_sql(tk_col: str, members: str, single: bool) -> str:
    """≥1 group member present in the token array — arrays_overlap against
    the member array (the match operator=and gate under fuzzy expansion)."""
    if single:
        return f"array_contains({tk_col}, {members})"
    return f"arrays_overlap({tk_col}, {members})"


def bm25_topk(
    df: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    stopwords: bool = True,
    fuzziness: int = 0,
    prefix_length: int = 3,
) -> DataFrame:
    """True BM25 (the Lucene/ES 'match' similarity behind every boost in
    _get_concepts_query, async_search.py:113-218) over one text column:
    the boosted engine (``bm25_boosted_topk``) with one field and one
    plain-match clause of boost 1, so it shares that engine's per-index
    state — built by the first query against ``df``, after which every
    query is one map-side scoring scan ending in TakeOrderedAndProject.
    Text and query tokenize through the shared ``std_with_stopwords``
    analyzer (functions/analyzer.py — the analyzer the reference declares
    on every text field, index.py:87-117).

    idf = ln(1 + (N − df + 0.5)/(df + 0.5));  score = Σ_t idf_t ·
    tf·(k1+1)/(tf + k1·(1 − b + b·len/avglen)), with N the docs that have
    ≥1 token (Lucene's docCount) and avglen over those docs.  Ties broken
    by id.  Output: (id, score) top-k.

    ``fuzziness`` > 0 expands each query token to its edit-distance
    neighborhood in the field vocabulary (``_expand_in_vocab``) and scores
    each group with Lucene SynonymQuery semantics — one BM25 evaluation
    per group with tf = Σ member tfs and docFreq = max member df.
    fuzziness=0 makes every group a singleton: plain BM25.
    """
    fields = [(text_col, F.col(text_col), [("or", 1.0)], None)]
    state = _index_state(df, fields, id_col, [], stopwords)
    return _score_topk(
        state, query, fields, k, k1, b, stopwords, [], fuzziness, prefix_length
    )


# Per-field clause structure of the reference's boosted bool queries.
# Each entry: (field key, [(gate, boost), ...]) where gate is how the ES
# clause matches — "phrase" (match_phrase), "and" (match operator=and),
# "or" (plain match; ES default operator, default boost 1.0).
# _get_concepts_query (async_search.py:126-218): name phrase^10 + and^4;
# description phrase^6 + and^3 + or^2; search_terms phrase^8 + and^5 +
# or^1; optional_terms or^1 (no explicit boost = ES default 1).
CONCEPT_BM25_CLAUSES: list[tuple[str, list[tuple[str, float]]]] = [
    ("name", [("phrase", 10.0), ("and", 4.0)]),
    ("description", [("phrase", 6.0), ("and", 3.0), ("or", 2.0)]),
    ("search_terms", [("phrase", 8.0), ("and", 5.0), ("or", 1.0)]),
    ("optional_terms", [("or", 1.0)]),
]
# _get_var_query (async_search.py:624-736): element_name phrase^10 +
# and^4 + or^2; element_desc phrase^6 + and^3 + or^2; search_terms
# phrase^8 + and^5 + or^1; optional_terms or^1.
VARIABLE_BM25_CLAUSES: list[tuple[str, list[tuple[str, float]]]] = [
    ("element_name", [("phrase", 10.0), ("and", 4.0), ("or", 2.0)]),
    ("element_desc", [("phrase", 6.0), ("and", 3.0), ("or", 2.0)]),
    ("search_terms", [("phrase", 8.0), ("and", 5.0), ("or", 1.0)]),
    ("optional_terms", [("or", 1.0)]),
]


def bm25_boosted_topk(
    df: DataFrame,
    query: str,
    fields: list[tuple[str, F.Column, list[tuple[str, float]]]],
    id_col: str = "concept_id",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    stopwords: bool = True,
    extra_cols: list[str] | None = None,
    fuzziness: int = 0,
    prefix_length: int = 3,
) -> DataFrame:
    """Multi-field boosted BM25 — the actual scoring semantics of the
    reference's bool-should queries (async_search.py:126-218, :624-736):
    every ES match-family clause scores its field with the Lucene BM25
    similarity × the clause boost, and the bool query SUMS the matching
    should clauses.  Composed here as

        score = Σ_field bm25_field(query) × Σ_clauses boost_c · gate_c

    with gate "phrase" = analyzed-phrase containment (match_phrase),
    "and" = all query tokens present (match operator=and), "or" = 1
    (plain match — bm25 is already 0 when no token matches, which also
    realizes minimum_should_match=1 via the score > 0 filter).

    Lucene statistics semantics: per-field docCount (docs with ≥1 token
    in THAT field) drives both idf and avgdl; a field empty across the
    corpus contributes nothing.

    Plan shape: like Elasticsearch, the statistics are index-time state.
    The first query against ``df`` builds it once — the tokenized base,
    persisted MEMORY_AND_DISK, plus per-field docCount, Σdl and the
    term → docFreq vocabulary from ONE explode-aggregate (a vocabulary-
    sized shuffle and collect; the driver holds the vocabulary, as Lucene
    keeps its term dictionary resident).  Every later query with the same
    ``df`` object and field specs reuses it: idf is folded on the driver
    and the query runs ONE map-side scoring scan of the base ending in
    TakeOrderedAndProject — one Spark job, and the scored corpus is never
    shuffled.  The state is keyed on the DataFrame object (a re-read of a
    rewritten path is a new object, so it never sees stale statistics)
    and is unpersisted by the first search after that object is
    garbage-collected.

    ``fields``: (key, string column expression, [(gate, boost), ...]) —
    or a 4-tuple with the raw ``array<string>`` column appended: for
    array fields ES's ``position_increment_gap`` (100 on text multi-
    values) prevents a phrase from matching ACROSS elements, so when the
    array is supplied the phrase gate is evaluated per element
    (``exists``) instead of over the space-joined text; BM25 statistics
    still use the joined text (ES field length counts real tokens only —
    gap positions don't add to dl).
    ``fuzziness`` > 0 expands each query token against each FIELD's own
    vocabulary (the state's terms, expanded on the driver by
    ``_expand_in_vocab``, so no Spark job — ES expands per field) and
    scores groups with SynonymQuery blending (tf = Σ member tfs,
    docFreq = max);
    match_phrase clauses stay exact (ES match_phrase has no fuzziness),
    and the "and" gate requires every group to have ≥1 member present.
    Remaining deviation, documented: phrase matching is contiguous on
    stopword-stripped tokens (ES keeps position gaps where stopwords were
    removed).
    """
    extra_cols = extra_cols or []
    fields = [
        (spec[0], spec[1], spec[2], spec[3] if len(spec) > 3 else None)
        for spec in fields
    ]
    state = _index_state(df, fields, id_col, extra_cols, stopwords)
    return _score_topk(
        state, query, fields, k, k1, b, stopwords, extra_cols, fuzziness,
        prefix_length,
    )


class _IndexState(NamedTuple):
    """The index-time statistics Lucene keeps per field, built once per
    index DataFrame: the tokenized base (``id``, extra columns, ``tk_*``,
    ``el_*``, ``dl_*``), persisted; per-field docCount and Σdl; and the
    per-field term → docFreq vocabulary, held on the driver, with its
    terms sorted for fuzzy expansion."""

    base: DataFrame
    doc_count: dict[str, int]
    sum_dl: dict[str, int]
    doc_freq: dict[str, dict[str, int]]
    terms: dict[str, list[str]]


#: {index DataFrame: {base-shaping arguments: _IndexState}}.  Keyed on the
#: DataFrame object, never on its path or semanticHash(): two reads of one
#: path before and after a rewrite compare equal under both.
_STATES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_STATES_LOCK = threading.Lock()
#: state maps of collected index DataFrames, awaiting unpersist
_RELEASED: queue.SimpleQueue = queue.SimpleQueue()
_STATE_SEQ = itertools.count()


def _release_collected() -> None:
    """Unpersists the bases of collected index DataFrames.  A weakref
    callback can fire inside a py4j call on the same thread (the cyclic
    GC runs at any allocation), and a nested py4j call there would
    interleave on that thread's socket.  So the callback only enqueues
    (py4j releases its own objects the same way) and the next search
    unpersists, on its caller's thread, before it calls Spark.  A one-shot
    index's base thus outlives the call that built it until the next
    search, and serves the caller's collect of the returned top-k."""
    while True:
        try:
            per_df = _RELEASED.get_nowait()
        except queue.Empty:
            return
        for state in per_df.values():
            try:
                state.base.unpersist()
            except Exception:  # e.g. its session was stopped; keep serving
                logging.getLogger(__name__).exception("unpersisting a BM25 base")


def _spec_key(spec) -> str | None:
    # callers rebuild Column specs on every call: key on the expression text
    return spec if spec is None or isinstance(spec, str) else str(spec)


def _index_state(
    df: DataFrame,
    fields: list[tuple],
    id_col: str,
    extra_cols: list[str],
    stopwords: bool,
    where: str | None = None,
) -> _IndexState:
    """The BM25 state of ``df`` (rows passing ``where``, a SQL predicate)
    for these field specs: the first call builds it, every later call with
    the same arguments reuses it.  The first search after ``df`` is
    garbage-collected unpersists it.  The build runs outside the lock, so searches on
    built indexes never wait for it; of two racing builds one is kept and
    the other unpersisted."""
    _release_collected()
    key = (
        id_col, tuple(extra_cols), stopwords, where,
        tuple((f, _spec_key(c), _spec_key(a)) for f, c, _cl, a in fields),
    )
    with _STATES_LOCK:
        state = _STATES.get(df, {}).get(key)
    if state is not None:
        return state
    built = _build_state(df, fields, id_col, extra_cols, stopwords, where)
    with _STATES_LOCK:
        per_df = _STATES.get(df)
        if per_df is None:
            per_df = _STATES[df] = {}
            weakref.finalize(df, _RELEASED.put, per_df)
        state = per_df.setdefault(key, built)
    if state is not built:
        built.base.unpersist()
    return state


def _build_state(
    df: DataFrame,
    fields: list[tuple],
    id_col: str,
    extra_cols: list[str],
    stopwords: bool,
    where: str | None,
) -> _IndexState:
    """ONE tokenization pass over every field, persisted MEMORY_AND_DISK
    (lineage kept: a lost block is recomputed), and ONE explode-aggregate
    that materializes it and yields the whole vocabulary."""
    sel = [F.col(id_col).alias("id")] + [F.col(c) for c in extra_cols]
    for fname, col, _clauses, arr in fields:
        # field specs may be SQL fragments (str) instead of Columns:
        # the whole tokenization column then costs one F.expr round-trip
        # (same expression tree as the analyze_col build)
        if isinstance(col, str):
            sel.append(
                F.expr(
                    f"{analyzer.analyze_spark_col_sql(col, stopwords)}"
                    f" AS tk_{fname}"
                )
            )
        else:
            sel.append(analyzer.analyze_col(col, stopwords).alias(f"tk_{fname}"))
        if arr is not None:
            # per-element padded analyzed text for the phrase gate
            if isinstance(arr, str):
                el = analyzer.analyze_spark_col_sql("el", stopwords)
                sel.append(
                    F.expr(
                        f"transform(coalesce({arr},"
                        " CAST(array() AS ARRAY<STRING>)),"
                        f" el -> concat(' ', array_join({el}, ' '), ' '))"
                        f" AS el_{fname}"
                    )
                )
            else:
                sel.append(
                    F.transform(
                        F.coalesce(arr, F.array().cast("array<string>")),
                        lambda el: F.concat(
                            F.lit(" "),
                            F.array_join(
                                analyzer.analyze_col(el, stopwords), " "
                            ),
                            F.lit(" "),
                        ),
                    ).alias(f"el_{fname}")
                )
    if where is not None:
        df = df.where(where)
    base = df.select(*sel)
    for fname, _col, _clauses, _arr in fields:
        base = base.withColumn(f"dl_{fname}", F.size(f"tk_{fname}"))
    # Spark's cache matches plans by semantics, so without this state's
    # own always-true predicate a re-read of a rewritten path would be
    # served this base's cached (old) rows
    tag = F.lit(f"bm25-state-{next(_STATE_SEQ)}")
    base = base.where(tag.isNotNull()).persist(StorageLevel.MEMORY_AND_DISK)
    # per field: a (field, term) entry per distinct term gives docFreq;
    # one NULL-term entry per doc with a non-empty field, carrying its
    # length, gives docCount and Σdl.  The partial aggregate collapses the
    # entries map-side, so the shuffle and the collected result are
    # vocabulary-sized.
    entries = ", ".join(
        f"transform(array_distinct(tk_{fname}),"
        f" t -> named_struct('f', {i}, 't', t, 'dl', 0L)),"
        f" filter(array(named_struct('f', {i}, 't', CAST(NULL AS STRING),"
        f" 'dl', CAST(dl_{fname} AS BIGINT))), e -> e.dl > 0)"
        for i, (fname, _col, _clauses, _arr) in enumerate(fields)
    )
    # (not spark.sql(..., b=base): dropping its temp view uncaches base)
    rows = (
        base.selectExpr(f"explode(concat({entries})) AS e")
        .groupBy("e.f", "e.t")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("e.dl").alias("dl"))
        .collect()
    )
    names = [f for f, _c, _cl, _a in fields]
    doc_count = dict.fromkeys(names, 0)
    sum_dl = dict.fromkeys(names, 0)
    doc_freq: dict[str, dict[str, int]] = {f: {} for f in names}
    for r in rows:
        fname = names[r["f"]]
        if r["t"] is None:
            doc_count[fname], sum_dl[fname] = r["n"], r["dl"]
        else:
            doc_freq[fname][r["t"]] = r["n"]
    terms = {f: sorted(v) for f, v in doc_freq.items()}
    return _IndexState(base, doc_count, sum_dl, doc_freq, terms)


def _score_topk(
    state: _IndexState,
    query: str,
    fields: list[tuple],
    k: int,
    k1: float,
    b: float,
    stopwords: bool,
    extra_cols: list[str],
    fuzziness: int,
    prefix_length: int,
    where: F.Column | None = None,
) -> DataFrame:
    """One query against a built state: idf folded on the driver, then ONE
    map-side scoring scan of the persisted base ending in
    TakeOrderedAndProject.  ``where`` restricts the scored rows, not the
    statistics (an ES filter clause leaves collection statistics alone)."""
    import math

    qtoks_ordered = analyzer.analyze(query, stopwords)
    toks = sorted(set(qtoks_ordered))
    phrase = " ".join(qtoks_ordered)
    base = state.base
    # The score expression is composed as SQL text (one selectExpr
    # round-trip): the old Column-by-Column build cost ~5k py4j calls ≈
    # 1 s of driver-side construction per query.  Every fragment mirrors
    # its old Column tree node for node (same operators, same association
    # order, float literals spliced via repr → parseDouble exact
    # round-trip), so scores are bit-identical.
    #
    # What depends on the query or the index (terms, phrase, idf, avgdl)
    # is bound, not spliced into the score: ``bind`` returns a column
    # ``_p<i>`` of a one-row ``inline`` generator over a literal struct.
    # A literal double is written into the generated Java source, and a
    # literal string reorders its common subexpressions, so with literals
    # every distinct query compiled its own classes (~30 ms) while a
    # repeated one reused them.  Bound, a query compiles only the first
    # time its shape (terms per field, synonym group sizes) is seen.
    params: list[str] = []

    def bind(sql: str) -> str:
        params.append(sql)
        return f"_p{len(params) - 1}"

    padded_phrase = bind(_sql_str(" " + phrase + " "))
    contribs = []
    for fname, _col, clauses, arr in fields:
        n_f = state.doc_count[fname]
        if not n_f or not toks:
            continue  # empty query, or field absent corpus-wide: no contribution
        df_by_term = state.doc_freq[fname]
        if fuzziness > 0:
            groups = _expand_in_vocab(
                state.terms[fname], toks, fuzziness, prefix_length
            )
        else:
            groups = {t: [t] for t in toks}
        avgdl = bind(_sql_dbl(state.sum_dl[fname] / float(n_f)))
        members = {q: bind(_sql_group(groups[q])) for q in toks}
        terms = []
        for q in toks:
            group = groups[q]
            # SynonymQuery docFreq
            df_t = max(df_by_term.get(t, 0) for t in group)
            idf = math.log(1.0 + (n_f - df_t + 0.5) / (df_t + 0.5))
            # Σ member tfs, one scan
            tf = _group_tf_sql(f"tk_{fname}", members[q], len(group) == 1)
            terms.append(
                f"{bind(_sql_dbl(idf))} * {tf} * {_sql_dbl(k1 + 1.0)} / ({tf}"
                f" + {_sql_dbl(k1)} * ({_sql_dbl(1.0 - b)}"
                f" + {_sql_dbl(b)} * CAST(dl_{fname} AS DOUBLE)"
                f" / {avgdl}))"
            )
        bm25 = " + ".join(terms)
        padded = f"concat(' ', array_join(tk_{fname}, ' '), ' ')"
        all_present = " AND ".join(
            _group_present_sql(f"tk_{fname}", members[q], len(groups[q]) == 1)
            for q in toks
        )
        mult = _sql_dbl(0.0)
        for gate, boost in clauses:
            if gate == "phrase":
                if arr is not None:
                    # array field: per-element phrase containment (ES
                    # position_increment_gap — no cross-element phrases)
                    hit = (
                        f"exists(el_{fname}, p ->"
                        f" contains(p, {padded_phrase}))"
                    )
                else:
                    hit = f"contains({padded}, {padded_phrase})"
                g = f"IF({hit}, {_sql_dbl(1.0)}, {_sql_dbl(0.0)})"
            elif gate == "and":
                g = f"IF({all_present}, {_sql_dbl(1.0)}, {_sql_dbl(0.0)})"
            else:  # "or": plain match — bm25 itself gates on any-token
                g = _sql_dbl(1.0)
            mult = f"{mult} + {_sql_dbl(boost)} * {g}"
        contribs.append(f"({bm25}) * ({mult})")
    if not contribs:
        return base.select(
            "id", *extra_cols, F.lit(0.0).alias("score")
        ).where(F.lit(False))
    total = " + ".join(contribs)
    if where is not None:
        base = base.where(where)
    bound = ", ".join(f"'_p{i}', {v}" for i, v in enumerate(params))
    return (
        base.selectExpr("*", f"inline(array(named_struct({bound})))")
        .selectExpr(
            "id", *[f"`{c}`" for c in extra_cols], f"{total} AS _raw"
        )
        .where(F.col("_raw") > 0)
        .select("id", *extra_cols, F.round("_raw", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def _bm25_fields(clauses: list[tuple[str, list[tuple[str, float]]]]) -> list[tuple]:
    """4-tuple field specs for an index's clause table: array fields are
    scored over their space-joined text and carry the raw array for
    per-element phrase gates (position_increment_gap)."""
    arrays = ("search_terms", "optional_terms")
    return [
        (key,
         f"array_join(coalesce(`{key}`, CAST(array() AS ARRAY<STRING>)), ' ')"
         if key in arrays else f"`{key}`",
         field_clauses,
         f"`{key}`" if key in arrays else None)
        for key, field_clauses in clauses
    ]


def search_concepts_bm25(
    concepts: DataFrame,
    query: str,
    k: int = 20,
    stopwords: bool = True,
    fuzziness: int = 0,
) -> DataFrame:
    """search_concepts with TRUE per-field BM25 × clause-boost scoring —
    the actual ES semantics of _get_concepts_query (async_search.py:
    113-218) including the non-empty name/description filter (:118-125).
    The reference calls it with fuzziness=1; the cross-engine contract
    query pins fuzziness=0 (the expansion depends on the field vocabulary,
    which a closed-form SQL oracle can't fold) — fuzzy behavior is
    pytest-verified against a pure-Python recompute instead.

    The index state (see bm25_boosted_topk) is keyed on ``concepts``
    itself — the non-empty filter is part of the state — so a server that
    passes one index DataFrame builds the state on its first query and
    runs one Spark job per later query.
    Output: (concept_id, name, type, score) top-k."""
    fields = _bm25_fields(CONCEPT_BM25_CLAUSES)
    extra_cols = ["name", "type"]
    state = _index_state(
        concepts, fields, "concept_id", extra_cols, stopwords,
        where="length(coalesce(name, '')) > 0"
        " AND length(coalesce(description, '')) > 0",
    )
    out = _score_topk(
        state, query, fields, k, k1=1.2, b=0.75, stopwords=stopwords,
        extra_cols=extra_cols, fuzziness=fuzziness, prefix_length=3,
    )
    return out.select(F.col("id").alias("concept_id"), "name", "type", "score")


def search_variables_bm25(
    variables: DataFrame,
    query: str,
    concept: str | None = None,
    k: int = 20,
    stopwords: bool = True,
    fuzziness: int = 0,
) -> DataFrame:
    """search_variables with true per-field BM25 × clause boosts
    (_get_var_query, async_search.py:624-736), plus the must-match
    concept-membership filter (:730-736).

    The index state (see bm25_boosted_topk) is keyed on ``variables``
    itself and built once; it carries ``identifiers`` when the index has
    it.  ``concept`` filters the scoring scan only, so a concept search is
    one Spark job too, and a long-lived index holds one persisted base
    however many concepts it serves.  BM25 statistics stay the whole
    index's, as in ES, where a filter does not change collection
    statistics."""
    fields = _bm25_fields(VARIABLE_BM25_CLAUSES)
    extra_cols = ["element_name", "data_type"]
    members = ["identifiers"] if "identifiers" in variables.columns else []
    state = _index_state(
        variables, fields, "element_id", extra_cols + members, stopwords
    )
    out = _score_topk(
        state, query, fields, k, k1=1.2, b=0.75, stopwords=stopwords,
        extra_cols=extra_cols, fuzziness=fuzziness, prefix_length=3,
        where=F.array_contains("identifiers", concept) if concept else None,
    )
    return out.select(
        F.col("id").alias("element_id"), "element_name", "data_type", "score"
    )


def concept_score(query: str) -> F.Column:
    """Boost structure of _get_concepts_query (async_search.py:126-218)."""
    name, desc = F.col("name"), F.col("description")
    st, ot = F.col("search_terms"), F.col("optional_terms")
    return (
        10.0 * _phrase(name, query)
        + 6.0 * _phrase(desc, query)
        + 8.0 * _terms_phrase(st, query)
        + 4.0 * F.when(_overlap_ratio(name, query) >= 1.0, 1.0).otherwise(0.0)
        + 5.0 * F.when(_terms_phrase(st, query) > 0, _overlap_ratio(F.array_join(st, " "), query)).otherwise(0.0)
        + 3.0 * F.when(_overlap_ratio(desc, query) >= 1.0, 1.0).otherwise(0.0)
        + 2.0 * _overlap_ratio(desc, query)
        + 1.0 * _overlap_ratio(F.array_join(st, " "), query)
        + 0.0 * _overlap_ratio(F.array_join(ot, " "), query)
    )


def search_concepts(
    concepts: DataFrame,
    query: str,
    offset: int = 0,
    size: int = 20,
    types: list[str] | None = None,
) -> dict:
    """Returns {hits, total_items, concept_types} like search_concepts
    (async_search.py:223-276): paginated hits, count, type facet.
    Queries containing * \" + - route to simple_query_string semantics
    (:227-230)."""
    score = (
        simple_concept_score(query) if is_simple_query(query) else concept_score(query)
    )
    base = concepts.where(
        (F.length(F.coalesce("name", F.lit(""))) > 0)
        & (F.length(F.coalesce("description", F.lit(""))) > 0)
    ).withColumn("score", F.round(score, 6))
    matched = base.where(F.col("score") > 0)
    # facet agg runs on the pre-post-filter plan (:232-242)
    facets = matched.groupBy("type").agg(F.count(F.lit(1)).alias("n"))
    if types:
        matched = matched.where(F.col("type").isin(types))
    hits = (
        matched.orderBy(F.desc("score"), F.asc("concept_id"))
        .offset(offset)
        .limit(size)
    )
    return {"hits": hits, "total_items": matched, "concept_types": facets}


def variable_score(query: str, boost_name=4.0) -> F.Column:
    """_get_var_query boosts (async_search.py:624-736)."""
    name, desc = F.col("element_name"), F.col("element_desc")
    st = F.col("search_terms")
    return (
        10.0 * _phrase(name, query)
        + 6.0 * _phrase(desc, query)
        + 8.0 * _terms_phrase(st, query)
        + boost_name * _overlap_ratio(name, query)
        + 3.0 * _overlap_ratio(desc, query)
    )


def search_variables(
    variables: DataFrame,
    query: str,
    concept: str | None = None,
    offset: int = 0,
    size: int = 20,
) -> DataFrame:
    """Boosted variable search; with `concept`, adds the must-match
    identifier membership (J10, async_search.py:730-736).  Queries
    containing * \" + - route to simple_query_string semantics (:292-295)."""
    score = (
        simple_variable_score(query) if is_simple_query(query) else variable_score(query)
    )
    scored = variables.withColumn("score", F.round(score, 6)).where(
        F.col("score") > 0
    )
    if concept:
        scored = scored.where(F.array_contains("identifiers", concept))
    return (
        scored.orderBy(F.desc("score"), F.asc("element_id"))
        .offset(offset)
        .limit(size)
    )


def group_variables(hits: DataFrame) -> DataFrame:
    """search_var_grouped flatten-join (J11/A13, server.py:150-195): group
    flat variable×study hits by variable id — one row per variable carrying
    its fields plus the sorted list of (collection_id, collection_name)
    studies it appears in."""
    return (
        hits.groupBy("element_id")
        .agg(
            F.first("element_name").alias("element_name"),
            F.first("element_desc").alias("element_desc"),
            F.first("data_type").alias("data_type"),
            F.array_sort(
                F.collect_set(F.struct("collection_id", "collection_name"))
            ).alias("studies"),
        )
        .orderBy("element_id")
    )


def _grouped_filter_pred(
    key: str, vals: list[str], column_map: dict[str, str] | None
):
    """One /search_var_grouped filter as a boolean Column
    (server.py:198-229): case-insensitive value match; the special key
    "study name" matches any of the variable's studies'
    collection_name."""
    lv = [str(v).lower() for v in vals]
    if key.lower() == "study name":
        return F.exists(
            "studies", lambda s: F.lower(s["collection_name"]).isin(lv)
        )
    col = (column_map or {}).get(key.lower(), key)
    return F.lower(F.col(col).cast("string")).isin(lv)


def _grouped_filter(
    grouped: DataFrame,
    filters: dict[str, list[str]],
    exclude_key: str | None = None,
    column_map: dict[str, str] | None = None,
) -> DataFrame:
    out = grouped
    for key, vals in filters.items():
        if not vals or (exclude_key and key.lower() == exclude_key.lower()):
            continue
        out = out.where(_grouped_filter_pred(key, vals, column_map))
    return out


def search_var_grouped(
    hits: DataFrame,
    filters: dict[str, list[str]] | None = None,
    facet_keys: list[str] | None = None,
    column_map: dict[str, str] | None = None,
) -> dict:
    """The composed /search_var_grouped endpoint (server.py:132-304):
    flatten variable×study hits → one row per variable with its studies →
    apply ALL filters for the returned variables → for each facet key,
    apply every OTHER filter and count values (title-cased; "Study Name"
    counts one per (variable, study) and sorts by name asc, other keys
    sort count desc then value asc).

    Returns {"variables": df, "agg_counts": {display_key: df}}.

    Single-pass faceting (round 5): the N-facet loop previously re-ran
    the whole hits aggregation per key; now ALL facets aggregate in ONE
    conditional pass — each variable emits a (facet, key) entry for
    every facet whose OTHER filters it passes (study-name facets emit
    one entry per study), one explode + one groupBy for all keys — and
    the facet-cardinality-sized combined count table is eagerly
    checkpointed so every returned facet frame is a slice of it, not a
    re-aggregation.  The grouped frame itself deliberately stays LAZY:
    measured at 32M hits, materializing it (localCheckpoint) costs ~7×
    the facet aggregation because it defeats Catalyst's per-use column
    pruning (a count/filter consumer prunes the collect_set +
    first(name/desc) aggregates; a checkpoint computes them all)."""
    filters = filters or {}
    facet_keys = facet_keys or []
    cmap = column_map or {}
    grouped = group_variables(hits)
    variables = _grouped_filter(grouped, filters, column_map=column_map)
    agg_counts: dict[str, DataFrame] = {}
    if not facet_keys:
        return {"variables": variables, "agg_counts": agg_counts}

    entry_type = "array<struct<facet:string,key:string>>"

    def others_ok(key: str):
        pred = F.lit(True)
        for fk, vals in filters.items():
            if vals and fk.lower() != key.lower():
                pred = pred & _grouped_filter_pred(fk, vals, column_map)
        return pred

    arrays = []
    for key in facet_keys:
        display = key.title()
        if key.lower() == "study name":
            ent = F.transform(
                "studies",
                lambda s: F.struct(
                    F.lit(display).alias("facet"),
                    s["collection_name"].alias("key"),
                ),
            )
        else:
            col = cmap.get(key.lower(), key)
            ent = F.array(
                F.struct(
                    F.lit(display).alias("facet"),
                    F.initcap(F.col(col).cast("string")).alias("key"),
                )
            )
        arrays.append(
            F.when(others_ok(key), ent).otherwise(F.array().cast(entry_type))
        )
    combined = (
        grouped.select(F.explode(F.concat(*arrays)).alias("e"))
        .groupBy("e.facet", "e.key")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .localCheckpoint(eager=True)
    )
    for key in facet_keys:
        display = key.title()
        fc = combined.where(F.col("facet") == display).select("key", "doc_count")
        if key.lower() == "study name":
            agg_counts[display] = fc.orderBy(F.asc("key"))
        else:
            agg_counts[display] = fc.orderBy(F.desc("doc_count"), F.asc("key"))
    return {"variables": variables, "agg_counts": agg_counts}


def facet_counts(
    df: DataFrame, facet_cols: list[str], filters: dict[str, list[str]]
) -> dict[str, DataFrame]:
    """Exclude-own-filter faceting (server.py:234-275): for each facet key,
    apply every filter except its own, then count values; sort count desc,
    key asc (:278-291).

    Single-pass (round 5): instead of re-scanning the base once per
    facet key, every row emits a (facet, value) entry for each key
    whose OTHER filters it passes — one explode, ONE groupBy shuffle
    for all facets, and the facet-cardinality-sized result is
    checkpointed once; per-key frames are slices of it.  Facet values
    are strings (the endpoint's own representation)."""
    if not facet_cols:
        return {}
    passes = {
        fk: F.lower(F.col(fk)).isin([v.lower() for v in vals])
        for fk, vals in filters.items()
        if vals
    }

    def others_ok(key: str):
        pred = F.lit(True)
        for fk, p in passes.items():
            if fk != key:
                pred = pred & p
        return pred

    entry_type = "array<struct<facet:string,value:string>>"
    arrays = [
        F.when(
            others_ok(k),
            F.array(
                F.struct(
                    F.lit(k).alias("facet"),
                    F.col(k).cast("string").alias("value"),
                )
            ),
        ).otherwise(F.array().cast(entry_type))
        for k in facet_cols
    ]
    combined = (
        df.select(F.explode(F.concat(*arrays)).alias("e"))
        .groupBy("e.facet", "e.value")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    return {
        k: combined.where(F.col("facet") == k)
        .select("value", "n")
        .orderBy(F.desc("n"), F.asc("value"))
        for k in facet_cols
    }


def search_kg(
    kg_answers: DataFrame,
    unique_id: str,
    query: str,
    offset: int = 0,
    size: int = 20,
) -> DataFrame:
    """search_kg (async_search.py:400-436, route server.py:111-119): the
    concept MUST equal unique_id; the query matches ``search_targets``
    (query_string, default OR).  Deterministic stand-in for the fuzzy
    query_string: score = number of query tokens contained
    (case-insensitive) in any search target.  Pagination offset/size;
    ties broken by doc_id for determinism."""
    qtoks = [t for t in query.lower().split() if t]

    def _tok_hit(tok: str):
        # closure factory: a default-arg lambda would read as a 2-arg
        # (element, index) higher-order function to Spark
        return F.when(
            F.exists(
                F.coalesce("search_targets", F.array().cast("array<string>")),
                lambda s: F.lower(s).contains(tok),
            ),
            1.0,
        ).otherwise(0.0)

    hits = sum(_tok_hit(t) for t in qtoks) if qtoks else F.lit(0.0)
    return (
        kg_answers.where(F.col("concept_id") == unique_id)
        .withColumn("score", hits.cast("double"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .offset(offset)
        .limit(size)
    )


def search_study(
    variables: DataFrame,
    study_id: str | None = None,
    study_name: str | None = None,
    offset: int = 0,
    size: int = 100,
) -> DataFrame:
    """search_study (async_search.py:437-472, route server.py:307-318):
    variables filtered by collection_id and/or collection_name match.
    ES ``match`` stand-in at TOKEN level (standard analyzer): any
    whitespace token of the lowercased query equals a whitespace token of
    the lowercased field — substring containment would wrongly let
    'study_1' match study_10..study_19.  Unfiltered constant-score
    ordering is nondeterministic in ES; ordered by element_id here."""

    def _match(col: str, query: str):
        field_toks = F.split(F.lower(col), r"\s+")
        conds = [
            F.array_contains(field_toks, tok)
            for tok in query.lower().split()
            if tok
        ]
        out = conds[0] if conds else F.lit(False)
        for c in conds[1:]:
            out = out | c
        return out

    out = variables
    if study_id:
        out = out.where(_match("collection_id", study_id))
    if study_name:
        out = out.where(_match("collection_name", study_name))
    return out.orderBy("element_id").offset(offset).limit(size)


def search_program(
    variables: DataFrame, program_name: str | None = None
) -> DataFrame:
    """search_program (async_search.py:473-533): optional data_type match
    (standard-analyzer lowercase comparison), then per-collection_id
    top_hits(1) projecting (collection_id, collection_name,
    collection_action), sorted by collection_id (:527).  top_hits(1) is
    made deterministic by electing the min element_id per collection."""
    from pyspark.sql import Window

    out = variables
    if program_name:
        out = out.where(F.lower("data_type") == program_name.lower())
    w = Window.partitionBy("collection_id").orderBy(F.asc("element_id"))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("collection_id", "collection_name", "collection_action")
        .orderBy("collection_id")
    )


def agg_data_types(variables: DataFrame) -> DataFrame:
    """agg_data_type (async_search.py:91-110): the distinct data_type
    bucket keys of the variables index (terms agg), with bucket counts."""
    return (
        variables.groupBy("data_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("data_type"))
    )


def search_vars_unscored(
    variables: DataFrame, query: str, concept: str | None = None
) -> DataFrame:
    """search_vars_unscored (async_search.py:317-339): same query shape as
    search_variables but returns ALL matching docs (async_scan — no
    pagination, no score in the result), ordered by element_id for
    determinism."""
    score = (
        simple_variable_score(query) if is_simple_query(query) else variable_score(query)
    )
    out = variables.withColumn("_score", score).where(F.col("_score") > 0)
    if concept:
        out = out.where(F.array_contains("identifiers", concept))
    return out.drop("_score").orderBy("element_id")
