"""Dictionary NER: batched Aho-Corasick-style mention detection.

Replaces the reference's per-chunk HTTP round-trip to the Monarch NER
service (/root/reference/src/dug/core/annotators/monarch_annotator.py:113-153
— response spans[].token[]{id,category,terms} become DugIdentifiers) with an
in-cluster matcher:

- the term dictionary (a small dimension table) is collected once on the
  driver, compiled into a word-level trie, and **broadcast** to executors;
- documents are scanned inside ``mapInPandas`` (Arrow batches, no per-row
  Python UDF), emitting one mention row per (document, matched term,
  dictionary entry).

Matching semantics: word-boundary, lowercase, all (including overlapping)
dictionary terms present in the document — e.g. "heart attack" matches both
"heart" (5 dictionary entries) and "heart attack" (2 entries) = the
reference's golden 7 identifiers (tests/unit/test_annotators.py:39).
Presence (distinct per document) rather than per-span duplicates: the
reference immediately dedupes spans into a dict keyed by identifier id
(parsers/_base.py:99-104), so downstream semantics are identical.

Scale: narrow transformation — no shuffle; the trie is built once per
executor from the broadcast (not per task); output partitioning follows the
input scan.  At 100 TB the only cost is the linear token scan.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..functions.text import preprocess_series

_END = "\0"  # terminal marker inside the trie


def build_trie(terms: list[str]) -> dict:
    """Word-level trie over multi-word surface terms."""
    root: dict = {}
    for term in terms:
        node = root
        for w in term.split(" "):
            node = node.setdefault(w, {})
        node[_END] = term
    return root


def scan_text(words: list[str], trie: dict) -> set[str]:
    """All dictionary terms present in the token sequence (overlaps
    included) — equivalent to an Aho-Corasick scan with word-boundary
    anchoring, O(tokens × max_phrase_len) with dict lookups."""
    found: set[str] = set()
    n = len(words)
    for i in range(n):
        node = trie
        j = i
        while j < n:
            node = node.get(words[j])
            if node is None:
                break
            term = node.get(_END)
            if term is not None:
                found.add(term)
            j += 1
    return found


def collect_dictionary(dictionary: DataFrame) -> dict[str, list]:
    """Collect the dimension table into the term → entries map the
    annotator broadcasts.  Exposed so long-lived pipelines can collect
    once and reuse across corpus batches."""
    dict_rows = dictionary.select("term", "curie", "label", "types", "score").collect()
    entries: dict[str, list] = {}
    for r in dict_rows:
        entries.setdefault(r["term"], []).append(
            (r["curie"], r["label"], list(r["types"] or []), r["score"])
        )
    return entries


def _annotate_jvm(
    corpus: DataFrame,
    entries: dict[str, list],
    id_col: str,
    text_col: str,
    preprocess: bool,
    debreviator: dict[str, str] | None,
    stopwords: list[str] | None,
) -> DataFrame:
    """Small-dictionary fast path: the whole scan as ONE whole-stage-
    codegen expression — no Python workers, no broadcast, no Arrow
    transpose (guide: prefer built-ins over the JVM↔Python boundary).

    Exact semantic mirror of the trie scan: the token stream is rebuilt
    as a single-space-joined, space-padded, lowercased string, so a
    ``contains(' term ')`` probe is precisely "the term's words appear
    consecutively in the token sequence" — the trie's match condition.
    One probe per distinct surface; matched surfaces emit their
    dictionary entries via a gated literal-struct array + explode.
    Terms that can never match under the Python tokenizer (empty, or
    carrying leading/trailing/double spaces) are skipped, matching the
    trie's behavior of never finding them."""
    from ..functions.text import DEFAULT_DEBREVIATOR, DEFAULT_STOPWORDS

    def s(v: str) -> str:
        # the text also passes through spark.sql's ``{src}`` formatting,
        # which reads single braces as fields: double them
        v = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return "'" + v.replace("{", "{{").replace("}", "}}") + "'"

    # the expression is composed as ONE SQL string (a single F.expr /
    # py4j round-trip): building ~50 gated struct literals through the
    # Column API costs hundreds of py4j calls and dominates small-query
    # latency as driver-side plan-construction time
    text = f"coalesce(`{text_col}`, '')"
    if preprocess:
        deb = DEFAULT_DEBREVIATOR if debreviator is None else debreviator
        stop = DEFAULT_STOPWORDS if stopwords is None else stopwords
        for key, value in deb.items():
            text = f"replace({text}, {s(key)}, {s(value)})"
        if stop:
            stop_arr = "array(" + ", ".join(s(w) for w in stop) + ")"
            toks = (
                f"filter(split({text}, '\\\\s+'), "
                f"w -> w != '' and not array_contains({stop_arr}, w))"
            )
        else:
            toks = f"filter(split({text}, '\\\\s+'), w -> w != '')"
        padded = f"concat(' ', lower(array_join({toks}, ' ')), ' ')"
    else:
        toks = f"filter(split(lower({text}), '\\\\s+'), w -> w != '')"
        padded = f"concat(' ', array_join({toks}, ' '), ' ')"

    cands = []
    for term in sorted(entries):
        low = term.lower()
        if not low or low != low.strip() or "  " in low:
            continue  # the trie scan can never match these
        hit = f"contains(_padded, {s(' ' + low + ' ')})"
        for curie, label, types, score in entries[term]:
            types_sql = (
                "array(" + ", ".join(s(t) for t in types) + ")"
                if types
                else "cast(array() as array<string>)"
            )
            label_sql = s(label) if label is not None else "cast(NULL as string)"
            curie_sql = s(curie) if curie is not None else "cast(NULL as string)"
            score_sql = (
                f"cast({float(score)!r} as double)"
                if score is not None
                else "cast(NULL as double)"
            )
            cands.append(
                f"if({hit}, named_struct("
                f"'search_text', {s(term)}, 'curie', {curie_sql}, "
                f"'label', {label_sql}, 'types', {types_sql}, "
                f"'score', {score_sql}), NULL)"
            )
    if not cands:
        empty = corpus.sparkSession.createDataFrame([], schemas.MENTIONS_RAW)
        return empty
    arr = "filter(array(" + ", ".join(cands) + "), c -> c is not null)"
    # ONE spark.sql call for the whole chain: each chained selectExpr
    # re-ran the analyzer over the growing tree (Dataset construction
    # analyzes eagerly), tripling the driver-side cost of the ~50-probe
    # expression on every query that derives from mentions
    return corpus.sparkSession.sql(
        f"""
        SELECT url, _m.search_text AS search_text, _m.curie AS curie,
               _m.label AS label, _m.types AS types, _m.score AS score
        FROM (
          SELECT url, explode({arr}) AS _m
          FROM (SELECT `{id_col}` AS url, {padded} AS _padded FROM {{src}})
        )""",
        src=corpus,
    )


#: above this many dictionary surfaces the per-term contains probes stop
#: being cheaper than one trie pass (and the codegen expression tree
#: stops being reasonable) — the Python trie path takes over
_JVM_MAX_TERMS = 128


def annotate_mentions(
    corpus: DataFrame,
    dictionary: DataFrame | None,
    id_col: str = "url",
    text_col: str = "text",
    preprocess: bool = True,
    debreviator: dict[str, str] | None = None,
    stopwords: list[str] | None = None,
    entries: dict[str, list] | None = None,
    lineage_acc=None,
) -> DataFrame:
    """corpus(id_col, text_col, …) × dictionary → MENTIONS.

    The full text is scanned in one pass (the reference's ≤2000-char
    sliding-window chunking, monarch_annotator.py:85-111, exists only to
    bound HTTP payloads; with 5-word overlap its match set equals the
    whole-text scan for terms ≤6 words).  Pass precollected ``entries``
    (from :func:`collect_dictionary`) to skip the per-call collect job.
    Pass ``lineage_acc`` (plans.lineage.partition_lineage_accumulator) to
    collect {source_partition: (input_docs, extracted_mentions)} as a
    side-channel of the scan — the per-partition lineage metrics the
    checkpoint manifest records.

    Dictionaries at or below ``$DUG_SPARK_ANNOTATE_JVM_MAX_TERMS``
    surfaces (default 128) run as pure JVM codegen (`_annotate_jvm`) —
    per-surface padded-contains probes over the rebuilt token stream,
    identical match semantics, no Python boundary.  Ontology-scale
    dictionaries (and lineage-tracked runs, which need the accumulator
    inside the scan) take the broadcast-trie ``mapInPandas`` path.
    """
    import os

    spark = corpus.sparkSession
    if entries is None:
        entries = collect_dictionary(dictionary)
    jvm_max = int(
        os.environ.get("DUG_SPARK_ANNOTATE_JVM_MAX_TERMS", str(_JVM_MAX_TERMS))
    )
    if lineage_acc is None and len(entries) <= jvm_max:
        raw = _annotate_jvm(
            corpus, entries, id_col, text_col, preprocess, debreviator,
            stopwords,
        )
        return raw.select(
            "url",
            F.col("url").alias("element_id"),
            "search_text",
            "curie",
            "label",
            "types",
            "score",
        )
    bc = spark.sparkContext.broadcast(entries)
    deb, stop = debreviator, stopwords
    do_pp = preprocess
    acc = lineage_acc

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = bc.value
        # the scan lowercases document text, so the trie must be keyed on
        # lowercased terms or uppercase dictionary entries silently never
        # match; the ORIGINAL term is kept for the emitted search_text
        by_lower: dict[str, list] = {}
        for _term, _ents in local.items():
            by_lower.setdefault(_term.lower(), []).append((_term, _ents))
        trie = build_trie(list(by_lower.keys()))
        for pdf in batches:
            texts = pdf[text_col]
            if do_pp:
                texts = preprocess_series(texts, deb, stop)
            texts = texts.str.lower()
            out = {
                "url": [], "search_text": [],
                "curie": [], "label": [], "types": [], "score": [],
            }
            for doc_id, text in zip(pdf[id_col], texts):
                for key in sorted(scan_text(text.split(), trie)):
                    for term, ents in by_lower[key]:
                        for curie, label, types, score in ents:
                            out["url"].append(doc_id)
                            out["search_text"].append(term)
                            out["curie"].append(curie)
                            out["label"].append(label)
                            out["types"].append(types)
                            out["score"].append(score)
            if acc is not None:
                from pyspark import TaskContext

                ctx = TaskContext.get()
                pid = ctx.partitionId() if ctx is not None else -1
                acc.add({pid: (len(pdf), len(out["url"]))})
            # explicit dtypes: an empty batch must still yield object
            # columns (pandas defaults empty lists to float64, which
            # Arrow can't convert to list<string>)
            yield pd.DataFrame(
                {
                    k: pd.Series(v, dtype="float64" if k == "score" else "object")
                    for k, v in out.items()
                }
            )

    # element_id == url for web-corpus annotation; alias it JVM-side so
    # the duplicate string column never crosses the Arrow boundary
    raw = corpus.select(id_col, text_col).mapInPandas(
        scan_batches, schema=schemas.MENTIONS_RAW
    )
    return raw.select(
        "url",
        F.col("url").alias("element_id"),
        "search_text",
        "curie",
        "label",
        "types",
        "score",
    )
