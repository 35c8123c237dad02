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

Scale: narrow transformation — no shuffle; each task reads the broadcast
and builds its lowercased term map and trie once, before its first batch;
output partitioning follows the input scan.  At 100 TB the cost is the
linear token scan plus one trie build per task.
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

    Every dictionary, whatever its size and with or without lineage, takes
    the one broadcast-trie ``mapInPandas`` scan, and lineage rides on it.
    Text is run through ``preprocess_series`` (when ``preprocess``),
    lowercased and tokenized with Python ``str.split()``, which splits on
    every Unicode whitespace character; a surface matches when its
    single-space-separated words appear consecutively in that token
    sequence; a null text has no tokens.  Dictionary strings travel only
    as broadcast data, never as SQL text.
    """
    spark = corpus.sparkSession
    if entries is None:
        entries = collect_dictionary(dictionary)
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
            texts = pdf[text_col].fillna("")
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
