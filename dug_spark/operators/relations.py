"""Pattern-based relation extraction: typed (subj, pred, obj) triples
from raw text — the step that upgrades the pipeline's co-mention edges
(undirected "these two concepts share a document") into DIRECTED,
TYPED predicates the north_star's triple families imply.

The reference derives typed edges only from TranQL's pre-built KG
(/root/reference/src/dug/core/crawler.py expands answer subgraphs —
it never reads predicates out of text); Hearst-style surface patterns
are the standard bootstrap a web-scale KG construction run adds: a
small curated table of connective phrases ("causes", "treats",
"interacts with") between two dictionary surface forms is high-
precision evidence for a typed edge.

Spark-first shape: the dictionary is dimension-sized (same bound as
the annotator's broadcast trie, operators/annotate.py), so the surface
alternation compiles into ONE literal regex per predicate.  Extraction
is two ``regexp_extract_all`` passes over the same pattern (groups 1
and 2) zipped positionally (same pattern, so the same match set and
aligned arrays), so the whole corpus pass is codegen: decode
→ regexp → arrays_zip → explode, fused into the scan, no Python, no
shuffle.  Surface→CURIE mapping is two broadcast joins; the only wide
operation is the final distinct on the (id, subj, pred, obj) result,
which is mention-sized, not corpus-sized.

Both engines' regex semantics agree on this pattern class (literal
alternations, ``\\s+``, ``\\b``): matches are non-overlapping and
scanned left to right in Java util.regex and RE2/DuckDB alike;
alternations are ordered longest-first so leftmost-first engines
prefer the longest surface form, matching leftmost-longest engines.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Curated connective phrases per biolink predicate — deliberately tiny
# (high precision over recall; the classic Hearst trade).  Callers pass
# their own table for other domains.
DEFAULT_PATTERNS: dict[str, tuple[str, ...]] = {
    "biolink:causes": ("causes", "leads to"),
    "biolink:treats": ("treats", "mitigates"),
    "biolink:interacts_with": ("interacts with", "binds"),
}


def relation_regex(terms: list[str], connectives: tuple[str, ...]) -> str:
    """``\\b(TERM_ALT)\\s+(?:CONN_ALT)\\s+(TERM_ALT)\\b`` — the shared
    Java/RE2 pattern for one predicate.  Terms sort longest-first inside
    the alternation (leftmost-first engines then agree with leftmost-
    longest ones); multi-word phrases get ``\\s+`` between words so
    whitespace runs in the text still match."""

    def alt(phrases: list[str] | tuple[str, ...]) -> str:
        parts = sorted(phrases, key=lambda p: (-len(p), p))
        return "|".join(
            r"\s+".join(re.escape(w) for w in p.split()) for p in parts
        )

    return rf"\b({alt(terms)})\s+(?:{alt(connectives)})\s+({alt(terms)})\b"


def extract_relations(
    df: DataFrame,
    dictionary: DataFrame | None,
    patterns: dict[str, tuple[str, ...]] | None = None,
    text_col: str = "text",
    id_col: str = "url",
    vocab: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Typed relation triples from text: (id, subj, pred, obj, surf_subj,
    surf_obj) — one distinct row per (document, triple).

    ``dictionary`` is the annotator's (term, curie, ...) table
    (schemas.TERM_DICTIONARY, lowercase surface forms); text is
    lowercased before matching, mirroring the annotator's contract.
    Pass precollected ``vocab`` [(term, curie), ...] to skip the
    dimension-table collect job (same contract as annotate's
    ``entries=``).

    The lowered (id, text) projection is materialized once
    (localCheckpoint): every predicate's two regexp passes re-read it
    instead of replaying the caller's text-derivation subtree per union
    branch."""
    patterns = patterns or DEFAULT_PATTERNS
    if vocab is None:
        # dimension-bounded collect — identical contract to the
        # annotator's broadcast trie; the dictionary is never corpus-sized
        vocab = [
            (r["term"], r["curie"])
            for r in dictionary.select("term", "curie").distinct().collect()
        ]
    else:
        vocab = sorted(set(vocab))
    terms = sorted({t for t, _c in vocab})
    low = df.select(
        F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("_lt")
    ).localCheckpoint(eager=False)
    lowered = F.col("_lt")
    per_pred = []
    for pred, conns in sorted(patterns.items()):
        pat = F.lit(relation_regex(terms, conns))
        z = F.explode(
            F.arrays_zip(
                F.regexp_extract_all(lowered, pat, 1).alias("s"),
                F.regexp_extract_all(lowered, pat, 2).alias("o"),
            )
        )
        per_pred.append(
            low.select("id", z.alias("z")).select(
                "id",
                # collapse whitespace runs so multi-word surfaces join
                # the dictionary's single-space forms
                F.regexp_replace(F.col("z.s"), r"\s+", " ").alias("surf_subj"),
                F.lit(pred).alias("pred"),
                F.regexp_replace(F.col("z.o"), r"\s+", " ").alias("surf_obj"),
            )
        )
    hits = per_pred[0]
    for p in per_pred[1:]:
        hits = hits.unionByName(p)
    d = F.broadcast(
        df.sparkSession.createDataFrame(
            sorted(set(vocab)), "term string, curie string"
        )
    )
    return (
        hits.join(d.withColumnsRenamed({"term": "surf_subj", "curie": "subj"}),
                  "surf_subj")
        .join(d.withColumnsRenamed({"term": "surf_obj", "curie": "obj"}),
              "surf_obj")
        .select("id", "subj", "pred", "obj", "surf_subj", "surf_obj")
        .distinct()
    )
