"""Vectorized text functions.

Replaces the reference's per-request preprocessing + payload chunking
(/root/reference/src/dug/core/annotators/monarch_annotator.py:85-111,
155-176) with Arrow-batched pandas UDFs.  All functions are pure and
locale/encoding-free so results are byte-identical across executors
(BASELINE per-row invariant).
"""

from __future__ import annotations

import re
from typing import Iterator, List

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

# Reference defaults: debreviator {"bmi": "body mass index", "_": " "}
# (monarch_annotator.py:174-176), stopwords ["the"] (config.py:36-39).
DEFAULT_DEBREVIATOR = {"bmi": "body mass index", "_": " "}
DEFAULT_STOPWORDS = ["the"]

_TAG_RE = re.compile(rb"<[^>]*>")


def preprocess_text(
    text: str,
    debreviator: dict[str, str] | None = None,
    stopwords: list[str] | None = None,
) -> str:
    """Literal multi-replace in dict order, then word-level stopword drop
    with whitespace collapse — same semantics as the reference
    preprocess_text (monarch_annotator.py:155-172)."""
    if text is None:
        return ""
    deb = DEFAULT_DEBREVIATOR if debreviator is None else debreviator
    stop = DEFAULT_STOPWORDS if stopwords is None else stopwords
    for key, value in deb.items():
        text = text.replace(key, value)
    stopset = set(stop)
    return " ".join(w for w in text.split() if w not in stopset)


def preprocess_series(
    s: pd.Series,
    debreviator: dict[str, str] | None = None,
    stopwords: list[str] | None = None,
) -> pd.Series:
    deb = DEFAULT_DEBREVIATOR if debreviator is None else debreviator
    stop = set(DEFAULT_STOPWORDS if stopwords is None else stopwords)
    out = s.fillna("")
    for key, value in deb.items():
        out = out.str.replace(key, value, regex=False)
    # word-level exact stopword removal + whitespace collapse
    return out.map(lambda t: " ".join(w for w in t.split() if w not in stop))


def sliding_window(
    text: str, max_characters: int = 2000, padding_words: int = 5
) -> List[str]:
    """Chunk text into ≤max_characters windows with padding_words of
    overlap.  Semantics match the reference generator
    (monarch_annotator.py:85-111) including its quirks: non-final chunks
    carry a trailing space, and the overlap rewinds padding_words words."""
    words = text.split(" ")
    n = len(words)
    chunks: List[str] = []
    start = 0
    while True:
        buf = ""
        i = 0
        overflowed = False
        for i, word in enumerate(words[start:]):
            if len(buf) + len(word) + 1 >= max_characters:
                chunks.append(buf + " ")
                start += i - padding_words
                overflowed = True
                break
            buf = word if i == 0 else buf + " " + word
        if not overflowed or start + i == n - 1:
            if not overflowed:
                chunks.append(buf)
            elif start + i == n - 1:
                # reference yields the partial window when the rewound
                # index lands exactly on the last word
                chunks.append(buf)
            return chunks


def extract_text_col(col) -> F.Column:
    """JVM codegen twin of ``extract_text_udf``: decode UTF-8, strip
    ``<[^>]*>`` tags.  Byte-identical to the UDF on valid UTF-8 input
    ('<' and '>' are ASCII and cannot occur inside a multibyte sequence,
    so stripping before or after decoding commutes) — pytest asserts the
    equality on the synthetic corpus.  Keeps the html→text invariant
    entirely inside whole-stage codegen: the pipeline's corpus pass pays
    no Python boundary for extraction."""
    return F.regexp_replace(F.decode(col, "UTF-8"), "<[^>]*>", "")


@F.pandas_udf(StringType())
def extract_text_udf(batch: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """html (binary) → text, byte-identical per url.

    Deterministic, locale-free: strip tags at the byte level, decode
    strict UTF-8.  For the synthetic corpus wrapper
    ``<html><body><p>{text}</p></body></html>`` this recovers ``text``
    exactly (the BASELINE invariant ``extract_text(html) == text``)."""
    for s in batch:
        yield s.map(
            lambda b: _TAG_RE.sub(b"", bytes(b)).decode("utf-8") if b is not None else None
        )


def _char_ngrams(s: str, n: int = 3) -> set:
    s = f" {s} "
    if len(s) < n:
        return {s}
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def ngram_jaccard(a: str, b: str, n: int = 3) -> float:
    """Character n-gram Jaccard similarity ∈ [0,1] — the deterministic
    replacement for the reference's SapBERT embedding score
    (sapbert_annotator.py:233-320)."""
    ga, gb = _char_ngrams(a.lower(), n), _char_ngrams(b.lower(), n)
    inter = len(ga & gb)
    if inter == 0:
        return 0.0
    return inter / (len(ga) + len(gb) - inter)


def ngram_jaccard_udf(n: int = 3):
    @F.pandas_udf(DoubleType())
    def _nj(a: pd.Series, b: pd.Series) -> pd.Series:
        a, b = a.fillna(""), b.fillna("")
        return pd.Series(
            [ngram_jaccard(x, y, n) for x, y in zip(a, b)], dtype="float64"
        )

    return _nj


def sentence_chunks_col(
    text_col,
    max_chars: int = 500,
):
    """Sentence-boundary chunking as a pure Column expression: split on
    sentence enders ([.!?] followed by whitespace — the deterministic
    rule, no model), then greedily pack consecutive sentences into
    chunks of at most ``max_chars`` characters (a single over-long
    sentence becomes its own over-long chunk rather than being cut
    mid-sentence — boundaries are the contract).  Returns
    array<string>; one F.aggregate fold over the sentence array —
    whole-stage codegen, no UDF, no shuffle.

    This is the retrieval-style segmentation the reference's
    character-window chunker (sliding_window, utils.py parity) can't
    express: windows cut mid-sentence by construction.
    """
    sents = F.filter(
        F.transform(
            F.split(text_col, r"(?<=[.!?])\s+"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    # fold: acc = struct(chunks: array<string>, cur: string)
    start = F.struct(
        F.array().cast("array<string>").alias("chunks"),
        F.lit("").alias("cur"),
    )

    def step(acc, s):
        joined = F.when(
            acc["cur"] == "", s
        ).otherwise(F.concat(acc["cur"], F.lit(" "), s))
        fits = F.length(joined) <= max_chars
        return F.struct(
            F.when(fits, acc["chunks"])
            .otherwise(
                F.when(acc["cur"] == "", acc["chunks"]).otherwise(
                    F.array_append(acc["chunks"], acc["cur"])
                )
            )
            .alias("chunks"),
            F.when(fits, joined).otherwise(s).alias("cur"),
        )

    def finish(acc):
        return F.when(acc["cur"] == "", acc["chunks"]).otherwise(
            F.array_append(acc["chunks"], acc["cur"])
        )

    return F.aggregate(sents, start, step, finish)
