"""Pure-Python recomputation oracles for the xxhash64/hyperplane operator
families that ANSI SQL cannot express (no xxhash64 in DuckDB).

Used in two places:
- tests/test_python_oracles.py validates these implementations against
  Spark output at sf0.001;
- __spark_entry__.oracle_sql() embeds their results as VALUES tables so
  the driver's DuckDB gate checks rows+schema+hash for these queries too
  (instead of the weaker rows-only check).

Independence: the XXH64 implementation is written from the public xxHash
spec (https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md) and
the operator recomputations share no code with the Spark plans — only the
operator *parameters* (band counts, thresholds, hyperplane seeds), which
define the semantics.
"""

from __future__ import annotations

import math
import random
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 from the public spec; Spark's signed-long convention.
    Spark hashes strings as UTF-8 bytes (seed 42); a following int
    argument is hashed via the 4-byte path seeded with the prior hash."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M, 31) * _P1) & _M)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def xxh64_chain_int(i: int, prev: int) -> int:
    """Spark xxhash64(col, lit(int)): the int takes the 4-byte path seeded
    with the previous hash."""
    return xxh64(i.to_bytes(4, "little"), prev & _M)


def round_half_up(x: float, digits: int = 6) -> float:
    """Spark's ROUND for doubles: BigDecimal.valueOf(x) (shortest decimal
    repr, same as Python repr) setScale(digits, HALF_UP)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


# ---------------------------------------------------------------------------
# Operator recomputations (mirror dug_spark.operators semantics)


def simhash_value(text: str) -> int:
    votes = [0] * 64
    for tok in text.split(" "):
        h = xxh64(tok.encode("utf-8"), 42) & _M
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    u = sum((1 << b) for b in range(64) if votes[b] > 0)
    return u - (1 << 64) if u >= 1 << 63 else u


def simhash_pairs(
    docs: list[tuple[int, str]], max_hamming: int = 3, bands: int = 4
) -> list[tuple[int, int, int]]:
    """(id_a, id_b, hamming) pairs via banded block join, id_a < id_b."""
    sigs = {d: simhash_value(t) & _M for d, t in docs}
    width = 64 // bands
    mask = (1 << width) - 1
    buckets: dict = defaultdict(set)
    for d, s in sigs.items():
        for b in range(bands):
            buckets[(b, (s >> (b * width)) & mask)].add(d)
    out = {}
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b:
                    ham = bin(sigs[a] ^ sigs[b]).count("1")
                    if ham <= max_hamming:
                        out[(a, b)] = ham
    return sorted((a, b, h) for (a, b), h in out.items())


def _shingle_set(text: str, k: int) -> set[str]:
    words = text.split(" ")
    if len(words) < k:
        return set()
    return {
        s
        for i in range(len(words) - k + 1)
        if len(s := " ".join(words[i : i + k])) > 0
    }


def minhash_pairs(
    docs: list[tuple[int, str]],
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.9,
) -> list[tuple[int, int, float]]:
    """(id_a, id_b, jaccard≥threshold rounded 6) via LSH bands + exact
    Jaccard on candidates."""
    sh = {d: s for d, t in docs if (s := _shingle_set(t, shingle))}
    # signatures: per DISTINCT shingle precompute the chained hash row
    distinct = {s for ss in sh.values() for s in ss}
    hrow = {}
    for s in distinct:
        base = xxh64(s.encode("utf-8"), 42)
        hrow[s] = [xxh64_chain_int(i, base) for i in range(num_hashes)]
    sigs = {
        d: [min(hrow[s][i] for s in ss) for i in range(num_hashes)]
        for d, ss in sh.items()
    }
    rpb = num_hashes // bands
    buckets: dict = defaultdict(set)
    for d, sig in sigs.items():
        for b in range(bands):
            key = "_".join(str(sig[b * rpb + r]) for r in range(rpb))
            buckets[(b, xxh64(key.encode(), 42))].add(d)
    cands = set()
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b:
                    cands.add((a, b))
    out = []
    for a, b in sorted(cands):
        inter = len(sh[a] & sh[b])
        j = inter / (len(sh[a]) + len(sh[b]) - inter)
        if j >= threshold:
            out.append((a, b, round_half_up(j, 6)))
    return out


def near_dedup_rows(
    docs: list[tuple[int, str]],
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.9,
) -> list[tuple[int, int, int, bool]]:
    """Independent recompute of ``operators.dedup.near_dedup_corpus``:
    minhash pairs (minhash_pairs above) → union-find transitive closure →
    min-id keeper election → one (doc_id, cluster_id, cluster_size, keep)
    verdict per input document (singletons keep)."""
    pairs = minhash_pairs(docs, num_hashes, bands, shingle, threshold)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b, _j in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by smaller root so the label IS the min id
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    members: dict[int, list[int]] = {}
    for d, _t in docs:
        members.setdefault(find(d), []).append(d)
    out = []
    for d, _t in docs:
        root = find(d)
        out.append((d, root, len(members[root]), d == root))
    return sorted(out)


def _cos(a: list[float], b: list[float]) -> float:
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_sigs(vectors: list[list[float]], planes: list[list[float]]) -> list[int]:
    """Same batched (n, dim) @ (dim, bits) numpy matmul the Spark operator
    runs (similarity.lsh_signatures) — the dot products must be bitwise
    identical for the sign bits to agree, and a sequential Python fold (or
    even a gemv-shaped (1, dim) product) can differ in the last ulp.
    dgemm computes each output row's k-reduction independently of the
    batch row count, so the oracle batching everything at once matches
    Spark's per-Arrow-batch evaluation bit-for-bit."""
    import numpy as np

    m = np.asarray(planes, dtype=np.float64).T  # (dim, bits)
    d = np.asarray(vectors, dtype=np.float64) @ m
    out = []
    for row in d > 0:
        sig = 0
        for i, b in enumerate(row):
            if b:
                sig |= 1 << i
        out.append(sig)
    return out


def lsh_topk(
    queries: list[tuple[int, list[float]]],
    corpus: list[tuple[int, list[float]]],
    dim: int = 64,
    k: int = 10,
    bits: int = 16,
    bands: int = 4,
    seed: int = 7,
) -> list[tuple[int, int, int, float]]:
    """(q_id, neighbor_id, rk, cos rounded 6)."""
    planes = hyperplanes(dim, bits, seed)
    width = bits // bands
    mask = (1 << width) - 1
    corpus_sigs = lsh_sigs([v for _vid, v in corpus], planes)
    csigs = {vid: s for (vid, _v), s in zip(corpus, corpus_sigs)}
    by_vec = dict(corpus)
    buckets: dict = defaultdict(set)
    for vid, s in csigs.items():
        for b in range(bands):
            buckets[(b, (s >> (b * width)) & mask)].add(vid)
    query_sigs = lsh_sigs([v for _qid, v in queries], planes) if queries else []
    out = []
    for (qid, qv), qs in zip(queries, query_sigs):
        cands = set()
        for b in range(bands):
            cands |= buckets[(b, (qs >> (b * width)) & mask)]
        cands.discard(qid)
        ranked = sorted(((_cos(qv, by_vec[c]), c) for c in cands), key=lambda t: (-t[0], t[1]))[:k]
        for rk, (cos, c) in enumerate(ranked, 1):
            out.append((qid, c, rk, round_half_up(cos, 6)))
    return out


def _assign_cell(v: list[float], centroids: list[list[float]]) -> int:
    """Max-dot-product centroid; first max wins on ties (mirrors Spark's
    ``array_position(dots, array_max(dots))``).  The dot product folds
    left-to-right exactly like ``F.aggregate``'s sequential fold, so with
    identical inputs the doubles are bitwise identical."""
    best_i, best_d = 0, None
    for i, c in enumerate(centroids):
        d = 0.0
        for x, y in zip(v, c):
            d += x * y
        if best_d is None or d > best_d:
            best_i, best_d = i, d
    return best_i


def ivf_train(
    vectors: list[tuple[int, list[float]]], k: int = 16, iters: int = 2
) -> list[list[float]]:
    """Recompute of similarity.ivf_train_assign's trained centroids:
    seeds are the k vectors with smallest (xxhash64(str(id)), id); each
    Lloyd round reassigns and takes the per-(cell, dim) mean ROUNDED to 6
    decimals — the rounding is what makes the Spark aggregation (partial
    sums in partition order) and this exact recompute (math.fsum) agree
    bit-for-bit.  Cells that lose all members keep their centroid."""
    order = sorted(vectors, key=lambda t: (xxh64(str(t[0]).encode("utf-8"), 42), t[0]))
    centroids = [list(v) for _, v in order[:k]]
    for _ in range(iters):
        groups: dict = defaultdict(list)
        for _vid, v in vectors:
            groups[_assign_cell(v, centroids)].append(v)
        new_c = [list(c) for c in centroids]
        for cell, vs in groups.items():
            for d in range(len(vs[0])):
                new_c[cell][d] = round_half_up(
                    math.fsum(v[d] for v in vs) / len(vs), 6
                )
        centroids = new_c
    return centroids


def ivf_trained_topk(
    queries: list[tuple[int, list[float]]],
    corpus: list[tuple[int, list[float]]],
    k: int = 10,
    k_cells: int = 16,
    iters: int = 2,
) -> list[tuple[int, int, int, float]]:
    """Recompute of similarity.ivf_trained_topk: train on the corpus,
    assign queries with the same final centroids, exact cosine within the
    query's cell only."""
    centroids = ivf_train(corpus, k_cells, iters)
    c_with = [(vid, v, _assign_cell(v, centroids)) for vid, v in corpus]
    q_with = [(qid, v, _assign_cell(v, centroids)) for qid, v in queries]
    return ivf_topk(q_with, c_with, k)


def sample_mix_rows(
    rows: list[tuple[int, str]],
    fractions: dict[str, float],
    salt: int = 42,
    default_fraction: float = 0.0,
) -> list[tuple[int, int, bool]]:
    """Recompute of textstats.sample_corpus_mix: (id, group) →
    (id, bucket, keep) with bucket = pmod(xxhash64(id || '#' || salt),
    10^6) — Python's ``%`` on the signed hash IS Spark's pmod."""
    out = []
    for did, group in rows:
        u = xxh64(f"{did}#{salt}".encode("utf-8")) % 1_000_000
        p = fractions.get(group, default_fraction)
        out.append((did, u, u < p * 1_000_000))
    return out


def ivf_topk(
    queries: list[tuple[int, list[float], object]],
    corpus: list[tuple[int, list[float], object]],
    k: int = 10,
) -> list[tuple[int, int, int, float]]:
    """(q_id, neighbor_id, rk, cos rounded 6) searching the query's cell."""
    by_cell: dict = defaultdict(list)
    for vid, v, cell in corpus:
        by_cell[cell].append((vid, v))
    out = []
    for qid, qv, cell in queries:
        cands = [(vid, v) for vid, v in by_cell[cell] if vid != qid]
        ranked = sorted(((_cos(qv, v), vid) for vid, v in cands), key=lambda t: (-t[0], t[1]))[:k]
        for rk, (cos, c) in enumerate(ranked, 1):
            out.append((qid, c, rk, round_half_up(cos, 6)))
    return out


# ---------------------------------------------------------------------------
# Published web-corpus filter rules (Gopher / C4) — independent recompute of
# the rule sets from the papers (Rae et al. 2021 §A1.1; Raffel et al. 2020
# §2.2) over plain Python strings, sharing no code with the Spark column
# expressions in operators/textstats.py.  Used as VALUES oracles for the
# text_gopher / text_c4_clean contract queries.

_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rows(
    docs: list[tuple[int, str]],
) -> list[tuple]:
    """(doc_id, dup_line_frac, dup_3gram_frac, top_word_frac, g_word_count,
    g_mean_word_len, g_symbol_ratio, g_bullet_lines, g_ellipsis_lines,
    g_alpha_words, g_stopwords, g_dup_lines, g_top_word, gopher_keep) per
    document, fractions rounded HALF_UP to 6 (Spark round semantics)."""
    import re

    out = []
    for doc_id, text in docs:
        toks = text.split(" ")
        n = len(toks)
        lines = text.split("\n")
        nl = len(lines)
        dup_line = round_half_up(1.0 - len(set(lines)) / nl, 6)
        if n >= 3:
            grams = [" ".join(toks[i : i + 3]) for i in range(n - 2)]
            dup_3g = round_half_up(1.0 - len(set(grams)) / len(grams), 6)
        else:
            dup_3g = 0.0
        counts: dict[str, int] = {}
        for w in toks:
            counts[w] = counts.get(w, 0) + 1
        top_word = round_half_up(max(counts.values()) / n, 6)
        mean_wl = sum(len(w) for w in toks) / n
        sym = (text.count("#") + (len(text.split("...")) - 1)) / n
        bullets = sum(1 for l in lines if l.strip(" ").startswith(("-", "*"))) / nl
        ell = sum(1 for l in lines if l.strip(" ").endswith("...")) / nl
        alpha = sum(1 for w in toks if re.search("[a-zA-Z]", w)) / n
        stop_n = sum(1 for w in toks if w.lower() in _GOPHER_STOPS)
        g = {
            "g_word_count": 50 <= n <= 100_000,
            "g_mean_word_len": 3.0 <= mean_wl <= 10.0,
            "g_symbol_ratio": sym <= 0.1,
            "g_bullet_lines": bullets <= 0.9,
            "g_ellipsis_lines": ell <= 0.3,
            "g_alpha_words": alpha >= 0.8,
            "g_stopwords": stop_n >= 2,
            "g_dup_lines": dup_line <= 0.3,
            "g_top_word": top_word <= 0.2,
        }
        out.append(
            (doc_id, dup_line, dup_3g, top_word)
            + tuple(g.values())
            + (all(g.values()),)
        )
    return out


def c4_rows(docs: list[tuple[int, str]]) -> list[tuple]:
    """(doc_id, n_kept_lines, c4_keep, clean_len) per document under the
    C4 line filters: terminal punctuation, >=5 whitespace words, no
    javascript/cookie-policy/terms-of-use boilerplate; keep docs with
    >=3 surviving lines.  clean_len = len of the newline-rejoined text."""
    import re

    out = []
    for doc_id, text in docs:
        kept = []
        for l in text.split("\n"):
            t = l.strip(" ")
            if not re.search("[.!?\"']$", t):
                continue
            if len(re.split(r"\s+", t)) < 5:
                continue
            low = l.lower()
            if (
                "javascript" in low
                or "cookie policy" in low
                or "terms of use" in low
            ):
                continue
            kept.append(l)
        out.append(
            (doc_id, len(kept), len(kept) >= 3, len("\n".join(kept)))
        )
    return out


# PII patterns — kept textually identical to
# dug_spark/operators/textstats._PII_PATTERNS (Java and Python regex agree
# on every construct used: classes, bounded quantifiers, \b, fixed-width
# lookaround).
_PII = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (
        "ipv4",
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b",
        "<IP>",
    ),
    (
        "phone",
        r"(?<![0-9])(?:\+?[0-9]{1,3}[-. ])?(?:\([0-9]{3}\)[-. ]?|[0-9]{3}[-. ])"
        r"[0-9]{3}[-. ][0-9]{4}(?![0-9])",
        "<PHONE>",
    ),
]


def curate_rows(
    docs: list[tuple[int, str]], webify: bool = False
) -> list[tuple]:
    """Independent recompute of the full ``operators.curate.curate_corpus``
    composition (C4 line clean → Gopher gates → PII redaction →
    corpus-global line dedup at min_words=2 → exact-doc keeper election).

    ``webify=True`` first applies webify_text (the contract query runs
    over the web-shaped corpus so every stage has non-degenerate work).

    Returns (doc_id, c4_keep, gopher_keep, n_email, n_ipv4, n_phone,
    pii_found, n_lines_removed, is_canonical_copy, keep, curated_len)
    with curated_len = -1 for dropped documents (no NULLs in the VALUES
    oracle)."""
    import re

    # mirror curate_corpus's NULL→'' coalesce: NULL-text docs keep a
    # verdict row with keep=false instead of vanishing
    docs = [(d, t if t is not None else "") for d, t in docs]
    if webify:
        docs = [(d, webify_text(d, t)) for d, t in docs]

    gopher_keep = {r[0]: r[-1] for r in gopher_rows(docs)}

    # stage 1: C4 line cleaning (same rules as c4_rows, clean text kept)
    staged = {}
    for doc_id, text in docs:
        kept = []
        for l in text.split("\n"):
            t = l.strip(" ")
            if not re.search("[.!?\"']$", t):
                continue
            if len(re.split(r"\s+", t)) < 5:
                continue
            low = l.lower()
            if (
                "javascript" in low
                or "cookie policy" in low
                or "terms of use" in low
            ):
                continue
            kept.append(l)
        staged[doc_id] = {"clean": "\n".join(kept), "c4_keep": len(kept) >= 3}

    # stage 3: PII redaction over the cleaned text; each pattern's count
    # is taken on the text as redacted by the PRIOR patterns (mirrors the
    # withColumn chain in textstats.redact_pii)
    for doc_id in staged:
        red = staged[doc_id]["clean"]
        for kind, pat, token in _PII:
            staged[doc_id][f"n_{kind}"] = len(list(re.finditer(pat, red)))
            red = re.sub(pat, token, red)
        staged[doc_id]["red"] = red

    # stage 4: corpus-global line dedup (keeper = min (doc_id, idx) per
    # non-exempt line value; lines with < 2 whitespace words exempt)
    best: dict[str, tuple[int, int]] = {}
    for doc_id in sorted(staged):
        for idx, line in enumerate(staged[doc_id]["red"].split("\n")):
            if len(re.split(r"\s+", line.strip(" "))) < 2:
                continue
            key = (doc_id, idx)
            if line not in best or key < best[line]:
                best[line] = key
    for doc_id in staged:
        kept_lines, removed = [], 0
        for idx, line in enumerate(staged[doc_id]["red"].split("\n")):
            exempt = len(re.split(r"\s+", line.strip(" "))) < 2
            if exempt or best[line] == (doc_id, idx):
                kept_lines.append(line)
            else:
                removed += 1
        staged[doc_id]["curated"] = "\n".join(kept_lines)
        staged[doc_id]["removed"] = removed

    # stage 5: exact-document keeper election on the curated text
    keeper: dict[str, int] = {}
    for doc_id in staged:
        t = staged[doc_id]["curated"]
        if t not in keeper or doc_id < keeper[t]:
            keeper[t] = doc_id

    out = []
    for doc_id, _text in docs:
        s = staged[doc_id]
        canonical = keeper[s["curated"]] == doc_id
        keep = s["c4_keep"] and gopher_keep[doc_id] and canonical
        out.append(
            (
                doc_id,
                s["c4_keep"],
                gopher_keep[doc_id],
                s["n_email"],
                s["n_ipv4"],
                s["n_phone"],
                (s["n_email"] + s["n_ipv4"] + s["n_phone"]) > 0,
                s["removed"],
                canonical,
                keep,
                len(s["curated"]) if keep else -1,
            )
        )
    return out


WEB_SHARED_LINE = "this exact shared line appears in many documents today."
WEB_PII_LINE = "contact bob@example.com or 10.0.0.1 now please today okay."
WEB_BOILER_LINE = "please accept our cookie policy before reading this content."


def webify_text(doc_id: int, text: str) -> str:
    """Pure-Python mirror of fixtures.webify_documents (sentences of 8
    words ending '.', one per line, + doc_id-gated shared/PII/boilerplate
    lines)."""
    import math

    words = text.split(" ")
    n_sent = math.ceil(len(words) / 8)
    parts = [
        "\n".join(
            " ".join(words[i * 8 : i * 8 + 8]) + "." for i in range(n_sent)
        )
    ]
    if doc_id % 5 == 0:
        parts.append(WEB_SHARED_LINE)
    if doc_id % 7 == 0:
        parts.append(WEB_PII_LINE)
    if doc_id % 11 == 0:
        parts.append(WEB_BOILER_LINE)
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# operators/lm.py mirrors: interpolated-bigram perplexity + greedy packing
# (independent recompute of the spec in that module's docstrings)

_LM_TOKEN_RE = re.compile(r"[^a-z0-9]+")


def _lm_toks(text: str) -> list[str]:
    return [t for t in _LM_TOKEN_RE.split((text or "").lower()) if t]


def lm_rows(
    docs: list[tuple[int, str]],
    ref_mod: int = 10,
    lam: float = 0.9,
    order: int = 2,
    lam3: float = 0.6,
    prune_trigram: int = 2,
) -> list[tuple]:
    """(doc_id, n_tokens, cross_entropy, perplexity, ppl_bucket) for every
    doc, LM trained on docs with doc_id %% ref_mod == 0, cutoffs = exact
    tertiles of the reference docs' own perplexities (CCNet protocol).
    ``order=3`` mirrors operators/lm.py's pruned interpolated trigram
    (double-BOS padding, count-threshold pruning with unpruned-total
    denominators kept only for contexts ≥ the threshold)."""
    ref = [(d, t) for d, t in docs if d % ref_mod == 0]
    uni: dict[str, int] = {}
    big: dict[tuple[str, str], int] = {}
    tri_raw: dict[tuple[str, str, str], int] = {}
    n_ref_docs = 0
    for _d, t in ref:
        tk = _lm_toks(t)
        if not tk:
            continue
        n_ref_docs += 1
        prev = "<s>"
        for w in tk:
            uni[w] = uni.get(w, 0) + 1
            big[(prev, w)] = big.get((prev, w), 0) + 1
            prev = w
        if order == 3:
            seq = ["<s>", "<s>"] + tk
            for i in range(len(seq) - 2):
                k = (seq[i], seq[i + 1], seq[i + 2])
                tri_raw[k] = tri_raw.get(k, 0) + 1
    total = sum(uni.values())
    vocab = len(uni)
    ctx3_raw: dict[tuple[str, str], int] = {}
    for (c2, c1, _w), n in tri_raw.items():
        ctx3_raw[(c2, c1)] = ctx3_raw.get((c2, c1), 0) + n
    tri = {k: n for k, n in tri_raw.items() if n >= prune_trigram}
    ctx3 = {k: n for k, n in ctx3_raw.items() if n >= prune_trigram}

    def entropy(tk: list[str]) -> float:
        if not tk:
            return 0.0
        h, prev2, prev = 0.0, "<s>", "<s>"
        for w in tk:
            cn = n_ref_docs if prev == "<s>" else uni.get(prev, 0)
            p_bi = (big.get((prev, w), 0) / cn) if cn else 0.0
            p_uni = (uni.get(w, 0) + 1) / (total + vocab + 1)
            lower = lam * p_bi + (1.0 - lam) * p_uni
            if order == 3:
                cn3 = ctx3.get((prev2, prev), 0)
                p_tri = (tri.get((prev2, prev, w), 0) / cn3) if cn3 else 0.0
                h -= math.log2(lam3 * p_tri + (1.0 - lam3) * lower)
            else:
                h -= math.log2(lower)
            prev2, prev = prev, w
        return h / len(tk)

    ref_ppl = sorted(
        2.0 ** entropy(_lm_toks(t)) for _d, t in ref if _lm_toks(t)
    )
    if ref_ppl:
        cut_head = ref_ppl[(len(ref_ppl) - 1) // 3]
        cut_mid = ref_ppl[(2 * (len(ref_ppl) - 1)) // 3]
    else:
        cut_head = cut_mid = float("-inf")

    out = []
    for d, t in docs:
        tk = _lm_toks(t)
        h = entropy(tk)
        p = 2.0**h
        if not tk:
            b = "empty"
        elif p <= cut_head:
            b = "head"
        elif p <= cut_mid:
            b = "middle"
        else:
            b = "tail"
        out.append((d, len(tk), round_half_up(h), round_half_up(p), b))
    return out


def pack_rows(
    docs: list[tuple[int, str]], budget: int, n_shards: int
) -> list[tuple]:
    """(shard, seq_id, doc_id, offset, n_tokens, oversize): greedy packing
    in doc_id order within shard = doc_id %% n_shards; a sequence closes
    when the next doc would overflow (or exactly fills) the budget."""
    shards: dict[int, list[tuple[int, int]]] = {}
    for d, t in docs:
        shards.setdefault(d % n_shards, []).append((d, len(_lm_toks(t))))
    out = []
    for s in sorted(shards):
        seq, used = 0, 0
        for d, n in sorted(shards[s]):
            if used > 0 and used + n > budget:
                seq, used = seq + 1, 0
            out.append((s, seq, d, used, n, n > budget))
            used += n
            if used >= budget:
                seq, used = seq + 1, 0
    return out


MOJI_SUFFIX = " café naïve résumé — señor über"


def dsir_rows(
    raw: list[tuple[int, str]],
    target: list[tuple[int, str]],
    buckets: int = 512,
    alpha: float = 1.0,
    k: int = 100,
    seed: int = 7,
) -> list[tuple[int, int, float, bool]]:
    """Recompute of operators/importance.dsir_resample (k mode): hashed
    unigram+bigram Laplace multinomials, per-doc log importance weight,
    Gumbel-top-k selection with xxhash-seeded noise.  Returns
    (doc_id, n_feats, logw[round 5], keep)."""

    def feats(text: str) -> list[str]:
        toks = _lm_toks(text)
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f: str) -> int:
        return xxh64(f.encode("utf-8")) % buckets

    t: dict[int, int] = {}
    for _id, tx in target:
        for f in feats(tx):
            b = bucket(f)
            t[b] = t.get(b, 0) + 1
    r: dict[int, int] = {}
    for _id, tx in raw:
        for f in feats(tx):
            b = bucket(f)
            r[b] = r.get(b, 0) + 1
    tt, rt = sum(t.values()), sum(r.values())
    lr = {
        b: math.log((t.get(b, 0) + alpha) / (tt + alpha * buckets))
        - math.log((r.get(b, 0) + alpha) / (rt + alpha * buckets))
        for b in range(buckets)
    }
    cells = 1 << 20
    scored = []
    for did, tx in raw:
        fs = feats(tx)
        logw = sum(lr[bucket(f)] for f in fs)
        u = (xxh64(f"{did}#{seed}".encode("utf-8")) % cells + 0.5) / float(cells)
        key = logw - math.log(-math.log(u))
        scored.append((did, len(fs), logw, key))
    kept = {
        did
        for did, _n, _w, _k in sorted(scored, key=lambda x: (-x[3], x[0]))[:k]
    }
    return [
        (did, n, round_half_up(logw, 5), did in kept)
        for did, n, logw, _key in scored
    ]


def web_edges_py(doc_ids: list[int]) -> list[tuple[str, str]]:
    """Mirror of the ``web_edges`` oracle CTE in __spark_entry__ (which in
    turn mirrors the href synthesis of _web_linked_docs): directed
    distinct host pairs, self-edges dropped."""
    out = set()
    for d in doc_ids:
        src = f"h{d % 20}.example.org"
        for n in (
            (d // 20) % (1 + (d % 20) % 5) % 20,
            ((d // 40) % (1 + (d % 20) % 7) + 5) % 20,
            ((d // 60) % (1 + (d % 20) % 4) + 12) % 20,
        ):
            dst = f"h{n}.example.org"
            if src != dst:
                out.add((src, dst))
    return sorted(out)


def k_core_rows(
    pairs: list[tuple[str, str]], k: int
) -> list[tuple[str, int]]:
    """Pure-Python k-core peel (Seidman 1983) over undirected pairs —
    run to the unique fixpoint; the definitive convergence mirror for
    graph.k_core (whose SQL oracle unrolls a fixed round count)."""
    adj: dict[str, set[str]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
            changed = True
    return sorted((n, len(nb)) for n, nb in adj.items())


def _pq_assign(sub: list[float], centroids: list[list[float]]) -> int:
    """First-min squared-L2 centroid (mirrors Spark's
    ``array_position(dists, array_min(dists))``); the distance folds
    left-to-right exactly like F.aggregate."""
    best_i, best_d = 0, None
    for i, c in enumerate(centroids):
        d = 0.0
        for a, b in zip(sub, c):
            d += (a - b) * (a - b)
        if best_d is None or d < best_d:
            best_i, best_d = i, d
    return best_i


def pq_train_py(
    vectors: list[tuple[int, list[float]]],
    m: int = 8,
    ksub: int = 16,
    iters: int = 1,
) -> list[list[list[float]]]:
    """Recompute of similarity.pq_train: per-subspace Lloyd with the same
    xxhash64-ordered seeds and 6-decimal-rounded means (fsum here,
    partial-aggregated avg there — the rounding makes them agree)."""
    dim = len(vectors[0][1])
    dsub = dim // m
    order = sorted(vectors, key=lambda t: (xxh64(str(t[0]).encode("utf-8"), 42), t[0]))
    codebooks = [
        [list(v[s * dsub : (s + 1) * dsub]) for _, v in order[:ksub]]
        for s in range(m)
    ]
    for _ in range(iters):
        groups: dict = defaultdict(list)
        for _vid, v in vectors:
            for s in range(m):
                sub = v[s * dsub : (s + 1) * dsub]
                groups[(s, _pq_assign(sub, codebooks[s]))].append(sub)
        new_c = [[list(c) for c in cb] for cb in codebooks]
        for (s, cell), subs in groups.items():
            for w in range(dsub):
                new_c[s][cell][w] = round_half_up(
                    math.fsum(x[w] for x in subs) / len(subs), 6
                )
        codebooks = new_c
    return codebooks


def pq_ivf_topk(
    queries: list[tuple[int, list[float]]],
    corpus: list[tuple[int, list[float]]],
    k: int = 5,
    k_cells: int = 8,
    m: int = 8,
    ksub: int = 16,
    iters: int = 1,
    pq_iters: int = 1,
) -> list[tuple[int, int, int, float]]:
    """Recompute of similarity.pq_ivf_topk (IVF-ADC): IVF cell restrict,
    then rank the cell's inverted list by the sum of per-subspace
    table-lookup distances — bit-identical fold order throughout."""
    cents = ivf_train(corpus, k_cells, iters)
    codebooks = pq_train_py(corpus, m, ksub, pq_iters)
    dim = len(corpus[0][1])
    dsub = dim // m
    enc = [
        (
            vid,
            _assign_cell(v, cents),
            [_pq_assign(v[s * dsub : (s + 1) * dsub], codebooks[s]) for s in range(m)],
        )
        for vid, v in corpus
    ]
    out = []
    for qid, qv in queries:
        cell = _assign_cell(qv, cents)
        qtab = []
        for s in range(m):
            sub = qv[s * dsub : (s + 1) * dsub]
            row = []
            for c in codebooks[s]:
                d = 0.0
                for a, b in zip(sub, c):
                    d += (a - b) * (a - b)
                row.append(d)
            qtab.append(row)
        cand = []
        for nid, ncell, code in enc:
            if ncell != cell or nid == qid:
                continue
            adc = 0.0
            for s in range(m):
                adc += qtab[s][code[s]]
            cand.append((adc, nid))
        cand.sort()
        for rk, (adc, nid) in enumerate(cand[:k], 1):
            out.append((qid, nid, rk, round_half_up(adc, 5)))
    return out


def random_walk_rows(
    pairs: list[tuple[str, str]],
    walk_length: int = 4,
    walks_per_node: int = 2,
) -> list[tuple[str, int, str, int]]:
    """Bit-exact mirror of graph.random_walks: hash-argmin neighbor
    choice via xxhash64("start|w|t|neighbor") with (hash, neighbor)
    tie-break, early stop at sinks."""
    adj: dict[str, set[str]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
    out = []
    for start in sorted(adj):
        for w in range(walks_per_node):
            path, cur = [start], start
            for t in range(1, walk_length + 1):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                cur = min(
                    nbrs,
                    key=lambda n: (
                        xxh64(f"{start}|{w}|{t}|{n}".encode("utf-8"), 42),
                        n,
                    ),
                )
                path.append(cur)
            out.append((start, w, ">".join(path), len(path) - 1))
    return out


def scc_rows(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Iterative Tarjan SCC over directed pairs — the definitive mirror
    for graph.strongly_connected_components.  Returns (node, scc_id)
    with scc_id = min node id in the component; isolated endpoints and
    self-loop-only nodes are singleton components."""
    adj: dict[str, list[str]] = {}
    nodes: set[str] = set()
    for a, b in pairs:
        nodes.add(a)
        nodes.add(b)
        if a != b:
            adj.setdefault(a, []).append(b)
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    comps: list[list[str]] = []
    counter = [0]

    def strongconnect(v0: str):
        # iterative Tarjan (explicit work stack: (node, child-iter index))
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            children = adj.get(v, [])
            for i in range(pi, len(children)):
                w = children[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                comps.append(comp)
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    out = []
    for comp in comps:
        cid = min(comp)
        out.extend((n, cid) for n in comp)
    return sorted(out)


def anf_rows(
    pairs: list[tuple[str, str]],
    hops: int = 3,
    registers: int = 8,
) -> list[tuple[str, int, int, float]]:
    """Bit-exact mirror of graph.neighborhood_function: FM sketches from
    xxhash64("node#r") trailing zeros (cap 62), OR-propagation along
    out-edges, lowest-zero-bit statistic and the 2^(k/R)/0.77351
    estimate (round_half_up to 3, matching Spark's ROUND)."""
    adj: dict[str, set[str]] = {}
    nodes: set[str] = set()
    for a, b in pairs:
        if a == b:
            continue
        nodes.add(a)
        nodes.add(b)
        adj.setdefault(a, set()).add(b)

    def tz_cap(h: int) -> int:
        hm = h & _M
        low = hm & ((~hm + 1) & _M)
        return min(((low - 1) & _M).bit_count() if low else 64, 62)

    sk = {
        v: [
            1 << tz_cap(xxh64(f"{v}#{r}".encode("utf-8"), 42))
            for r in range(registers)
        ]
        for v in nodes
    }

    def lzb(m: int) -> int:
        return (m ^ (m + 1)).bit_count() - 1

    out = []
    for h in range(1, hops + 1):
        new = {}
        for v in nodes:
            regs = list(sk[v])
            for w in adj.get(v, ()):
                for r in range(registers):
                    regs[r] |= sk[w][r]
            new[v] = regs
        sk = new
        for v in sorted(nodes):
            s = sum(lzb(m) for m in sk[v])
            est = round_half_up(2.0 ** (s / registers) / 0.77351, 3)
            out.append((v, h, s, est))
    return out


def skipgram_rows(
    walk_rows: list[tuple[str, int, str, int]],
    window: int = 2,
) -> list[tuple[str, str, int]]:
    """Mirror of graph.walks_to_skipgrams over random_walk_rows output:
    ordered within-window pairs, aggregated counts."""
    counts: dict[tuple[str, str], int] = {}
    for _start, _w, path, _steps in walk_rows:
        toks = path.split(">")
        for i, c in enumerate(toks):
            for j in range(max(0, i - window), min(len(toks), i + window + 1)):
                if j == i:
                    continue
                key = (c, toks[j])
                counts[key] = counts.get(key, 0) + 1
    return sorted((a, b, n) for (a, b), n in counts.items())


def betweenness_rows(
    pairs: list[tuple[str, str]],
    seeds: list[str],
    max_depth: int = 15,
    ndigits: int = 5,
) -> list[tuple[str, float]]:
    """Mirror of operators/graph.betweenness: level-synchronous Brandes
    from the sampled sources over the directed simple graph (self-loops
    and duplicate edges dropped), depth-capped exactly like the Spark
    loop.  Returns (node, Σ_s δ_s(node)) for every node reached from
    some seed s ≠ node, δ rounded to ``ndigits``."""
    from collections import defaultdict

    adj: dict[str, set[str]] = {}
    for s, d in set(pairs):
        if s != d:
            adj.setdefault(s, set()).add(d)
    bc: dict[str, float] = defaultdict(float)
    reached: set[str] = set()
    for s0 in seeds:
        dist = {s0: 0}
        sigma: dict[str, float] = defaultdict(float)
        sigma[s0] = 1.0
        levels: dict[int, list[str]] = {0: [s0]}
        frontier, d = [s0], 0
        while frontier and d < max_depth:
            nxt: dict[str, float] = defaultdict(float)
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        nxt[v] += sigma[u]
            d += 1
            for v, sg in nxt.items():
                dist[v] = d
                sigma[v] = sg
            frontier = sorted(nxt)
            if frontier:
                levels[d] = frontier
        delta: dict[str, float] = defaultdict(float)
        for dd in range(max(levels), 0, -1):
            for w in levels[dd]:
                for v in [
                    v
                    for v in adj
                    if w in adj[v] and dist.get(v, -2) == dd - 1
                ]:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
        for v in dist:
            if v != s0:
                bc[v] += delta[v]
                reached.add(v)
    return sorted((v, round(bc[v], ndigits)) for v in reached)


# ---------------------------------------------------------------------------
# KMV distinct sketch (mirror of operators/sketch.py)


def _kmv_mins(values, buckets: int) -> dict:
    """bucket -> min xxh64, exactly as kmv_sketch computes them: value
    hash = xxh64(utf8), bucket = xxh64(value, lit(1)) pmod buckets."""
    mins: dict[int, int] = {}
    for v in values:
        if v is None:
            continue
        h = xxh64(v.encode("utf-8"))
        b = xxh64_chain_int(1, h) % buckets
        if b not in mins or h < mins[b]:
            mins[b] = h
    return mins


def _kmv_est(mins: dict, buckets: int) -> float:
    """ROUND(B^2 * 2^64 / S - B, 4) with S exact in integers — the same
    two floating-point steps (int->double, one division) as the Spark
    plan, so every digit matches."""
    s = sum(mins.values()) + (1 << 63) * (2 * buckets - len(mins))
    est = float(buckets * buckets) * 2.0**64 / float(s) - buckets
    return round_half_up(est, 4)


def weighted_sample_rows(
    rows: list[tuple], k: int, seed: int = 11
) -> list[tuple]:
    """Recompute of operators/importance.weighted_sample_per_group:
    rows = (group, id, weight); key = log(w) + Gumbel from
    xxh64(f"{id}#{seed}") exactly like the Spark _gumbel_key; returns the
    kept (group, id, rank) sorted by (group, rank)."""
    cells = 1 << 20
    per_group: dict = {}
    for g, i, w in rows:
        if w is None or float(w) <= 0:
            continue
        u = (xxh64(f"{i}#{seed}".encode("utf-8")) % cells + 0.5) / float(cells)
        key = math.log(float(w)) - math.log(-math.log(u))
        per_group.setdefault(g, []).append((key, i))
    out = []
    for g in sorted(per_group):
        ranked = sorted(per_group[g], key=lambda t: (-t[0], t[1]))[:k]
        out.extend((g, i, r + 1) for r, (_key, i) in enumerate(ranked))
    return out


def bloom_words_py(values: list[str], num_bits: int, k: int) -> list[int]:
    """Mirror of operators/sketch.bloom_build + bloom_words: k chained
    xxh64 bit positions per value, OR-folded into num_bits//64 signed
    words (Spark's shiftleft(1, 63) wraps to the sign bit)."""
    words = [0] * (num_bits // 64)
    for val in values:
        h0 = xxh64(val.encode("utf-8"))
        for i in range(k):
            pos = xxh64_chain_int(i, h0) % num_bits
            words[pos >> 6] |= 1 << (pos & 63)
    return [w - (1 << 64) if w >= 1 << 63 else w for w in words]


def bloom_rows(
    build_values: list[str],
    probe_values: list[str],
    num_bits: int,
    k: int,
) -> list[tuple]:
    """(value, might_contain, present) per distinct probe value, sorted —
    the full Bloom contract: present ⇒ might_contain (no false
    negatives), and the (deterministic) false positives reproduce."""
    words = bloom_words_py(sorted(set(build_values)), num_bits, k)
    built = set(build_values)
    out = []
    for val in sorted(set(probe_values)):
        h0 = xxh64(val.encode("utf-8"))
        might = True
        for i in range(k):
            pos = xxh64_chain_int(i, h0) % num_bits
            if not (words[pos >> 6] >> (pos & 63)) & 1:
                might = False
                break
        out.append((val, might, val in built))
    return out


def minhash_incremental_rows(
    old_docs: list[tuple[int, str]],
    new_docs: list[tuple[int, str]],
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.5,
) -> list[tuple[int, int, float]]:
    """Recompute of operators/dedup.minhash_incremental: signatures for
    store+batch, LSH buckets over the union, candidate pairs with ≥ one
    NEW side, MinHash-estimator verify (equal components / num_hashes).
    Returns (id_a, id_b, sig_jaccard≥threshold round 6) sorted."""
    all_docs = list(old_docs) + list(new_docs)
    new_ids = {d for d, _t in new_docs}
    sh = {d: s for d, t in all_docs if (s := _shingle_set(t, shingle))}
    distinct = {s for ss in sh.values() for s in ss}
    hrow = {}
    for s in distinct:
        base = xxh64(s.encode("utf-8"), 42)
        hrow[s] = [xxh64_chain_int(i, base) for i in range(num_hashes)]
    sigs = {
        d: [min(hrow[s][i] for s in ss) for i in range(num_hashes)]
        for d, ss in sh.items()
    }
    rpb = num_hashes // bands
    buckets: dict = defaultdict(set)
    for d, sig in sigs.items():
        for b in range(bands):
            key = "_".join(str(sig[b * rpb + r]) for r in range(rpb))
            buckets[(b, xxh64(key.encode(), 42))].add(d)
    cands = set()
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b and (a in new_ids or b in new_ids):
                    cands.add((a, b))
    out = []
    for a, b in sorted(cands):
        eq = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        j = round_half_up(eq / num_hashes, 6)
        if j >= threshold:
            out.append((a, b, j))
    return out


def sentence_chunks(text: str, max_chars: int = 500) -> list[str]:
    """Mirror of functions/text.sentence_chunks_col: split on
    (?<=[.!?])\\s+, trim, drop empties, greedy-pack <= max_chars (an
    over-long single sentence stands alone)."""
    import re as _re

    if text is None:
        return None
    sents = [s.strip() for s in _re.split(r"(?<=[.!?])\s+", text) if s.strip()]
    chunks, cur = [], ""
    for s in sents:
        joined = s if cur == "" else f"{cur} {s}"
        if len(joined) <= max_chars:
            cur = joined
        else:
            if cur != "":
                chunks.append(cur)
            cur = s
    if cur != "":
        chunks.append(cur)
    return chunks


def cms_rows(
    values: list[str], width: int = 512, depth: int = 4
) -> list[tuple[str, int, int]]:
    """Mirror of operators/sketch.cms_build + cms_estimate: count-min
    counters over the values (cell d of v: xxh64-chained position, same
    convention as bloom_rows), then (tok, est, true_n) per distinct
    value, sorted.  est >= true_n always (one-sided CMS guarantee); the
    overshoots are collision-deterministic, so they ARE the contract."""
    from collections import Counter

    true = Counter(values)
    cells = [[0] * width for _ in range(depth)]
    pos: dict[str, list[int]] = {}
    for tok, n in true.items():
        h0 = xxh64(tok.encode("utf-8"))
        ps = [xxh64_chain_int(d, h0) % width for d in range(depth)]
        pos[tok] = ps
        for d, p in enumerate(ps):
            cells[d][p] += n
    return [
        (tok, min(cells[d][p] for d, p in enumerate(pos[tok])), true[tok])
        for tok in sorted(true)
    ]


def winnow_rows(docs, k: int = 5, window: int = 4):
    """Mirror of dedup.winnow_fingerprints: whitespace tokens, XXH64 of
    the space-joined k-gram (Spark single-string convention, seed 42),
    per-window minimum with the rightmost tie rule, (fp, pos) dedup."""
    out = []
    for did, text in docs:
        toks = [t for t in (text or "").split(" ") if t]
        hs = (
            [
                xxh64(" ".join(toks[i : i + k]).encode("utf-8"))
                for i in range(len(toks) - k + 1)
            ]
            if len(toks) >= k
            else []
        )

        def argmin(lo, hi):
            best_fp, best_pos = (1 << 63) - 1, -1
            for p in range(lo, hi):
                if hs[p] <= best_fp:
                    best_fp, best_pos = hs[p], p
            return best_fp, best_pos

        sel = set()
        if hs:
            if len(hs) < window:
                sel.add(argmin(0, len(hs)))
            else:
                for j in range(len(hs) - window + 1):
                    sel.add(argmin(j, j + window))
        out.extend((did, pos, fp) for fp, pos in sorted(sel))
    return out


def winnow_overlap_rows(docs, k: int = 5, window: int = 4,
                        min_shared: int = 2, max_df=None):
    """Mirror of dedup.winnow_overlap over winnow_rows fingerprints."""
    fps = winnow_rows(docs, k, window)
    by_doc: dict = {}
    for did, _pos, fp in fps:
        by_doc.setdefault(did, set()).add(fp)
    sizes = {d: len(s) for d, s in by_doc.items()}
    if max_df is not None:
        df_counts: dict = {}
        for s in by_doc.values():
            for fp in s:
                df_counts[fp] = df_counts.get(fp, 0) + 1
        by_doc = {
            d: {fp for fp in s if df_counts[fp] <= max_df}
            for d, s in by_doc.items()
        }
    ids = sorted(by_doc)
    out = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = len(by_doc[a] & by_doc[b])
            if shared >= min_shared:
                out.append(
                    (a, b, shared,
                     round_half_up(shared / min(sizes[a], sizes[b]), 6))
                )
    return out
