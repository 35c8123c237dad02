"""Deduplication operators for the training-data pipeline.

Not present in the reference (Dug never dedupes documents — closest analogs
are its identifier-merge at parsers/_base.py:99-104 and answer-id dedup at
:106-110); required here as first-class engine ops for 100 TB corpus work.

Families:
- exact:   content-hash groupBy (one shuffle on the hash)
- shingle: n-gram (word shingle) Jaccard pairs — candidate generation by
  shingle equi-join, so cost is Σ bucket² over shingle buckets, not n²
- minhash: MinHash + LSH banding — signature via xxhash64 permutations,
  band-bucket equi-join, verify candidates with true Jaccard
- simhash: 64-bit simhash with banded matching for Hamming-distance pairs
- embedding: cosine near-dup over an embedding column

All are pure DataFrame plans (JVM-side, whole-stage codegen) except the
minhash signature fold which uses built-in higher-order functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group by content hash; keep min id + copy count."""
    return df.groupBy(F.md5(F.encode(text_col, "utf-8")).alias("fp")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def _shingles(text_col: str, k: int):
    """Distinct k-word shingles of a space-tokenized text column.

    A k-shingle (tokens i..i+k-1 of the single-space split, re-joined
    with single spaces) is exactly a SUBSTRING of the original text, so
    the windows are extracted in one compiled-regex pass: a zero-width
    lookahead capture gated by a "token start" lookbehind —
    ``(?=(?<![^ ])(tok(?: tok){k-1}))`` with ``tok = [^ ]*`` — yields
    every overlapping window.  Bit-identical to the old
    transform/sequence/slice build (pytest-asserted) but runs in the
    regex engine instead of per-element interpreted higher-order
    functions, which Catalyst additionally re-evaluated once more per
    pushed-down size() predicate — measured 6× faster on the shingle
    table build.  Docs with fewer than k tokens match nowhere → empty
    array, no guard needed."""
    pat = "(?=(?<![^ ])([^ ]*(?: [^ ]*){" + str(k - 1) + "}))"
    return F.array_distinct(
        F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(1))
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Document pairs with shingle-set Jaccard ≥ threshold.

    Output: (id_a, id_b, jaccard) with id_a < id_b — every pair of
    distinct documents whose shingle sets have Jaccard ≥ threshold.

    Candidate generation is PREFIX-FILTERED (Chaudhuri/Ganti/Kaushik
    ICDE 2006; Bayardo/Ma/Srikant WWW 2007 "Scaling Up All Pairs
    Similarity Search"): under one global shingle order (ascending
    document frequency, ties by shingle — rarest first), a pair with
    J(x, y) ≥ t must share a shingle inside BOTH docs' prefixes of
    length ℓ − ⌈t·ℓ⌉ + 1 (ℓ = set size).  Proof: J ≥ t ⇒ overlap
    o ≥ t·ℓx and o ≥ t·ℓy; if the order-smallest shared shingle w sat
    outside x's prefix, the whole shared set would sit in x's suffix of
    size ⌈t·ℓx⌉ − 1 < o — contradiction (symmetrically for y).  So the
    equi-join runs on ~(1−t) of the shingle rows, and those are the
    RAREST shingles — bucket sizes collapse by construction, instead of
    Σ bucket² over every shingle (measured at the bench corpus: 2.79M
    join rows → 1.13M candidate pairs before; prefix join emits ~3k
    candidates for the same verified output).  Exact Jaccard then runs
    on candidates only, against the checkpointed shingle ARRAYS (same
    verify shape as minhash_near_duplicates).  No false negatives: the
    prefix bound is a theorem, not a heuristic; ⌈t·ℓ⌉ is computed with
    a −1e-9 nudge so float error can only LENGTHEN a prefix (extra
    candidates are re-verified away).
    """
    from pyspark.sql import Window

    # parallelism floor: the shingle explode is the expensive narrow stage
    # and a small-file scan collapses to 1 partition (no-op at corpus scale)
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    # one shingle-array pass (arrays are already distinct per doc) feeds
    # the frequency agg, the prefix ranking and both verify sides; lazy
    # checkpoint — every consumer runs inside the caller's one action
    sets = (
        df.select(
            F.col(id_col).alias("doc"),
            F.filter(_shingles(text_col, shingle), lambda s: F.length(s) > 0).alias(
                "shs"
            ),
        )
        .where(F.size("shs") > 0)
        .localCheckpoint(eager=False)
    )
    ex = sets.select("doc", F.size("shs").alias("sz"), F.explode("shs").alias("s"))
    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    # prefix length ℓ − ⌈t·ℓ − ε⌉ + 1 in the (df_s, s) global order
    pref_len = (
        F.col("sz")
        - F.ceil(F.lit(float(threshold)) * F.col("sz") - F.lit(1e-9)).cast("int")
        + 1
    )
    pref = (
        ex.join(freq, "s")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc").orderBy("df_s", "s")
            ),
        )
        .where(F.col("rk") <= pref_len)
    )
    a = pref.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a"), "s")
    b = pref.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b"), "s")
    # size filter (AllPairs): J ≥ t ⇒ J ≤ ℓmin/ℓmax ⇒ ℓmin ≥ t·ℓmax —
    # prunes candidates before the dedup/verify; −1e-9 keeps the float
    # product from ever exceeding the exact boundary (false positives
    # only, re-verified away)
    cand = (
        a.join(b, "s")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("sz_a", "sz_b")
                >= F.lit(float(threshold)) * F.greatest("sz_a", "sz_b")
                - F.lit(1e-9)
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    va = sets.select(F.col("doc").alias("id_a"), F.col("shs").alias("shs_a"))
    vb = sets.select(F.col("doc").alias("id_b"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    j = inter * 1.0 / (F.size("shs_a") + F.size("shs_b") - inter)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .where(j >= threshold)
        .select("id_a", "id_b", F.round(j, 6).alias("jaccard"))
    )


def _minhash_component(i: int) -> str:
    """min over shingles of xxhash64(shingle, i), as a SQL fragment.
    The permutation number is spliced as an INT literal — identical to
    the old Column build's ``F.xxhash64(s, F.lit(i))`` (hashing the pair
    (shingle, int32 i) under the default seed).  Composed as SQL text so
    the 32-component signature costs ONE py4j round-trip instead of a
    few hundred (driver-side construction dominated this query at bench
    scale — same rationale as the annotate fast path)."""
    return f"array_min(transform(shs, s -> xxhash64(s, {int(i)})))"


def minhash_signature_col(num_hashes: int):
    return F.expr(
        "array(" + ", ".join(_minhash_component(i) for i in range(num_hashes)) + ")"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle: int = 3,
) -> DataFrame:
    """MinHash signature per document: for permutation i, min over shingles
    of xxhash64(shingle, seed-chained i).  Entirely JVM-side (no UDF)."""
    sh = df.select(F.col(id_col).alias("doc"), _shingles(text_col, shingle).alias("shs"))
    return sh.select("doc", minhash_signature_col(num_hashes).alias("sig"))


def cap_lsh_buckets(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop (band, bucket) groups larger than ``max_bucket`` from an
    exploded banded table before the candidate self-join.

    At corpus scale an adversarial near-identical cluster (boilerplate
    pages, mirrored sites) puts ALL its members in the same bucket in
    EVERY band: the self-join cost Σ bucket² then grows quadratically in
    the cluster size.  Capping bounds the worst bucket at max_bucket²
    candidate pairs; a dropped pair can still surface through any OTHER
    band whose bucket stays under the cap, so only pairs confined to
    oversized buckets (i.e. members of degenerate mega-clusters) are
    lost — for dedup those are exactly the documents exact-hash dedup
    already removes.  Use ``lsh_bucket_stats`` to LOG what a cap drops —
    silent truncation reads as full coverage."""
    if not max_bucket:
        return banded
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_bsz"))
    return (
        banded.join(sizes.where(F.col("_bsz") <= max_bucket), ["band", "bucket"])
        .drop("_bsz")
    )


def lsh_bucket_stats(banded: DataFrame, max_bucket: int | None = None) -> dict:
    """Bucket-size distribution of an exploded (band, bucket) table:
    ``n_buckets``, ``max_size``, ``sum_sq`` (≈ candidate-join row cost),
    and — when a cap is given — ``dropped_buckets`` / ``dropped_pairs``
    the cap would discard.  One small aggregation job; call before a
    capped run to record the coverage actually lost."""
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))
    aggs = [
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_size"),
        F.sum(F.col("sz") * F.col("sz")).alias("sum_sq"),
    ]
    if max_bucket:
        over = F.col("sz") > max_bucket
        aggs += [
            F.sum(F.when(over, 1).otherwise(0)).alias("dropped_buckets"),
            F.sum(
                F.when(over, F.col("sz") * (F.col("sz") - 1) / 2).otherwise(0)
            ).alias("dropped_pairs"),
        ]
    row = sizes.agg(*aggs).collect()[0]
    return row.asDict()


def minhash_banded(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Exploded (doc, band, bucket) table from minhash signatures.  One
    composed selectExpr (band hashes are SQL text, not per-band Column
    chains — py4j round-trip economy, values unchanged)."""
    band_hashes = ", ".join(
        "xxhash64(concat_ws('_', "
        + ", ".join(
            f"cast(element_at(sig, {b * rows_per_band + r + 1}) as string)"
            for r in range(rows_per_band)
        )
        + "))"
        for b in range(bands)
    )
    return signatures.selectExpr(
        "doc", f"posexplode(array({band_hashes})) AS (band, bucket)"
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    One explode + one equi-join on (band, bucket-hash); Σ bucket² cost,
    bounded by ``max_bucket`` when set (see cap_lsh_buckets).
    """
    banded = cap_lsh_buckets(minhash_banded(signatures, bands, rows_per_band), max_bucket)
    a = banded.select(F.col("doc").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("doc").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.9,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash LSH candidates verified with exact shingle Jaccard.

    The scale path: exact Jaccard runs ONLY on the LSH candidate pairs —
    candidates are joined back to each doc's (checkpointed) shingle set and
    intersection/union computed per candidate row with ``array_intersect``.
    The all-pairs shingle self-join never runs; total cost is one
    signature pass + Σ bucket² over LSH buckets + |candidates| set ops.
    ``max_bucket`` bounds Σ bucket² against adversarial near-identical
    corpora (see cap_lsh_buckets for the recall contract).
    """
    rows_per_band = num_hashes // bands
    # parallelism floor: a small-file scan collapses to 1 partition and
    # would serialize the (expensive) shingle+signature pass; at corpus
    # scale the scan is already thousands of partitions wide — no-op
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    # one shingle pass feeds both the signatures and the verify step;
    # lazy localCheckpoint (round 6) so the banded join and the two
    # verify joins read the materialized arrays instead of re-scanning
    # the corpus — materialized in-flight at the first action
    sh = (
        df.select(
            F.col(id_col).alias("doc"),
            F.filter(_shingles(text_col, shingle), lambda s: F.length(s) > 0).alias(
                "shs"
            ),
        )
        .where(F.size("shs") > 0)
        .localCheckpoint(eager=False)
    )
    cands = minhash_lsh_candidates(
        sh.select("doc", minhash_signature_col(num_hashes).alias("sig")),
        bands,
        rows_per_band,
        max_bucket=max_bucket,
    )
    a = sh.select(F.col("doc").alias("id_a"), F.col("shs").alias("shs_a"))
    b = sh.select(F.col("doc").alias("id_b"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    j = inter * 1.0 / (F.size("shs_a") + F.size("shs_b") - inter)
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .where(j >= threshold)
        .select("id_a", "id_b", F.round(j, 6).alias("jaccard"))
    )


def near_dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.9,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash near-dedup carried to its END STATE: candidate pairs →
    connected duplicate clusters → deterministic keeper election → one
    verdict row per input document.  (``minhash_near_duplicates`` emits
    pairs; at 100 TB a dedup job ends in *kept documents* — transitive
    closure matters because near-duplication chains: A≈B≈C must collapse
    to ONE keeper even when jaccard(A, C) < threshold.)

    Output: (id_col, cluster_id, cluster_size, keep) for EVERY input doc —
    ``cluster_id`` = smallest doc id reachable through verified pairs
    (the connected-component label), ``keep`` = the doc IS that smallest
    id (keeper election mirrors curate_corpus's exact-dup election) or a
    singleton.

    Scale shape: the pair graph is duplicate-doc-sized (≪ corpus — LSH +
    ``max_bucket`` bound its construction, see minhash_near_duplicates);
    connected components iterate over THAT graph only
    (canonicalize.connected_components: per-round one join + one agg,
    localCheckpoint-truncated, shuffle parallelism sized to the graph).
    The only corpus-sized wide op afterwards is ONE left join of document
    ids against the verdict table to fill in singletons.
    """
    from . import canonicalize

    pairs = minhash_near_duplicates(
        df, id_col, text_col, num_hashes, bands, shingle, threshold, max_bucket
    )
    comp = canonicalize.connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).select(F.col("id").alias(id_col), F.col("comp").alias("cluster_id"))
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    verdicts = comp.join(sizes, "cluster_id")
    return (
        df.select(id_col)
        .join(verdicts, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
            # keeper = the component's min id (== its label); singletons
            # (no verified pair — including shingle-less short docs) keep
            (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col(id_col))
            ).alias("keep"),
        )
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over word tokens: bit b of the hash is 1 iff the sum
    of ±1 votes (sign of token-hash bit b) is positive — equivalently iff
    bit b is set in MORE than half the token hashes (2·ones_b > n).

    Pure DataFrame, SWAR bit-count: instead of 64 predicated conditional
    sums per token row, sum 32 masked shifted copies of the hash — mask
    0x0000000100000001 keeps bits j and j+32 as two independent 32-bit
    lane counters inside one long-typed SUM (exact while a document has
    < 2³¹ tokens, i.e. always).  Per token row that is 32 cheap
    shift+AND+add updates and a 33-column aggregation state vs the former
    64 WHEN-sums; the per-bit ones-counts are unpacked from the lane
    fields AFTER the aggregate, on one row per doc.

    The whole computation is composed as ONE parameterized SQL string
    (single py4j round-trip): building the 33 aggregate columns and the
    64-term signature through the Column API cost ~10k py4j calls
    ≈ 1.4 s of driver-side construction per query — more than the
    query's execution at bench scale (same rationale as the annotate
    fast path's composed selectExpr).  Expressions are term-for-term
    identical to the old Column build (`shiftleft(1L, b)` for bit 63 is
    Java `1L << 63` = the old ``* -(1<<63)`` two's-complement term), so
    signatures are bit-identical."""
    lane_mask = 0x0000000100000001  # lanes at bit 0 and bit 32
    sums_sql = ", ".join(
        f"sum(shiftrightunsigned(h, {j}) & {lane_mask}L) AS s{j}"
        for j in range(32)
    )

    def ones(b: int) -> str:
        # ones-count of hash bit b: lane 0 (low 32 bits) of s_b, or lane 1
        # (high 32 bits) of s_{b-32}
        if b < 32:
            return f"(s{b} & {(1 << 32) - 1}L)"
        return f"shiftrightunsigned(s{b - 32}, 32)"

    sig_sql = " + ".join(
        f"shiftleft(if({ones(b)} * 2 > n, 1L, 0L), {b})" for b in range(bits)
    )
    src = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    return df.sparkSession.sql(
        f"""
        SELECT doc, {sig_sql} AS simhash
        FROM (
          SELECT doc, count(1) AS n, {sums_sql}
          FROM (
            SELECT doc, xxhash64(tok) AS h
            FROM (SELECT doc, explode(split(_t, ' ')) AS tok FROM {{src}})
          )
          GROUP BY doc
        )""",
        src=src,
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via band-bucket join:
    with `bands` blocks of 64/bands bits, any pair within max_hamming <
    bands shares at least one exact block (pigeonhole)."""
    width = 64 // bands
    # doc-sized (id, 64-bit sig) table, materialized once (lazily, in
    # the caller's one action): both sides of the banded self-join read
    # it, so the tokenize + 33-sum aggregation runs once instead of twice
    sigs = simhash(df, id_col, text_col).localCheckpoint(eager=False)
    mask = (1 << width) - 1
    banded = sigs.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "block"),
    )
    a = banded.select(F.col("doc").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "block")
    b = banded.select(F.col("doc").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "block")
    cand = (
        a.join(b, ["band", "block"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    bits: int = 64,
    bands: int = 8,
    exact: bool = False,
    max_bucket: int | None = None,
    band_width: int | str | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs over an embedding column.

    Default (scale path): random-hyperplane LSH bucketing — candidates
    share ≥1 signature band (similarity.lsh_signatures), exact cosine runs
    on candidates only.  8 bands × 8 bits: 256 buckets per band and ≈0.99
    recall at cos ≥ 0.95 (≈1−1e−5 at ≥0.99) — see
    similarity.hyperplane_banded for the width/recall/bucket-size math;
    the old 2-bit bands had only 4 buckets each, making Σ bucket²
    quadratic in the corpus at ANY skew.  ``exact=True`` keeps the O(n²)
    cross join for small inputs / recall audits.  ``max_bucket`` bounds
    Σ bucket² against near-identical mega-clusters (see cap_lsh_buckets).

    ``band_width``: bits per band beyond the single-long cap —
    an int uses ``similarity.lsh_band_buckets`` (independent plane banks)
    at that width; ``"auto"`` selects it from the corpus size via
    ``similarity.auto_band_width`` (2048-bucket bands saturate at ~1.6M
    rows — measured, BASELINE.md round 3).  ``n_rows`` supplies the count
    for "auto" (pass table-stat cardinality at scale; when omitted, one
    count() scan).
    """
    from . import similarity

    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    if exact:
        v = v.withColumn(
            "norm",
            F.sqrt(
                F.aggregate(F.transform("e", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
            ),
        )
        a = v.select(F.col("id").alias("id_a"), F.col("e").alias("ea"), F.col("norm").alias("na"))
        b = v.select(F.col("id").alias("id_b"), F.col("e").alias("eb"), F.col("norm").alias("nb"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    else:
        if band_width == "auto":
            # resolved only on the LSH branch — exact=True never uses it,
            # so it must not pay the corpus count scan
            band_width = similarity.auto_band_width(
                n_rows if n_rows is not None else v.count()
            )
        if band_width is not None:
            raw_banded = similarity.lsh_band_buckets(
                v, dim=dim, width=int(band_width), bands=bands,
                id_col="id", vec_col="e",
            )
        else:
            sigs = similarity.lsh_signatures(
                v, dim=dim, bits=bits, id_col="id", vec_col="e"
            )
            raw_banded = similarity.hyperplane_banded(sigs, bits, bands)
        banded = cap_lsh_buckets(raw_banded, max_bucket)
        a = banded.select(F.col("id").alias("id_a"), F.col("e").alias("ea"), "band", "bucket")
        b = banded.select(F.col("id").alias("id_b"), F.col("e").alias("eb"), "band", "bucket")
        pairs = (
            a.join(b, ["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        norm = lambda c: F.sqrt(
            F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
        )
        pairs = pairs.withColumn("na", norm("ea")).withColumn("nb", norm("eb"))
    dot = F.aggregate(F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda a_, x: a_ + x)
    return (
        pairs.select(
            "id_a", "id_b", F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos_sim")
        )
        .where(F.col("cos_sim") >= threshold)
    )


def cross_doc_line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 0,
) -> DataFrame:
    """Corpus-global line-level deduplication (the C4 §2.2 global rule,
    which the per-document ``textstats.c4_line_clean`` does NOT cover:
    C4 additionally removes every repeated span from all but one page
    across the whole corpus — Raffel et al. 2020, "we discard all but
    one of any three-sentence span occurring more than once"; here at
    line granularity, the common line-level variant).

    Keeps the single occurrence with the smallest (id, line position);
    lines shorter than ``min_words`` whitespace words are exempt from
    dedup (kept everywhere) so structural one-word lines don't collapse
    documents.  Returns (id, clean_text, n_lines_kept, n_lines_removed).

    Scale shape (the 100 TB plan): posexplode is narrow; ONE wide shuffle
    hash-partitions line occurrences by line content for the keeper
    election (a window rank, so no separate agg + join-back pass); the
    reassembly groupBy shuffles by doc id.  Hot boilerplate lines (empty
    string, "Home") are the skew risk — they land in one partition each,
    bounded by AQE skew splitting, and the exempt ``min_words`` guard
    removes the worst offenders before the shuffle."""
    from pyspark.sql import Window

    # Coalesce NULL text to '' BEFORE the split: posexplode(split(NULL))
    # emits zero rows, which would silently drop the document from the
    # output (the contract is one row per input doc — downstream joins in
    # curate_corpus must see every doc, NULL-text ones included).
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("_idx", "_line"),
    )
    exempt = F.size(F.split(F.trim("_line"), r"\s+")) < min_words
    # Partition by the line VALUE, not a hash of it: a 64-bit hash
    # collision would merge two distinct lines into one keeper election
    # and silently drop real content; Spark hash-partitions the string
    # for the exchange anyway, so the shuffle cost is identical.
    # Exempt rows get a singleton partition key (their own id+idx): they
    # trivially rank 1, and — the point at scale — a boilerplate line
    # with 10^11 occurrences no longer lands in ONE window partition;
    # its rows spread across the cluster like any unique key.
    w = Window.partitionBy(
        "_exempt",
        F.when(F.col("_exempt"), F.col("_id")).otherwise(F.lit(0)),
        F.when(F.col("_exempt"), F.col("_idx")).otherwise(F.lit(0)),
        "_line",
    ).orderBy(F.asc("_id"), F.asc("_idx"))
    kept = (
        lines.withColumn("_exempt", exempt)
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_keep", F.col("_rk") == 1)
    )
    return (
        kept.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_idx", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.col("_keep").cast("int")).alias("n_lines_kept"),
            F.sum((~F.col("_keep")).cast("int")).alias("n_lines_removed"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN removal at token k-gram granularity — the
    substring-level dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", ExactSubstr), which removes
    repeated passages that document-level dedup can never see (licence
    boilerplate, templated footers, quoted chain-mail), reformulated from
    their suffix-array construction into relational passes: a suffix
    array is a sequential build, but "which length-k token windows occur
    ≥ ``min_occurrences`` times corpus-wide" is ONE hash aggregation.

    Semantics: every k-token window whose fingerprint occurs at least
    ``min_occurrences`` times corpus-wide is a duplicated span; the single
    occurrence with the smallest (id, start) survives, every other
    occurrence's k tokens are deleted (overlapping spans union at the
    token level — no double-count, no partial remnant).  Whitespace is
    normalized to single spaces.  Output: one row per input document —
    ``(id, clean_text, n_tokens, n_tokens_removed)``.

    Scale shape (the 100 TB plan):
    - tokenize is ONE narrow pass per document into a token ARRAY (no
      doc-keyed shuffle, no window: the k-gram at position i is a
      codegen slice of the array), eagerly localCheckpointed once — the
      gram pass, the doomed-span fan-out and the final reassembly all
      re-read the materialized arrays instead of replaying the scan +
      explode + two window sorts per consumer (the pre-r6 plan compiled
      16 scans / 36 exchanges; 11 after).
    - ONE wide aggregation keyed by the window fingerprint (xxhash64 —
      8 bytes/row through the exchange; the fingerprint is internal, the
      output is the reassembled text, so the oracle is unaffected; a
      64-bit gram collision is the standard ExactSubstr approximation)
      computing occurrence count + keeper election via MIN over the
      zero-padded
      (id, start) key: map-side partial combine absorbs the hot-gram skew
      (one boilerplate sentence with 10^9 occurrences arrives at the
      reducer as per-mapper partials, not raw rows).
    - the non-keeper fan-out join back to occurrences is fingerprint-keyed
      equi-join (AQE skew-splittable); doomed spans explode to their k
      token indices and collapse to ONE removed-index SET per doomed
      document (|spans|·k small rows through a doc-keyed aggregate);
      reassembly is map-side array_except over token positions — no
      per-token shuffle, no collect_list re-sort.  Net: 2 corpus-sized
      shuffles beyond the tokenize pass, and the only doc-keyed exchange
      carries removed-index sets for the doomed subset alone.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda w: w != "",
        ).alias("_ta"),
    ).localCheckpoint(eager=False)
    # k-gram starting at i exists iff i + k ≤ |tokens|; built by slicing
    # the array instead of k-1 lead() window passes
    # fingerprint = xxhash64 over the sliced token ARRAY — hashing the
    # array directly skips materializing a joined k-token string per
    # position (k×~6 bytes of char churn per gram, round 6); the
    # fingerprint is internal (output is the reassembled text), and
    # array-hash equality == joined-string equality for whitespace-split
    # tokens, so the doomed-span set is unchanged
    occ = base.where(F.size("_ta") >= k).select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_ta") - k),
                lambda i: F.xxhash64(F.slice("_ta", i + 1, k)),
            )
        ).alias("_idx", "_h"),
    )
    okey = F.concat(
        F.col("_id").cast("string"),
        F.lit("#"),
        F.lpad(F.col("_idx").cast("string"), 12, "0"),
    )
    stats = (
        occ.select("_h", okey.alias("_okey"))
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"), F.min("_okey").alias("_keeper"))
        .where(F.col("_n") >= min_occurrences)
    )
    doomed_spans = (
        occ.withColumn("_okey", okey)
        .join(stats, "_h")
        .where(F.col("_okey") != F.col("_keeper"))
        .select("_id", F.col("_idx").alias("_s"))
    )
    # token-level removal: each doomed span IS its k token indices —
    # explode the sequence directly (k small rows per span) and collapse
    # to ONE removed-index set per doomed document.  The pre-r6.3 shape
    # instead joined doomed spans against every token of every doomed
    # document under a BETWEEN range predicate (O(spans × tokens) pairs
    # per doc before the filter) and re-sorted the kept tokens through a
    # collect_list shuffle; the set form is one |spans|·k-row aggregate,
    # and reassembly becomes PURE MAP-SIDE array ops on the already-
    # materialized token arrays (array_except builds a hash set per row,
    # so a doc rebuild is O(|tokens|), and position order is preserved).
    rm_sets = doomed_spans.select(
        "_id", F.explode(F.sequence(F.col("_s"), F.col("_s") + (k - 1))).alias("_i")
    ).groupBy("_id").agg(F.collect_set("_i").alias("_rm"))
    kept_pos = F.array_except(
        F.sequence(F.lit(0), F.size("_ta") - 1), F.col("_rm")
    )
    return base.join(rm_sets, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.when(F.col("_rm").isNull(), F.array_join("_ta", " "))
        .otherwise(
            F.array_join(
                F.transform(kept_pos, lambda i: F.get("_ta", i)), " "
            )
        )
        .alias("clean_text"),
        F.size("_ta").cast("long").alias("n_tokens"),
        F.when(F.col("_rm").isNull(), F.lit(0))
        .otherwise(F.size("_rm"))
        .cast("long")
        .alias("n_tokens_removed"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    tau: float = 0.95,
    iters: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
    clustering + within-cluster cosine threshold — removes documents that
    SAY the same thing in different bytes, the layer above MinHash (which
    needs shared shingles) and embedding-LSH near-dup (which targets
    near-identical vectors; SemDeDup prunes at much lower similarity).

    A document is dropped iff some SMALLER-id document in the same
    k-means cell has cosine ≥ ``tau`` (the paper keeps one exemplar per
    ε-similar group; min-id-wins is the deterministic election, matching
    every other dedup family here).  Output: one row per input vector —
    ``(id, cell, keep)``.

    Scale shape: the Lloyd quantizer trains in dimension-sized
    aggregations (similarity.ivf_train_assign — O(k·dim) driver state);
    the quadratic pairwise step runs WITHIN cells only, as a self-join
    partitioned on the cell key, so cost is Σ|cell|² instead of N² —
    the paper's exact trick (they run 50k clusters at 5B embeddings).
    An oversized cell is the skew risk: AQE skew-splits the probe side,
    and raising ``k`` shrinks cells directly."""
    from . import similarity

    assigned, _ = similarity.ivf_train_assign(
        df, k=k, id_col=id_col, vec_col=vec_col, iters=iters
    )
    v = assigned.select(
        F.col(id_col).alias("_id"),
        F.col("cell"),
        F.col(vec_col).cast("array<double>").alias("_e"),
    ).repartition("cell")
    a = v.select(
        F.col("cell"),
        F.col("_id").alias("_ida"),
        F.col("_e").alias("_ea"),
    )
    b = v.select(
        F.col("cell"),
        F.col("_id").alias("_idb"),
        F.col("_e").alias("_eb"),
    )
    dot = F.aggregate(
        F.zip_with("_ea", "_eb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.transform("_ea", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform("_eb", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    doomed = (
        a.join(b, "cell")
        .where(F.col("_ida") < F.col("_idb"))
        .where(F.round(dot / (na * nb), 6) >= tau)
        .select(F.col("_idb").alias("_id"))
        .distinct()
    )
    doomed = doomed.select(
        F.col("_id").alias(id_col), F.lit(False).alias("keep")
    )
    return (
        assigned.select(F.col(id_col), F.col("cell"))
        .join(doomed, id_col, "left")
        .select(id_col, "cell", F.coalesce("keep", F.lit(True)).alias("keep"))
    )


def exact_dedup_incremental(
    new_docs: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seen_fp_col: str = "fp",
) -> DataFrame:
    """Incremental exact dedup for a rolling crawl: verdicts for a NEW
    batch against an already-indexed fingerprint table — the shape a
    production pipeline actually runs (full-corpus re-dedup per crawl is
    a non-starter at 10^12 docs; each increment checks (a) against the
    accumulated index, (b) within itself).

    ``seen`` is the fingerprint table (one md5 column, ``seen_fp_col``) —
    at scale an Iceberg table bucketed by fingerprint, appended after
    every increment.  A new doc keeps iff its fingerprint is NOT in
    ``seen`` AND it is the (id-min) first occurrence within the batch.
    Output: (id, fp, dup_of_seen, keep) — ``keep`` rows' fingerprints are
    what the caller appends to ``seen``.

    Scale shape: the batch side is increment-sized; the membership probe
    is a LEFT JOIN on the fingerprint key against the bucketed seen table
    (storage-partitioned join — no seen-side shuffle; a plain crawl
    increment is ≪ the index, so AQE broadcasts the BATCH side when it
    fits).  The within-batch election is one fingerprint-keyed window
    over the increment only."""
    from pyspark.sql import Window

    fp = F.md5(F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8"))
    batch = new_docs.select(F.col(id_col).alias("_id"), fp.alias("fp"))
    seen_k = seen.select(F.col(seen_fp_col).alias("fp")).distinct().select(
        "fp", F.lit(True).alias("_seen")
    )
    probed = batch.join(seen_k, "fp", "left")
    w = Window.partitionBy("fp").orderBy(F.asc("_id"))
    return (
        probed.withColumn("_rk", F.row_number().over(w))
        .select(
            F.col("_id").alias(id_col),
            "fp",
            F.coalesce("_seen", F.lit(False)).alias("dup_of_seen"),
            (
                ~F.coalesce("_seen", F.lit(False)) & (F.col("_rk") == 1)
            ).alias("keep"),
        )
    )


def signature_jaccard(num_hashes: int):
    """Fraction of equal MinHash components between two ``sig`` arrays —
    the unbiased estimator of Jaccard similarity (Broder 1997), the
    verify step an INCREMENTAL pass must use because the store keeps
    signatures, not text."""
    return F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda b: b))
        / F.lit(float(num_hashes)),
        6,
    )


def minhash_incremental(
    new_docs: DataFrame,
    sig_store: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-duplicate detection: match a NEW batch against a
    persisted signature store (and within itself) WITHOUT re-reading or
    re-hashing the historical corpus — the recrawl shape: 10^9 new
    captures against a 10^12-doc store whose text is long gone cold.

    The store is the (doc, sig) relation from minhash_signatures —
    num_hashes longs per historical doc (the only state the pass needs).
    New signatures band-join against the UNION of new+store bands, pairs
    keep at least one new side (old-old pairs were already reported by
    the run that made them new), and candidates verify with the MinHash
    Jaccard estimator (signature_jaccard — equal-component fraction,
    Broder 1997) since the store has no text.  ``max_bucket`` applies
    the same capped-bucket skew guard as the batch path
    (cap_lsh_buckets), over the unioned bands.

    Returns ``(matches, new_store)``: matches = (id_a, id_b,
    sig_jaccard ≥ threshold) with id_a < id_b; new_store = store ∪ new
    signatures, the input for the NEXT increment.  Shuffle inventory:
    one shingle pass over the NEW batch only, one banded equi-join, one
    signature join — the historical corpus contributes only its
    store-sized signature relation.
    """
    rpb = num_hashes // bands
    new_sigs = minhash_signatures(new_docs, id_col, text_col, num_hashes, shingle)
    full_store = (
        sig_store.unionByName(new_sigs) if sig_store is not None else new_sigs
    )
    banded_new = minhash_banded(new_sigs, bands, rpb).withColumn(
        "is_new", F.lit(True)
    )
    if sig_store is not None:
        banded = banded_new.unionByName(
            minhash_banded(sig_store, bands, rpb).withColumn("is_new", F.lit(False))
        )
    else:
        banded = banded_new
    banded = cap_lsh_buckets(banded, max_bucket)
    a = banded.select(F.col("doc").alias("id_a"), "band", "bucket",
                      F.col("is_new").alias("new_a"))
    b = banded.select(F.col("doc").alias("id_b"), "band", "bucket",
                      F.col("is_new").alias("new_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .where((F.col("id_a") < F.col("id_b")) & (F.col("new_a") | F.col("new_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = full_store.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = full_store.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    matches = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("sig_jaccard", signature_jaccard(num_hashes))
        .where(F.col("sig_jaccard") >= threshold)
        .select("id_a", "id_b", "sig_jaccard")
    )
    return matches, full_store


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
    algorithm): the guaranteed-coverage local fingerprinting that
    ``textstats.fingerprint``'s global min/max only approximates.  Hash
    every k-token shingle, slide a w-hash window, select each window's
    minimum (rightmost on ties — the paper's robust-winnowing tie rule),
    dedup repeated selections.  Guarantee: any shared token run of
    length ≥ k + w − 1 between two documents yields at least one SHARED
    selected fingerprint — so overlap detection has no blind spots,
    unlike a global min/max which one divergent token can flip.

    Output: (id, pos, fp) exploded — the per-document fingerprint set,
    ~|tokens|/((w+1)/2) rows per doc in expectation.

    Scale shape: one narrow map per document (higher-order functions
    over the token array — zero UDF, zero shuffle) + the explode; the
    k-gram hashing is the same xxhash64-of-joined-tokens convention as
    the MinHash shingle path, mirrored bit-exactly by
    ``pyoracle.winnow_rows`` (spec-derived XXH64).
    """
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
        lambda x: F.length(x) > 0,
    )
    n = F.size(toks)
    hashes = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    out = df.select(F.col(id_col).alias("id"), hashes.alias("h"))
    pairs = F.transform(
        F.col("h"), lambda x, i: F.struct(x.alias("fp"), i.alias("pos"))
    )
    nh = F.size("h")
    top = F.lit((1 << 63) - 1).cast("long")

    def argmin(slice_expr):
        # rightmost tie: <= prefers the later element in fold order
        return F.aggregate(
            slice_expr,
            F.struct(top.alias("fp"), F.lit(-1).alias("pos")),
            lambda acc, p: F.when(p["fp"] <= acc["fp"], p).otherwise(acc),
        )

    selected = (
        F.when(nh <= 0, F.array().cast("array<struct<fp:bigint,pos:int>>"))
        .when(nh < window, F.array(argmin(pairs)))
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), nh - window),
                lambda j: argmin(F.slice(pairs, j + 1, window)),
            )
        )
    )
    return (
        out.select("id", F.explode(F.array_distinct(selected)).alias("s"))
        .select("id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )


def winnow_overlap(
    fps: DataFrame,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Document-pair overlap from winnowing fingerprints — the MOSS
    report: join documents on shared selected fingerprints, score
    ``overlap = shared / min(|fp_a|, |fp_b|)``.

    ``max_df`` drops fingerprints present in more than that many
    documents before the self-join (the stop-fingerprint rule: ubiquitous
    boilerplate shingles would otherwise contribute Σ df² candidate
    pairs — the same quadratic class ``cap_lsh_buckets`` guards, and the
    same trade: pairs sharing ONLY boilerplate are the ones lost).

    Output: (id_a, id_b, shared, overlap), id_a < id_b."""
    # the distinct fingerprint set feeds BOTH self-join sides plus the
    # size denominators — checkpoint it so the plan shuffles it once
    # instead of replaying the distinct per consumer (same pattern as
    # the checkpointed MinHash shingle pass)
    uniq = fps.select("id", "fp").distinct().localCheckpoint(eager=False)
    sizes = uniq.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    if max_df is not None:
        df_counts = uniq.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        uniq = uniq.join(
            df_counts.where(F.col("_df") <= max_df), "fp"
        ).drop("_df").localCheckpoint(eager=False)
    a = uniq.select(F.col("id").alias("id_a"), "fp")
    b = uniq.select(F.col("id").alias("id_b"), "fp")
    shared = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n_fp").alias("_na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n_fp").alias("_nb"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared",
            F.round(
                F.col("shared").cast("double") / F.least("_na", "_nb"), 6
            ).alias("overlap"),
        )
    )
