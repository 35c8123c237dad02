"""Mergeable distinct-count sketches (bucketed-minimum KMV).

Web-scale motivation: "distinct URLs per host", "distinct visitors per
site", "token-vocabulary overlap between two crawl snapshots" are the
bread-and-butter cardinality questions over a 10^12-row corpus, and the
exact answer (``countDistinct``) needs a shuffle of every distinct value.
The classic sketch answer (KMV / bottom-k order statistics, Bar-Yossef
2002; stochastic averaging as in Flajolet's PCSA/HLL family) reduces the
state per group to a constant number of hash minima, which Spark computes
with an ordinary ``min`` aggregate: map-side partial aggregation absorbs
the full data volume, and the single shuffle carries at most
|groups| x buckets rows.  The bucket index doubles as a salt — a hot
group's rows spread over `buckets` reducer keys, so the skewed-host case
that breaks a naive per-group agg is handled by construction.

Reference parity: the reference pipeline has no sketching layer (its
Elasticsearch backend answers cardinality with its own HLL-based
``cardinality`` agg, src/dug/core/async_search.py facet aggregations);
this module is the engine-native equivalent, listed under the
beyond-reference training-data operators in SURVEY.md §2.

Design — every number is deterministic and cross-checkable:

- value hash  h      = xxhash64(value)              (Spark built-in, seed 42)
- bucket      b      = pmod(xxhash64(value, lit(1)), B)   (independent hash)
- sketch row         = (group..., b, min h)         — plain BIGINT minima
- estimator          : map h to u = (h + 2^63) / 2^64 in (0,1); an empty
  bucket contributes u = 1.  With n/B distinct values per bucket,
  E[min u] = 1/(n/B + 1), so  E[sum_u] = B^2/(n+B)  and
      n_hat = B^2 / sum_u - B.
  The sum is kept EXACT in integers (Decimal(38,0)):
      S = sum(min_h) + 2^63 * (2B - buckets_hit)        (= sum_u * 2^64)
      n_hat = B^2 * 2^64 / double(S) - B
  so the only floating-point steps are one decimal->double cast and one
  division — bit-reproducible across partition orders, mirrored exactly
  by dug_spark.functions.pyoracle._kmv_mins/_kmv_est (spec-derived
  XXH64), and safe to hash-compare at ROUND(.., 4).  This is the same
  exact-integer discipline the PageRank oracle rounding advisory (ADVICE
  r4) asked for, applied from the start.

Mergeability: sketches are unioned by ``min`` per (group, bucket) —
associative and exact, so per-partition, per-day, or per-snapshot
sketches compose without touching the raw data again (the property HLL
is used for in every web-analytics store).  Intersection cardinality and
Jaccard come from inclusion-exclusion over the union estimate.

Relative error ~ 1/sqrt(B) (12.5% at B=64); bias ~ B/n at small n — the
estimator is for the regime n >> B, which is the only regime that needs
a sketch (tests pin accuracy at n ~ 10^4, B=64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DecimalType

_DEC = DecimalType(38, 0)


def _two63():
    # 2^63 exceeds the BIGINT literal range — route through a string cast
    # (built lazily: Column construction needs an active SparkContext)
    return F.lit("9223372036854775808").cast(_DEC)


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    buckets: int = 64,
) -> DataFrame:
    """(group..., bucket, minh) — the sketch relation.

    ONE aggregate with map-side combine; the shuffle carries at most
    |groups| x buckets rows regardless of input size.  NULL values are
    excluded (a NULL is not a member of the distinct set, matching
    ``countDistinct``)."""
    v = F.col(value_col)
    return (
        df.filter(v.isNotNull())
        .select(
            *group_cols,
            F.xxhash64(v).alias("h"),
            F.pmod(F.xxhash64(v, F.lit(1)), F.lit(buckets)).alias("bucket"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.min("h").alias("minh"))
    )


def kmv_merge(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union two sketches built with the SAME bucket count: elementwise
    min per (group, bucket).  Exact — merge(sketch(A), sketch(B)) equals
    sketch(A UNION B) bit-for-bit (tested), so sketches roll up across
    partitions/days/snapshots without re-reading raw data."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bucket")
        .agg(F.min("minh").alias("minh"))
    )


def kmv_estimate(
    sketch: DataFrame, group_cols: list[str], buckets: int = 64
) -> DataFrame:
    """(group..., buckets_hit, est_distinct) from a sketch relation.

    est_distinct = ROUND(B^2 * 2^64 / S - B, 4) with S the exact integer
    sum described in the module docstring; groups x 1 rows out."""
    hit = F.count(F.lit(1))
    s = (
        F.sum(F.col("minh").cast(_DEC))
        + _two63() * (F.lit(2 * buckets) - hit).cast(_DEC)
    ).cast("double")
    num = F.lit(float(buckets * buckets) * 2.0**64)
    return sketch.groupBy(*group_cols).agg(
        hit.alias("buckets_hit"),
        F.round(num / s - F.lit(buckets), 4).alias("est_distinct"),
    )


def kmv_overlap(
    a: DataFrame,
    b: DataFrame,
    group_cols: list[str],
    buckets: int = 64,
) -> DataFrame:
    """Inclusion-exclusion over two sketches: per group
    (est_a, est_b, est_union, est_intersect, jaccard_est).

    est_intersect = max(est_a + est_b - est_union, 0); jaccard over the
    union estimate.  Derived from the already-rounded per-side estimates
    so the pure-Python mirror reproduces every digit.  Inner join on the
    group key: overlap is only defined where both sides observed the
    group."""
    ea = kmv_estimate(a, group_cols, buckets).withColumnRenamed(
        "est_distinct", "est_a"
    ).drop("buckets_hit")
    eb = kmv_estimate(b, group_cols, buckets).withColumnRenamed(
        "est_distinct", "est_b"
    ).drop("buckets_hit")
    eu = kmv_estimate(
        kmv_merge(a, b, group_cols), group_cols, buckets
    ).withColumnRenamed("est_distinct", "est_union").drop("buckets_hit")
    inter = F.greatest(
        F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4),
        F.lit(0.0),
    )
    return (
        ea.join(eb, group_cols)
        .join(eu, group_cols)
        .select(
            *group_cols,
            "est_a",
            "est_b",
            "est_union",
            inter.alias("est_intersect"),
            F.round(inter / F.col("est_union"), 4).alias("jaccard_est"),
        )
    )


# ---------------------------------------------------------------------------
# Misra-Gries mergeable heavy hitters → exact-verified hot keys
# ---------------------------------------------------------------------------
#
# Web-scale motivation: salting (plans/skew.salted_repartition) and every
# skew guard in this engine need the set of hot keys, and the naive answer
# (groupBy(key).count()) shuffles one row PER DISTINCT KEY — at 10^12 docs
# the URL-host / concept-CURIE key space is itself billions of rows.  The
# Misra-Gries summary (Misra & Gries 1982; mergeability per Agarwal,
# Cormode et al., "Mergeable Summaries", PODS 2012) bounds the state to k
# counters per partition, so the first-pass shuffle carries at most
# (k+1) x |partitions| rows regardless of the key-space size.  MG
# guarantees NO FALSE NEGATIVES above n/(k+1): every key with true count
# > n/(k+1) survives in some partition summary with merged lower bound
# >= true - n/(k+1).  A second pass verifies the (tiny, broadcast)
# candidate set EXACTLY, so the operator's output contract is exact —
# identical to GROUP BY ... HAVING count(*) >= min_count — which makes it
# fully DuckDB-oracle-able despite being a sketch underneath.
#
# Reference parity: the reference has no sketching layer (its hot-term
# skew lives inside Elasticsearch); this is the engine-native scale path
# for SURVEY §2's salted-repartition requirement (BASELINE north_star:
# "salted repartitioning on skewed high-frequency concepts").


def mg_partition_summaries(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries: (key, lb) with <= k real keys
    per partition plus ONE sentinel row (key NULL, lb = partition row
    count) so the caller can recover exact n without a second scan.

    Each Arrow batch is counted vectorized (pandas value_counts), then
    merged into the running summary with the PODS-2012 MERGE: sum counts,
    and if more than k keys remain, subtract the (k+1)-th largest count
    from all and drop the non-positive ones.  Total undercount per
    partition is <= n_p/(k+1).  NULL keys are excluded (matching the
    NULL-excluding contract of kmv_sketch / countDistinct).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    key_type = df.schema[key_col].dataType
    out_schema = StructType(
        [StructField(key_col, key_type, True), StructField("lb", LongType(), False)]
    )

    def run(batches):
        import pandas as pd

        counters: dict = {}
        n_p = 0
        for pdf in batches:
            col = pdf[key_col].dropna()
            n_p += len(col)
            vc = col.value_counts()  # vectorized per-batch exact counts
            for key, cnt in vc.items():
                counters[key] = counters.get(key, 0) + int(cnt)
            if len(counters) > k:
                # MERGE step: subtract the (k+1)-th largest, drop <= 0
                kth = sorted(counters.values(), reverse=True)[k]
                counters = {c: v - kth for c, v in counters.items() if v > kth}
        rows = {key_col: list(counters.keys()) + [None],
                "lb": list(counters.values()) + [n_p]}
        yield pd.DataFrame(rows)

    return df.select(key_col).mapInPandas(run, schema=out_schema)


def heavy_hitters(
    df: DataFrame, key_col: str, min_count: int, k: int = 1024
) -> DataFrame:
    """EXACT (key, cnt) for every key with count >= min_count, via an MG
    candidate pass + exact verification of the candidates only.

    Plan shape at scale: pass 1 shuffles <= (k+1) x partitions summary
    rows (localCheckpointed — it is dimension-sized by construction);
    pass 2 is a broadcast LEFT SEMI filter of the corpus on the candidate
    keys followed by one hash aggregate whose map-side combine emits at
    most |candidates| rows per task.  The raw key space never shuffles.

    Raises ValueError if the MG guarantee does not cover min_count
    (needs min_count > n/(k+1)); pick k >= n/min_count + 1.

    Oracle: SELECT key, count(*) AS cnt FROM t WHERE key IS NOT NULL
    GROUP BY key HAVING count(*) >= min_count.
    """
    summaries = mg_partition_summaries(df, key_col, k).localCheckpoint()
    key = F.col(key_col)
    n = summaries.where(key.isNull()).agg(F.sum("lb")).collect()[0][0] or 0
    eps_n = n // (k + 1)
    if min_count <= eps_n:
        raise ValueError(
            f"min_count={min_count} <= n/(k+1)={eps_n}: MG guarantee does not "
            f"hold; use k >= {n // min_count + 1}"
        )
    # merged lower bound: true count is within [merged_lb, merged_lb+eps_n]
    candidates = (
        summaries.where(key.isNotNull())
        .groupBy(key_col)
        .agg(F.sum("lb").alias("merged_lb"))
        .where(F.col("merged_lb") >= F.lit(min_count - eps_n))
        .select(key_col)
    )
    return (
        df.where(key.isNotNull())
        .join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= F.lit(min_count))
    )


# ---------------------------------------------------------------------------
# Mergeable Bloom filter (membership) — completing the sketch trio:
# KMV = cardinality, Misra-Gries = frequency, Bloom = membership.
# ---------------------------------------------------------------------------
#
# Web-scale use: "is this URL already crawled", "is this 13-gram in the
# benchmark set", "does this key exist on the dimension side" — the
# semi-join-pruning questions where shipping the full key set is the
# cost.  A Bloom filter over 10^8 keys at 10 bits/key is ~125 MB —
# broadcastable where the raw keys are not.  Classic guarantees: NO
# false negatives; false-positive rate ~ (1 - e^(-kn/m))^k.
#
# Construction is pure column ops: k chained-xxhash64 bit positions per
# value, explode → (word_idx, 1<<bit) → bit_or aggregate — map-side
# partial bit_or absorbs the data volume, the shuffle carries at most
# m/64 words per partition.  Filters MERGE by per-word bit_or (exact:
# merge(bloom(A), bloom(B)) == bloom(A ∪ B), tested), so per-day /
# per-snapshot filters roll up without re-reading data.  Everything is
# deterministic (seeded hashes), so even the false positives are
# reproducible — mirrored bit-for-bit by pyoracle.bloom_rows, which is
# what makes a membership SKETCH fully oracle-able.


def bloom_build(
    df: DataFrame, value_col: str, num_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """(word_idx, word) sparse bitmap relation of the Bloom filter over
    the column's non-NULL values.  Bit positions: pmod(xxhash64(v,
    lit(i)), num_bits) for i in 0..k-1 (Spark's chained-seed semantics).
    num_bits must be a multiple of 64."""
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    v = F.col(value_col)
    pos = F.explode(
        F.array(*[F.pmod(F.xxhash64(v, F.lit(i)), F.lit(num_bits)) for i in range(k)])
    ).alias("pos")
    return (
        df.filter(v.isNotNull())
        .select(pos)
        .select(
            F.expr("shiftright(pos, 6)").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos & 63 AS INT))").alias("w"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("w").alias("word"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two filters built with the SAME (num_bits, k): per-word
    bit_or — exact (tested equal to building over the unioned data)."""
    return a.unionByName(b).groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def bloom_words(bloom: DataFrame, num_bits: int) -> list:
    """Densify the sparse bitmap to the full word list (len = num_bits/64)
    on the driver — dimension-bounded by construction (16 KiB per 2^20
    bits), the object you broadcast or fold into probe literals."""
    words = [0] * (num_bits // 64)
    for r in bloom.collect():
        words[r["word_idx"]] = r["word"]
    return words


def bloom_probe(
    df: DataFrame,
    value_col: str,
    words: list,
    num_bits: int = 1 << 20,
    k: int = 5,
    use_pandas: bool | None = None,
) -> DataFrame:
    """df + ``might_contain`` (boolean; NULL value ⇒ false).  Two probe
    paths, identical results (tested):

    - JVM: the word list folds in as ONE array literal and the k bit
      tests are shiftright/AND column expressions — right for SMALL
      filters only: element_at against a large array literal falls out
      of codegen and was measured 27× slower than numpy at 32k words
      (BASELINE.md cont. 6).
    - pandas: positions still computed JVM-side, the bitmap lives as a
      numpy array in the UDF closure and the k tests are vectorized
      numpy indexing — the 100 MB-filter path (swap the closure for
      sc.broadcast at that size).

    ``use_pandas=None`` (default) picks automatically: pandas past 512
    words (4 KiB), the measured crossover ballpark."""
    if use_pandas is None:
        use_pandas = len(words) > 512
    v = F.col(value_col)
    pos_cols = [
        F.pmod(F.xxhash64(v, F.lit(i)), F.lit(num_bits)) for i in range(k)
    ]
    if not use_pandas:
        arr = F.array(*[F.lit(int(w)).cast("long") for w in words])
        tmp = df
        names = []
        for i, p in enumerate(pos_cols):
            names.append(f"_bp{i}")
            tmp = tmp.withColumn(f"_bp{i}", p)
        might = None
        for n in names:
            word = F.element_at(arr, F.expr(f"CAST(shiftright({n}, 6) + 1 AS INT)"))
            chk = word.bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({n} & 63 AS INT))")
            ) != 0
            might = chk if might is None else (might & chk)
        return tmp.withColumn(
            "might_contain", F.coalesce(might, F.lit(False))
        ).drop(*names)
    import numpy as np
    from pyspark.sql import functions as _F
    from pyspark.sql.types import BooleanType

    warr = np.array([int(w) for w in words], dtype=np.int64)

    @_F.pandas_udf(BooleanType())
    def _probe(*pos_series):
        import pandas as pd

        out = None
        for ps in pos_series:
            p = ps.to_numpy()
            valid = p >= 0
            bit = np.zeros(len(p), dtype=bool)
            pv = np.where(valid, p, 0)
            bit[valid] = (
                (warr[(pv >> 6)[valid]] >> (pv & 63)[valid]) & 1
            ).astype(bool)
            out = bit if out is None else (out & bit)
        return pd.Series(out)

    safe = [F.coalesce(p, F.lit(-1)) for p in pos_cols]
    return df.withColumn("might_contain", _probe(*safe))


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005) — mergeable frequency
# estimation.  Complements the existing trio: KMV answers "how many
# distinct", Misra-Gries answers "which keys are hot", Bloom answers "is
# this a member" — CMS answers "about how often does THIS key occur"
# with a one-sided guarantee (est >= true; est <= true + eps*N w.p.
# 1-delta, eps = e/width, delta = e^-depth), for any key, after the
# fact, from depth*width integers.  That is the sketch a crawl scheduler
# or hot-term monitor keeps per host/day and merges across snapshots.


def cms_build(
    df: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """(d, w, n) sparse counter relation of a count-min sketch over the
    column's non-NULL values (optionally weighted — e.g. token counts).

    Row d's bucket for value v is pmod(xxhash64(v, lit(d)), width) —
    Spark's chained-seed semantics, same convention as ``bloom_build``,
    mirrored by pyoracle.cms_estimates.  Scale shape: posexplode is
    narrow (depth rows per input row, map-side); ONE aggregate with
    map-side combine follows, so the shuffle carries at most
    depth x width rows per map partition regardless of input size.
    Counters are exact integer sums — merge and estimate reproduce
    bit-identically across partition orders."""
    v = F.col(value_col)
    wt = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    return (
        df.filter(v.isNotNull())
        .select(
            wt.alias("_n"),
            F.posexplode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(v, F.lit(d)), F.lit(width))
                        for d in range(depth)
                    ]
                )
            ).alias("d", "w"),
        )
        .groupBy("d", "w")
        .agg(F.sum("_n").alias("n"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two sketches built with the SAME (width, depth): cell-wise
    sum — exact (tested equal to building over the unioned data), so
    per-day / per-snapshot sketches roll up without re-reading raw
    data."""
    return a.unionByName(b).groupBy("d", "w").agg(F.sum("n").alias("n"))


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """keys + ``est`` (BIGINT): the count-min estimate min_d counter[d,
    h_d(key)] for each probe key; an absent cell reads 0 (the key was
    never observed).  NULL keys estimate 0.

    Scale shape: probe positions are map-side column expressions; the
    sketch side is at most depth x width rows, hinted broadcast, so the
    lookup is a broadcast left join (depth rows per probe key collapse
    back with ONE min aggregate keyed by the probe key — the only
    shuffle, sized by the probe set, never the corpus)."""
    v = F.col(value_col)
    probes = keys.select(
        "*",
        F.posexplode(
            F.array(
                *[
                    F.pmod(F.xxhash64(v, F.lit(d)), F.lit(width))
                    for d in range(depth)
                ]
            )
        ).alias("d", "w"),
    )
    key_cols = keys.columns
    est = (
        probes.join(F.broadcast(cms), ["d", "w"], "left")
        .groupBy(*key_cols)
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("est"))
    )
    # xxhash64(NULL, lit(d)) hashes just the seed literal (Spark skips
    # NULL inputs), which would give every NULL key the same spurious
    # cell — a NULL was never counted by cms_build, so it estimates 0
    return est.withColumn(
        "est",
        F.when(F.col(value_col).isNull(), F.lit(0).cast("long")).otherwise(
            F.col("est")
        ),
    )
