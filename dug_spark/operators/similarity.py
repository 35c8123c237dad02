"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — exact, O(n_queries × n_corpus), fully
JVM-side via higher-order array functions (no Python in the hot path).

Scale path: random-hyperplane LSH bucketing (sign-bit sketch): each vector
gets a B-bit signature from B fixed pseudo-random hyperplanes; candidates
are vectors sharing a bucket in any of the multi-probe tables, then exact
cosine re-ranks candidates only.  Cuts the cross-join to Σ bucket².

Also: IVF-style coarse quantization using the provided `label` column (or
any precomputed cluster id) as the inverted-file cell — search only the
query's cell (+neighbor cells via probes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.col(col).cast("array<double>")


def _dot(a: str, b: str):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(col: str):
    return F.sqrt(
        F.aggregate(F.transform(col, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _cos_pairs_udf():
    """Vectorized cosine over (vec_a, vec_b) pair rows, BIT-IDENTICAL to
    the `_dot/_norm` higher-order-expression form: Catalyst's
    ``aggregate(zip_with(a, b, x*y), 0.0, acc+x)`` is a strict
    left-to-right double fold, and ``np.cumsum(prod, axis=1)[:, -1]`` is
    the same sequential accumulation (verified exhaustively in
    tests/test_similarity_vec.py) — unlike ``np.sum``/``np.dot``, whose
    pairwise summation reorders the adds.  np.sqrt and the final divide
    are single correctly-rounded IEEE ops on both engines.  Motivation
    (guide §4.1/§4.2): the interpreted per-element lambda evaluation
    costs ~4× per extra 16 planes (measured round 3 on the signature
    bank); one numpy matmul-shaped batch kernel is flat in `dim`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.vstack(a.to_numpy())
        B = np.vstack(b.to_numpy())
        dot = np.cumsum(A * B, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
        return pd.Series(dot / (na * nb))

    return cos


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (q_id, neighbor_id, rk, cos_sim).

    The corpus side is typically the big one; the query side is broadcast
    by Catalyst when small (crossJoin with a small left side)."""
    q = queries.select(
        F.col(id_col).alias("q_id"), _as_double(vec_col).alias("qe")
    ).withColumn("qn", _norm("qe"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("ce")
    ).withColumn("cn", _norm("ce"))
    pairs = F.broadcast(q).crossJoin(c)
    if exclude_self:
        pairs = pairs.where(F.col("q_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "q_id", "neighbor_id", (_dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "neighbor_id", "rk", F.round("cos", 6).alias("cos_sim"))
    )


def _hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy on executors —
    generated driver-side, inlined as literals)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_signatures(
    df: DataFrame,
    dim: int,
    bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Sign-bit sketch: bit i = (v · h_i) > 0, packed into a long
    (bit 63, when used, is the sign bit — same two's-complement packing
    as dedup.simhash).

    Computed as ONE Arrow-batched numpy matmul per partition
    ((n, dim) @ (dim, bits), then sign-pack): Spark evaluates
    higher-order-function lambdas interpreted per array element, so a
    64-plane bank through `aggregate(zip_with(...))` costs ~4096
    interpreted ops per ROW — measured ~4× slower than 16 planes on the
    same data, while the numpy path is flat in `bits` up to memory
    bandwidth.  pyoracle.lsh_sigs recomputes with the same numpy
    primitive, so the sketch stays bit-reproducible cross-checked."""
    if not 0 < bits <= 64:
        raise ValueError(f"bits must be in 1..64, got {bits}")
    from pyspark.sql.functions import pandas_udf

    planes_t = [[planes_row[i] for planes_row in _hyperplanes(dim, bits, seed)] for i in range(dim)]

    @pandas_udf("long")
    def sig_udf(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="int64")
        m = np.asarray(planes_t, dtype=np.float64)  # (dim, bits)
        arr = np.vstack(e.to_numpy())  # (n, dim) float64
        d = arr @ m  # (n, bits)
        weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64))
        s = ((d > 0).astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
        return pd.Series(s.view(np.int64))

    v = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("e"))
    return v.select("id", "e", sig_udf("e").alias("sig"))


#: expected bucket occupancy the auto rule aims for: with n/2^w rows per
#: bucket, the banded self-join costs ≈ bands · n · (n/2^w) rows — keeping
#: n/2^w near this constant keeps per-bucket work flat as n grows.
LSH_TARGET_BUCKET = 64


def auto_band_width(
    n_rows: int, min_width: int = 8, max_width: int = 16
) -> int:
    """Band width (bits per band) as a function of corpus size — the
    SCALE.md §Dedup prescription ("widen hyperplane bands to 12-16 bits at
    ≥10M rows") made executable:

        width = clamp(⌈log2(n / LSH_TARGET_BUCKET)⌉, 8, 16)

    i.e. pick the width whose 2^width buckets hold ~LSH_TARGET_BUCKET rows
    each under a uniform sketch.  160k rows → 12 bits (4096 buckets/band),
    1.6M → 15, ≥4.2M → 16 (cap).  The floor keeps recall predictable on
    small corpora (8 bits ≈ 0.99 recall at cos ≥ 0.95 with 8 OR-ed bands);
    the cap bounds signature cost — beyond it, bucket occupancy is
    controlled by ``cap_lsh_buckets`` instead.  Candidate recall at width
    w with B OR-ed bands is 1 − (1 − p^w)^B, p = 1 − arccos(cos)/π:
    at cos 0.95 (p≈0.899): w=8 → 0.990, w=12 → 0.926, w=16 → 0.801;
    at cos 0.99 (p≈0.955): w=12 → 0.9990, w=16 → 0.995 — and the
    verify-exact re-rank means lost candidates only cost recall, never
    precision."""
    import math

    if n_rows <= 0:
        return min_width
    return max(
        min_width,
        min(max_width, math.ceil(math.log2(max(n_rows / LSH_TARGET_BUCKET, 2.0)))),
    )


def lsh_band_buckets(
    df: DataFrame,
    dim: int,
    width: int,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """(id, e, band, bucket) rows from ``bands`` INDEPENDENT hyperplane
    banks of ``width`` planes each — one Arrow-batched numpy matmul of
    (n, dim) @ (dim, bands·width), then per-band sign-bit packing into
    its own long.

    This removes the single-long packing cap of ``lsh_signatures`` +
    ``hyperplane_banded`` (bands × width ≤ 64): band width can follow
    ``auto_band_width`` past 8 bits while keeping 8 OR-ed bands.  Matmul
    cost is flat in width up to memory bandwidth (measured round 3)."""
    if width <= 0 or width > 63:
        raise ValueError(f"width must be in 1..63, got {width}")
    from pyspark.sql.functions import pandas_udf

    total = bands * width
    planes_t = [
        [row[i] for row in _hyperplanes(dim, total, seed)] for i in range(dim)
    ]

    @pandas_udf("array<long>")
    def bks_udf(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="object")
        m = np.asarray(planes_t, dtype=np.float64)  # (dim, bands*width)
        arr = np.vstack(e.to_numpy())  # (n, dim)
        bits = (arr @ m > 0).astype(np.int64)  # (n, total)
        weights = np.int64(1) << np.arange(width, dtype=np.int64)
        out = np.empty((len(e), bands), dtype=np.int64)
        for b_i in range(bands):
            out[:, b_i] = bits[:, b_i * width : (b_i + 1) * width] @ weights
        return pd.Series(list(out))

    v = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("e"))
    return v.select(
        "id", "e", F.posexplode(bks_udf("e")).alias("band", "bucket")
    )


def hyperplane_banded(sigs: DataFrame, bits: int, bands: int) -> DataFrame:
    """Explode a signature table (… , sig) into (…, band, bucket) rows —
    one row per band, bucket = that band's bit-slice of the signature.

    Band width (bits/bands) is the scale lever: buckets per band =
    2^width, and the candidate self-join costs Σ bucket².  width 2 (the
    old default) means FOUR buckets per band — every bucket holds n/4 of
    the corpus and the join is quadratic no matter what.  width 8 gives
    256 buckets/band with band-match probability p^8 where
    p = 1 − arccos(cos)/π: ≈0.43 at cos 0.95, ≈0.69 at cos 0.99 — with 8
    OR-ed bands that is ≈0.99 recall at cos ≥ 0.95 and ≈1 − 1e-5 at
    cos ≥ 0.99."""
    width = bits // bands
    mask = (1 << width) - 1
    return sigs.select(
        *[c for c in sigs.columns if c != "sig"],
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("sig", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 64,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Approximate cosine top-k: candidates share ≥1 LSH band, exact
    re-rank on candidates only.  Recall rises with bands; cost is the
    band-bucket join instead of the full cross product.  Defaults give
    8-bit bands (256 buckets each — see hyperplane_banded for the
    width/recall/bucket-count trade).

    Plan shape (round 6, guide §2.3/§8 "decide with small rows, move big
    rows once" — here the big rows move ZERO times): the banded query
    side is BROADCAST (the probe set is small by contract, same as
    brute_force_topk's F.broadcast(q)), so candidate generation is a
    map-side join over the corpus signature stream — the corpus
    embeddings never cross an exchange.  Each candidate pair is scored
    immediately (vectorized `_cos_pairs_udf`, bit-identical to the
    interpreted fold — pyoracle.lsh_topk still mirrors exactly); a pair
    matching in several bands is scored that many times, but duplicate
    scores are bitwise equal and the numpy kernel is flat-cost, so the
    dedup aggregates the 24-byte (q, c, cos) rows with FIRST(cos)
    instead of shuffling dim×8-byte array pairs.  The only exchanges
    left are that pair-keyed dedup and the q-keyed top-k window, both
    over scored-row-sized data."""
    width = bits // bands
    mask = (1 << width) - 1
    qs = lsh_signatures(queries, dim, bits, id_col, vec_col, seed)
    cs = lsh_signatures(corpus, dim, bits, id_col, vec_col, seed)

    def banded(df, side):
        return df.select(
            F.col("id").alias(f"id_{side}"),
            F.col("e").alias(f"e_{side}"),
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned("sig", b * width).bitwiseAND(F.lit(mask))
                        for b in range(bands)
                    ]
                )
            ).alias("band", "bucket"),
        )

    cands = (
        banded(cs, "c")
        .join(F.broadcast(banded(qs, "q")), ["band", "bucket"])
        .where(F.col("id_q") != F.col("id_c"))
        .select("id_q", "id_c", "e_q", "e_c")
    )
    scored = (
        cands.select(
            F.col("id_q").alias("q_id"),
            F.col("id_c").alias("neighbor_id"),
            _cos_pairs_udf()("e_q", "e_c").alias("cos"),
        )
        .groupBy("q_id", "neighbor_id")
        .agg(F.first("cos").alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "neighbor_id", "rk", F.round("cos", 6).alias("cos_sim"))
    )


def ivf_train_assign(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer when no precomputed cluster column exists:
    deterministic k seed centroids (smallest xxhash64(id) order — a
    pseudo-random but reproducible sample), `iters` Lloyd rounds run as
    DataFrame aggregations (posexplode → per-(cell, dim) mean), then each
    vector assigned to its max-dot-product centroid with a pure-JVM
    expression over k literal centroid arrays.

    Lloyd means are rounded to 6 decimals: double summation order varies
    with partitioning, and rounding ~1e-13 jitter away makes the trained
    quantizer bit-reproducible across partition layouts (and recomputable
    by the pure-Python oracle in dug_spark/functions/pyoracle.py).

    Centroids are dimension-sized (k × dim floats) so the driver-side
    collect is O(k·dim), never corpus-sized; each Lloyd round is one
    shuffle on (cell, dim).  Returns (df + ``cell`` int column, centroids).
    """
    v = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("e"))
    seeds = (
        v.orderBy(F.xxhash64(F.col("id").cast("string")), F.col("id"))
        .limit(k)
        .collect()
    )
    centroids = [list(r["e"]) for r in seeds]

    def assign_col(cents: list[list[float]]):
        dots = F.array(
            *[
                F.aggregate(
                    F.zip_with("e", F.array(*[F.lit(x) for x in c]), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in cents
            ]
        )
        # array_position is 1-based; first max wins on ties
        return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")

    for _ in range(iters):
        assigned = v.withColumn("cell", assign_col(centroids))
        means = (
            assigned.select("cell", F.posexplode("e").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .collect()
        )
        new_c = [list(c) for c in centroids]
        for r in means:
            new_c[r["cell"]][r["dim"]] = r["m"]
        centroids = new_c

    out = (
        df.withColumn("e", _as_double(vec_col))
        .withColumn("cell", assign_col(centroids))
        .drop("e")
    )
    return out, centroids


def ivf_trained_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    k_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: centroids learned from the
    corpus, queries assigned to the same cells, exact cosine within the
    query's cell only."""
    corpus_cells, cents = ivf_train_assign(corpus, k_cells, id_col, vec_col, iters)
    # assign queries with the SAME final centroids (no re-training)
    q = queries.withColumn("e", _as_double(vec_col))
    dots = F.array(
        *[
            F.aggregate(
                F.zip_with("e", F.array(*[F.lit(x) for x in c]), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
    )
    q_cells = q.withColumn(
        "cell", (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
    ).drop("e")
    return ivf_topk(q_cells, corpus_cells, k=k, cell_col="cell",
                    id_col=id_col, vec_col=vec_col)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style search: exact cosine only within the query's cell
    (inverted-file list).  The cell column is any coarse quantizer output
    — here the dataset's precomputed cluster label."""
    q = queries.select(
        F.col(id_col).alias("q_id"), _as_double(vec_col).alias("qe"), F.col(cell_col).alias("cell")
    ).withColumn("qn", _norm("qe"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("ce"),
        F.col(cell_col).alias("cell"),
    ).withColumn("cn", _norm("ce"))
    pairs = q.join(c, "cell").where(F.col("q_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "q_id", "neighbor_id", (_dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "neighbor_id", "rk", F.round("cos", 6).alias("cos_sim"))
    )


def _sq_dist(vec_expr, lits: list[float]):
    """Squared L2 distance between an array column slice and a literal
    centroid, folded left-to-right (F.aggregate is a sequential fold, so
    the doubles are bit-reproducible and pure-Python-mirrorable)."""
    return F.aggregate(
        F.zip_with(
            vec_expr,
            F.array(*[F.lit(x) for x in lits]),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _np_stack(series):
    import numpy as np

    return np.stack([np.asarray(v, dtype="float64") for v in series.values])


def _np_sq_dists(X, cb):
    """(batch, m, ksub) squared subdistances, accumulated SEQUENTIALLY
    over the within-subspace dim so every double matches the JVM
    F.aggregate fold and the pure-Python oracle bit-for-bit (numpy's
    pairwise .sum() would reorder the additions)."""
    import numpy as np

    m, ksub, dsub = cb.shape
    Xs = X.reshape(len(X), m, dsub)
    acc = np.zeros((len(X), m, ksub))
    for d in range(dsub):
        diff = Xs[:, :, d][:, :, None] - cb[None, :, :, d]
        acc += diff * diff
    return acc


def _np_dots(X, cents):
    """(batch, k) dot products, sequential over dim (same bit contract
    as _np_sq_dists)."""
    import numpy as np

    acc = np.zeros((len(X), len(cents)))
    for d in range(X.shape[1]):
        acc += X[:, d][:, None] * cents[None, :, d]
    return acc


def _cells_udf(cents: list[list[float]]):
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(cents, dtype="float64")

    @pandas_udf("int")
    def cells(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="int32")
        # np.argmax returns the FIRST max — same tie rule as
        # array_position(dots, array_max(dots))
        return pd.Series(
            np.argmax(_np_dots(_np_stack(e), C), axis=1).astype("int32")
        )

    return cells


def _codes_udf(codebooks: list[list[list[float]]]):
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    CB = np.asarray(codebooks, dtype="float64")

    @pandas_udf("array<int>")
    def codes(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="object")
        a = np.argmin(_np_sq_dists(_np_stack(e), CB), axis=2).astype("int32")
        return pd.Series(list(a), dtype="object")

    return codes


def _qtab_udf(codebooks: list[list[list[float]]]):
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    CB = np.asarray(codebooks, dtype="float64")

    @pandas_udf("array<array<double>>")
    def qtab(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="object")
        t = _np_sq_dists(_np_stack(e), CB)
        return pd.Series([row for row in t], dtype="object")

    return qtab


def _assign_with_centroids(
    df: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = True,
) -> DataFrame:
    """Append ``cell`` = max-dot-product centroid (first max on ties) —
    the IVF assignment shared by train and serve paths.  Arrow path by
    default (vectorized numpy with JVM-fold-identical addition order —
    bit-equality is test-asserted); ``use_arrow=False`` keeps the literal
    JVM expression, whose k·dim node tree knocks the stage out of
    whole-stage codegen at PQ widths (measured: the interpreted plan is
    ~10× slower AND costs seconds of driver plan-build)."""
    if use_arrow:
        return df.withColumn("cell", _cells_udf(cents)(_as_double(vec_col)))
    e = _as_double(vec_col)
    dots = F.array(
        *[
            F.aggregate(
                F.zip_with(e, F.array(*[F.lit(x) for x in c]), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
    )
    return df.withColumn(
        "cell", (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
    )


def pq_train(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
    use_arrow: bool = True,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou, Douze & Schmid 2011,
    "Product Quantization for Nearest Neighbor Search"): split each
    vector into ``m`` contiguous subvectors and run an independent
    ``ksub``-centroid Lloyd quantizer per subspace.  Returns
    ``codebooks[s][j]`` = centroid ``j`` of subspace ``s`` — driver state
    is m·ksub·(dim/m) = dim·ksub floats, dimension-sized like the IVF
    centroids, never corpus-sized.

    Seeding and rounding follow ivf_train_assign exactly: seeds are the
    ksub corpus vectors with smallest (xxhash64(str(id)), id) — their
    s-th subvector seeds subspace s — and Lloyd means round to 6 decimals
    so partition-order summation jitter can't leak into the trained
    codebook (and the pure-Python oracle in functions/pyoracle.py can
    recompute it bit-for-bit).

    Scale shape: per Lloyd round, assignment is map-only (Arrow-batched
    numpy by default — m·ksub literal JVM folds exist behind
    ``use_arrow=False`` as the cross-checked slow path, see
    _assign_with_centroids) and the update is ONE aggregation keyed by
    (subspace, cell, within-dim) — at most dim·ksub groups, so the
    reduce side is codebook-sized; all subspaces train in the same
    single pass."""
    v = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("e"))
    first = v.limit(1).collect()
    if not first:
        raise ValueError("pq_train: empty input")
    dim = len(first[0]["e"])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    dsub = dim // m
    seeds = (
        v.orderBy(F.xxhash64(F.col("id").cast("string")), F.col("id"))
        .limit(ksub)
        .collect()
    )
    codebooks = [
        [list(r["e"][s * dsub : (s + 1) * dsub]) for r in seeds]
        for s in range(m)
    ]

    def cells_col(cbs):
        if use_arrow:
            return _codes_udf(cbs)(F.col("e"))
        cols = []
        for s in range(m):
            sub = F.slice("e", s * dsub + 1, dsub)
            dists = F.array(*[_sq_dist(sub, c) for c in cbs[s]])
            cols.append(
                (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
            )
        return F.array(*cols)

    for _ in range(iters):
        assigned = v.withColumn("cells", cells_col(codebooks))
        means = (
            assigned.select("cells", F.posexplode("e").alias("i", "x"))
            .select(
                (F.col("i") / dsub).cast("int").alias("s"),
                F.element_at("cells", (F.col("i") / dsub).cast("int") + 1).alias(
                    "cell"
                ),
                (F.col("i") % dsub).alias("w"),
                "x",
            )
            .groupBy("s", "cell", "w")
            .agg(F.round(F.avg("x"), 6).alias("mn"))
            .collect()
        )
        new_c = [[list(c) for c in cb] for cb in codebooks]
        for r in means:
            new_c[r["s"]][r["cell"]][r["w"]] = r["mn"]
        codebooks = new_c
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "code",
    use_arrow: bool = True,
) -> DataFrame:
    """Map-only PQ encoding: append ``code`` (array<int>, length m) — the
    per-subspace nearest-centroid indices.  dim·8 bytes of vector become
    m small ints; at 10^12 vectors this is the representation that fits
    a scan-everything ADC pass in cluster memory.

    Arrow-batched numpy by default with fold-order bit-parity (see
    _np_sq_dists); ``use_arrow=False`` is the literal-JVM cross-check
    path — its m·ksub·dsub expression tree exceeds codegen limits, so it
    runs interpreted (measured ~10× slower at m=8, ksub=16)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    e = _as_double(vec_col)
    if use_arrow:
        return df.withColumn(code_col, _codes_udf(codebooks)(e))
    cols = []
    for s in range(m):
        sub = F.slice(e, s * dsub + 1, dsub)
        dists = F.array(*[_sq_dist(sub, c) for c in codebooks[s]])
        cols.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return df.withColumn(code_col, F.array(*cols))


def pq_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    k_cells: int = 8,
    m: int = 8,
    ksub: int = 16,
    iters: int = 1,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    use_arrow: bool = True,
) -> DataFrame:
    """IVF-ADC search (the IVFPQ composition of Jégou et al. 2011): an
    IVF coarse quantizer restricts each query to one inverted list, then
    asymmetric distance computation ranks the list by PQ codes alone —
    per query·candidate the cost is m table lookups, never a dim-length
    dot product, and the corpus side carries only (id, cell, code).

    The query side precomputes its distance TABLE (m × ksub squared
    subdistances to every codebook centroid) as literal-folded JVM
    expressions; the equi-join on cell is the only wide op, and the ADC
    score is zip_with(table, code) → sum — pure codegen.  Output:
    ``(q_id, neighbor_id, rk, adc_dist)`` ascending by approximate
    distance, ties by neighbor id; exact re-rank of the survivors, when
    wanted, is brute_force_topk on the tiny top-k set.

    Deterministic exactly (seeded quantizers, rounded means, sequential
    folds) — recomputed bit-for-bit by pyoracle.pq_ivf_topk.  Pass
    ``cents``/``codebooks`` to reuse already-trained quantizers (train
    once, search many — the serving shape); both are retrained from the
    corpus when omitted."""
    if cents is None:
        corpus_cells, cents = ivf_train_assign(
            corpus, k_cells, id_col, vec_col, iters
        )
    else:
        corpus_cells = _assign_with_centroids(
            corpus, cents, id_col, vec_col, use_arrow=use_arrow
        )
    if codebooks is None:
        codebooks = pq_train(
            corpus, m, ksub, id_col, vec_col, pq_iters, use_arrow=use_arrow
        )
    dsub = len(codebooks[0][0])
    enc = pq_encode(
        corpus_cells, codebooks, vec_col, use_arrow=use_arrow
    ).select(F.col(id_col).alias("neighbor_id"), "cell", "code")

    q = queries.withColumn("e", _as_double(vec_col))
    if use_arrow:
        qq = q.select(
            F.col(id_col).alias("q_id"),
            _cells_udf(cents)(F.col("e")).alias("cell"),
            _qtab_udf(codebooks)(F.col("e")).alias("qtab"),
        )
    else:
        dots = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        "e", F.array(*[F.lit(x) for x in c]), lambda a, b: a * b
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in cents
            ]
        )
        qtab = F.array(
            *[
                F.array(
                    *[
                        _sq_dist(F.slice("e", s * dsub + 1, dsub), codebooks[s][j])
                        for j in range(len(codebooks[s]))
                    ]
                )
                for s in range(len(codebooks))
            ]
        )
        qq = q.select(
            F.col(id_col).alias("q_id"),
            (F.array_position(dots, F.array_max(dots)) - 1)
            .cast("int")
            .alias("cell"),
            qtab.alias("qtab"),
        )
    adc = F.aggregate(
        F.zip_with("qtab", "code", lambda t, c: F.element_at(t, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        qq.join(enc, "cell")
        .where(F.col("q_id") != F.col("neighbor_id"))
        .select("q_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "neighbor_id", "rk", F.round("adc", 5).alias("adc_dist"))
    )


def margin_bitext(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    mutual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    LASER/ccMatrix criterion): mine translation pairs from two
    monolingual embedding spaces by scoring each cross-lingual pair with
    its cosine RELATIVE to the local similarity neighborhoods,

        margin(x, y) = cos(x, y) / (0.5 · (avgₖ(x→tgt) + avgₖ(y→src))),

    which suppresses hub vectors that are near everything.  A pair is
    mined when it is the argmax-margin choice of the source (and, with
    ``mutual=True``, of the target too — the intersection criterion) and
    its margin clears ``threshold``.

    This is the exact dense path: one cross score per pair (broadcast ×
    corpus map — no shuffle to score), then margin/election windows that
    shuffle PAIR rows keyed by src/tgt id.  At 10^9×10^9 web scale the
    pair matrix is infeasible exactly as brute-force k-NN is: compose the
    same margin/election tail onto blocked candidates from
    ``lsh_topk``/``ivf_topk`` (cell-join candidates replace the cross
    join; the margin algebra is unchanged).  Training-data role: mining
    parallel corpora out of a multilingual crawl (ccMatrix mines from
    the same Common-Crawl shape this engine ingests).

    Returns (src_id, tgt_id, margin), margin rounded to 4 (same
    cross-engine float policy as ``brute_force_topk``'s oracle)."""
    s = src.select(
        F.col(id_col).alias("src_id"), _as_double(vec_col).alias("se")
    ).withColumn("sn", _norm("se"))
    t = tgt.select(
        F.col(id_col).alias("tgt_id"), _as_double(vec_col).alias("te")
    ).withColumn("tn", _norm("te"))
    cosed = (
        F.broadcast(s)
        .crossJoin(t)
        .select(
            "src_id",
            "tgt_id",
            (_dot("se", "te") / (F.col("sn") * F.col("tn"))).alias("cos"),
        )
    )
    return _margin_tail(cosed, k=k, threshold=threshold, mutual=mutual)


def margin_bitext_blocked(
    src: DataFrame,
    tgt: DataFrame,
    candidates: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    mutual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The web-scale path of ``margin_bitext``: identical margin algebra
    computed only over ``candidates`` (src_id, tgt_id) pairs produced by
    any blocker — ``lsh_band_buckets`` bucket joins, ``ivf_train_assign``
    cell joins, or a cheap lexical blocker.  The avgₖ neighborhood
    denominators are then the standard candidate-restricted
    approximation (Artetxe & Schwenk compute them over retrieved k-NN
    lists, not the full cross product, for exactly this reason).

    Cost shape: two hash joins to attach vectors to the candidate pairs
    (each shuffles candidate-count rows — linear in candidates, not
    |src|×|tgt|), then the pair-keyed margin/election windows."""
    s = src.select(
        F.col(id_col).alias("src_id"), _as_double(vec_col).alias("se")
    ).withColumn("sn", _norm("se"))
    t = tgt.select(
        F.col(id_col).alias("tgt_id"), _as_double(vec_col).alias("te")
    ).withColumn("tn", _norm("te"))
    cosed = (
        candidates.select("src_id", "tgt_id")
        .distinct()
        .join(s, "src_id")
        .join(t, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            (_dot("se", "te") / (F.col("sn") * F.col("tn"))).alias("cos"),
        )
    )
    return _margin_tail(cosed, k=k, threshold=threshold, mutual=mutual)


def _margin_tail(
    cosed: DataFrame, k: int, threshold: float, mutual: bool
) -> DataFrame:
    wx = Window.partitionBy("src_id").orderBy(F.desc("cos"), F.asc("tgt_id"))
    wy = Window.partitionBy("tgt_id").orderBy(F.desc("cos"), F.asc("src_id"))
    ranked = cosed.withColumn("rkx", F.row_number().over(wx)).withColumn(
        "rky", F.row_number().over(wy)
    )
    ax = (
        ranked.where(F.col("rkx") <= k)
        .groupBy("src_id")
        .agg(F.avg("cos").alias("ax"))
    )
    ay = (
        ranked.where(F.col("rky") <= k)
        .groupBy("tgt_id")
        .agg(F.avg("cos").alias("ay"))
    )
    margins = (
        cosed.join(ax, "src_id")
        .join(ay, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            (F.col("cos") / (0.5 * (F.col("ax") + F.col("ay")))).alias("margin"),
        )
    )
    bx = Window.partitionBy("src_id").orderBy(F.desc("margin"), F.asc("tgt_id"))
    by = Window.partitionBy("tgt_id").orderBy(F.desc("margin"), F.asc("src_id"))
    elected = margins.withColumn("bx", F.row_number().over(bx)).withColumn(
        "by", F.row_number().over(by)
    )
    cond = (F.col("bx") == 1) & (F.col("margin") >= threshold)
    if mutual:
        cond = cond & (F.col("by") == 1)
    return elected.where(cond).select(
        "src_id", "tgt_id", F.round("margin", 4).alias("margin")
    )
