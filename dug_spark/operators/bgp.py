"""Basic-graph-pattern (BGP) matching over the materialized triple table —
the declarative query layer the reference delegates to TranQL.

The reference answers graph questions by shipping a query string to the
TranQL service (``select s->o from kg where s='CURIE'``, tranql.py:257-286)
and parsing the TRAPI answer; its expressive unit is the *conjunctive
triple pattern*.  Once triples are a DataFrame, that unit is exactly a
multi-way self-join, so this module compiles a SPARQL-style pattern list

    [("?doc", "HAS_CONCEPT", "?c"),
     ("?c",   "biolink:subclass_of", "?parent")]

into a Catalyst plan: one filtered scan of the triple table per pattern,
joined on shared variables.  A user of the reference who today writes a
TranQL/SPARQL conjunctive query writes the same query here as a pattern
list and gets a distributed plan back.

Scale shape (100 TB triple table):
- Each pattern becomes ONE scan with its constant terms pushed into the
  parquet reader (``PushedFilters: [EqualTo(pred, ...)]``); with the
  snapshot layout partitioned by ``pred`` (plans/snapshots.py) a
  constant-predicate pattern prunes to its partition directories and
  never touches the rest of the table.
- Join order is the classic bound-term selectivity heuristic: patterns
  with more constants first (they bind fewest rows), then greedily any
  pattern sharing a variable with the already-joined set — a shared
  variable makes the join keyed rather than Cartesian.  Disconnected
  pattern groups are rejected by default (`allow_product=False`):
  at corpus scale an accidental cross product is a job-killer, so the
  caller must opt in.
- Patterns with >= `broadcast_min_consts` constants (default 2: constant
  pred + constant subj/obj) are broadcast to the probe side — a
  two-constant pattern over a pred-partitioned table is dictionary-sized
  (one predicate x one entity), never corpus-sized.
- Equi-joins on variable columns shuffle on those variables; star
  patterns (several patterns sharing ``?doc``) reuse the same hash
  partitioning across consecutive joins, so Catalyst elides the repeat
  exchange; AQE's skew-join splitter handles hot entities (the same
  skew class plans/skew.py salts for writes).
- k-hop paths (`bounded_reachability`) are ONE lazy plan too, linear in
  k, each hop joining the reached set: no per-hop job before the action,
  and corpus-sized edges are shuffled once per query, not once per hop.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POSITIONS = ("subj", "pred", "obj")


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _var(term: str) -> str:
    name = term[1:]
    if not name:
        raise ValueError("empty variable name '?'")
    return name


def _pattern_frame(
    triples: DataFrame, pattern: tuple[str, str, str]
) -> tuple[DataFrame, list[str], int]:
    """One pattern -> (filtered+projected frame, its variables, n_consts)."""
    if len(pattern) != 3:
        raise ValueError(f"pattern must be (subj, pred, obj): {pattern!r}")
    df = triples
    n_consts = 0
    # constant terms -> pushed-down equality filters
    for pos, term in zip(_POSITIONS, pattern):
        if not _is_var(term):
            df = df.where(F.col(pos) == F.lit(term))
            n_consts += 1
    if n_consts == 3:
        raise ValueError(
            f"constant-only pattern {pattern!r}: an existence test binds no "
            "variables; filter the triple table directly instead"
        )
    # repeated variable inside one pattern -> equality filter, project once
    seen: dict[str, str] = {}
    cols: list = []
    for pos, term in zip(_POSITIONS, pattern):
        if not _is_var(term):
            continue
        v = _var(term)
        if v in seen:
            df = df.where(F.col(pos) == F.col(seen[v]))
        else:
            seen[v] = pos
            cols.append(F.col(pos).alias(v))
    return df.select(*cols), list(seen), n_consts


def pred_stats(triples: DataFrame) -> dict[str, int]:
    """Predicate histogram for cost-based BGP ordering: rows per pred.

    Predicate-count-sized (tens of rows for a KG triple table — one scan,
    one tiny agg); compute once per table version and reuse across
    queries, exactly like Iceberg's partition-level row counts (with the
    pred-partitioned snapshot layout this IS per-partition metadata)."""
    return {
        r["pred"]: r["n"]
        for r in triples.groupBy("pred").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _estimate(pattern: tuple[str, str, str], n_consts: int,
              stats: dict[str, int] | None) -> float:
    """Estimated scan cardinality of one filtered pattern.  With stats:
    the pred histogram row count, divided 100x per additional bound term
    (the classic 1%-equality-selectivity default).  Without stats: rank
    purely by constant count (fewer rows the more constants)."""
    if stats is None:
        return -n_consts  # orders identically to "most constants first"
    pred = pattern[1]
    base = float(stats.get(pred, 0)) if not _is_var(pred) else float(
        sum(stats.values())
    )
    extra = n_consts - (0 if _is_var(pred) else 1)
    return base / (100.0 ** extra)


def _order_patterns(
    metas: Sequence[tuple[set, float]], allow_product: bool
) -> list[int]:
    """Greedy join order over (vars, est_rows) pattern metas: cheapest
    first, then always a variable-sharing pattern (cheapest among those).
    Pure function so the planner is unit-testable without Spark."""
    remaining = list(range(len(metas)))
    start = min(remaining, key=lambda i: (metas[i][1], i))
    order = [start]
    remaining.remove(start)
    bound = set(metas[start][0])
    while remaining:
        joinable = [i for i in remaining if bound & metas[i][0]]
        if not joinable:
            if not allow_product:
                raise ValueError(
                    "disconnected pattern groups (no shared variable) would "
                    "cross-product; pass allow_product=True to accept"
                )
            joinable = remaining
        nxt = min(joinable, key=lambda i: (metas[i][1], i))
        order.append(nxt)
        remaining.remove(nxt)
        bound |= metas[nxt][0]
    return order


def match_bgp(
    triples: DataFrame,
    patterns: Sequence[tuple[str, str, str]],
    distinct: bool = True,
    broadcast_min_consts: int = 2,
    allow_product: bool = False,
    stats: dict[str, int] | None = None,
    broadcast_max_rows: int = 4_000_000,
) -> DataFrame:
    """Match a conjunction of triple patterns; one column per variable.

    ``triples`` needs columns (subj, pred, obj); each pattern term is a
    constant or a ``?var``.  Returns the variable bindings satisfying all
    patterns — SELECT DISTINCT semantics by default (``distinct=False``
    keeps bag semantics, one row per proof).

    Pass ``stats`` (from :func:`pred_stats`, predicate → row count) to
    order joins by ESTIMATED cardinality instead of the constant-count
    heuristic: a rare predicate's pattern leads even with fewer bound
    terms, and a pattern whose estimate is under ``broadcast_max_rows``
    is broadcast regardless of its constant count — at 100 TB the pred
    histogram is partition metadata, so this is Iceberg-style CBO for
    free.  Without stats, patterns with ≥ ``broadcast_min_consts``
    constants broadcast.
    """
    if not patterns:
        raise ValueError("empty pattern list")
    pats = [tuple(p) for p in patterns]
    compiled = [_pattern_frame(triples, p) for p in pats]
    metas = [
        (set(vars_i), _estimate(p, n_consts, stats))
        for p, (_f, vars_i, n_consts) in zip(pats, compiled)
    ]
    order = _order_patterns(metas, allow_product)

    def _maybe_broadcast(i: int, frame: DataFrame) -> DataFrame:
        if stats is not None:
            small = metas[i][1] <= broadcast_max_rows
        else:
            small = compiled[i][2] >= broadcast_min_consts
        return F.broadcast(frame) if small else frame

    acc, bound = compiled[order[0]][0], set(compiled[order[0]][1])
    for i in order[1:]:
        frame, vars_i, _n = compiled[i]
        frame = _maybe_broadcast(i, frame)
        shared = sorted(bound & set(vars_i))
        if shared:
            acc = acc.join(frame, on=shared, how="inner")
        else:
            acc = acc.crossJoin(frame)
        bound |= set(vars_i)
    out = acc.select(*sorted(bound))
    return out.distinct() if distinct else out


def bounded_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Nodes reachable from ``seeds`` in 1..max_hops directed hops, with
    the minimal hop count: (seed, node, hops).

    The path-query companion to :func:`match_bgp` — fixed-length chains
    are BGPs, variable-length ones need iteration — rooted at seeds and
    hop-bounded, which is what an interactive "what is within k hops of
    this concept" query wants at corpus scale (closure over the whole
    graph is quadratic output; k-hop from seeds is neighborhood-sized).
    Each hop keeps every reached row plus its successors at hops + 1 and
    takes min(hops) per (seed, node): the minimum over walks of length
    <= k is the BFS distance, so the seed (hops 0) stays out of the
    result even when a cycle leads back to it.

    Scale shape: ONE lazy plan — no job before the caller's action, no
    per-hop checkpoint or emptiness probe.  Each hop reads the previous
    one once (plan linear in max_hops, ``seeds`` scanned once) and is one
    join of the REACHED set, not just the newest frontier, against the
    corpus-sized edges plus one (seed, node) aggregate, so work per hop is
    reached-set-sized.  The join is a LEFT join that keeps every reached
    row, so the edges are its build side, never the reached set: edges
    under the broadcast threshold are broadcast once, and corpus-sized
    edges are shuffled by src once per query, every hop reusing that one
    exchange (the reached set's size is unknown at planning, so AQE
    starts that shuffle before any hop's size is known, inner join or
    not; the per-hop checkpoint loop shuffled the edges once per hop).
    ``seeds`` needs one column ``seed`` (a node id).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    e = edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("_d"))
    reached = seeds.select("seed", F.col("seed").alias("node"), F.lit(0).alias("hops"))
    for _ in range(max_hops):
        reached = (
            reached.join(e, on="node", how="left")
            .select("seed", F.inline(F.array(
                F.struct("node", "hops"),
                F.struct(F.col("_d").alias("node"), (F.col("hops") + 1).alias("hops")),
            )))
            .where(F.col("node").isNotNull())
            .groupBy("seed", "node").agg(F.min("hops").alias("hops"))
        )
    return reached.where(F.col("hops") > 0)
