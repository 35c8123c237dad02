"""SHACL-lite constraint validation over the materialized triple table.

A KG-construction pipeline that emits (subj, pred, obj) at 10^12-doc
scale needs a declarative integrity gate before triples reach consumers;
the reference enforces shape only piecemeal at ingest (identifier
exclude-lists and CURIE-prefix validity inside the crawler,
/root/reference/src/dug/core/crawler.py:70-92, factory.py:63-70) and has
no post-materialization validator.  This operator checks the three
constraint families that cover those ingest rules and the usual
SHACL/ShEx core:

- ``domain``      — subj CURIE prefix must match the predicate's
                    declared subject prefix
- ``range``       — obj CURIE prefix must match the declared object
                    prefix
- ``cardinality`` — at most ``max_out`` distinct objects per
                    (subj, pred)
- ``unknown_pred``— predicate absent from the constraint table
                    (closed predicate vocabulary, the analog of the
                    reference's normalization greenlist)

Constraint rows are ``(pred, domain_prefix, range_prefix, max_out)``
with NULL = unconstrained.  Prefix = text before the first ':'; bare
identifiers (no ':') have prefix '' and only match an explicit ''.

Scale shape: the constraint table is dimension-sized (one row per
predicate) and broadcasts; domain/range/unknown checks are then PURE
MAP-SIDE codegen over the triple scan — no shuffle.  The cardinality
check is the one wide op: a (subj, pred)-keyed count-distinct, then the
violating groups (a tiny frame — violations, not triples) broadcast back
against the scan to emit per-triple rows.  Nothing in the plan is
triple-count-sized on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def validate_triples(
    triples: DataFrame,
    constraints: DataFrame,
    materialize: bool = True,
) -> DataFrame:
    """Validate ``triples(subj, pred, obj)`` against
    ``constraints(pred, domain_prefix, range_prefix, max_out)``; returns
    one ``(subj, pred, obj, violation)`` row per violated constraint (a
    triple can appear once per family it violates; conforming triples
    emit nothing).  Deterministic; fully SQL-expressible (DuckDB oracle
    in the driver contract).

    Plan shape: ``materialize`` (default) localCheckpoints the
    (subj, pred, obj) projection once — the validator reads its input
    three times (map-side families, cardinality aggregate, cardinality
    fan-out), and without the cut Catalyst replays the caller's full
    triple-derivation subtree per branch (measured: a build_triples
    input compiled to 50 scans / 58 exchanges; 8 after).  The
    checkpoint is LAZY (round 6): all three consumers run inside the
    caller's one action, so the derivation subtree computes exactly once
    in-flight — an eager cut paid the same pass as a separate blocking
    job first (measured 4.1 → 3.4 s warm on the bench triple table).
    Callers validating an already-materialized table can pass False.
    The domain / range / unknown_pred families are ONE map-side pass — a
    per-triple violation array built by codegen and exploded (empty
    for conforming triples) — instead of three filtered scans."""
    t0 = triples.select("subj", "pred", "obj")
    if materialize:
        t0 = t0.localCheckpoint(eager=False)
    # the whole validator is ONE parameterized spark.sql (round 6): the
    # Column-by-Column build cost a few hundred py4j round-trips per
    # call; the SQL text mirrors the old Column tree node for node
    # (same joins, same broadcast placement via hints, same when/array/
    # explode family emission), so outputs are identical.
    prefix_of = (
        "CASE WHEN contains({col}, ':') THEN split({col}, ':', 2)[0] "
        "ELSE '' END"
    )
    return t0.sparkSession.sql(
        f"""
        WITH c AS (SELECT pred AS c_pred, domain_prefix, range_prefix,
                          CAST(max_out AS BIGINT) AS max_out
                   FROM {{constraints}}),
        t AS (SELECT /*+ BROADCAST(c) */ t0.subj, t0.pred, t0.obj,
                     c.c_pred, c.domain_prefix, c.range_prefix
              FROM {{t0}} t0 LEFT JOIN c ON t0.pred = c.c_pred),
        map_side AS (
          SELECT subj, pred, obj,
                 explode(filter(array(
                   IF(c_pred IS NULL, 'unknown_pred', NULL),
                   IF(domain_prefix IS NOT NULL
                      AND {prefix_of.format(col="subj")} != domain_prefix,
                      'domain', NULL),
                   IF(range_prefix IS NOT NULL
                      AND {prefix_of.format(col="obj")} != range_prefix,
                      'range', NULL)
                 ), v -> v IS NOT NULL)) AS violation
          FROM t),
        cc AS (SELECT pred, CAST(max_out AS BIGINT) AS max_out
               FROM {{constraints}} WHERE max_out IS NOT NULL),
        capped AS (SELECT /*+ BROADCAST(cc) */ t0.subj, t0.pred, t0.obj,
                          cc.max_out
                   FROM {{t0}} t0 JOIN cc ON t0.pred = cc.pred),
        over AS (SELECT subj, pred FROM (
                   SELECT subj, pred, max_out,
                          count(DISTINCT obj) AS n_obj
                   FROM capped GROUP BY subj, pred, max_out)
                 WHERE n_obj > max_out),
        cardinality AS (
          SELECT /*+ BROADCAST(over) */ DISTINCT
                 capped.subj, capped.pred, capped.obj,
                 'cardinality' AS violation
          FROM capped JOIN over
            ON capped.subj = over.subj AND capped.pred = over.pred)
        SELECT subj, pred, obj, violation FROM map_side
        UNION ALL
        SELECT subj, pred, obj, violation FROM cardinality
        """,
        t0=t0,
        constraints=constraints,
    )


def conformance_report(violations: DataFrame, triples: DataFrame) -> DataFrame:
    """Per-predicate conformance summary: total triples, violating
    triples (distinct (subj,pred,obj) with ≥1 violation), and per-family
    counts — the job-level gate a pipeline asserts on before publishing a
    snapshot.  Two pred-keyed aggregates, both predicate-cardinality
    output."""
    tot = triples.groupBy("pred").agg(F.count(F.lit(1)).alias("n_triples"))
    v = violations.groupBy("pred").agg(
        F.count_distinct("subj", "obj").alias("n_violating"),
        F.sum(F.when(F.col("violation") == "domain", 1).otherwise(0)).alias(
            "n_domain"
        ),
        F.sum(F.when(F.col("violation") == "range", 1).otherwise(0)).alias(
            "n_range"
        ),
        F.sum(
            F.when(F.col("violation") == "cardinality", 1).otherwise(0)
        ).alias("n_cardinality"),
        F.sum(
            F.when(F.col("violation") == "unknown_pred", 1).otherwise(0)
        ).alias("n_unknown_pred"),
    )
    return (
        tot.join(v, "pred", "left")
        .fillna(
            0,
            subset=[
                "n_violating",
                "n_domain",
                "n_range",
                "n_cardinality",
                "n_unknown_pred",
            ],
        )
        .select(
            "pred",
            "n_triples",
            "n_violating",
            "n_domain",
            "n_range",
            "n_cardinality",
            "n_unknown_pred",
        )
    )
