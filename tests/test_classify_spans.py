"""Duplicate-span removal and SemDeDup (operators/dedup.py): golden
semantics + Python mirrors."""

from dug_spark.operators import dedup


# ---------------------------------------------------------------------------
# duplicate-span removal


def _spans_rows(spark, docs, **kw):
    df = spark.createDataFrame(
        list(docs.items()), "doc_id string, text string"
    )
    out = dedup.remove_duplicate_spans(df, id_col="doc_id", **kw)
    return {r["doc_id"]: r for r in out.collect()}


SPAN = "one two three four five six seven eight"  # exactly k=8 tokens


def test_span_dedup_keeps_first_occurrence_only(spark):
    docs = {
        "a": f"intro {SPAN} outro",
        "b": f"other head {SPAN} tail words",
        "c": "completely unrelated text with no duplication at all",
    }
    got = _spans_rows(spark, docs, k=8)
    assert got["a"]["clean_text"] == f"intro {SPAN} outro"
    assert got["a"]["n_tokens_removed"] == 0
    assert got["b"]["clean_text"] == "other head tail words"
    assert got["b"]["n_tokens_removed"] == 8
    assert got["c"]["n_tokens_removed"] == 0
    assert got["c"]["n_tokens"] == 8


def test_span_dedup_overlapping_spans_union(spark):
    # 10 shared tokens → three overlapping duplicated 8-windows in doc b;
    # removal unions to exactly 10 tokens, not 24
    shared = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    docs = {"a": f"x {shared} y", "b": f"p {shared} q"}
    got = _spans_rows(spark, docs, k=8)
    assert got["a"]["n_tokens_removed"] == 0
    assert got["b"]["clean_text"] == "p q"
    assert got["b"]["n_tokens_removed"] == 10


def test_span_dedup_within_doc_repeat(spark):
    docs = {"a": f"{SPAN} filler words here {SPAN}"}
    got = _spans_rows(spark, docs, k=8)
    assert got["a"]["clean_text"] == f"{SPAN} filler words here"
    assert got["a"]["n_tokens_removed"] == 8


def test_span_dedup_short_null_and_whitespace_docs_survive(spark):
    docs = {"a": "too short", "b": None, "c": "   "}
    got = _spans_rows(spark, docs, k=8)
    assert got["a"]["clean_text"] == "too short"
    assert got["b"]["clean_text"] == "" and got["b"]["n_tokens"] == 0
    assert got["c"]["clean_text"] == "" and got["c"]["n_tokens"] == 0


def test_span_dedup_keeper_is_min_id_and_start(spark):
    docs = {
        "z_last": f"{SPAN}",
        "a_first": f"pad {SPAN}",
    }
    got = _spans_rows(spark, docs, k=8)
    # a_first sorts before z_last → a_first keeps, z_last loses its copy
    assert got["a_first"]["n_tokens_removed"] == 0
    assert got["z_last"]["clean_text"] == ""
    assert got["z_last"]["n_tokens"] == 8


# ---------------------------------------------------------------------------
# SemDeDup


def _vecs_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id bigint, embedding array<double>",
    )


def test_semantic_dedup_drops_higher_id_twin(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0]),   # ≈ id 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    got = {r["vec_id"]: r["keep"] for r in
           dedup.semantic_dedup(_vecs_df(spark, vecs), k=2, tau=0.99).collect()}
    assert got[1] is True and got[2] is False
    assert got[3] is True and got[4] is True


def test_semantic_dedup_all_unique_all_kept(spark):
    vecs = [(i, [1.0 if j == i else 0.0 for j in range(6)]) for i in range(6)]
    out = dedup.semantic_dedup(_vecs_df(spark, vecs), k=3, tau=0.9)
    assert all(r["keep"] for r in out.collect())
    assert out.count() == 6


def test_semantic_dedup_scale_invariant_cosine(spark):
    vecs = [(10, [1.0, 2.0, 3.0]), (20, [2.0, 4.0, 6.0]), (30, [-1.0, 0.5, 0.1])]
    got = {r["vec_id"]: r["keep"] for r in
           dedup.semantic_dedup(_vecs_df(spark, vecs), k=1, tau=0.999).collect()}
    assert got == {10: True, 20: False, 30: True}


# --- evaluate_classifier ----------------------------------------------------
