"""Dedup + similarity + textstats operator tests on testdata."""

import pytest
from pyspark.sql import functions as F

from dug_spark.operators import dedup, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_duplicates(spark, docs):
    dup = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 10000))
    out = dedup.exact_duplicates(dup)
    rows = out.collect()
    assert all(r["n_copies"] == 2 for r in rows)
    assert all(r["keep_id"] < 10000 for r in rows)


def test_shingle_vs_minhash_agreement(spark, docs):
    """MinHash LSH must recover the exact shingle-Jaccard pairs at 0.9
    (LSH with 8 bands × 4 rows has ~1.0 recall at j≥0.9)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.shingle_jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert exact, "testdata should contain near-duplicate pairs"
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_duplicates(docs, threshold=0.9).collect()
    }
    assert lsh == exact


def test_simhash_near_duplicates(spark, docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.shingle_jaccard_pairs(docs, threshold=0.9).collect()
    }
    sim = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_duplicates(docs, max_hamming=7, bands=8).collect()
    }
    # with 8 bands of 8 bits, every pair at hamming≤7 shares a block
    # (pigeonhole) → banding is exact for this radius, and 0.9-Jaccard
    # near-dups land within it
    assert exact <= sim
    # and it must not degenerate to all-pairs
    n = docs.count()
    assert len(sim) < n * (n - 1) / 20


def test_embedding_near_duplicates_self_sanity(spark, emb):
    dup = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 100000)).where(
        F.col("vec_id") % 100000 < 20
    )
    out = dedup.embedding_near_duplicates(dup, threshold=0.999999).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # every vector matches its shifted copy
    for i in range(20):
        assert (i, i + 100000) in pairs


def test_brute_force_topk_matches_ivf_within_cell(spark, emb):
    q = emb.where(F.col("vec_id") < 10)
    bf = similarity.brute_force_topk(q, emb, k=5)
    rows = bf.collect()
    assert {r["q_id"] for r in rows} == set(range(10))
    assert all(1 <= r["rk"] <= 5 for r in rows)
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in rows)


def test_lsh_topk_recall(spark, emb):
    q = emb.where(F.col("vec_id") < 20)
    bf = similarity.brute_force_topk(q, emb, k=1)
    truth = {(r["q_id"], r["neighbor_id"]) for r in bf.collect()}
    ann = similarity.lsh_topk(q, emb, dim=64, k=1, bits=16, bands=8)
    got = {(r["q_id"], r["neighbor_id"]) for r in ann.collect()}
    # 8 bands of 2 bits: high recall on top-1; require ≥70% here
    assert len(got & truth) >= 0.7 * len(truth)


def test_ivf_topk_searches_cell_only(spark, emb):
    q = emb.where(F.col("vec_id") < 5)
    out = similarity.ivf_topk(q, emb, k=3)
    labels = {r["label"]: None for r in emb.collect()}
    rows = out.collect()
    assert rows
    lab = {r["vec_id"]: r["label"] for r in emb.collect()}
    for r in rows:
        assert lab[r["q_id"]] == lab[r["neighbor_id"]]


def test_token_count_and_quality(spark, docs):
    tc = textstats.token_count(docs).collect()
    for r in tc[:20]:
        assert r["n_tokens"] == len(r["text"].split(" "))
    q = textstats.quality_score(docs).collect()
    for r in q[:20]:
        assert 0.0 <= r["quality"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0


def test_language_id_deterministic(spark, docs):
    a = {r["doc_id"]: r["pred_lang"] for r in textstats.language_id(docs).collect()}
    b = {r["doc_id"]: r["pred_lang"] for r in textstats.language_id(docs).collect()}
    assert a == b
    assert set(a.values()) <= {"en", "de", "fr", "es", "unk"}


def test_fingerprint_stability_and_discrimination(spark, docs):
    fp = textstats.fingerprint(docs).collect()
    md5s = {r["fp_md5"] for r in fp}
    assert len(md5s) == len(fp)  # all sf docs are distinct
    assert all(r["fp_min"] is not None for r in fp)


def test_short_docs_do_not_crash_shingles(spark):
    """Docs shorter than the shingle width yield empty shingle sets
    (previously: SparkRuntimeException from sequence(0,-1) slice)."""
    short = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a"),
         (4, "x y z w x y z w"), (5, "x y z w x y z w")],
        "doc_id int, text string",
    )
    pairs = dedup.shingle_jaccard_pairs(short).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(4, 5, 1.0)]
    mh = dedup.minhash_near_duplicates(short).collect()
    assert [(r["id_a"], r["id_b"]) for r in mh] == [(4, 5)]


def test_embedding_near_duplicates_lsh_subset_of_exact(spark, emb):
    """The LSH path returns a subset of the exact pairs (no false
    positives — every candidate is verified by exact cosine)."""
    base = emb.where(F.col("vec_id") < 60)
    sample = base.unionByName(base.withColumn("vec_id", F.col("vec_id") + 1000))
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in dedup.embedding_near_duplicates(sample, threshold=0.2, exact=True).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in dedup.embedding_near_duplicates(sample, threshold=0.2).collect()
    }
    assert lsh <= exact
    assert exact, "identical copies guarantee pairs at any threshold"
    # identical vectors have identical sign sketches → full recall on them
    identical = {p for p in exact if p[2] >= 0.999999}
    assert len(identical) >= 60
    assert identical <= lsh


def test_ivf_trained_quantizer(spark, emb):
    """Trained IVF: centroids learned with DataFrame Lloyd rounds, queries
    assigned to the same cells, search confined to the query's cell."""
    assigned, cents = similarity.ivf_train_assign(emb, k=8, iters=1)
    rows = assigned.collect()
    cells = {r["vec_id"]: r["cell"] for r in rows}
    assert set(cells.values()) <= set(range(8))
    # assignment matches a pure-Python argmax over the returned centroids
    by_vec = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    for vid in list(by_vec)[:50]:
        dots = []
        for c in cents:
            acc = 0.0
            for a, b in zip(by_vec[vid], c):
                acc += a * b
            dots.append(acc)
        assert cells[vid] == dots.index(max(dots)), vid
    # end-to-end trained search returns well-formed per-query top-k
    q = emb.where(F.col("vec_id") < 10)
    out = similarity.ivf_trained_topk(q, emb, k=3, k_cells=8, iters=1).collect()
    assert {r["q_id"] for r in out} == set(range(10))
    assert all(1 <= r["rk"] <= 3 for r in out)


def test_lsh_bucket_cap_guards_adversarial_clusters(spark):
    """A mega-cluster of identical docs lands in ONE bucket in EVERY band;
    max_bucket drops those buckets (bounding the self-join at cap²) while
    genuine near-dup pairs outside the cluster survive, and
    lsh_bucket_stats reports exactly what was dropped."""
    cluster = " ".join(f"c{i}" for i in range(30))  # disjoint vocab from pair
    words = " ".join(f"w{i}" for i in range(30))
    rows = [(i, cluster) for i in range(200)]  # identical ×200
    rows += [(1000, words), (1001, words + " tail")]  # jaccard 28/29 ≈ 0.966
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_duplicates(df, threshold=0.9).collect()
    }
    assert (1000, 1001) in uncapped
    assert len(uncapped) == 200 * 199 // 2 + 1

    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_duplicates(df, threshold=0.9, max_bucket=50).collect()
    }
    assert capped == {(1000, 1001)}, "cluster pairs dropped, genuine pair kept"

    sh = df.select(
        F.col("doc_id").alias("doc"),
        dedup._shingles("text", 3).alias("shs"),
    )
    banded = dedup.minhash_banded(
        sh.select("doc", dedup.minhash_signature_col(32).alias("sig"))
    )
    stats = dedup.lsh_bucket_stats(banded, max_bucket=50)
    assert stats["max_size"] == 200
    assert stats["dropped_buckets"] == 8  # the cluster bucket in all 8 bands
    assert stats["dropped_pairs"] == 8 * (200 * 199 // 2)
    assert stats["sum_sq"] >= 8 * 200 * 200


def test_embedding_lsh_bucket_cap(spark):
    """Same guard on the embedding near-dup LSH path."""
    base = [float((i * 7) % 13 - 6) for i in range(64)]
    rows = [(i, base) for i in range(100)]  # identical direction ×100
    rows += [(500, [x * 2.0 for x in base])]  # parallel → cos 1.0, same sketch
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = dedup.embedding_near_duplicates(df, threshold=0.99).count()
    assert uncapped == 101 * 100 // 2
    capped = dedup.embedding_near_duplicates(df, threshold=0.99, max_bucket=50).count()
    assert capped == 0  # the single mega-bucket is dropped in every band


# ---------------------------------------------------------------------------
# Auto band-width (round 4): width follows corpus size past the 64-bit cap


def test_auto_band_width_selection_rule():
    """width = clamp(ceil(log2(n / 64)), 8, 16) — the SCALE.md prescription
    (12-16 bits at >=10M rows) as an executable rule."""
    assert similarity.auto_band_width(0) == 8
    assert similarity.auto_band_width(5_000) == 8        # floor
    assert similarity.auto_band_width(160_000) == 12
    assert similarity.auto_band_width(1_600_000) == 15
    assert similarity.auto_band_width(4_200_000) == 16   # cap reached
    assert similarity.auto_band_width(100_000_000) == 16  # cap holds
    # monotone non-decreasing in n
    widths = [similarity.auto_band_width(n) for n in
              (1, 10**3, 10**4, 10**5, 10**6, 10**7, 10**9)]
    assert widths == sorted(widths)


def test_lsh_band_buckets_shape_and_range(spark, emb):
    """Independent-bank banding: bands rows per vector, buckets inside
    [0, 2^width), deterministic across runs."""
    v = emb.where(F.col("vec_id") < 40)
    out = similarity.lsh_band_buckets(v, dim=64, width=12, bands=8).collect()
    per = {}
    for r in out:
        per.setdefault(r["id"], []).append((r["band"], r["bucket"]))
        assert 0 <= r["bucket"] < (1 << 12)
    assert all(len(v_) == 8 for v_ in per.values())
    assert len(per) == 40
    again = similarity.lsh_band_buckets(v, dim=64, width=12, bands=8).collect()
    assert {(r["id"], r["band"], r["bucket"]) for r in again} == {
        (r["id"], r["band"], r["bucket"]) for r in out
    }


def test_embedding_near_dup_auto_width_subset_and_identical_recall(spark, emb):
    """band_width='auto' keeps the verify-exact contract: output is a
    subset of the exact pairs, and identical vectors (equal sketches in
    every bank) are always recovered."""
    base = emb.where(F.col("vec_id") < 60)
    sample = base.unionByName(base.withColumn("vec_id", F.col("vec_id") + 1000))
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in dedup.embedding_near_duplicates(
            sample, threshold=0.2, exact=True
        ).collect()
    }
    auto = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in dedup.embedding_near_duplicates(
            sample, threshold=0.2, band_width="auto"
        ).collect()
    }
    assert auto <= exact
    identical = {p for p in exact if p[2] >= 0.999999}
    assert len(identical) >= 60
    assert identical <= auto
    # explicit width beyond the 64-bit single-long cap also works
    wide = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in dedup.embedding_near_duplicates(
            sample, threshold=0.2, band_width=12
        ).collect()
    }
    assert identical <= wide <= exact


def test_language_id_ngram_holdout_sentences(spark):
    """Char-trigram profile ID classifies HELD-OUT sentences (not the seed
    text) for all four profiled languages; gibberish → 'unk'; purely
    column-level plan (no UDF/shuffle: single Project over the source)."""
    holdout = [
        ("en", "she walked through the garden in the morning and the birds were singing there"),
        ("de", "er ging am morgen durch den garten und die voegel sangen in den baeumen ueber dem wasser"),
        ("fr", "elle marchait dans le jardin le matin et les oiseaux chantaient dans les arbres pres de l eau"),
        ("es", "ella caminaba por el jardin por la manana y los pajaros cantaban en los arboles sobre el agua"),
        ("unk", "zzqx vvkk qqpp zzrr xxyy wwtt"),
    ]
    df = spark.createDataFrame(holdout, "lang string, text string")
    out = {r["lang"]: r["pred_lang_ngram"]
           for r in textstats.language_id_ngram(df).collect()}
    assert out == {k: k for k, _ in holdout}
    # deterministic across runs
    again = {r["lang"]: r["pred_lang_ngram"]
             for r in textstats.language_id_ngram(df).collect()}
    assert again == out
    # plan: no Exchange (pure map-side), no BatchEvalPython
    plan = (
        textstats.language_id_ngram(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_bm25_scan_prunes_columns(spark):
    """Column pruning reaches the scan: the BM25 index state persists only
    the tokenized (id, tokens, length) projection, so the scoring plan
    reads an InMemoryTableScan whose parquet scan reads doc_id and text
    and no other document column."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from dug_spark.operators import search

    plan = (
        search.bm25_topk(docs, "spark window", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" in plan, plan[:2000]
    scan = plan[plan.index("InMemoryTableScan"):]
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in scan, plan[:2000]
    for col in ("lang#", "source#", "n_chars#"):
        assert col not in plan, plan[:2000]


# ---------------------------------------------------------------------------
# Gopher quality gates + C4 line cleaning (round 4) — validated against an
# independent pure-Python recompute of the published rules


def _py_gopher_row(text):
    import re

    toks = text.split(" ")
    n = len(toks)
    lines = text.split("\n")
    nl = len(lines)
    words = toks
    dup_line = round(1.0 - len(set(lines)) / nl, 6)
    if len(words) >= 3:
        grams = [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
        dup_3g = round(1.0 - len(set(grams)) / len(grams), 6)
    else:
        dup_3g = 0.0
    top_word = round(max(toks.count(w) for w in set(toks)) / n, 6)
    mean_wl = sum(len(w) for w in toks) / n
    sym = (text.count("#") + (len(text.split("...")) - 1)) / n
    bullets = sum(
        1 for l in lines if l.strip(" ").startswith(("-", "*"))
    ) / nl
    ell = sum(1 for l in lines if l.strip(" ").endswith("...")) / nl
    alpha = sum(1 for w in toks if re.search("[a-zA-Z]", w)) / n
    stop = sum(
        1
        for w in toks
        if w.lower() in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    rules = {
        "dup_line_frac": dup_line,
        "dup_3gram_frac": dup_3g,
        "top_word_frac": top_word,
        "g_word_count": 50 <= n <= 100_000,
        "g_mean_word_len": 3.0 <= mean_wl <= 10.0,
        "g_symbol_ratio": sym <= 0.1,
        "g_bullet_lines": bullets <= 0.9,
        "g_ellipsis_lines": ell <= 0.3,
        "g_alpha_words": alpha >= 0.8,
        "g_stopwords": stop >= 2,
        "g_dup_lines": dup_line <= 0.3,
        "g_top_word": top_word <= 0.2,
    }
    rules["gopher_keep"] = all(
        v for k, v in rules.items() if k.startswith("g_")
    )
    return rules


def test_gopher_quality_matches_python_recompute(spark, docs):
    crafted = [
        (9001, "- bullet one\n- bullet two\n- bullet three", "en"),
        (9002, "trailing dots...\nmore dots...\nplain line here ok", "en"),
        (9003, " ".join(["the word cycle of and that"] * 20), "en"),
        (9004, "#### #### #### many symbols # here", "en"),
        (9005, "dup line\ndup line\ndup line\nunique", "en"),
    ]
    sample = docs.limit(60).select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(i, txt) for i, txt, _l in crafted], "doc_id long, text string"
        )
    )
    out = textstats.gopher_quality(sample).collect()
    assert len(out) == 65
    cols = [
        "dup_line_frac", "dup_3gram_frac", "top_word_frac", "g_word_count",
        "g_mean_word_len", "g_symbol_ratio", "g_bullet_lines",
        "g_ellipsis_lines", "g_alpha_words", "g_stopwords", "g_dup_lines",
        "g_top_word", "gopher_keep",
    ]
    for r in out:
        want = _py_gopher_row(r["text"])
        got = {c: r[c] for c in cols}
        assert got == want, (r["doc_id"], got, want)
    by_id = {r["doc_id"]: r for r in out}
    assert not by_id[9005]["g_dup_lines"]
    assert not by_id[9004]["g_symbol_ratio"]
    assert not by_id[9001]["gopher_keep"]


def test_c4_line_clean(spark):
    text = "\n".join(
        [
            "This line has five words total.",   # kept
            "Too short line.",                    # <5 words
            "no terminal punctuation on this line at all",  # no punct
            "Please enable javascript to continue browsing here.",  # marker
            "Another proper sentence with enough words here!",      # kept
            "And a third good sentence closes the document.",       # kept
        ]
    )
    df = spark.createDataFrame([(1, text), (2, "tiny.\nshort.")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.c4_line_clean(df).collect()}
    kept = out[1]["clean_text"].split("\n")
    assert kept == [
        "This line has five words total.",
        "Another proper sentence with enough words here!",
        "And a third good sentence closes the document.",
    ]
    assert out[1]["n_kept_lines"] == 3 and out[1]["c4_keep"]
    assert out[2]["n_kept_lines"] == 0 and not out[2]["c4_keep"]


def test_cross_doc_line_dedup_matches_python_recompute(spark, docs):
    crafted = [
        (9101, "shared boilerplate line here\nunique alpha one\nshared boilerplate line here"),
        (9102, "shared boilerplate line here\nunique beta two"),
        (9103, "ok\nunique gamma three\nok"),
    ]
    sample = (
        docs.limit(40)
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(crafted, "doc_id long, text string")
        )
    )
    rows = [(r["doc_id"], r["text"]) for r in sample.collect()]

    # independent python recompute: global first-occurrence keeper
    first_seen = {}
    for did, text in sorted(rows):
        for idx, line in enumerate(text.split("\n")):
            if len(line.strip().split()) < 2:
                continue  # exempt under min_words=2
            first_seen.setdefault(line, (did, idx))
    want = {}
    for did, text in rows:
        kept, removed = [], 0
        for idx, line in enumerate(text.split("\n")):
            exempt = len(line.strip().split()) < 2
            if exempt or first_seen[line] == (did, idx):
                kept.append(line)
            else:
                removed += 1
        want[did] = ("\n".join(kept), len(kept), removed)

    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines_kept"], r["n_lines_removed"])
        for r in dedup.cross_doc_line_dedup(sample, min_words=2).collect()
    }
    assert got == want
    # the crafted duplicates resolved globally: 9101 keeps the first copy,
    # 9102 and 9101's second copy lose theirs; short "ok" lines exempt
    assert got[9102][2] == 1
    assert got[9101][2] == 1
    assert got[9103][0] == "ok\nunique gamma three\nok"


def test_cross_doc_line_dedup_plan_has_two_exchanges(spark):
    df = spark.createDataFrame(
        [(1, "a b c\nd e f"), (2, "a b c\ng h i")], "doc_id long, text string"
    )
    plan = dedup.cross_doc_line_dedup(df)._jdf.queryExecution().executedPlan().toString()
    # one exchange for the keeper-election window + one for the doc
    # reassembly; anything more means an accidental join-back crept in
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_redact_pii(spark):
    from dug_spark.operators import textstats

    rows = [
        (1, "contact me at john.doe+spam@example.co.uk or call 555-867-5309."),
        (2, "server at 192.168.1.254 responded; not an ip: 999.999.1.1"),
        (3, "(919) 555-0100 and +44 202 555 0199 are phones; 12345 is not"),
        (4, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[1]["redacted_text"] == "contact me at <EMAIL> or call <PHONE>."
    assert out[2]["n_ipv4"] == 1
    assert "<IP>" in out[2]["redacted_text"]
    assert "999.999.1.1" in out[2]["redacted_text"]  # not a valid IPv4
    assert out[3]["n_phone"] == 2
    assert out[4]["pii_found"] is False and out[4]["redacted_text"] == rows[3][1]


def test_curate_corpus_end_to_end(spark, docs):
    from dug_spark.operators import curate

    crafted = [
        (9201, "this document is a fine keeper with plenty of words to say.\n"
               "the second line also ends with proper punctuation and length.\n"
               "a third good line keeps the c4 gate happy over here today.\n"
               + " ".join(
                   "the quick brown fox jumps of and that have with".split()
               * 6) + " extra closing sentence of the document ends now."),
        (9202, "short."),  # fails c4 (<3 surviving lines)
        (9203, "mail me at alice@example.com right away please thanks.\n"
               "the second line also ends with proper punctuation and length.\n"
               "one more terminal sentence with the and of that have with here.\n"
               + " ".join(
                   "the quick brown fox jumps of and that have with".split()
               * 6) + " a distinct closing sentence of the document here."),
    ]
    sample = (
        docs.limit(30)
        .select("doc_id", "text")
        .unionByName(spark.createDataFrame(crafted, "doc_id long, text string"))
    )
    out = {r["doc_id"]: r for r in curate.curate_corpus(sample).collect()}
    assert len(out) == 33
    assert not out[9202]["c4_keep"] and not out[9202]["keep"]
    assert out[9202]["curated_text"] is None
    # 9203's email is redacted in the curated text, counted in the funnel
    assert out[9203]["n_email"] == 1 and out[9203]["pii_found"]
    if out[9203]["keep"]:
        assert "<EMAIL>" in out[9203]["curated_text"]
        assert "alice@example.com" not in out[9203]["curated_text"]
    # the shared long line was globally deduped: keeper election is
    # deterministic (smallest (doc_id, idx)), so 9201 keeps it and 9203
    # loses exactly that line
    shared = "the second line also ends with proper punctuation and length."
    assert out[9203]["n_lines_removed"] == 1
    assert out[9201]["n_lines_removed"] == 0
    if out[9201]["curated_text"]:
        assert shared in out[9201]["curated_text"]
    if out[9203]["curated_text"]:
        assert shared not in out[9203]["curated_text"]

    rep = curate.curation_report(curate.curate_corpus(sample)).collect()[0]
    assert rep["n_docs"] == 33
    assert rep["n_kept"] <= rep["n_c4_keep"]
    assert rep["n_emails"] >= 1


def test_curate_corpus_null_text_doc_survives_with_keep_false(spark):
    from dug_spark.operators import curate

    rows = [
        (1, None),
        (2, "this document is a fine keeper with plenty of words to say.\n"
            "the second line also ends with proper punctuation and length.\n"
            "a third good line keeps the c4 gate happy over here today.\n"
            + " ".join(
                "the quick brown fox jumps of and that have with".split() * 6
            ) + " extra closing sentence of the document ends now."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curate.curate_corpus(df).collect()}
    # contract: one verdict row per input doc — NULL text must NOT vanish
    # (posexplode(split(NULL)) emits zero rows; the coalesce guards it)
    assert set(out) == {1, 2}
    assert out[1]["keep"] is False  # definite boolean, not NULL
    assert out[1]["curated_text"] is None
    assert out[2]["keep"] is True

    rep = curate.curation_report(curate.curate_corpus(df)).collect()[0]
    assert rep["n_docs"] == 2 and rep["n_kept"] == 1


def test_cross_doc_line_dedup_null_text_keeps_doc_row(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a b c\nd e f")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup.cross_doc_line_dedup(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["clean_text"] == ""
    assert out[2]["clean_text"] == "a b c\nd e f"


def test_url_features_and_dedup(spark):
    from dug_spark.operators import textstats

    rows = [
        (1, "https://WWW.Example.ORG/a/b/c?q=1#frag", "2020-01-01 00:00:01", "t1"),
        (2, "https://example.org/a/b/c?q=1", "2020-01-02 00:00:00", "t2"),
        (3, "http://sub.news.example.co/story/", "2020-01-01 00:00:00", "t3"),
        (4, "https://example.org/", "2020-01-01 00:00:00", "t4"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("ts"))
    feats = {r["doc_id"]: r for r in textstats.url_features(df).collect()}
    assert feats[1]["host"] == "example.org"
    assert feats[1]["domain"] == "example.org"
    assert feats[1]["path_depth"] == 3
    assert feats[1]["norm_url"] == "https://example.org/a/b/c?q=1"
    assert feats[2]["norm_url"] == "https://example.org/a/b/c?q=1"
    assert feats[3]["host"] == "sub.news.example.co"
    assert feats[3]["domain"] == "example.co"
    assert feats[3]["is_https"] is False
    assert feats[4]["norm_url"] == "https://example.org"
    assert feats[4]["path_depth"] == 0

    # urls 1 and 2 normalize identically; the NEWER capture (doc 2) wins
    kept = {r["norm_url"]: r for r in textstats.dedup_by_url(df).collect()}
    assert len(kept) == 3
    winner = kept["https://example.org/a/b/c?q=1"]
    assert winner["url"] == "https://example.org/a/b/c?q=1"
    assert winner["n_captures"] == 2


def test_host_profile(spark):
    from dug_spark.operators import textstats

    rows = [
        (1, "https://a.com/x", "aaaa"),
        (2, "https://a.com/y", "bbbbbb"),
        (3, "http://b.com/z", "cc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    prof = {r["host"]: r for r in textstats.host_profile(df).collect()}
    assert prof["a.com"]["n_docs"] == 2
    assert prof["a.com"]["total_chars"] == 10
    assert prof["a.com"]["https_share"] == 1.0
    assert prof["b.com"]["https_share"] == 0.0


def test_build_vocab(spark):
    rows = [
        (1, "spark spark spark join join filter"),
        (2, "spark join scan scan"),
        (3, "once"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = [(r["token"], r["n"]) for r in textstats.build_vocab(df, top_n=3).collect()]
    assert vocab == [("spark", 4), ("join", 3), ("scan", 2)]
    # min_count excludes singletons entirely
    all_tokens = {
        r["token"] for r in textstats.build_vocab(df, top_n=100).collect()
    }
    assert "once" not in all_tokens and "filter" not in all_tokens


def test_filter_by_host_blocklist(spark):
    rows = [
        (1, "https://spam.example.com/page", "a"),
        (2, "https://news.bbc.co.uk/story", "b"),
        (3, "https://good.org/fine", "c"),
        (4, "https://example.com/root", "d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    bl = spark.createDataFrame([("example.com",)], "host string")
    kept = {r["doc_id"] for r in textstats.filter_by_host_blocklist(df, bl).collect()}
    # subdomain matching drops spam.example.com AND example.com itself
    assert kept == {2, 3}
    kept_exact = {
        r["doc_id"]
        for r in textstats.filter_by_host_blocklist(
            df, bl, match_subdomains=False
        ).collect()
    }
    assert kept_exact == {1, 2, 3}
    # output schema untouched by the helper columns
    out = textstats.filter_by_host_blocklist(df, bl)
    assert out.columns == ["doc_id", "url", "text"]


def test_build_vocab_plan_is_takeordered_single_shuffle(spark):
    """build_vocab's global top-N must be TakeOrderedAndProject over the
    counted table (no full sort of the vocabulary), and the token count
    must be the ONE hash exchange (partial aggregation map-side)."""
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c b")], "doc_id long, text string"
    )
    plan = (
        textstats.build_vocab(df, top_n=10, min_count=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrdered" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_host_profile_plan_partial_aggregates(spark):
    """host_profile is one partial-aggregating groupBy on host — exactly
    one exchange, with a map-side partial aggregate before it."""
    df = spark.createDataFrame(
        [(1, "https://a.com/x", "t")], "doc_id long, url string, text string"
    )
    plan = (
        textstats.host_profile(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" in plan, plan


def test_encode_with_vocab(spark):
    rows = [
        (1, "spark join spark"),
        (2, "join scan nova"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = textstats.build_vocab(df, top_n=10, min_count=1)
    # ranks by (count desc, token asc): spark(2) > join(2)? counts:
    # spark=2, join=2, scan=1, nova=1 -> join(1), spark(2) alphabetical on
    # ties; then nova(3), scan(4)
    enc = {
        r["doc_id"]: (list(r["token_ids"]), r["n_unk"])
        for r in textstats.encode_with_vocab(df, vocab).collect()
    }
    assert enc[1] == ([2, 1, 2], 0)
    assert enc[2] == ([1, 4, 3], 0)
    # unknown tokens -> unk_id with count
    df2 = spark.createDataFrame([(3, "spark zzz")], "doc_id long, text string")
    enc2 = textstats.encode_with_vocab(df2, vocab).collect()[0]
    assert list(enc2["token_ids"]) == [2, 0] and enc2["n_unk"] == 1


def test_sample_per_host(spark):
    rows = [
        (i, f"https://h{i % 2}.com/p/{i}", "t") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = textstats.sample_per_host(df, cap=3).collect()
    assert len(out) == 6
    by_host = {}
    for r in out:
        by_host.setdefault(r["url"].split("/")[2], []).append(r["doc_id"])
    assert all(len(v) == 3 for v in by_host.values())
    # deterministic across runs
    again = sorted(r["doc_id"] for r in textstats.sample_per_host(df, cap=3).collect())
    assert again == sorted(r["doc_id"] for r in out)
    assert set(out[0].asDict()) == {"doc_id", "url", "text"}


def test_flag_contaminated(spark):
    words = " ".join(f"w{i}" for i in range(20))          # 20-token span
    clean = " ".join(f"c{i}" for i in range(20))
    rows = [
        (1, f"prefix words here {words} suffix words here"),   # contains span
        (2, clean),                                            # disjoint
        (3, "short doc"),                                      # < n tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, words)], "doc_id long, text string")
    got = {
        r["doc_id"]: r["contaminated"]
        for r in textstats.flag_contaminated(df, bench).collect()
    }
    assert got == {1: True, 2: False, 3: False}
    # tokenization is case/punct-insensitive: same span with different
    # case+punctuation still hits
    df2 = spark.createDataFrame(
        [(4, words.upper().replace(" ", ", "))], "doc_id long, text string"
    )
    got2 = textstats.flag_contaminated(df2, bench).collect()[0]
    assert got2["contaminated"]


# --- incremental MinHash near-dup (dedup.minhash_incremental) --------------


def _crawl_batches(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    old = [(i, base + f" tail{i}") for i in range(10)]
    old += [(100, "completely different content about spark execution engines")]
    new = [(200, base + " tail3"),              # near-dup of old id=3
           (201, base + " tail3"),              # exact dup of 200 (new-new pair)
           (202, "unrelated fresh text with nothing shared at all here")]
    return old, new


def test_minhash_incremental_matches_mirror(spark):
    from dug_spark.functions import pyoracle as po
    from dug_spark.operators import dedup

    old, new = _crawl_batches(spark)
    old_df = spark.createDataFrame(old, "doc_id long, text string")
    new_df = spark.createDataFrame(new, "doc_id long, text string")
    store = dedup.minhash_signatures(old_df)
    matches, new_store = dedup.minhash_incremental(
        new_df, store, threshold=0.4
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["sig_jaccard"]) for r in matches.collect()
    )
    want = po.minhash_incremental_rows(old, new, threshold=0.4)
    assert got == want
    # the exact new-new dup must appear with estimator 1.0
    assert (200, 201, 1.0) in got
    # at least one new-old cross pair
    assert any(a < 200 and b >= 200 for a, b, _j in got)
    # no old-old pairs ever
    assert not any(a < 200 and b < 200 for a, b, _j in got)
    # the store grows by exactly the new batch
    assert new_store.count() == store.count() + 3


def test_minhash_incremental_no_store_bootstrap(spark):
    from dug_spark.operators import dedup

    _old, new = _crawl_batches(spark)
    new_df = spark.createDataFrame(new, "doc_id long, text string")
    matches, store = dedup.minhash_incremental(new_df, None, threshold=0.4)
    got = {(r["id_a"], r["id_b"]) for r in matches.collect()}
    assert (200, 201) in got
    assert store.count() == 3


def test_minhash_incremental_two_steps_cover_batch_pairs(spark):
    """Running increment(B1) then increment(B2) must surface every pair
    the one-shot batch LSH finds on B1 ∪ B2 (same bands, same verify)."""
    from dug_spark.operators import dedup

    old, new = _crawl_batches(spark)
    df1 = spark.createDataFrame(old, "doc_id long, text string")
    df2 = spark.createDataFrame(new, "doc_id long, text string")
    m1, store1 = dedup.minhash_incremental(df1, None, threshold=0.4)
    m2, _store2 = dedup.minhash_incremental(df2, store1, threshold=0.4)
    inc_pairs = {(r["id_a"], r["id_b"]) for r in m1.collect()}
    inc_pairs |= {(r["id_a"], r["id_b"]) for r in m2.collect()}
    both = dedup.minhash_signatures(df1.unionByName(df2))
    cand = dedup.minhash_lsh_candidates(both)
    sa = both.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = both.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    batch_pairs = {
        (r["id_a"], r["id_b"])
        for r in cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("sj", dedup.signature_jaccard(32))
        .where(F.col("sj") >= 0.4)
        .collect()
    }
    assert batch_pairs == inc_pairs


def test_shingles_regex_matches_slice_build(spark):
    """The r6 regex shingle extraction must be bit-identical to the old
    transform/sequence/slice construction, including empty tokens from
    double spaces, short docs, and empty text."""
    from pyspark.sql import functions as F
    from dug_spark.operators import dedup

    rows = [
        (1, "a b c d e"),
        (2, "a  b c"),          # double space → empty token
        (3, " leading two"),    # leading space
        (4, "one two"),         # fewer than k tokens
        (5, ""),
        (6, "x y x y x y"),     # repeats → distinct collapse
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    legacy = F.array_distinct(
        F.expr(
            "CASE WHEN size(split(text, ' ')) >= 3 THEN "
            "transform(sequence(0, size(split(text, ' ')) - 3),"
            " i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3))) "
            "ELSE array() END"
        ).cast("array<string>")
    )
    got = {
        r["doc_id"]: (list(r["new"]), list(r["old"]))
        for r in df.select(
            "doc_id",
            dedup._shingles("text", 3).alias("new"),
            legacy.alias("old"),
        ).collect()
    }
    for doc_id, (new, old) in got.items():
        assert new == old, (doc_id, new, old)
