"""Tests of the benchmark's own code (no Spark needed).

Run from the repository root:  python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SMALL = gen.PageShape(
    n_pages=300, concepts_per_page=(2, 6), n_paras=(2, 3), sents_per_para=(3, 5),
    sentence_words=(6, 10), hot_prob=0.3, non_en_share=0.05, dup_share=0.05,
)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def _generate(seed: int, out: str) -> str:
    world = gen.make_world(seed, 200, with_probe=True)
    gen.write_world(world, os.path.join(out, "dims"))
    corpus = gen.make_corpus(seed, world, SMALL, "t")
    gen.write_corpus(corpus, os.path.join(out, "pages"), 3)
    nxt, _changed = gen.recrawl(seed, 1, world, SMALL, corpus, 0.05)
    gen.write_corpus(nxt, os.path.join(out, "pages-1"), 3)
    with open(os.path.join(out, "queries.json"), "w") as f:
        indexed = {c for cs in gen.doc_concepts(world, corpus).values() for c in cs}
        json.dump(gen.zipf_queries(seed, world, indexed, 200), f)
    return _digest(out)


def test_same_seed_same_bytes(tmp_path):
    a = _generate(5, str(tmp_path / "a"))
    b = _generate(5, str(tmp_path / "b"))
    c = _generate(6, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_html_strips_to_text_byte_for_byte():
    world = gen.make_world(3, 200)
    corpus = gen.make_corpus(3, world, SMALL, "t")
    assert corpus.non_en_urls and corpus.dup_urls
    assert all(check.html_matches_text(h.encode("utf-8"), t) for _u, _ts, h, t, _l in corpus.rows)


def test_placed_surfaces_are_exactly_the_matches():
    """The truth model's premise: a whitespace-token scan of the page
    text finds exactly the surfaces the generator placed."""
    world = gen.make_world(4, 300)
    surfaces = {r[0] for r in world.dictionary}
    corpus = gen.make_corpus(4, world, SMALL, "t")
    max_len = max(len(s.split()) for s in surfaces)
    for url, _ts, _h, text, _lang in corpus.rows:
        if url not in corpus.placed:
            continue
        toks = [t for t in text.lower().split() if t != "the"]
        found = {
            " ".join(toks[i : i + n])
            for i in range(len(toks))
            for n in range(1, max_len + 1)
            if " ".join(toks[i : i + n]) in surfaces
        }
        assert found == set(corpus.placed[url])


def test_equivalence_clusters_elect_smallest_preferred_id():
    norm = [
        ("HP:2", "HP:2", "x", "", "t", ["HP:2", "UMLS:C1"]),
        ("HP:1", "HP:1", "x", "", "t", ["HP:1", "UMLS:C1"]),
        ("MESH:D1", "HP:2", "x", "", "t", ["MESH:D1", "HP:2"]),
        ("HP:9", "HP:9", "y", "", "t", ["HP:9"]),
    ]
    canon = gen.canonical_ids(norm)
    assert canon["HP:2"] == canon["MESH:D1"] == canon["UMLS:C1"] == "HP:1"
    assert "HP:9" not in canon  # a singleton keeps its own id


def test_checker_fails_on_one_dropped_or_added_triple():
    world = gen.make_world(7, 200)
    corpus = gen.make_corpus(7, world, SMALL, "t")
    truth = gen.truth_triples(world, gen.doc_concepts(world, corpus))
    assert all(truth[f] for f in gen.FAMILIES)
    same = {f: set(v) for f, v in truth.items()}
    assert all(pr.ok for pr in check.per_family(same, truth).values())
    for fam in gen.FAMILIES:
        dropped = {f: set(v) for f, v in truth.items()}
        dropped[fam].pop()
        verdict = check.per_family(dropped, truth)[fam]
        assert not verdict.ok and verdict.recall < 1.0 and verdict.precision == 1.0
        added = {f: set(v) for f, v in truth.items()}
        added[fam].add(("https://x.example.org/new", "HP:0"))
        verdict = check.per_family(added, truth)[fam]
        assert not verdict.ok and verdict.precision < 1.0 and verdict.recall == 1.0


def test_kg_recomputes():
    docs = {"u1": frozenset({"A", "B"}), "u2": frozenset({"B", "C"}), "u3": frozenset({"D"})}
    assert check.reach_2hop("A", docs) == {"u1": 1, "B": 2}
    assert check.bgp_docs_with_both("B", "C", docs) == {"u2"}
    assert check.bgp_children_docs("P", {"B": "P", "D": "P", "A": "Q"}, docs) == {
        ("B", "u1"), ("B", "u2"), ("D", "u3")}


def test_texts_identical():
    assert check.texts_identical({"u": "é x"}, {"u": "é x"})
    assert not check.texts_identical({"u": "e x"}, {"u": "é x"})
    assert not check.texts_identical({}, {"u": "x"})


def test_parse_metric():
    assert tracing.parse_metric("11.5 s (2.7 s, 3.0 s, 3.1 s (stage 0.0: task 3))") == 11.5
    assert tracing.parse_metric("1.5 MiB (1 KiB, 2 KiB)") == 1.5 * 1024 ** 2
    assert tracing.parse_metric("1,234") == 1234.0
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.4 s (511 ms, 615 ms, 669 ms (stage 8.0: task 15))"
    ) == 2.4


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_printed_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    e2e = run.end_to_end(workloads.Results(), 1.0, 1)
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    for m in spec["end_to_end"]:
        assert e2e[m["name"]]["unit"] == m["unit"]
    layers = run.per_layer(tracing.Tracer(True), workloads.Results())
    assert list(layers) == [m["name"] for m in spec["per_layer"]]
    for m in spec["per_layer"]:
        assert layers[m["name"]]["unit"] == m["unit"]
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.SPECS)


def test_refuses_to_run_outside_the_repository(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "build_dense", "--seed", "1", "--seconds", "1"]) == 2


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
