"""The workloads, run against the public ``dug_spark`` API.

Every workload is a closed loop with one client: the next operation is
sent only after the previous one returned.  Set-up builds a served KG
through the workload's own build path (a ``SnapshotTable`` of HAS_CONCEPT
triples, a concept search index and the ontology's subclass triples);
the loop then runs whole cycles of :data:`CYCLE` for about
``--seconds``: one build, a recrawl commit, ``search_concepts_bm25``
calls and KG queries over the current snapshot, then a compaction.

- ``build_ontology``: the build is the deployment path of
  jobs/run_pipeline.py — checkpointed stages mentions → triples (salted)
  → kg_answers → concepts, lineage on — over long marked-up pages with
  sparse hits from a dictionary of thousands of surfaces, so annotate
  takes the Python broadcast-trie path.
- ``build_dense``: the build is the library path — ``Pipeline.run`` then
  ``triples.write_triples``, lineage off — over short pages with tens of
  concepts each and a dictionary of at most 128 surfaces, so annotate
  takes the JVM-codegen path and the co-mention pair explode dominates.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import gen
import check
from tracing import SparkCounters, Tracer, materialize

# -- workload shapes ----------------------------------------------------------


@dataclass(frozen=True)
class Spec:
    n_concepts: int
    build_shape: gen.PageShape
    checkpointed: bool  # deployment path (CheckpointManager) or library path
    with_probe: bool = False


ONTOLOGY_PAGES = gen.PageShape(
    n_pages=800, concepts_per_page=(2, 6), n_paras=(4, 7),
    sents_per_para=(5, 9), sentence_words=(8, 16), hot_prob=0.3,
    non_en_share=0.05, dup_share=0.02,
)
DENSE_PAGES = gen.PageShape(
    n_pages=2000, concepts_per_page=(20, 40), n_paras=(1, 1),
    sents_per_para=(40, 44), sentence_words=(3, 5), hot_prob=0.5,
    non_en_share=0.02, dup_share=0.01,
)
SPECS = {
    "build_ontology": Spec(2500, ONTOLOGY_PAGES, checkpointed=True),
    "build_dense": Spec(70, DENSE_PAGES, checkpointed=False, with_probe=True),
}

# the served KG: the first pages of the build corpus, and the share of
# them each recrawl changes
SERVED_PAGES = 200
CHANGED_SHARE = 0.05
# one build, a recrawl commit, reads that merge its delta on read, then
# compaction: every read sees the same snapshot shape (a compacted base
# and one delta), so no latency median straddles two shapes.  Searches
# are the cheapest operation, so a cycle holds two per KG query.
CYCLE = ("build", "recrawl", *("search", "kgq", "search") * 3, "compact")
# the KG query kinds, in rotation
KGQ_KINDS = ("bgp_children", "bgp_pair", "reach")


# -- run state -----------------------------------------------------------------


@dataclass
class Results:
    attempted: int = 0
    failed: int = 0
    lat_ms: dict[str, list[float]] = field(default_factory=dict)
    build_rates: list[float] = field(default_factory=list)
    recrawl_docs: int = 0
    recrawl_s: float = 0.0
    prs: list[check.PrecisionRecall] = field(default_factory=list)
    layers: dict[str, list[float]] = field(default_factory=dict)
    props: dict[str, object] = field(default_factory=dict)

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))


@dataclass
class BuildOut:
    root: str  # everything the build wrote
    triples: str  # path of its triples table
    concepts: object  # its concepts DataFrame (lazy)


class Run:
    def __init__(self, spark, spec: Spec, seed: int, work: str, tracer: Tracer):
        from pyspark.sql import functions as F

        self.F = F
        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.res = Results()
        self.par = spark.sparkContext.defaultParallelism
        self.counters = SparkCounters(spark)
        self._seq = 0
        self._q = 0  # next query of the search stream
        self._k = 0  # next entry of the KG query plan

    # -- helpers -------------------------------------------------------------
    def _path(self, name: str) -> str:
        self._seq += 1
        return os.path.join(self.work, f"{name}-{self._seq:04d}")

    def op(self, kind: str, call, verify) -> object:
        """One closed-loop operation: time ``call``, then ``verify`` its
        output outside the timing.  A raise or a failed check counts the
        operation as failed and records no latency."""
        self.res.attempted += 1
        try:
            t0 = time.perf_counter()
            out = call()
            dt = time.perf_counter() - t0
            ok = verify(out)
        except Exception:  # a failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            ok, out, dt = False, None, None
        if not ok:
            self.res.failed += 1
            print(f"[kgbench] {kind} operation failed", file=sys.stderr)
            return None
        self.res.lat_ms.setdefault(kind, []).append(dt * 1000.0)
        return out

    # -- set-up ----------------------------------------------------------------
    def setup(self) -> dict[str, float]:
        from dug_spark import schemas
        from dug_spark.operators import annotate
        from dug_spark.pipeline import Pipeline

        spark, spec = self.spark, self.spec
        t = {}
        t0 = time.perf_counter()
        self.world = gen.make_world(self.seed, spec.n_concepts, with_probe=spec.with_probe)
        dims = os.path.join(self.work, "dims")
        gen.write_world(self.world, dims)
        self.build_corpus = gen.make_corpus(self.seed, self.world, spec.build_shape, "b")
        self.build_html_bytes = gen.write_corpus(
            self.build_corpus, os.path.join(self.work, "build_pages"), 2 * self.par
        )
        self.build_docs = gen.doc_concepts(self.world, self.build_corpus)
        self.build_truth = gen.truth_triples(self.world, self.build_docs)
        self.serve_corpus = self.build_corpus.head(SERVED_PAGES)
        gen.write_corpus(self.serve_corpus, os.path.join(self.work, "serve_pages-0"), self.par)
        t["generate_s"] = time.perf_counter() - t0

        def read_dim(name, schema):
            return spark.read.schema(schema).parquet(os.path.join(dims, f"{name}.parquet"))

        self.dictionary = read_dim("dictionary", schemas.TERM_DICTIONARY)
        self.curie_norm = read_dim("curie_norm", schemas.CURIE_NORM)
        self.kg_edges = read_dim("kg_edges", schemas.KG_EDGES)
        self.kg_nodes = read_dim("kg_nodes", schemas.KG_NODES)

        # Python workers start on first use; start them here so the fold
        # is timed on its own (their cost stays in set-up)
        t0 = time.perf_counter()
        materialize(spark.range(4 * self.par, numPartitions=2 * self.par)
                    .mapInPandas(lambda it: it, schema="id long"))
        t["workers_s"] = time.perf_counter() - t0

        # the dimension fold (canonical mapping, effective dictionary,
        # broadcast entries), paid once per dictionary version.  One
        # pipeline serves builds and recrawls; the deployment path adds KG
        # expansion and per-partition lineage.
        extra = {"kg_nodes": self.kg_nodes, "track_lineage": True} if spec.checkpointed else {}
        t0 = time.perf_counter()
        self.pipe = Pipeline(
            dictionary=self.dictionary, curie_norm=self.curie_norm,
            kg_edges=self.kg_edges, use_extracted_html=True, **extra,
        )
        self.pipe.canonical_mapping()
        entries = annotate.collect_dictionary(self.pipe.effective_dictionary())
        t["fold_s"] = time.perf_counter() - t0
        self.res.layer("fold.s", t["fold_s"])
        self.res.layer("fold.surfaces", len(entries))
        self.res.layer("fold.entries", sum(len(v) for v in entries.values()))

        # the served KG is built through the workload's own build path,
        # which also warms that path for the timed builds on a slice of
        # the same pages
        t0 = time.perf_counter()
        self._build_served_kg()
        t["served_kg_s"] = time.perf_counter() - t0
        t.update({f"served_kg.{k}": v for k, v in self.served_phases.items()})
        # one read of each kind, its latency dropped: a kind's first call
        # plans and compiles what later calls reuse
        t0 = time.perf_counter()
        self.search()
        for _ in KGQ_KINDS:
            self.kgq()
        self.res.lat_ms.clear()
        t["warm_reads_s"] = time.perf_counter() - t0
        self._record_props()
        return t

    def _build_served_kg(self) -> None:
        """Set-up build of the served KG: HAS_CONCEPT snapshot, search
        index (concepts with their curie_norm descriptions) and the
        ontology's subclass triples."""
        from dug_spark.plans.snapshots import SnapshotTable

        spark, F = self.spark, self.F
        self.serve_version = 0
        self.serve_df = self._read_pages(os.path.join(self.work, "serve_pages-0"))
        self.serve_docs = gen.doc_concepts(self.world, self.serve_corpus)
        indexed = {c for cs in self.serve_docs.values() for c in cs}
        self.queries = gen.zipf_queries(self.seed, self.world, indexed, 4096)
        t0 = time.perf_counter()
        out = self._build_path()(self.serve_df)
        self.served_phases = {"build_s": time.perf_counter() - t0}
        self.table = SnapshotTable(os.path.join(self.work, "served_kg"))
        self.table.overwrite(
            spark.read.parquet(out.triples).where(F.col("pred") == gen.HAS_CONCEPT),
            partition_by=["pred"],
        )
        desc = self.curie_norm.select(F.col("curie").alias("concept_id"), "description")
        index_path = os.path.join(self.work, "search_index")
        out.concepts.drop("description").join(
            F.broadcast(desc), "concept_id", "left"
        ).write.mode("overwrite").parquet(index_path)
        cleanup(out.root)
        self.served_phases["commit_and_index_s"] = (
            time.perf_counter() - t0 - self.served_phases["build_s"])
        self.index = spark.read.parquet(index_path)
        self.ontology = self.kg_edges.where(
            F.col("predicate") == gen.SUBCLASS_OF
        ).select(
            F.col("subject").alias("subj"), F.col("predicate").alias("pred"),
            F.col("object").alias("obj"),
        )
        self._plan_kg_queries()

    def _read_pages(self, path: str):
        from dug_spark import schemas

        return self.spark.read.schema(schemas.WEB_CORPUS).parquet(path)

    def _record_props(self) -> None:
        p = self.res.props
        corpus, docs = self.build_corpus, self.build_docs
        n = len(corpus.rows)
        hot = {c for h in self.world.hot for c in self.world.resolve(h.surfaces[0])}
        p["docs"] = n
        p["text_bytes"] = sum(len(r[3].encode("utf-8")) for r in corpus.rows)
        p["html_bytes"] = self.build_html_bytes
        p["mean_concepts_per_page"] = round(sum(len(c) for c in docs.values()) / n, 3)
        p["hot_term_share"] = round(sum(1 for c in docs.values() if c & hot) / n, 4)
        p["non_en_share"] = round(len(corpus.non_en_urls) / n, 4)
        p["duplicate_share"] = round(len(corpus.dup_urls) / n, 4)
        p["dictionary.surfaces"] = len({r[0] for r in self.world.dictionary})
        p["served_docs"] = len(self.serve_corpus.rows)
        p["changed_share"] = CHANGED_SHARE
        qs = [q for q, _ in self.queries]
        p["repeated_query_share"] = round(1 - len(set(qs)) / len(qs), 4)

    # -- builds ------------------------------------------------------------------
    def _build_path(self):
        return self._build_checkpointed if self.spec.checkpointed else self._build_library

    def _build(self) -> None:
        """One timed build of the build corpus, then its checks."""
        df = self._read_pages(os.path.join(self.work, "build_pages"))
        build = self._build_path()
        out = self.op(
            "build", lambda: build(df),
            lambda o: self._check_triples(o.triples, self.build_truth)
            and self._check_extraction(df),
        )
        if out is not None:
            secs = self.res.lat_ms["build"][-1] / 1000.0
            self.res.build_rates.append(len(self.build_corpus.rows) / secs)
            cleanup(out.root)

    def _build_checkpointed(self, corpus) -> BuildOut:
        """The deployment path of jobs/run_pipeline.py: four checkpointed
        stages with per-partition lineage."""
        from dug_spark.operators import concepts as c_op
        from dug_spark.operators import expand
        from dug_spark.operators import triples as triples_op
        from dug_spark.plans.manifest import CheckpointManager

        spark, F, tr = self.spark, self.F, self.tracer
        root = self._path("ckpt")
        ckpt = CheckpointManager(root)
        pipe = self.pipe
        if tr.enabled:
            self._trace_text(corpus)
        with tr.span("annotate.plan"):
            r = pipe.run(corpus)
        if tr.enabled:
            self._trace_annotate(r.mentions)
        with tr.span("manifest.write"):
            mentions = ckpt.write_stage("mentions", r.mentions, lineage_acc=r.lineage_acc)
        hot = self._hot_threshold(len(self.build_corpus.rows))

        def _triples():
            return _salted(triples_op.build_triples(mentions, self.kg_edges), self.par, hot)

        if tr.enabled:
            self._trace_triples(mentions, _triples, hot)
        with tr.span("manifest.write"):
            ckpt.run_or_resume(spark, "triples", _triples)

        def _answers():
            ids = mentions.select(F.col("curie").alias("concept_id"), "curie").distinct()
            return expand.expand_concepts(ids, self.kg_edges, self.kg_nodes)

        with tr.span("expand.s"), tr.span("manifest.write"):
            answers = ckpt.run_or_resume(spark, "kg_answers", _answers)

        def _concepts():
            conc = c_op.build_concepts(mentions)
            opt = c_op.concept_optional_terms(answers)
            return (
                conc.drop("optional_terms")
                .join(F.broadcast(opt), "concept_id", "left")
                .withColumn(
                    "optional_terms",
                    F.coalesce("optional_terms", F.array().cast("array<string>")),
                )
            )

        with tr.span("concepts.s"), tr.span("manifest.write"):
            concepts = ckpt.run_or_resume(spark, "concepts", _concepts)
        if tr.enabled:
            self._trace_manifest(ckpt, root, answers, concepts)
        return BuildOut(root, os.path.join(root, "triples"), concepts)

    def _build_library(self, corpus) -> BuildOut:
        """The library path: Pipeline.run, then triples.write_triples."""
        from dug_spark.operators import concepts as c_op
        from dug_spark.operators import triples as triples_op

        tr = self.tracer
        path = self._path("triples")
        if tr.enabled:
            self._trace_text(corpus)
        with tr.span("annotate.plan"):
            res = self.pipe.run(corpus)
        hot = self._hot_threshold(len(self.build_corpus.rows))
        if tr.enabled:
            self._trace_annotate(res.mentions)
            self._trace_triples(
                res.mentions,
                lambda: _salted(res.triples, self.par, hot), hot,
            )
        triples_op.write_triples(res.triples, path, hot_threshold=hot)
        return BuildOut(path, path, c_op.build_concepts(res.mentions))

    @staticmethod
    def _hot_threshold(n_docs: int) -> int:
        # a concept on more than a tenth of the pages is hot: the salted
        # write spreads it over several partitions
        return max(1, n_docs // 10)

    def _check_triples(self, path: str, truth: dict[str, set]) -> bool:
        tbl = self.spark.read.parquet(path).select("subj", "pred", "obj").toArrow()
        rows = zip(*(tbl.column(c).to_pylist() for c in ("subj", "pred", "obj")))
        return self._score(check.group_triples(rows), truth)

    def _check_extraction(self, df) -> bool:
        """html→text byte identity of the program's extraction on a fixed
        sample of pages (non-en pages included: they carry UTF-8)."""
        from dug_spark.functions.text import extract_text_col

        F = self.F
        rows = self.build_corpus.rows
        sample = {rows[i][0]: rows[i][3] for i in range(0, len(rows), max(1, len(rows) // 64))}
        sample.update({u: r[3] for r in rows if (u := r[0]) in self.build_corpus.non_en_urls})
        got = {
            r["url"]: r["t"]
            for r in df.where(F.col("url").isin(list(sample)))
            .select("url", extract_text_col(F.col("html")).alias("t")).collect()
        }
        ok = check.texts_identical(got, sample)
        if not ok:
            print("[kgbench] html→text extraction differs from the page text",
                  file=sys.stderr)
        return ok

    def _score(self, emitted: dict[str, set], truth: dict[str, set]) -> bool:
        fams = check.per_family(emitted, truth)
        self.res.prs.extend(fams.values())
        ok = all(pr.ok for pr in fams.values())
        if not ok:
            print("[kgbench] triples differ from the truth: "
                  + ", ".join(f"{f}: p={v.precision:.4f} r={v.recall:.4f}"
                              for f, v in fams.items()), file=sys.stderr)
        return ok

    # -- traced layer spans (trace runs only) ------------------------------------
    def _trace_text(self, corpus) -> None:
        from dug_spark.functions.text import extract_text_col

        F = self.F
        with self.tracer.span("text.extract"):
            materialize(corpus.select(extract_text_col(F.col("html")).alias("t")))
        self.res.layer("text.html_mb", self.build_html_bytes / 1e6)

    def _trace_annotate(self, mentions) -> None:
        names = ("time to run Python workers", "data sent to Python workers")
        last = self.counters.last_execution_id()
        with self.tracer.span("annotate.exec"):
            materialize(mentions)
        m = self.counters.sql_metric_totals(last, names)
        self.res.layer("annotate.python_s", m[names[0]])
        self.res.layer("annotate.arrow_mb", m[names[1]] / 1e6)
        # which annotate path ran, as observed: rows sent to Python workers
        self.res.layer("annotate.path_trie", 1.0 if m[names[1]] > 0 else 0.0)
        corpus = self.build_corpus
        self.res.layer("annotate.docs", len(corpus.rows) - len(corpus.non_en_urls))
        self.res.layer("annotate.mentions", mentions.count())

    def _trace_triples(self, mentions, make_triples, hot: int) -> None:
        from dug_spark.operators import triples as triples_op
        from dug_spark.plans.skew import hot_keys

        F = self.F
        tr = self.tracer
        with tr.span("triples.plan"):
            t = make_triples()
        before = self.counters.snapshot()
        with tr.span("triples.exec"):
            materialize(t)
        after = self.counters.snapshot()
        self.res.layer("triples.shuffle_mb", (after["shuffle_bytes"] - before["shuffle_bytes"]) / 1e6)
        self.res.layer("triples.spill_mb", (after["spill_bytes"] - before["spill_bytes"]) / 1e6)
        sizes = triples_op.doc_concept_sets(mentions).select(F.size("cs").alias("k"))
        agg = sizes.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.when(F.col("k").between(2, gen.MAX_CONCEPTS_PER_DOC),
                         F.col("k") * (F.col("k") - 1) / 2)).alias("pairs"),
        ).collect()[0]
        by_pred = {r["pred"]: r["n"] for r in t.groupBy("pred").agg(F.count(F.lit(1)).alias("n")).collect()}
        kept = by_pred.get(gen.CO_MENTIONED, 0)
        self.res.layer("triples.doc_sets", agg["docs"])
        self.res.layer("triples.pairs_exploded", agg["pairs"] or 0)
        self.res.layer("triples.pairs_kept", kept)
        self.res.layer("triples.useful_ratio", kept / agg["pairs"] if agg["pairs"] else 0.0)
        self.res.layer("triples.out", sum(by_pred.values()))
        self.res.layer("skew.hot_keys", hot_keys(t, "obj", hot).count())
        parts = [r["n"] for r in t.groupBy(F.spark_partition_id().alias("p")).agg(
            F.count(F.lit(1)).alias("n")).collect()]
        mean = sum(parts) / (2 * self.par)
        self.res.layer("skew.max_over_mean", max(parts) / mean if mean else 0.0)

    def _trace_manifest(self, ckpt, root: str, answers, concepts) -> None:
        F = self.F
        n_files, n_bytes = 0, 0
        for d, _sub, files in os.walk(root):
            n_files += len(files)
            n_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        self.res.layer("manifest.files", n_files)
        self.res.layer("manifest.mb_written", n_bytes / 1e6)
        self.res.layer(
            "lineage.partitions",
            ckpt.metrics(self.spark).where(F.col("scope") == "source").count(),
        )
        self.res.layer("expand.answers", answers.count())
        self.res.layer("concepts.rows", concepts.count())

    # -- serving ------------------------------------------------------------------
    def _plan_kg_queries(self) -> None:
        """Selective KG query constants: parents whose children are cold,
        cold seed concepts, and co-mentioned cold pairs."""
        import random

        rng = random.Random(self.seed * 7 + 1)
        hot = {c for h in self.world.hot for c in self.world.resolve(h.surfaces[0])}
        child_of = self.world.subclass_parent()
        freq: dict[str, int] = {}
        for cs in self.serve_docs.values():
            for c in cs:
                freq[c] = freq.get(c, 0) + 1
        # the least-mentioned third of the concepts: selective constants
        ranked = sorted((n, c) for c, n in freq.items() if c not in hot)
        cold = sorted(c for _n, c in ranked[: max(2, len(ranked) // 3)])
        kids: dict[str, list[str]] = {}
        for c, p in child_of.items():
            kids.setdefault(p, []).append(c)
        parents = sorted(p for p, ks in kids.items()
                         if p not in hot and len(ks) <= 6 and all(k not in hot for k in ks))
        if not parents:
            parents = sorted(kids)
        cold_set = set(cold)
        pairs = set()
        for cs in self.serve_docs.values():
            both = sorted(cs & cold_set)
            if len(both) >= 2:
                pairs.add(tuple(sorted(rng.sample(both, 2))))
        pairs = sorted(pairs)
        pick = {
            "bgp_children": lambda: rng.choice(parents),
            "bgp_pair": lambda: rng.choice(pairs),
            "reach": lambda: rng.choice(cold),
        }
        n = len(KGQ_KINDS)
        self.kg_plan = [(k, pick[k]()) for i in range(510) for k in [KGQ_KINDS[i % n]]]
        self.child_of = child_of

    def search(self) -> None:
        from dug_spark.operators import search

        q, expected = self.queries[self._q % len(self.queries)]
        self._q += 1
        tr = self.tracer

        def call():
            with tr.span("search.plan"):
                df = search.search_concepts_bm25(self.index, q, k=10)
            with tr.span("search.exec"):
                return [r["concept_id"] for r in df.collect()]

        def verify(ids):
            if not check.search_hit(ids, expected):
                print(f"[kgbench] search {q!r}: {expected} not in {ids}", file=sys.stderr)
                return False
            return True

        self._with_jobs("search.jobs", lambda: self.op("search", call, verify))

    def _with_jobs(self, name: str, fn) -> None:
        if not self.tracer.enabled:
            fn()
            return
        j0 = self.counters.snapshot()["jobs"]
        fn()
        self.res.layer(name, self.counters.snapshot()["jobs"] - j0)

    def _kg_view(self):
        snap = self.table.read(self.spark).select("subj", "pred", "obj")
        return snap, snap.unionByName(self.ontology)

    def kgq(self) -> None:
        from dug_spark.operators import bgp

        kind, const = self.kg_plan[self._k % len(self.kg_plan)]
        self._k += 1
        spark, F, tr = self.spark, self.F, self.tracer
        docs = self.serve_docs

        if kind == "reach":
            def call():
                snap, _ = self._kg_view()
                edges = snap.select(F.col("obj").alias("src"), F.col("subj").alias("dst")).unionByName(
                    snap.select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
                seeds = spark.createDataFrame([(const,)], "seed string")
                with tr.span("reach.exec"):
                    return {r["node"]: r["hops"] for r in
                            bgp.bounded_reachability(edges, seeds, 2).collect()}

            def verify(got):
                if tr.enabled:
                    self.res.layer("reach.hops", max(got.values(), default=0))
                return got == check.reach_2hop(const, docs)
        else:
            if kind == "bgp_children":
                pats = [("?c", gen.SUBCLASS_OF, const), ("?doc", gen.HAS_CONCEPT, "?c")]
                expected = check.bgp_children_docs(const, self.child_of, docs)
                key = lambda r: (r["c"], r["doc"])  # noqa: E731
            else:
                a, b = const
                pats = [("?doc", gen.HAS_CONCEPT, a), ("?doc", gen.HAS_CONCEPT, b)]
                expected = check.bgp_docs_with_both(a, b, docs)
                key = lambda r: r["doc"]  # noqa: E731

            def call():
                _, view = self._kg_view()
                with tr.span("bgp.plan"):
                    df = bgp.match_bgp(view, pats)
                with tr.span("bgp.exec"):
                    return {key(r) for r in df.collect()}

            def verify(got):
                if tr.enabled:
                    self.res.layer("bgp.rows_out", len(got))
                return got == expected

        # latencies per kind: the kinds differ several-fold in cost
        self.op(f"kgq.{kind}", call, verify)

    def recrawl(self) -> None:
        from dug_spark.pipeline import incremental_update

        spark, F, tr = self.spark, self.F, self.tracer
        v = self.serve_version + 1
        new_corpus, changed = gen.recrawl(
            self.seed, v, self.world, self.spec.build_shape, self.serve_corpus, CHANGED_SHARE
        )
        new_path = os.path.join(self.work, f"serve_pages-{v}")
        gen.write_corpus(new_corpus, new_path, self.par)
        prev_df, new_df = self.serve_df, self._read_pages(new_path)
        new_docs = gen.doc_concepts(self.world, new_corpus)
        bytes0 = _tree_bytes(self.table.root)

        def call():
            if tr.enabled:
                with tr.span("recrawl.detect"):
                    h = F.xxhash64("text")
                    det = new_df.withColumn("_h", h).join(
                        prev_df.select("url", h.alias("_hp")), "url", "left"
                    ).where(F.col("_hp").isNull() | (F.col("_h") != F.col("_hp")))
                    n_det = det.count()
                self.res.layer("recrawl.detect_ratio", n_det / len(changed))
            with tr.span("snapshots.delta"):
                incremental_update(self.table, self.pipe, new_df, prev_df)
            if tr.enabled:
                self.res.layer("snapshots.mb_per_changed_doc",
                               (_tree_bytes(self.table.root) - bytes0) / 1e6 / len(changed))
            return True

        def verify(_):
            snap = self.table.read(spark).where(F.col("subj").isin(changed))
            tbl = snap.select("subj", "obj").toArrow()
            emitted = set(zip(tbl.column("subj").to_pylist(), tbl.column("obj").to_pylist()))
            expected = {(u, c) for u in changed for c in new_docs.get(u, ())}
            if emitted != expected:
                print(f"[kgbench] recrawl: missing {sorted(expected - emitted)[:5]} "
                      f"extra {sorted(emitted - expected)[:5]}", file=sys.stderr)
            return emitted == expected

        out = self.op("recrawl", call, verify)
        # the served KG moves on whether or not the check passed
        self.serve_corpus, self.serve_df, self.serve_docs = new_corpus, new_df, new_docs
        self.serve_version = v
        if out is not None:
            self.res.recrawl_docs += len(changed)
            self.res.recrawl_s += self.res.lat_ms["recrawl"][-1] / 1000.0
        if tr.enabled:
            self.res.layer("recrawl.changed_docs", len(changed))
            recs = self.table.snapshots(spark).orderBy(F.desc("seq")).first()
            self.res.layer("snapshots.read_dirs",
                           len(recs["data_dirs"]) + len(recs["delete_dirs"] or []))

    def compact(self) -> None:
        """Rewrite the merged snapshot (tombstones applied) as one data
        dir; its time counts toward the recrawl path.  The final snapshot
        check covers its output."""

        def call():
            with self.tracer.span("snapshots.compact"):
                self.table.compact(self.spark, partition_by=["pred"])
            return True

        if self.op("compact", call, lambda _: True) is not None:
            self.res.recrawl_s += self.res.lat_ms["compact"][-1] / 1000.0

    def final_snapshot_check(self) -> None:
        """P/R of the served KG's final snapshot against the truth."""
        tbl = self.table.read(self.spark).select("subj", "pred", "obj").toArrow()
        rows = zip(*(tbl.column(c).to_pylist() for c in ("subj", "pred", "obj")))
        truth = {gen.HAS_CONCEPT: {(u, c) for u, cs in self.serve_docs.items() for c in cs}}
        self.res.attempted += 1
        if not self._score(check.group_triples(rows), truth):
            self.res.failed += 1

    # -- probe ------------------------------------------------------------------
    def special_char_probe(self) -> dict[str, object]:
        """Annotate a few pages against entries whose labels carry
        ``'``, ``\\``, ``{`` and ``}``.  Reported beside the metrics, not
        counted as a workload operation."""
        from dug_spark import schemas
        from dug_spark.operators import annotate

        probe = self.world.probe_dictionary
        if not probe:
            return {}
        urls = [f"https://probe.example.org/{i}" for i in range(len(probe))]
        pages = self.spark.createDataFrame(
            [(u, f"lorem {e[0]} ipsum") for u, e in zip(urls, probe)],
            "url string, text string",
        )
        dict_df = self.spark.read.schema(schemas.TERM_DICTIONARY).parquet(
            os.path.join(self.work, "dims", "probe_dictionary.parquet"))
        expected = {(u, e[1]) for u, e in zip(urls, probe)}
        try:
            got = {(r["url"], r["curie"]) for r in
                   annotate.annotate_mentions(pages, dict_df).select("url", "curie").collect()}
            ok = got == expected
            err = None if ok else f"mentions {sorted(got)} != {sorted(expected)}"
        except Exception as e:  # the probe reports the defect, it does not stop the run
            ok, err = False, f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        self.res.layer("probe.special_char_failures", 0.0 if ok else 1.0)
        return {"special_char_probe": "ok" if ok else "failed", "special_char_error": err}

    # -- the loop -------------------------------------------------------------------
    def run_loop(self, seconds: float, traced: bool) -> float:
        """Run whole cycles of :data:`CYCLE` for about ``seconds``: at
        least one, and another while it would end nearer to ``seconds``
        than stopping does; returns the time spent.  Whole cycles keep
        the operation mix, and so every median's make-up, the same from
        run to run.  A traced run instead runs one cycle with the tracer
        off and one with it on, which gives the tracing overhead ratio."""
        ops = {"build": self._build, "search": self.search, "kgq": self.kgq,
               "recrawl": self.recrawl, "compact": self.compact}
        t0 = time.perf_counter()
        cycles: list[float] = []
        while True:
            self.tracer.enabled = traced and len(cycles) == 1
            c0 = time.perf_counter()
            for kind in CYCLE:
                ops[kind]()
            cycles.append(time.perf_counter() - c0)
            if traced and len(cycles) == 2:
                self.res.layer("trace.overhead_ratio", cycles[1] / cycles[0])
                break
            mean = sum(cycles) / len(cycles)
            if not traced and time.perf_counter() - t0 + mean / 2 >= seconds:
                break
        return time.perf_counter() - t0


def _salted(triples, par: int, hot: int):
    from dug_spark.plans.skew import salted_repartition

    return salted_repartition(triples, key="obj", salt_source="subj",
                              num_partitions=2 * par, hot_threshold=hot)


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _sub, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
