"""End-to-end web-corpus curation: the composition a training-data team
actually runs over Common-Crawl-shaped input before tokenization.

Not in the reference (Dug curates study metadata, not web text); this is
the training-data-pipeline layer over the same engine.  Stage order
follows the published pipelines (C4 §2.2, Gopher §A1.1, RefinedWeb §3):

1. per-document line cleaning      (textstats.c4_line_clean)
2. document quality gates          (textstats.gopher_quality)
3. PII redaction                   (textstats.redact_pii)
4. corpus-global line dedup        (dedup.cross_doc_line_dedup)
5. exact-document dedup keeper set (dedup.exact_duplicates)

Everything upstream of stage 4 is a narrow map (codegen column
expressions — stages 1-3 fuse into ONE WholeStageCodegen over the scan);
the only wide shuffles are the global line-dedup window exchange, the
doc reassembly, and the final exact-dedup hash aggregate, as inventoried
in SCALE.md.

Per-stage survivor counts come from ONE aggregation over the final frame
(each stage leaves its gate column on the row), not from per-stage
``count()`` actions that would each rescan the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup, textstats


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedup_min_words: int = 2,
) -> DataFrame:
    """Full curation frame: one row per input document with every stage's
    verdict and the final ``curated_text`` for survivors.

    Columns added: ``c4_keep``, ``gopher_keep`` (+ individual gate
    columns), ``pii_found``/``n_email``/``n_ipv4``/``n_phone``,
    ``n_lines_removed`` (global line dedup), ``is_canonical_copy``
    (exact-dup keeper election), and ``keep`` = the conjunction.
    ``curated_text`` is the C4-cleaned, PII-redacted, globally
    line-deduped text (null for dropped documents)."""
    # NULL text ⇒ '' up front: every downstream stage (split/filter/size
    # chains, the line-dedup posexplode) propagates NULL as zero rows or
    # NULL gates, which would either drop the doc from the output or turn
    # ``keep`` into NULL — the contract is one verdict row per input doc
    # with a definite boolean keep (false for NULL-text docs).
    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))

    # stages 1-3: narrow column ops on the raw text
    staged = textstats.c4_line_clean(df, text_col)
    staged = textstats.gopher_quality(staged, text_col)
    staged = textstats.redact_pii(staged, "clean_text")
    staged = staged.withColumnRenamed("redacted_text", "c4_redacted_text")

    # stage 4: global line dedup over the cleaned+redacted text
    deduped = dedup.cross_doc_line_dedup(
        staged.select(id_col, F.col("c4_redacted_text").alias("text")),
        id_col=id_col,
        min_words=dedup_min_words,
    ).select(
        id_col,
        F.col("clean_text").alias("curated_text_raw"),
        "n_lines_removed",
    )
    out = staged.drop("clean_text").join(deduped, id_col)

    # stage 5: exact-document keeper election on the curated text
    keepers = dedup.exact_duplicates(
        out.select(id_col, F.col("curated_text_raw").alias("text")),
        id_col=id_col,
    ).select(F.col("keep_id").alias(id_col), F.lit(True).alias("is_canonical_copy"))
    out = out.join(keepers, id_col, "left").fillna(
        False, subset=["is_canonical_copy"]
    )

    keep = (
        F.col("c4_keep")
        & F.col("gopher_keep")
        & F.col("is_canonical_copy")
    )
    return out.withColumn("keep", keep).withColumn(
        "curated_text", F.when(keep, F.col("curated_text_raw"))
    ).drop("curated_text_raw")


def curation_report(curated: DataFrame) -> DataFrame:
    """One-row funnel over a ``curate_corpus`` frame — a single
    aggregation action, no per-stage rescans."""
    return curated.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("c4_keep").cast("long")).alias("n_c4_keep"),
        F.sum(F.col("gopher_keep").cast("long")).alias("n_gopher_keep"),
        F.sum(F.col("pii_found").cast("long")).alias("n_pii_docs"),
        F.sum("n_email").alias("n_emails"),
        F.sum("n_ipv4").alias("n_ipv4s"),
        F.sum("n_phone").alias("n_phones"),
        F.sum("n_lines_removed").alias("n_dup_lines_removed"),
        F.sum(F.col("is_canonical_copy").cast("long")).alias("n_canonical"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    )
