"""Distributed evaluation metrics.

The BASELINE north_rule gates on triple precision/recall ≥ 0.95 vs the
reference pipeline's output.  At 10^12 documents the evaluation itself
must be a Spark job — collecting either triple set to the driver is not
an option — so P/R is computed as two distinct-counts and one inner
join on the (subj, pred, obj) key: three shuffles total, each on the
same key, nothing driver-sized but the final 3 numbers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_KEY = ["subj", "pred", "obj"]


def triple_pr(got: DataFrame, ref: DataFrame) -> dict:
    """Precision/recall of ``got`` triples against ``ref`` triples.

    Both inputs are any DataFrames with (subj, pred, obj) columns;
    duplicates are collapsed (triple identity is the tuple).  Returns
    {precision, recall, n_got, n_ref, n_hit}.
    """
    g = got.select(*_KEY).distinct()
    r = ref.select(*_KEY).distinct()
    n_got = g.count()
    n_ref = r.count()
    n_hit = g.join(r, _KEY).count()
    return {
        "precision": n_hit / n_got if n_got else 1.0,
        "recall": n_hit / n_ref if n_ref else 1.0,
        "n_got": n_got,
        "n_ref": n_ref,
        "n_hit": n_hit,
    }
