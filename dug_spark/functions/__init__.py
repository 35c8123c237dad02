from .text import (  # noqa: F401
    DEFAULT_DEBREVIATOR,
    DEFAULT_STOPWORDS,
    extract_text_udf,
    ngram_jaccard,
    preprocess_series,
    sliding_window,
)
