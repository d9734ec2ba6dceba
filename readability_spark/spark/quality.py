"""Gopher/MassiveText word-level quality signals (Rae et al. 2021) as a
shared Column-expression builder — consumed by the batch queries
(`__spark_entry__.gopher_quality_filter`, where a DuckDB oracle pins every
value, and the other Gopher-rule entries), so every caller applies the
IDENTICAL published rules.

Everything here is a pure narrow projection over built-in array/string
functions: no shuffle, no UDF, no state — the shape that rides the scan
at 100 TB."""

from __future__ import annotations

import pyspark.sql.functions as F

#: the Gopher required-stopword list (>= 2 must appear)
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_signals(text_col="text"):
    """Return (signals, rules, keep): named signal Columns, named boolean
    rule Columns, and the conjunctive keep verdict, over ``text_col``.
    Callers must already have filtered blank text (trim != '')."""
    text = F.col(text_col)
    toks = F.split(F.trim(text), " ")
    n_words = F.size(toks)
    mean_wl = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    ).cast("double") / n_words
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).cast("double") / n_words
    )
    hash_count = F.length(text) - F.length(F.replace(text, F.lit("#")))
    ellipsis_count = (F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
    symbol_ratio = (hash_count + ellipsis_count).cast("double") / n_words
    n_req = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(s) for s in GOPHER_STOPS])
        )
    )
    signals = {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "alpha_word_frac": alpha_frac,
        "symbol_word_ratio": symbol_ratio,
        "n_req_stopwords": n_req,
    }
    rules = {
        "pass_word_count": n_words.between(50, 100000),
        "pass_mean_word_len": mean_wl.between(3, 10),
        "pass_symbol_ratio": symbol_ratio <= 0.1,
        "pass_alpha_frac": alpha_frac >= 0.8,
        "pass_stopwords": n_req >= 2,
    }
    keep = F.lit(True)
    for rule in rules.values():
        keep = keep & rule
    return signals, rules, keep
