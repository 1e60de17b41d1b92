"""Codegen-friendly word n-gram generation.

Higher-order ``F.transform`` + ``try_element_at`` array lambdas are
INTERPRETED per element in Spark 4 — a measured 3-5x slowdown on
n-gram-heavy scans at sf0.1+ (see NOTES_r3). A single regex pass with
a zero-width lookbehind/lookahead capture produces the identical gram
list inside whole-stage codegen: at each position preceded by start or
a space, capture the next ``n`` space-separated words (overlapping
windows, exactly ``len(words) - n + 1`` grams).

Clamp semantics shared with every shingle oracle: documents shorter
than ``n`` words contribute their whole text as one gram. Assumes
single-space word separation (the corpus contract the oracles encode).

Used by every shingle consumer including the LSH paths since r4: the
r3 note that kept the interpreted lambda inside `_lsh_pairs`'
generator (an InferFiltersFromGenerate re-evaluation penalty measured
then at sf0.1) no longer reproduces — re-measured at sf10 the regex
form wins 2.6x end-to-end on dedup_minhash_lsh (25.5 -> 9.7 s) and is
within noise at sf0.1. ``_ngrams`` below is the interpreted spec twin
over an arbitrary words array, equivalence-pinned in
tests/test_properties.py; no operator calls it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def regex_word_ngrams(text: Column, n: int) -> Column:
    """Array of overlapping word ``n``-grams of a single-space-joined
    text column, whole-text clamp below ``n`` words. NULL text yields
    ``['']`` — the same degenerate gram the interpreted spec twin
    produces (split(NULL) -> size NULL -> clamp keeps one gram whose
    concat_ws skips every null element)."""
    pattern = "(?<=^| )(?=(" + " ".join(["[^ ]+"] * n) + "))"
    safe = F.coalesce(text, F.lit(""))
    n_words = F.size(F.split(safe, " "))
    return F.when(
        n_words >= n, F.regexp_extract_all(safe, F.lit(pattern), 1)
    ).otherwise(F.array(safe))


def _ngrams(words: Column, n: int) -> Column:
    """Interpreted spec twin of ``regex_word_ngrams`` over a words
    array, same clamp: docs shorter than ``n`` words contribute the
    whole text as one gram (the sequence end clamps at 0, and
    concat_ws skips the nulls ``try_element_at`` returns past the
    array end, where a plain element_at would THROW under ANSI)."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(words, i + k + 1) for k in range(n)]
        ),
    )
