"""Session memo for corpus statistics: train once per corpus content.

A corpus statistic is trained once and served to every query that
reads the same bytes, the way a real index is built once and queried
many times. Deterministic training makes the memo invisible in every
value. The key is content-derived: a row count plus a commutative
xxhash64 sum over the identifying columns, so a corpus rewritten in
place retrains, and two paths with the same bytes share one state.

The families that keep state here, and why each is worth a memo:

- dup graph (``operators/dedup.py``, keys ``"edges"``, ``"cc_labels"``):
  seven graph operators share the MinHash-LSH edge set and the CC
  labels, so the banding join runs once per corpus, not per operator.
  The values are checkpointed frames, which read files in the
  checkpoint dir and pin no executor storage.
- retrieval (``operators/retrieval.py``, keys ``"w_total"``,
  ``"probe_df"``, ``"prf_*"``): the word total, probe-term document
  frequencies and PRF expansion terms are corpus statistics, not query
  ones; all plain ints and strings.
- BPE (``operators/text.py``, key ``("bpe_merges", rounds)``): the
  merge table trains once; the apply entry reuses it.
- blocking quantizer (``functions/blocks.py``, key ``"quantizer"``):
  the IVF coarse centroids, O(k x dim) floats; retraining them per
  query cost ~2 s of scheduler-bound jobs at sf0.1.

The documents families fingerprint the same columns, so they share one
state per documents content. A hit costs the fingerprint pass only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_STATES = 8  # test and bench sessions touch a few corpora each
_STATES: dict[tuple, dict] = {}


def corpus_state(df: DataFrame, *cols: str) -> dict:
    """The session's state dict for the content of ``df[cols]``,
    seeded with ``{"n": row count}``. Callers fill it lazily, one key
    per statistic. The oldest state is dropped past ``_MAX_STATES``."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal accumulator: a long sum of ±2^63 hashes overflows
        # (and THROWS under Spark 4's default ANSI mode).
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    n = int(row["n"])
    key = (cols, n, int(row["h"] or 0))
    st = _STATES.get(key)
    if st is None:
        while len(_STATES) >= _MAX_STATES:
            del _STATES[next(iter(_STATES))]
        st = _STATES[key] = {"n": n}
    return st
