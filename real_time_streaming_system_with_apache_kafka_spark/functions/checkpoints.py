"""The few ``localCheckpoint`` sites left, and how their blocks free.

Registry operators build lazy plans: a subtree consumed twice is
either reworked so one aggregate feeds every consumer, or left to
Spark's exchange reuse. What still pins executor blocks is:

- the iterative rounds: connected components (``_cc_labels``),
  PageRank, label propagation and k-core (operators/dedup.py). Each
  round truncates its lineage with a checkpoint; CC and PageRank
  release round k once round k+1 materializes, and the returned plans
  read the round checkpoints;
- the named fit steps, which checkpoint a training input, collect a
  small model to the driver and release the input with
  ``release_checkpoint``: ``stats_robust_mad`` (operators/extras.py),
  ``search_prf_expand`` and ``search_mmr_diversify``
  (operators/retrieval.py), BPE ``learn_merges`` (operators/text.py)
  and ``learn_block_quantizer`` (functions/blocks.py);
- the dup-graph memo: the near-dup edge set and the CC labels, shared
  by the graph operators and kept as protected checkpoints below.

``session.sweep_persisted`` frees everything but the protected memo.
A plan that reads an iterative round's checkpoint cannot be collected
after a sweep (the lineage is truncated); a plan over the dup-graph
memo survives sweeps but not the memo's eviction (past four corpora
per session); every other registry result recomputes from its
sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpointed frame's blocks FOR REAL.

    ``DataFrame.unpersist()`` routes through the cache manager, which
    only tracks ``.cache()/.persist()`` plans — for a localCheckpoint
    (a LogicalRDD over a checkpointed RDD) it is a silent no-op
    (measured r9: blocks survive `df.unpersist()`; they free only when
    the ContextCleaner happens to GC the JVM reference). The real
    handle is the LogicalRDD's underlying RDD. Must be called on the
    checkpointed frame itself, not a frame derived from it.
    """
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    else:  # cached (non-checkpoint) frame: the cache manager path
        df.unpersist()


# --- protected checkpoints -------------------------------------------------
# Some checkpointed frames are deliberately session-lived MODELS, not
# per-call intermediates: the memoized dup-graph edge set and CC labels
# (operators/dedup.py) are corpus statistics shared by six operators —
# production would materialize them as tables; in-session they live as
# protected checkpoints. ``session.sweep_persisted`` must not free them
# (a swept memo frame would be a stale handle — localCheckpoint lineage
# is truncated, so the next reuse FAILS rather than recomputes).

_PROTECTED_RDD_IDS: set[int] = set()


def _ckpt_rdd(df: DataFrame):
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise ValueError("protect_checkpoint: frame is not a localCheckpoint")
    return plan.rdd()


def protect_checkpoint(df: DataFrame) -> DataFrame:
    """Mark a checkpointed frame's blocks as sweep-exempt."""
    _PROTECTED_RDD_IDS.add(_ckpt_rdd(df).id())
    return df


def unprotect_and_release(df: DataFrame) -> None:
    """Evict a protected frame: drop the exemption, free the blocks."""
    rdd = _ckpt_rdd(df)
    _PROTECTED_RDD_IDS.discard(rdd.id())
    rdd.unpersist(False)


def protected_rdd_ids() -> set[int]:
    return set(_PROTECTED_RDD_IDS)
