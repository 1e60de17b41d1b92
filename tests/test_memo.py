"""The session corpus memo (``functions/memo.py``): content keys,
eviction order, and one shared state per documents corpus."""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

from real_time_streaming_system_with_apache_kafka_spark import registry
from real_time_streaming_system_with_apache_kafka_spark.operators import (
    dedup,
    retrieval,
    text,
)
from real_time_streaming_system_with_apache_kafka_spark.schemas import STAR_TABLES
from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load
from tests.parity import assert_parity


def test_documents_rewrite_in_place_rederives_bpe_and_bm25(
    spark, sf_smoke, tmp_path
):
    """A documents corpus rewritten in place (same path, doc_ids and
    row count, different text) must retrain the BPE merge table and the
    BM25 corpus statistics: both results must match the DuckDB oracle
    over the NEW bytes, not echo the old ones."""
    sf = str(tmp_path)
    for t in STAR_TABLES:
        if t != "documents":
            os.symlink(f"{sf_smoke}/{t}.parquet", f"{sf}/{t}.parquet")
    docs = pq.read_table(f"{sf_smoke}/documents.parquet")
    pq.write_table(docs, f"{sf}/documents.parquet")
    oracles = registry.all_oracles()
    entries = {
        "vocab_bpe_learn_merges": text.vocab_bpe_learn_merges,
        "search_bm25_topk": retrieval.search_bm25_topk,
    }
    before = {n: set(map(tuple, f(spark, sf).collect())) for n, f in entries.items()}
    # Rewrite IN PLACE: every 'join' becomes 'jion', which moves a BM25
    # probe term's postings and the pair counts BPE ranks.
    i = docs.schema.get_field_index("text")
    jion = pc.replace_substring(docs["text"], "join", "jion")
    pq.write_table(docs.set_column(i, "text", jion), f"{sf}/documents.parquet")
    for name, build in entries.items():
        after = build(spark, sf)
        assert set(map(tuple, after.collect())) != before[name], name
        assert_parity(after, oracles[name], sf, name=name)


def test_memo_drops_the_oldest_corpus(spark):
    from real_time_streaming_system_with_apache_kafka_spark.functions import memo

    corpora = [
        spark.createDataFrame([(i, f"corpus {i}")], "doc_id long, text string")
        for i in range(memo._MAX_STATES + 1)
    ]
    for i, df in enumerate(corpora):
        memo.corpus_state(df, "doc_id", "text")["mark"] = i
    # The newest _MAX_STATES corpora are still held; lookups do not
    # reorder, so the first corpus is the one dropped.
    for i in range(1, len(corpora)):
        assert memo.corpus_state(corpora[i], "doc_id", "text").get("mark") == i
    assert "mark" not in memo.corpus_state(corpora[0], "doc_id", "text")


def test_graph_bpe_and_retrieval_share_one_documents_state(spark, sf_smoke):
    from real_time_streaming_system_with_apache_kafka_spark.functions import memo

    before = set(memo._STATES)
    dedup._dup_edges(spark, sf_smoke)
    text.vocab_bpe_learn_merges(spark, sf_smoke)
    retrieval.search_bm25_topk(spark, sf_smoke)
    added = [k for k in memo._STATES if k not in before]
    assert len(added) <= 1, added
    st = memo.corpus_state(load(spark, "documents", sf_smoke), "doc_id", "text")
    assert {
        "edges",
        ("bpe_merges", text.BPE_MERGE_ROUNDS),
        "w_total",
        "probe_df",
    } <= set(st)
