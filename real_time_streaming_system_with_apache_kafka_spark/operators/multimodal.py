"""Multimodal column plumbing (north-star extension).

Pattern for image/audio/video at 100 TB: the payload is an opaque
``binary`` column with typed metadata beside it; decode / feature
extraction / frame sampling run as Arrow-batched pandas UDFs
(``mapInPandas`` / ``pandas_udf``) so bytes cross the JVM<->Python
boundary in columnar batches, never row-at-a-time.

The actual media codecs are NOT in this container, so the decode step
is a clearly-marked deterministic stub (``_decode_stub``) — everything
around it (schema, binary encoding, Arrow batch iteration, partition-
parallel UDF execution, metadata extraction) is the real production
plumbing and is oracle-checked: the stub's outputs are pure functions
of the bytes (length, sha256, derived pseudo-dimensions) that DuckDB
can recompute in SQL.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, sha256_prefix string, "
    "pseudo_width long, pseudo_height long, n_frames long"
)


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Model a media table: utf-8 bytes of the text stand in for the
    image/audio payload; real pipelines read the bytes from object
    storage with exactly this schema."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("image/fake").alias("mime_type"),
    )


def _decode_stub(payload: bytes) -> dict:
    """STUB for the media decoder (no codec libs in this container).

    A real implementation would ``PIL.Image.open``/``av.open`` here and
    raise NotImplementedError on unsupported codecs. The stub derives
    deterministic metadata from the bytes so the full pipeline is
    testable end-to-end.
    """
    n = len(payload)
    return {
        "n_bytes": n,
        "sha256_prefix": hashlib.sha256(payload).hexdigest()[:16],
        "pseudo_width": n % 640,
        "pseudo_height": (n * 7) % 480,
        "n_frames": n % 24 + 1,
    }


def make_decode_batches():
    """Build the mapInPandas kernel as a self-contained closure.

    Python UDF workers unpickle the kernel by value; referencing
    module-level names would require this package on every worker's
    PYTHONPATH (not true when an external driver hosts the session), so
    the kernel closes over only stdlib/pandas.
    """

    def decode_stub(payload: bytes) -> dict:
        import hashlib as _hashlib

        n = len(payload)
        return {
            "n_bytes": n,
            "sha256_prefix": _hashlib.sha256(payload).hexdigest()[:16],
            "pseudo_width": n % 640,
            "pseudo_height": (n * 7) % 480,
            "n_frames": n % 24 + 1,
        }

    def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in it:
            meta = pdf["payload"].map(decode_stub)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": meta.map(lambda m: m["n_bytes"]),
                    "sha256_prefix": meta.map(lambda m: m["sha256_prefix"]),
                    "pseudo_width": meta.map(lambda m: m["pseudo_width"]),
                    "pseudo_height": meta.map(lambda m: m["pseudo_height"]),
                    "n_frames": meta.map(lambda m: m["n_frames"]),
                }
            )

    return decode_batches


def mm_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads -> decoded metadata via Arrow-batched
    ``mapInPandas`` (the decode itself is the stub above; the plumbing
    — binary column, batch iterator, schema, parallelism — is real)."""
    # Spread Arrow batches across workers regardless of file layout —
    # decode is the expensive step, not the scan.
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    return with_binary_payload(docs).mapInPandas(make_decode_batches(), DECODE_SCHEMA)


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one row per sampled frame index (every 6th frame
    of ``n_frames``) — the explode pattern a video pipeline uses to fan
    decoded frames out to per-frame feature extraction."""
    meta = mm_decode_metadata(spark, sf_dir)
    return meta.select(
        "doc_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(6))
        ).alias("frame_idx"),
    )


FEATURE_SCHEMA = (
    "n_bytes double, byte_sum_997 double, first_byte double, "
    "last_byte double, distinct_ratio double"
)


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload feature extraction via a scalar pandas UDF (Arrow
    vectorized): deterministic byte statistics standing in for a model
    embedding — same signature a real encoder UDF would have.

    The UDF returns a STRUCT of five named double features (not
    ``array<double>``): the r7 driver window proved an array column is
    un-canonicalizable by a pandas-based hasher (``sort_values`` dies
    on the unhashable ndarray), and named scalar columns are both
    hashable and DuckDB-oracle-able. A real encoder with a wide vector
    output would posexplode to (doc_id, feature_idx, value) rows for
    the same reason.
    """
    docs = load(spark, "documents", sf_dir)

    @F.pandas_udf(FEATURE_SCHEMA)
    def byte_features(payload: pd.Series) -> pd.DataFrame:
        def feats(b: bytes) -> tuple[float, float, float, float, float]:
            n = len(b) or 1
            return (
                float(len(b)),
                float(sum(b) % 997) / 997.0,
                float(b[0] if b else 0) / 255.0,
                float(b[-1] if b else 0) / 255.0,
                float(len(set(b))) / n,
            )

        return pd.DataFrame(
            payload.map(feats).tolist(),
            columns=[
                "n_bytes",
                "byte_sum_997",
                "first_byte",
                "last_byte",
                "distinct_ratio",
            ],
            index=payload.index,
        )

    return (
        with_binary_payload(docs)
        .select("doc_id", byte_features(F.col("payload")).alias("f"))
        .select("doc_id", "f.*")
    )


PH_BITS = 64  # perceptual-hash width (production pHash width)
PH_BANDS = 2  # pigeonhole bands: full recall for hamming <= PH_BANDS-1
PH_HAMMING = 1  # near-duplicate threshold (radius; bands = radius+1)


def make_phash_batches():
    """Arrow-batched perceptual-hash kernel (self-contained closure,
    same worker-pickling rule as make_decode_batches). The STUB hash is
    a 64-bit simhash over byte 3-grams of the payload — a pure,
    similarity-preserving function of the bytes that DuckDB can
    recompute; a real implementation would DCT the decoded pixels
    here. Bit b of the hash = sign of the +-1 vote sum over grams,
    where gram g votes by bit b of int(md5(g)[:16], 16).

    Batch-vectorized end to end (the r4 kernel called Python md5 once
    per gram per doc and was 24% of the sf10 soak): 3-grams are packed
    into 24-bit ints with numpy stride arithmetic, md5 runs only once
    per DISTINCT gram in a chunk (trigram vocabulary — hundreds to
    thousands for text — vs total gram occurrences — millions), and
    the vote accumulation is a (docs x vocab) count matrix times the
    (vocab x 64) bit matrix — one BLAS matmul, exact in float64
    because every count and sum is an integer < 2^53. When the chunk
    vocabulary is too large for the count matrix (binary-ish payloads:
    up to 2^24 distinct grams), fall back to 64 per-bit
    ``np.add.reduceat`` passes over doc boundaries — bounded memory
    (one grams-length temp), never a (grams x 64) expansion. Docs are
    processed in gram-bounded chunks so every intermediate stays small
    regardless of Arrow batch size. The hash is stored as the
    signed-int64 reinterpretation of the uint64 value (LongType); band
    keys use logical shifts so they stay non-negative."""

    CHUNK_GRAMS = 1 << 20
    CM_CELLS = 1 << 24  # count-matrix budget (128 MB of int64)

    def hash_chunk(payloads: list, np_, hashlib_):
        """simhash64 for one doc chunk -> uint64 array."""
        grams = []
        short = {}
        for i, p in enumerate(payloads):
            b = np_.frombuffer(p, dtype=np_.uint8)
            if b.size < 3:
                short[i] = int(hashlib_.md5(p).hexdigest()[:16], 16)
                grams.append(np_.empty(0, dtype=np_.int64))
            else:
                grams.append(
                    (b[:-2].astype(np_.int64) << 16)
                    | (b[1:-1].astype(np_.int64) << 8)
                    | b[2:].astype(np_.int64)
                )
        counts = np_.array([g.size for g in grams], dtype=np_.int64)
        out = np_.zeros(len(payloads), dtype=np_.uint64)
        allg = (
            np_.concatenate(grams) if grams else np_.empty(0, np_.int64)
        )
        if allg.size:
            # Vocabulary via a 2^24 presence bitmap — O(grams + domain)
            # with no sort (np.unique's argsort dominated the profile).
            present = np_.zeros(1 << 24, dtype=bool)
            present[allg] = True
            uniq = np_.flatnonzero(present)
            lut = np_.zeros(1 << 24, dtype=np_.int32)
            lut[uniq] = np_.arange(uniq.size, dtype=np_.int32)
            inv = lut[allg]
            uh = np_.array(
                [
                    int(
                        hashlib_.md5(int(u).to_bytes(3, "big")).hexdigest()[:16],
                        16,
                    )
                    for u in uniq
                ],
                dtype=np_.uint64,
            )
            nz = counts > 0
            ndocs = int(nz.sum())
            cnz = counts[nz]
            if ndocs * uniq.size <= CM_CELLS:
                # Dense doc x vocab counts -> one exact BLAS matmul.
                doc_of_gram = np_.repeat(np_.arange(ndocs), cnz)
                cm = np_.bincount(
                    doc_of_gram * uniq.size + inv,
                    minlength=ndocs * uniq.size,
                ).reshape(ndocs, uniq.size)
                bits = (
                    (uh[:, None] >> np_.arange(64, dtype=np_.uint64)) & 1
                ).astype(np_.float64)
                sums = np_.rint(
                    cm.astype(np_.float64) @ bits
                ).astype(np_.int64)
            else:
                # Huge vocab: 64 per-bit segment sums, bounded temps.
                starts = np_.concatenate(
                    ([0], np_.cumsum(cnz)[:-1])
                ).astype(np_.int64)
                uh_inv = uh[inv]
                sums = np_.empty((ndocs, 64), dtype=np_.int64)
                for bit in range(64):
                    sums[:, bit] = np_.add.reduceat(
                        (
                            (uh_inv >> np_.uint64(bit)) & np_.uint64(1)
                        ).astype(np_.int64),
                        starts,
                    )
            acc = 2 * sums - cnz[:, None]
            out[nz] = (
                (acc > 0).astype(np_.uint64)
                << np_.arange(64, dtype=np_.uint64)
            ).sum(axis=1)
        for i, v in short.items():
            out[i] = v
        return out

    def phash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        for pdf in it:
            payloads = list(pdf["payload"])
            hashes = _np.empty(len(payloads), dtype=_np.uint64)
            lo = 0
            while lo < len(payloads):
                hi, budget = lo, CHUNK_GRAMS
                while hi < len(payloads) and budget > 0:
                    budget -= max(len(payloads[hi]) - 2, 1)
                    hi += 1
                hashes[lo:hi] = hash_chunk(payloads[lo:hi], _np, _hashlib)
                lo = hi
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": hashes.view(_np.int64),
                }
            )

    return phash_batches


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the binary media
    column — the production image-dedup plan end to end: (1) hash each
    payload with an Arrow-batched kernel, (2) generate candidates by
    MULTI-INDEX HAMMING blocking — split the hash into PH_BANDS bands;
    by pigeonhole, any pair within hamming PH_BANDS-1 agrees exactly on
    at least one band, so band-equality groups give FULL recall at
    threshold PH_HAMMING — and (3) verify candidates with the exact
    bit_count(xor) distance. No all-pairs comparison anywhere.

    Cross-engine exactness: the kernel is a pure function of the bytes
    (md5-vote simhash), so the DuckDB oracle rebuilds the identical
    hash from character 3-grams (the fixture payload is the utf-8 text
    — ASCII, so byte grams == character grams), proving the Arrow
    kernel against its SQL specification — the same UDF-vs-SQL parity
    discipline as mm_decode_metadata.

    Scale shape: hashing is embarrassingly parallel over Arrow
    batches; the band aggregate shuffles (band, key) pairs (4 rows per doc);
    verification touches only colliding pairs. This is dedup_simhash's
    multimodal cousin with the hamming-RADIUS (not identical-bucket)
    semantics real pHash dedup needs."""
    docs = load(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    # The hash table has ONE consumer: Spark does not reuse exchanges
    # across Python-UDF subplans (a band self-join ran the Arrow kernel
    # twice), so candidates come from one (band, key) aggregate whose
    # groups pair up in-row instead of from a self-join.
    ph = with_binary_payload(docs).mapInPandas(
        make_phash_batches(), "doc_id long, phash long"
    )
    band_width = PH_BITS // PH_BANDS
    # Logical (unsigned) shift: phash is the signed reinterpretation of
    # a uint64, so arithmetic div would go negative for high hashes.
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"shiftrightunsigned(phash, {b * band_width})"
                            f" & {(1 << band_width) - 1}"
                        ).alias("key"),
                    )
                    for b in range(PH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "phash", "bk.band", "bk.key")
    # Members of one (band, key) bucket, sorted by doc_id; each member
    # pairs with the ones after it, so doc_a < doc_b. A pair colliding
    # in several bands appears once per band: distinct folds them.
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "phash"))).alias("m"))
        .filter(F.size("m") >= 2)
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(m, (x, i) ->"
                    " transform(slice(m, i + 2, size(m)), y -> struct("
                    "x.doc_id AS doc_a, y.doc_id AS doc_b,"
                    " x.phash AS ph_a, y.phash AS ph_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(ph_a ^ ph_b)").alias("hamming"),
        )
        .filter(F.col("hamming") <= PH_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


QUERIES = {
    "mm_decode_metadata": mm_decode_metadata,
    "mm_frame_sample": mm_frame_sample,
    "mm_feature_extract": mm_feature_extract,
    "mm_phash_dedup": mm_phash_dedup,
}

ORACLES = {
    # The stub's metadata is a pure function of the payload bytes, so
    # the oracle recomputes it in SQL from the same utf-8 encoding.
    "mm_decode_metadata": """
        SELECT doc_id,
               cast(octet_length(encode(text)) AS bigint) AS n_bytes,
               substr(sha256(text), 1, 16) AS sha256_prefix,
               octet_length(encode(text)) % 640 AS pseudo_width,
               (octet_length(encode(text)) * 7) % 480 AS pseudo_height,
               octet_length(encode(text)) % 24 + 1 AS n_frames
        FROM documents
    """,
    "mm_frame_sample": """
        SELECT doc_id,
               octet_length(encode(text)) % 24 + 1 AS n_frames,
               unnest(range(0, octet_length(encode(text)) % 24 + 1, 6)) AS frame_idx
        FROM documents
    """,
    # mm_feature_extract: the stub features are pure byte statistics of
    # the utf-8 payload and the corpus is ASCII (asserted by the phash
    # oracle below), so every feature is recomputable from per-character
    # ascii() codes. Each division pairs an exactly-representable
    # integer numerator with the same double denominator on both
    # engines, so the doubles are bit-identical. The per-character CTE
    # `s` has no row for an EMPTY text (range(1,1) is empty), so the
    # join is LEFT + COALESCE and the distinct_ratio denominator is
    # greatest(n,1) — mirroring the kernel's `len(b) or 1` guard, which
    # yields the all-zero feature row (ascii('') is 0 in DuckDB, same
    # as the kernel's `b[0] if b else 0`). Current fixtures contain no
    # empty doc, but the twin must agree on any corpus.
    "mm_feature_extract": """
        WITH ch AS (
            SELECT doc_id, text,
                   unnest(range(1, length(text) + 1)) AS i
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   sum(ascii(substr(text, cast(i AS int), 1))) AS byte_sum,
                   count(DISTINCT substr(text, cast(i AS int), 1)) AS n_distinct
            FROM ch
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               cast(octet_length(encode(d.text)) AS double) AS n_bytes,
               cast(coalesce(s.byte_sum, 0) % 997 AS double) / 997.0
                   AS byte_sum_997,
               cast(ascii(substr(d.text, 1, 1)) AS double) / 255.0
                   AS first_byte,
               cast(ascii(substr(d.text, length(d.text), 1)) AS double)
                   / 255.0 AS last_byte,
               cast(coalesce(s.n_distinct, 0) AS double)
                   / cast(greatest(octet_length(encode(d.text)), 1)
                          AS double)
                   AS distinct_ratio
        FROM documents d LEFT JOIN s USING (doc_id)
    """,
    #
    # mm_phash_dedup: the fixture payload is the utf-8 text and the
    # corpus is ASCII, so byte 3-grams == character 3-grams and the
    # SQL twin rebuilds the kernel's 64-bit hash exactly. The hash is
    # carried as UBIGINT here (the kernel emits the signed-int64
    # reinterpretation; neither representation reaches the output —
    # only doc ids and the hamming distance, which agree bit-for-bit).
    # Powers of two come from a literal (bit, power) table because
    # DuckDB's `1 << 63` overflows signed bigint.
    "mm_phash_dedup": f"""
        WITH pw(b, p) AS (
            VALUES {", ".join(f"({b}, {1 << b})" for b in range(PH_BITS))}
        ),
        w AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n
            FROM documents
        ),
        ch AS (
            SELECT doc_id, text, n,
                   unnest(range(CASE WHEN n < 3 THEN 1
                                     ELSE n - 2 END)) AS i
            FROM w
        ),
        v AS (
            SELECT doc_id,
                   cast(concat('0x', substr(md5(
                       CASE WHEN n < 3 THEN text
                            ELSE substr(text, cast(i AS int) + 1, 3) END
                   ), 1, 16)) AS ubigint) AS val
            FROM ch
        ),
        bits AS (
            SELECT doc_id, pw.b,
                   sum(CASE WHEN (val // pw.p) % 2 = 1
                            THEN 1 ELSE -1 END) AS acc
            FROM v, pw
            GROUP BY doc_id, pw.b
        ),
        ph AS (
            SELECT bits.doc_id,
                   cast(sum(CASE WHEN acc > 0 THEN pw.p
                                 ELSE 0 END) AS ubigint) AS phash
            FROM bits JOIN pw ON bits.b = pw.b
            GROUP BY bits.doc_id
        ),
        bd(band, bp) AS (
            VALUES {", ".join(
                f"({b}, {1 << (b * (PH_BITS // PH_BANDS))})"
                for b in range(PH_BANDS)
            )}
        ),
        bands AS (
            SELECT doc_id, phash, band,
                   (phash // bp) % {1 << (PH_BITS // PH_BANDS)} AS key
            FROM ph, bd
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.phash AS ph_a, b.phash AS ph_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key
                 AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               cast(bit_count(xor(ph_a, ph_b)) AS int) AS hamming
        FROM cand
        WHERE bit_count(xor(ph_a, ph_b)) <= {PH_HAMMING}
        ORDER BY doc_a, doc_b
    """,
}
