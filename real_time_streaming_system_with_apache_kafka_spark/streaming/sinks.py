"""Streaming sinks (SURVEY.md SNK1/SNK2/§4.2).

The one piece Spark has no built-in for (SURVEY.md §4.2): an idempotent
keyed upsert sink with the reference's ``ON CONFLICT (trade_id) DO
NOTHING`` semantics (consumer.py:78) for stores without transactional
append. Implemented as a ``foreachBatch`` function — plain Python
driving DataFrame ops, no planner surgery.

Preferred path at scale is ``dedup_trades`` + plain append to parquet:
checkpoint + file-sink commit protocol already gives exactly-once, so
the sink needs no key reconciliation at all. The upsert sink exists for
JDBC-style targets and as semantic parity with the reference.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _is_target_absent(exc) -> bool:
    """True only for 'target does not exist yet' AnalysisExceptions
    (a parquet directory without files counts as absent: it holds no
    keys).

    A genuine schema/column mismatch on the existing-keys read must NOT
    be treated as first-batch-bootstrap — swallowing it would skip the
    anti-join and reintroduce duplicates on retries.
    """
    cls = None
    for accessor in ("getCondition", "getErrorClass"):  # 4.x name, then legacy
        if hasattr(exc, accessor):
            try:
                cls = getattr(exc, accessor)()
            except Exception:
                cls = None
            break
    if cls is not None:
        return cls in {
            "PATH_NOT_FOUND",
            "TABLE_OR_VIEW_NOT_FOUND",
            "UNABLE_TO_INFER_SCHEMA",
        }
    # Legacy/uncategorized fallback: match the message shape.
    msg = str(exc)
    return "Path does not exist" in msg or "TABLE_OR_VIEW_NOT_FOUND" in msg


def start_parquet_append(
    df: DataFrame, path: str, checkpoint: str, trigger_seconds: int | None = None
):
    """SNK1: schema-on-write parquet table with checkpointed
    exactly-once append (replaces CREATE TABLE + row inserts)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def keyed_upsert_foreach_batch(
    target_path: str, key_cols: list[str]
) -> Callable[[DataFrame, int], None]:
    """First-write-wins upsert into a parquet directory: each batch is
    de-duplicated within itself, then anti-joined against the existing
    target keys before append — the reference's ON CONFLICT DO NOTHING,
    batch-at-a-time instead of row-at-a-time.

    For very large targets, key reconciliation belongs in the streaming
    state (``dedup_trades``) where it is O(batch); this sink-side check
    re-reads only the target's key columns (column-pruned scan).

    A target that exists before the sink's first batch must carry every
    key column, or the batch fails with ``ValueError``.
    """
    checked = False  # this sink has checked or written the target

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        nonlocal checked
        spark = batch.sparkSession
        deduped = batch.dropDuplicates(key_cols)
        try:
            # Works for any filesystem URI (s3://, hdfs://, file:/ …) —
            # a driver-local os.path probe would silently skip the
            # anti-join everywhere but bare local paths. The declared
            # key schema spares a schema-inference job per batch, and
            # an empty target directory reads as no rows. But under it
            # a key missing from the target's files reads as null and
            # matches nothing, so a target this sink did not create is
            # checked once (one schema job).
            if not checked:
                names = spark.read.parquet(target_path).columns
                missing = [k for k in key_cols if k not in names]
                if missing:
                    raise ValueError(
                        f"upsert target {target_path} has no key column "
                        f"{missing}; it holds {names}"
                    )
            key_schema = StructType([batch.schema[k] for k in key_cols])
            existing = spark.read.schema(key_schema).parquet(target_path)
            deduped = deduped.join(existing, on=key_cols, how="left_anti")
        except AnalysisException as e:
            # Only the target-absent bootstrap case may skip the
            # anti-join; schema/column errors re-raise so the
            # checkpoint retries instead of appending duplicates.
            if not _is_target_absent(e):
                raise
        deduped.write.mode("append").parquet(target_path)
        checked = True

    return upsert


def jdbc_upsert_foreach_batch(
    url: str, table: str, key_cols: list[str], properties: dict | None = None
) -> Callable[[DataFrame, int], None]:
    """JDBC twin of the reference's Postgres sink (consumer.py:69-105):
    batch-level first-write-wins against the remote table — read back
    only the key columns, anti-join, append. Requires a JDBC driver jar
    on the classpath; untestable in this environment (no database), but
    the control flow is identical to the parquet upsert above.

    True ``ON CONFLICT`` pushdown would need database-specific SQL in a
    staging-table dance; prefer ``dedup_trades`` upstream so the sink
    can stay a plain append (SURVEY.md §7.2 ON CONFLICT parity note).
    """
    properties = properties or {}

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch.sparkSession
        deduped = batch.dropDuplicates(key_cols)
        try:
            existing = (
                spark.read.format("jdbc")
                .option("url", url)
                .option("dbtable", table)
                .options(**properties)
                .load()
                .select(*key_cols)
            )
            deduped = deduped.join(existing, on=key_cols, how="left_anti")
        except AnalysisException as e:
            # Table absent on first batch -> plain append. Anything
            # else (schema mismatch; transient network/auth surfaces as
            # non-AnalysisException anyway) propagates so the
            # checkpoint retries the batch instead of silently
            # appending duplicates.
            if not _is_target_absent(e):
                raise
        (
            deduped.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .options(**properties)
            .mode("append")
            .save()
        )

    return upsert


def start_memory_sink(df: DataFrame, name: str, output_mode: str = "append"):
    """Test/debug sink: in-memory table named ``name``."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def alert_console_foreach_batch(threshold_status: str = "Break") -> Callable:
    """W5 side-effect sink shape (dashboard alert banner equivalent)."""

    def alert(batch: DataFrame, epoch_id: int) -> None:
        n = batch.filter(F.col("status").contains(threshold_status)).count()
        if n:
            print(f"[ALERT epoch={epoch_id}] {n} break trades detected")

    return alert
