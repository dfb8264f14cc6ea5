"""Streaming CDC feed over the index sink's MOR delta log.

``IndexSink.changes`` (operators/indexsink.py) is the batch CDC read:
a bounded generation window, resolved to net changes. This module is
the unbounded variant — a Structured-Streaming file source watching
``<index>/delta/``, emitting every committed upsert/tombstone op
exactly once as it lands. It is the "re-embed / re-export
continuously" feed a 100-TB pipeline tails: downstream consumers
(embedding refresh, training-shard export, search-index mirroring)
keep up with the crawl without ever rescanning the base snapshot.

Delivery contract (mirrors the batch ``changes`` docstring): rows
carry ``(UID, op_seq, _change_type, _generation)`` plus the document
columns (NULL on tombstones — delete generations persist only the
key), and the consumer applies them to its snapshot as an LWW MERGE
on (UID, op_seq), never a set-patch — op_seq is not batch-monotone
(purge tombstones are ordered below the run's crawl rows). Because
the merge is idempotent and order-insensitive, the two benign
races of a live tail are harmless:

- a generation's files may straddle two micro-batches (the sink's
  parquet write lands part files before _SUCCESS) — the consumer
  merges each op whenever it arrives;
- a replayed micro-batch (crash between the offset log and the
  downstream commit) re-merges the same ops to the same state.

Retention caveat (same as batch time travel): ``IndexSink.compact``
folds delta generations into the base and REMOVES their directories.
Ops already processed by the stream are unaffected (the source's
offset log remembers files, not dirs), but a consumer that falls
behind a compaction loses the folded ops — size ``compact_every`` /
``compact_min_bytes`` above the slowest consumer's lag, exactly like
a Kafka/Iceberg retention window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def change_schema(spark: SparkSession, index_root: str) -> T.StructType:
    """The unified op schema of an existing sink: every column any
    committed generation carries (tombstone generations persist only
    (UID, op_seq, is_delete); document columns read as NULL there),
    plus the ``batch`` partition-directory column — forced to STRING:
    partition inference types it integer while every dir happens to be
    numeric, and the first ``batch=K_deletes`` dir would then stream
    with a NULL generation tag. Cost: one schema-merge pass over the
    log's parquet footers (a small Spark job — grows with generations
    until the next compaction); with no
    generations yet, falls back to the base snapshot's footer plus the
    log columns, so a consumer can start tailing a fresh or
    just-compacted sink."""
    delta = os.path.join(index_root, "delta")
    base_dir = os.path.join(index_root, "base")
    has_delta = any(os.scandir(delta)) if os.path.isdir(delta) else False
    if has_delta:
        # mergeSchema: default inference reads ONE footer — a tombstone
        # generation's (UID, op_seq, is_delete) would mask the doc cols
        base = (spark.read.option("mergeSchema", "true")
                .parquet(delta).schema)
    else:
        base = spark.read.parquet(base_dir).schema
    fields = [f for f in base.fields if f.name != "batch"]
    names = {f.name for f in fields}
    for extra, typ in (("op_seq", T.LongType()),
                       ("is_delete", T.BooleanType())):
        if extra not in names:
            # file-copied bases (write_base_files) lack the log columns
            fields.append(T.StructField(extra, typ))
    fields.append(T.StructField("batch", T.StringType()))
    return T.StructType(fields)


def stream_index_changes(spark: SparkSession, index_root: str,
                         schema: T.StructType | None = None) -> DataFrame:
    """Unbounded CDC source: one row per committed index op, tagged
    with ``_change_type`` ('upsert' | 'delete') and ``_generation``
    (the delta batch id). Wire to any sink via ``writeStream`` with a
    checkpoint dir; each op is emitted exactly once per checkpoint.

    ``schema`` defaults to ``change_schema`` over the sink's current
    log — pass it explicitly to pin a stable consumer schema across
    sink evolution (a streaming source cannot infer)."""
    if schema is None:
        schema = change_schema(spark, index_root)
    delta = os.path.join(index_root, "delta")
    # the log dir may not exist yet (fresh sink, or compaction just
    # folded it away) — the source needs a listable parent; creating
    # the conventional dir is what the first append would do anyway
    os.makedirs(delta, exist_ok=True)
    raw = (spark.readStream.schema(schema)
           .option("basePath", delta)
           .parquet(os.path.join(delta, "batch=*")))
    return (raw.withColumn(
                "_change_type",
                F.when(F.coalesce(F.col("is_delete"), F.lit(False)),
                       F.lit("delete")).otherwise(F.lit("upsert")))
            .withColumn(
                "_generation",
                F.regexp_extract(F.col("batch"), r"^(-?\d+)", 1)
                 .cast("long"))
            .drop("is_delete", "batch"))
