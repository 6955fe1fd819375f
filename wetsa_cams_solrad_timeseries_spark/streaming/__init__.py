"""Structured Streaming twins of the batch window operators.

Every operator here is source-agnostic: the transformations (windowed
aggregates, keyed state updates, session state machines) are built
against a streaming DataFrame and don't care whether it came from the
file-replay source the verification harness uses or a real broker.

Swapping the verification file source for Kafka is the standard
substitution (no operator changes):

    stream = (spark.readStream.format("kafka")
              .option("kafka.bootstrap.servers", servers)
              .option("subscribe", topic)
              .option("startingOffsets", "earliest").load()
              .select(F.from_json(F.col("value").cast("string"),
                                  schema).alias("v"))
              .select("v.*"))

plus a durable sink (`writeStream.format("parquet")` /
`foreachBatch`) with `checkpointLocation` set — every query here drains
through `_drain.run_drain` (disposable checkpoints, drain to exhaustion,
stop), which is harness-only. State semantics (watermarks,
EventTimeTimeout expiry) carry over unchanged; the state-store sizing is
`run_drain`'s lowered shuffle-partition conf, which production replaces
with partitions sized to key cardinality. `maxOffsetsPerTrigger`
replaces `maxFilesPerTrigger` for backfill pacing.
"""
