"""Structured Streaming surface over the engine's batch operators.

The reference has no streaming engine, but its CLI is a pipe-based
stream processor: RS-delimited GeoJSON between processes, bounded-memory
single-pass iteration (`fiona/fio/collect.py:92-113`, ``--record-buffered``
`fio/collect.py:154-231`).  SURVEY.md section 2.9 maps that onto
Structured Streaming: ``readStream`` -> the same batch transformations
-> ``writeStream``; watermarks + tumbling windows for late data.

These helpers keep the streaming path thin: every transformation is the
SAME code the batch engine runs (``foreachBatch`` reuse), which is the
point — one operator library, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def read_feature_stream(spark, path: str, schema: str) -> DataFrame:
    """Stream a directory of parquet feature files (micro-batch source).

    The streaming analogue of `fio cat` reading a growing dataset; new
    files appearing under ``path`` become micro-batches.
    """
    return spark.readStream.schema(schema).parquet(path)


def windowed_counts(events: DataFrame, ts_col: str = "ts",
                    key_col: str = "event_type",
                    window: str = "10 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """Tumbling-window counts with a late-data watermark.

    The streaming form of the engine's window_tumbling batch query —
    aggregation state is bounded by the watermark (bounded memory, like
    the reference's --record-buffered contract but with correctness
    under out-of-order arrival).
    """
    return (events
            .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("win"), key_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"), key_col,
                    "n", "vmin", "vmax"))


def run_foreach_batch(stream_df: DataFrame, batch_fn, out_dir: str,
                      trigger_once: bool = True):
    """Drive a stream through a batch function (`foreachBatch` reuse).

    ``batch_fn(df, epoch_id) -> DataFrame`` runs the engine's batch
    operators on each micro-batch; results append under ``out_dir``.
    Returns the (stopped) query after processing available data.
    """
    def sink(df, epoch_id):
        out = batch_fn(df, epoch_id)
        out.write.mode("append").parquet(f"{out_dir}/epoch={epoch_id}")

    writer = (stream_df.writeStream.foreachBatch(sink)
              .option("checkpointLocation", f"{out_dir}/_stream_checkpoint"))
    if trigger_once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_spatial_join(images_stream: DataFrame, zones: DataFrame,
                        out_dir: str, op: str = "pip", res: int | None = None,
                        k: int = 3):
    """The FLAGSHIP spatial operators in streaming mode: each
    micro-batch of the image stream runs the exact batch
    ``pip_join``/``knn_join`` against the static zone layer via
    ``foreachBatch`` — the two-mode execution claim proven on the
    operator that matters, not just on stateless tiling.

    The zone side is batch-static, so its broadcast state (torrent
    covering/edge arrays) is rebuilt per micro-batch but never grows;
    streaming state is the file-source log only — bounded, resumable
    from ``out_dir``'s checkpoint (a restart processes exactly the
    unseen files, which is what the 2-epoch parity pytest drives).
    """
    from ..operators import spatial

    if op == "pip":
        def fn(df, _eid):
            return spatial.pip_join(df, zones, res=res)
    elif op == "knn":
        def fn(df, _eid):
            return spatial.knn_join(df, zones, k=k)
    else:
        raise ValueError(f"unknown op {op!r}")
    return run_foreach_batch(images_stream, fn, out_dir)


def session_counts(events: DataFrame, ts_col: str = "ts",
                   key_col: str = "event_type",
                   gap: str = "5 minutes",
                   watermark: str = "30 minutes") -> DataFrame:
    """SESSION-window aggregation: events of one key closer than ``gap``
    merge into one session (dynamic-length window, the classic
    user-activity sessionization).  Built on ``F.session_window`` so
    Spark's native streaming state store handles merge/expiry — state
    is bounded by the watermark.  Works identically on a batch frame
    (the batch form is what the pytest oracle replays eagerly).
    Output: (key, sess_start, sess_end, n, vsum).
    """
    return (events
            .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, watermark)
            .groupBy(key_col, F.session_window(ts_col, gap).alias("sw"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("vsum"))
            .select(key_col, F.col("sw.start").alias("sess_start"),
                    F.col("sw.end").alias("sess_end"), "n", "vsum"))
