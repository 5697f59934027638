"""Streaming operators + batch/stream-shared transformations.

Design: every windowed/sessionized/dedup transformation is written once
as a function over a DataFrame — Structured Streaming and batch share
the same semantics for these, so the driver's queries run the batch
plan while tests replay the events table through a real file-source
stream (``availableNow`` trigger → memory sink) and assert the results
are identical (SURVEY §5.2.4).

The TPC-DI incremental-update analog is ``foreach_batch_upsert``:
micro-batch CDC upsert via ``writeStream.foreachBatch`` [SPEC:
incremental update phases → latest CDC record wins].
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans._util import epoch_s

# ---- shared transformations (valid on batch & streaming inputs) ----------


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Per-type event counts in 1-hour tumbling windows."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("win.start").alias("ws_sec"),
            "event_type",
            "n_events",
        )
    )


def sliding_sums(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 min, exact value sums."""
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("win_value"))
        .select(F.unix_timestamp("win.start").alias("ws_sec"), "win_value")
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows with the given inactivity gap."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sess_value"),
        )
        .select(
            "user_id",
            epoch_s("sess.start").alias("sess_start_sec"),
            "n_events",
            "sess_value",
        )
    )


# ---- streaming execution harness ----------------------------------------


def prepare_replay_dir(spark: SparkSession, events: DataFrame, base: str | None = None) -> str:
    """Materialize an events DataFrame as a parquet dir a file-source
    stream can replay (µs timestamps — streaming can't read the raw
    ns fixture)."""
    base = base or f"/tmp/spark_graft_stream/{uuid.uuid4().hex[:8]}"
    os.makedirs(base, exist_ok=True)
    events.write.mode("overwrite").parquet(base)
    return base


def read_event_stream(spark: SparkSession, replay_dir: str, with_watermark: str | None = None) -> DataFrame:
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(replay_dir)
    )
    if with_watermark:
        sdf = sdf.withWatermark("ts", with_watermark)
    return sdf


def run_available_now(sdf: DataFrame, name: str | None = None, mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink; return the final result table."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark_session = sdf.sparkSession
    return spark_session.table(name)


def stream_dedup_within_watermark(sdf: DataFrame) -> DataFrame:
    """Stateful dedup on (user_id, event_type) bounded by the watermark
    — the streaming analog of first-arrival-wins."""
    return sdf.dropDuplicatesWithinWatermark(["user_id", "event_type"])


def foreach_batch_upsert(
    spark: SparkSession,
    batches: list[DataFrame],
    key_cols: list[str],
    order_cols: list,
    target_path: str,
) -> DataFrame:
    """TPC-DI incremental-update analog: apply each micro-batch as an
    upsert into the target (latest record per key wins, later batches
    take precedence) [SPEC: CDC apply semantics].

    Implemented the way a ``foreachBatch(merge_fn)`` sink would: read
    current target, unionByName the batch with a batch sequence number,
    keep row_number()=1 per key ordered by (batch_seq desc, order desc),
    rewrite. At warehouse scale this is Delta/Iceberg MERGE; on plain
    parquet it's read-union-dedup-write per micro-batch.
    """
    first = True
    for seq, b in enumerate(batches):
        incoming = b.withColumn("_batch_seq", F.lit(seq))
        if first:
            merged = incoming
            first = False
        else:
            current = spark.read.parquet(target_path)
            merged = current.unionByName(incoming)
        w = Window.partitionBy(*key_cols).orderBy(
            F.col("_batch_seq").desc(), *[c.desc() for c in order_cols]
        )
        result = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # write to a tmp dir then move: plain-parquet upsert can't
        # overwrite its own input mid-read
        tmp = target_path + "_tmp"
        result.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(target_path)
    return spark.read.parquet(target_path).drop("_batch_seq")


STATEFUL_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_micro bigint"
_STATEFUL_TOTALS_STATE = "n bigint, total bigint"


def stateful_user_totals(sdf: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    cumulative event count + value total carried in explicit group
    state across micro-batches, one updated row emitted per user per
    batch. Value totals accumulate as integer micro-units
    (floor(value·1e6)) so the arithmetic is order-exact and matches the
    batch/DuckDB analog bit-for-bit.

    State is two bigints per user — bounded, partition-local,
    checkpointable; this is the scale-safe shape for custom streaming
    aggregates Spark's built-ins can't express.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        n, tot = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            tot += int(np.floor(pdf["value"].to_numpy() * 1_000_000).astype("int64").sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_micro": [tot]}
        )

    return sdf.groupBy("user_id").applyInPandasWithState(
        fn,
        STATEFUL_TOTALS_SCHEMA,
        _STATEFUL_TOTALS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def view_purchase_interval_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: each view pairs
    with the same user's purchases within the following hour. On
    streams both sides must be watermarked so the join state is
    bounded; the time-range conjunct is what lets Spark expire state.
    Expects views(view_id, user_id, vts) and
    purchases(purchase_id, p_user, pts)."""
    cond = (
        (views["user_id"] == purchases["p_user"])
        & (purchases["pts"] >= views["vts"])
        & (purchases["pts"] <= views["vts"] + F.expr("INTERVAL 1 HOUR"))
    )
    return views.join(purchases, cond).select(
        "view_id",
        "purchase_id",
        "user_id",
        (epoch_s("pts") - epoch_s("vts")).alias("gap_sec"),
    )


TWS_MAXCOUNT_SCHEMA = "user_id bigint, n_events bigint, max_micro bigint"


def transform_with_state_maxcount(sdf: DataFrame) -> DataFrame:
    """Custom stateful operator via ``transformWithStateInPandas``
    (Spark 4, SPARK-49564 — the successor API to applyInPandasWithState):
    per-user cumulative event count + max value, carried in a typed
    ``ValueState`` across micro-batches, one updated row per user per
    batch. Values accumulate as integer micro-units (floor(value*1e6))
    so the arithmetic is order-exact and matches the batch analog
    bit-for-bit.

    Compared with applyInPandasWithState, the handle API gives typed
    value/list/map state cells and timers; state stays partition-local
    and RocksDB-backed — the scale-safe shape for custom streaming
    aggregates. Requires the RocksDB state store provider, plus
    google.protobuf at runtime for the TWS state-server protocol
    (absent in this container, so the execution test skips there; the
    batch-deterministic analog
    plans/streaming_ops.stream_transform_with_state is driver-certified
    regardless).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MaxCountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n bigint, mx bigint")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ARG002
            n, mx = self._agg.get() if self._agg.exists() else (0, None)
            for pdf in rows:
                n += len(pdf)
                m = int(
                    np.floor(pdf["value"].to_numpy() * 1_000_000)
                    .astype("int64")
                    .max()
                )
                mx = m if mx is None else max(mx, m)
            self._agg.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_micro": [mx]}
            )

        def close(self) -> None:
            pass

    return sdf.groupBy("user_id").transformWithStateInPandas(
        MaxCountProcessor(), TWS_MAXCOUNT_SCHEMA, "Update", "None"
    )


def read_document_stream(spark: SparkSession, replay_dir: str) -> DataFrame:
    """File-source stream over a documents-shaped parquet dir."""
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(replay_dir)
    )


def quality_gate_counts(docs: DataFrame) -> DataFrame:
    """Per-language quality-gate pass counts — valid on batch AND
    streaming inputs (stateless per-doc rules + one aggregation, so
    availableNow replay must equal the batch plan).

    The rules are computed WITHOUT a per-word shuffle (a streaming
    gate must stay map-side until the final agg): word count from the
    split array's size, mean word length as (chars - spaces) / words
    — integer arithmetic on builtin length(), no HOF — and the
    stopword floor via a bounded array_intersect against a 6-word
    broadcast-literal array (array_intersect over a <=100-token array
    is whole-stage-codegen, not a Python path).
    """
    words = F.split(F.lower("text"), " ")
    n_words = F.size(words)
    mean_wl = (
        (F.length("text") - (n_words - F.lit(1))).cast("double") / n_words
    )
    stop_hits = F.size(
        F.array_intersect(
            words, F.array(*[F.lit(w) for w in ("the", "a", "of", "to", "and", "in")])
        )
    )
    passes = (
        n_words.between(25, 80)
        & mean_wl.between(4.2, 5.2)
        & (stop_hits >= 2)
    )
    return (
        docs.select("lang", passes.alias("p"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("p"), 1).otherwise(0)).alias("n_pass"),
        )
    )


def build_corpus_index(corpus_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The standing near-dup index at rest: (capped band keys, shingle
    sets) for the corpus side. In production both are written once,
    partitioned by band, and probed by every arriving batch; here they
    are returned as DataFrames the caller should cache/checkpoint.
    The occupancy cap (200) is applied at BUILD time — a boilerplate
    band bucket with k corpus members would multiply every probing
    batch row that lands in it by k."""
    from ..llm.minhash import band_keys, cap_buckets, minhash_signature, shingles

    # the shingle relation feeds BOTH the signature pass and the later
    # verify join — cache() (lazy) reuses the one computation, the
    # measured pattern from pipeline_incremental_dedup (localCheckpoint
    # was tried and lost: eager materialization of the corpus-wide
    # relation costs more than it saves per invocation)
    sh = shingles(corpus_docs, "doc_id", "text", 3).cache()
    bk = band_keys(minhash_signature(sh, "doc_id", 32), "doc_id", 32, 8)
    # min_size=1: a new doc must still match a corpus bucket of one
    capped = cap_buckets(bk, ["band_idx", "band_key"], 200).select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_key"
    )
    return capped, sh


def probe_index_with_batch(
    index_bk: DataFrame, index_sh: DataFrame, batch_docs: DataFrame
) -> DataFrame:
    """Probe the standing index with an arriving batch: the batch
    computes ONLY its own signatures/band keys and joins the index's
    band buckets — new × bucket-mates, never corpus × corpus. Exact
    Jaccard (>= 0.5) verification on candidates only. Valid on any
    batch slice, so a streaming foreachBatch can call it per
    microbatch and the union of outputs equals one big-batch call
    (asserted in tests/test_streaming.py)."""
    from ..llm.minhash import band_keys, jaccard_verify, minhash_signature, shingles

    sh_new = shingles(batch_docs, "doc_id", "text", 3).cache()
    nb = band_keys(minhash_signature(sh_new, "doc_id", 32), "doc_id", 32, 8).select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_key"
    )
    cand = (
        nb.join(index_bk, ["band_idx", "band_key"])
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    sh_all = sh_new.unionByName(index_sh)
    return jaccard_verify(cand, sh_all, "doc_id", 0.5).select(
        F.col("doc_a").alias("new_id"),
        F.col("doc_b").alias("corpus_id"),
        F.round(F.col("jaccard").cast("decimal(25,6)"), 6)
        .cast("double")
        .alias("jaccard"),
    )
