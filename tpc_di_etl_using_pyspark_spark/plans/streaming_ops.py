"""SURVEY §2.I streaming ops — batch-equivalent registry entries.

Streaming and batch share semantics for these windowed/session/dedup
transformations, so the driver's check runs the batch plan (DuckDB
oracle where expressible) while tests/test_streaming.py replays the
same events through a real file-source stream (availableNow) and
asserts stream == batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming.ops import sessionize, sliding_sums, tumbling_counts
from ._util import epoch_s, sql_epoch_floor_s, t
from .registry import op


@op(
    "stream_tumbling_count",
    """SELECT CAST(FLOOR(EPOCH(date_trunc('hour', ts))) AS BIGINT) AS ws_sec,
              event_type, COUNT(*) AS n_events
       FROM events GROUP BY 1, 2""",
)
def stream_tumbling_count(spark: SparkSession, d: str) -> DataFrame:
    """1-hour tumbling-window counts per type; streamed via availableNow replay in tests [PK: F.window]."""
    return tumbling_counts(t(spark, d, "events"))


@op(
    "stream_sliding_sum",
    # floor15 must FLOOR-divide: Spark's window() aligns pre-epoch
    # (negative-second) timestamps to the window start BELOW them,
    # while DuckDB `//` truncates toward zero — a 1969 event landed in
    # different windows per engine. The
    # mod-subtraction form is exact BIGINT floor alignment for any
    # sign.
    f"""WITH base AS (
         SELECT s - ((s % 900 + 900) % 900) AS floor15, value
         FROM (SELECT {sql_epoch_floor_s('ts')} AS s, value
               FROM events)),
       expanded AS (
         SELECT floor15 - k * 900 AS ws_sec, value
         FROM base CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))
       SELECT ws_sec,
              CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS win_value
       FROM expanded GROUP BY ws_sec""",
)
def stream_sliding_sum(spark: SparkSession, d: str) -> DataFrame:
    """1-hour window sliding 15 min, summed [PK: F.window(slide)]."""
    # Spark emits one row per (window, any-contained-event); the oracle
    # expands each event into its 4 overlapping 1h/15min windows.
    return sliding_sums(t(spark, d, "events"))


@op(
    "stream_session_window",
    f"""WITH o AS (
         SELECT user_id, ts, value,
                epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       marked AS (
         SELECT user_id, ts, value,
                CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000
                     THEN 1 ELSE 0 END AS new_sess
         FROM o),
       ids AS (
         SELECT user_id, ts, value,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
         FROM marked)
       SELECT user_id,
              {sql_epoch_floor_s('MIN(ts)')} AS sess_start_sec,
              COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sess_value
       FROM ids GROUP BY user_id, sess_id""",
)
def stream_session_window(spark: SparkSession, d: str) -> DataFrame:
    """session_window gap semantics: a new session starts only when the
    gap to the previous event STRICTLY exceeds the 30-min gap — Spark
    merges an event landing exactly on the previous window's end
    (measured: 2 events exactly 1800 s apart form ONE session; 1800 s
    + 1 µs forms two). The oracle is the classic gap-and-island
    rewrite with the matching strict `>`; the original `>=` diverged
    at the exact boundary, which no driver fixture ever produced
    (pinned in tests/test_r4_window_edges.py)."""
    return sessionize(t(spark, d, "events"), "30 minutes")


@op(
    "stream_watermark_late",
    f"""WITH m AS (
         SELECT event_id, user_id, ts, value,
                MAX(epoch_us(ts)) OVER (ORDER BY event_id
                                        ROWS UNBOUNDED PRECEDING) AS max_us
         FROM events)
       SELECT event_id, user_id, {sql_epoch_floor_s('ts')} AS ts_sec, value
       FROM m WHERE epoch_us(ts) >= max_us - 600 * 1000000""",
)
def stream_watermark_late(spark: SparkSession, d: str) -> DataFrame:
    """Watermark semantics, batch-simulated: arrival order = event_id,
    watermark = max(event time seen) − 10 min; late events are dropped.
    (Real watermark execution is exercised in tests/test_streaming.py.)

    The global arrival-order window exists only in this batch
    simulation; the streaming engine tracks the watermark in executor
    state with no global sort.
    """
    e = t(spark, d, "events")
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # events.ts is TIMESTAMP_NTZ at rest; µs-since-epoch from CALENDAR
    # FIELDS (same construction as _util.epoch_s, plus the fractional
    # second via date_part) — zone-free by construction. The previous
    # unix_micros(cast("timestamp")) form resolved the session zone
    # into the expression: its offset only cancelled in the
    # max_us − us comparison while both instants shared the SAME
    # offset, and a wall-clock value inside a DST gap shifted by the
    # gap width (see epoch_s docstring).
    ts = F.col("ts")
    days = F.datediff(ts.cast("date"), F.lit("1970-01-01").cast("date"))
    us = (
        days.cast("long") * 86_400_000_000
        + F.hour(ts).cast("long") * 3_600_000_000
        + F.minute(ts).cast("long") * 60_000_000
        + (F.date_part(F.lit("SECOND"), ts) * 1_000_000).cast("long")
    )
    return (
        e.withColumn("max_us", F.max(us).over(w))
        .filter(us >= F.col("max_us") - 600 * 1000000)
        .select(
            "event_id",
            "user_id",
            epoch_s("ts").alias("ts_sec"),
            "value",
        )
    )


@op(
    "stream_dedup_state",
    """SELECT user_id, event_type, event_id AS first_event_id FROM (
         SELECT user_id, event_type, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY event_id) AS rn
         FROM events) WHERE rn = 1""",
)
def stream_dedup_state(spark: SparkSession, d: str) -> DataFrame:
    """First-arrival-wins keyed dedup — the batch-deterministic analog
    of dropDuplicatesWithinWatermark (stateful variant tested in
    tests/test_streaming.py)."""
    e = t(spark, d, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


@op(
    "stream_foreachbatch_upsert",
    f"""SELECT user_id, event_type, event_id, value FROM (
         SELECT user_id, event_type, event_id, value,
                ROW_NUMBER() OVER (
                  PARTITION BY user_id, event_type
                  ORDER BY event_id % 2 DESC,
                           {sql_epoch_floor_s('ts')} DESC, event_id DESC) AS rn
         FROM events) WHERE rn = 1""",
)
def stream_foreachbatch_upsert(spark: SparkSession, d: str) -> DataFrame:
    """Micro-batch CDC upsert final state [SPEC: incremental updates]:
    batch 1 = even event_ids, batch 2 = odd; later batches take
    precedence, latest (ts, event_id) wins within a batch. The real
    foreachBatch merge loop is exercised in tests/test_streaming.py;
    this is the declarative equivalent of its final state.
    """
    e = t(spark, d, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        (F.col("event_id") % 2).desc(),
        epoch_s("ts").desc(),
        F.col("event_id").desc(),
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


@op(
    "stream_stateful_totals",
    """SELECT user_id, COUNT(*) AS n_events,
              CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS total_micro
       FROM events GROUP BY user_id""",
)
def stream_stateful_totals(spark: SparkSession, d: str) -> DataFrame:
    """Batch-deterministic analog of the applyInPandasWithState custom
    stateful aggregate (streaming/ops.py stateful_user_totals; real
    stateful execution exercised in tests/test_streaming.py): per-user
    cumulative count + integer-micro value total."""
    e = t(spark, d, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 1_000_000).cast("long")).alias("total_micro"),
    )


@op(
    "stream_stream_join",
    f"""WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts
                  FROM events WHERE event_type = 'view'),
       p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS pts
             FROM events WHERE event_type = 'purchase')
       SELECT v.view_id, p.purchase_id, v.user_id,
              {sql_epoch_floor_s('p.pts')}
                - {sql_epoch_floor_s('v.vts')} AS gap_sec
       FROM v JOIN p ON v.user_id = p.p_user
        AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 1 HOUR""",
)
def stream_stream_join(spark: SparkSession, d: str) -> DataFrame:
    """Stream-stream interval join [PK: watermarked join with a
    time-range conjunct — the range bound is what lets Spark expire
    join state]: views pair with same-user purchases in the next hour.
    The driver checks the batch-equivalent plan;
    tests/test_streaming.py replays both sides as real watermarked
    streams and asserts stream == batch."""
    from ..streaming.ops import view_purchase_interval_join

    e = t(spark, d, "events")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
    )
    return view_purchase_interval_join(views, purchases)


@op(
    "stream_transform_with_state",
    """SELECT user_id, COUNT(*) AS n_events,
              MAX(CAST(FLOOR(value * 1000000) AS BIGINT)) AS max_micro
       FROM events GROUP BY user_id""",
)
def stream_transform_with_state(spark: SparkSession, d: str) -> DataFrame:
    """Batch-deterministic analog of the transformWithStateInPandas
    custom stateful operator (streaming/ops.py
    transform_with_state_maxcount; real stateful execution with typed
    ValueState + RocksDB store exercised in tests/test_streaming.py):
    per-user cumulative count + integer-micro max."""
    e = t(spark, d, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.floor(F.col("value") * 1_000_000).cast("long")).alias("max_micro"),
    )


@op(
    "stream_quality_gate",
    """WITH m AS (
         SELECT lang,
                len(string_split(lower(text), ' ')) AS n_words,
                CAST(length(text) - (len(string_split(lower(text), ' ')) - 1)
                     AS DOUBLE) / len(string_split(lower(text), ' '))
                  AS mean_wl,
                len(list_intersect(string_split(lower(text), ' '),
                                   ['the','a','of','to','and','in']))
                  AS stop_hits
         FROM documents)
       SELECT lang, COUNT(*) AS n_docs,
              CAST(SUM(CASE WHEN n_words BETWEEN 25 AND 80
                             AND mean_wl BETWEEN 4.2 AND 5.2
                             AND stop_hits >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass
       FROM m GROUP BY lang""",
)
def stream_quality_gate(spark: SparkSession, d: str) -> DataFrame:
    """Streaming corpus quality gate [EXT: the ingest-time filter of a
    crawl pipeline — documents flow through stateless named rules, only
    the per-language pass counters are stateful]: word-count bounds,
    mean word length from pure char arithmetic (no per-word shuffle —
    a stream can't re-shard mid-flight), distinct-stopword floor via
    array_intersect. tests/test_streaming.py replays documents through
    a real availableNow file stream and asserts stream == batch."""
    from ..streaming.ops import quality_gate_counts

    return quality_gate_counts(t(spark, d, "documents"))


_STREAM_INC_DEDUP_SQL = """
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS words
           FROM documents),
g AS (SELECT DISTINCT doc_id,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
      FROM (SELECT doc_id, words,
                   unnest(generate_series(1, greatest(len(words) - 2, 1))) AS i
            FROM w)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
                 COUNT(*) AS n_inter
          FROM g a JOIN g b ON a.gram = b.gram
          WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
          GROUP BY a.doc_id, b.doc_id)
SELECT new_id, corpus_id,
       CAST(ROUND(CAST(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE)
                       AS DECIMAL(25,6)), 6) AS DOUBLE) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = new_id
           JOIN sz sb ON sb.doc_id = corpus_id
WHERE n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.5
"""


@op("stream_incremental_dedup", _STREAM_INC_DEDUP_SQL)
def stream_incremental_dedup(spark: SparkSession, d: str) -> DataFrame:
    """Streaming ingest near-dup [EXT: the crawl-time operating mode —
    documents ARRIVE as a stream and each microbatch probes the
    standing corpus index, never corpus x corpus]. This registry entry
    is the batch analog over the same shared probe
    (streaming/ops.py build_corpus_index + probe_index_with_batch);
    tests/test_streaming.py replays the arriving slice (doc_id % 7 = 0)
    through a real availableNow file stream in multiple microbatches
    via foreachBatch and asserts the union of per-microbatch probes
    equals this plan. The microbatch-decomposability is the certified
    property: probe(batch1) ∪ probe(batch2) == probe(batch1 ∪ batch2)
    because candidate generation is per-new-doc and verification is
    per-pair."""
    from ..streaming.ops import build_corpus_index, probe_index_with_batch

    doc = t(spark, d, "documents")
    corpus = doc.filter(F.col("doc_id") % 7 != 0)
    arriving = doc.filter(F.col("doc_id") % 7 == 0)
    index_bk, index_sh = build_corpus_index(corpus)
    return probe_index_with_batch(index_bk, index_sh, arriving)
