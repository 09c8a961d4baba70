"""Streaming-executed queries in the correctness gate.

These run a real Structured Streaming query (availableNow trigger over
the same parquet, memory sink) and return the materialized result —
so the DuckDB oracle validates results computed BY the streaming
engine, not just batch twins.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import minhash_band_rows
from ..streaming import await_or_raise
from . import query


@query(
    "tumbling_event_counts",
    oracle="""
    SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_ms,
           event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch spelling of the ST6 tumbling window (same F.window operator
    the streaming path uses); oracle via DuckDB time_bucket."""
    from ..tables import load

    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_millis(F.col("win.start").cast("timestamp")).alias(
                "window_start_ms"
            ),
            "event_type",
            "cnt",
            "total_value",
        )
    )


@query(
    "sliding_event_counts",
    oracle="""
    SELECT window_start_ms, event_type, count(*) AS cnt
    FROM (
      SELECT epoch_ms(time_bucket(INTERVAL 5 MINUTE, ts)
                      - (k * INTERVAL 5 MINUTE)) AS window_start_ms,
             event_type
      FROM events, unnest([0, 1]) AS t(k)
    )
    GROUP BY 1, 2
    """,
)
def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min windows sliding every 5 min (each event lands in exactly 2
    windows); oracle derives the same membership from shifted
    time_buckets."""
    from ..tables import load

    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "10 minutes", "5 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_millis(F.col("win.start").cast("timestamp")).alias("window_start_ms"),
            "event_type",
            "cnt",
        )
    )


@query(
    "props_map_profile",
    oracle="""
    SELECT event_id,
           array_to_string(json_keys(props), ',') AS keys_csv,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k_regex
    FROM events
    """,
)
def props_map_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access three ways: JSON→MapType, JSON path, and
    raw regex extraction — all agreeing on the same payload."""
    from ..tables import load

    ev = load(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.element_at(m, "k").alias("k_val"),
        F.regexp_extract(F.col("props"), '"k":\\s*(\\d+)', 1).cast("bigint").alias(
            "k_regex"
        ),
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet (file source needs a directory;
    pathGlobFilter scopes it). The stream schema must match the actual
    on-disk ts encoding — a user-declared `ts long` over a timestamp[us]
    column silently reads NULLs — so take it from a batch footer read,
    then normalize to the same `ts`/`ts_ns` contract as the batch table.
    """
    from ..tables import _read_events_raw, normalize_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = _read_events_raw(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events(stream)


def _run_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    name = f"stream_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300)
    return df.sparkSession.table(name)


@query(
    "streamed_event_type_counts",
    oracle="SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
)
def streamed_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_type histogram computed through readStream + complete-mode
    aggregation (the streaming twin of event_type_counts)."""
    stream = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _run_to_memory(stream, "complete")


# Watermarked append-mode window aggregation: only windows the watermark
# has closed are emitted — the last windows (within the delay of the max
# event time) are withheld, exactly as a live pipeline would withhold
# them awaiting late data. The oracle applies the same closure rule.
_WM_DELAY_MIN = 30
_WM_WINDOW = "1 hour"


@query(
    "streamed_windowed_counts",
    oracle=f"""
    WITH t AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start, event_type
      FROM events
    ),
    wm AS (SELECT max(epoch_us(ts)) - {_WM_DELAY_MIN * 60 * 1000000} AS cutoff_us
           FROM events)
    SELECT epoch_ms(w_start) AS window_start_ms, event_type, count(*) AS cnt
    FROM t, wm
    WHERE epoch_us(w_start) + 3600000000 <= wm.cutoff_us
    GROUP BY 1, 2
    """,
)
def streamed_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows through the REAL streaming engine with a
    30-min watermark in append mode: emitted rows are exactly the
    windows whose end ≤ watermark (max event time − delay)."""
    ev = _events_stream(spark, sf_dir).withColumn("ts_event", F.col("ts"))
    agg = (
        ev.withWatermark("ts_event", f"{_WM_DELAY_MIN} minutes")
        .groupBy(F.window(F.col("ts_event"), _WM_WINDOW).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_millis(F.col("win.start").cast("timestamp")).alias(
                "window_start_ms"
            ),
            "event_type",
            "cnt",
        )
    )
    return _run_to_memory(agg, "append")


@query(
    "streamed_distinct_users",
    oracle="SELECT count(DISTINCT user_id) AS n_users FROM events",
)
def streamed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup (dropDuplicates on the key) feeding a
    global count — ST5's duplicate suppression run by the engine's
    state store rather than the ingestion gate."""
    ev = _events_stream(spark, sf_dir)
    counted = (
        ev.select("user_id")
        .dropDuplicates(["user_id"])
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    return _run_to_memory(counted, "complete")


@query(
    "streamed_purchase_attribution",
    oracle=f"""
    SELECT c.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
          WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND p.us >= c.us
     AND p.us <= c.us + {_WM_DELAY_MIN * 60 * 1000000}
    """,
)
def streamed_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join with event-time bounds: every purchase
    matched to every click by the same user in the preceding 30 min,
    both sides watermarked (bounded state). availableNow over one file
    = no late data, so the emitted set is the exact interval join the
    oracle computes."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", f"{_WM_DELAY_MIN} minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{_WM_DELAY_MIN} minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {_WM_DELAY_MIN} MINUTES")
        ),
    ).select("user_id", "purchase_id", "click_id")
    return _run_to_memory(joined, "append")


# Stream-stream LEFT OUTER join: matched (click, purchase) pairs emit
# like the inner join; a click with NO purchase in its 30-min window is
# emitted null-extended only once the engine can PROVE no match can
# arrive — i.e. its join window closed before the final global
# watermark (min over both streams of max event time, minus the
# delay). The oracle replicates that closure rule; clicks whose window
# is still open at end-of-stream are withheld, exactly as a live
# pipeline would withhold them.
@query(
    "streamed_click_attribution_outer",
    oracle=f"""
    WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
               WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
               WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(us) FROM c), (SELECT max(us) FROM p))
                       - {_WM_DELAY_MIN * 60 * 1000000} AS w)
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM c JOIN p
      ON p.user_id = c.user_id
     AND p.us >= c.us AND p.us <= c.us + {_WM_DELAY_MIN * 60 * 1000000}
    UNION ALL
    SELECT c.user_id, c.event_id AS click_id, NULL AS purchase_id
    FROM c, wm
    WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = c.user_id
              AND p.us >= c.us AND p.us <= c.us + {_WM_DELAY_MIN * 60 * 1000000})
      AND c.us + {_WM_DELAY_MIN * 60 * 1000000} < wm.w
    """,
)
def streamed_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream left outer join through the real
    engine: clicks keep their state until the watermark passes their
    match window, then emit null-extended if still unmatched (bounded
    state — the production spelling of 'which clicks never converted')."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", f"{_WM_DELAY_MIN} minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{_WM_DELAY_MIN} minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {_WM_DELAY_MIN} MINUTES")
        ),
        "leftOuter",
    ).select("user_id", "click_id", "purchase_id")
    return _run_to_memory(joined, "append")


# Stream-stream FULL OUTER join — completes the streaming join matrix
# (inner / left / full): both sides' state evicts on the watermark,
# emitting null-extended rows for clicks that never converted AND
# purchases with no preceding click. Closure rules (engine-calibrated
# at sf0.001 and sf0.01): a click closes when W passes the END of its
# match window (click_ts + 30min); a purchase closes when W passes its
# OWN event time (the engine derives purchase_ts ≥ click_ts from the
# join condition, so nothing can match it once W > purchase_ts).
@query(
    "streamed_attribution_full_outer",
    oracle=f"""
    WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
               WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
               WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(us) FROM c), (SELECT max(us) FROM p))
                       - {_WM_DELAY_MIN * 60 * 1000000} AS w)
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM c JOIN p
      ON p.user_id = c.user_id
     AND p.us >= c.us AND p.us <= c.us + {_WM_DELAY_MIN * 60 * 1000000}
    UNION ALL
    SELECT c.user_id, c.event_id, NULL
    FROM c, wm
    WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = c.user_id
              AND p.us >= c.us AND p.us <= c.us + {_WM_DELAY_MIN * 60 * 1000000})
      AND c.us + {_WM_DELAY_MIN * 60 * 1000000} < wm.w
    UNION ALL
    SELECT p.user_id, NULL, p.event_id
    FROM p, wm
    WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = p.user_id
              AND p.us >= c.us AND p.us <= c.us + {_WM_DELAY_MIN * 60 * 1000000})
      AND p.us < wm.w
    """,
)
def streamed_attribution_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", f"{_WM_DELAY_MIN} minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{_WM_DELAY_MIN} minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {_WM_DELAY_MIN} MINUTES")
        ),
        "fullOuter",
    ).select(
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        "click_id",
        "purchase_id",
    )
    return _run_to_memory(joined, "append")


# Stream-static join: the canonical enrichment pattern — a micro-batch
# stream probes a static dimension that is broadcast into every batch
# (no state store involved; the dim re-resolves per batch, so slowly-
# refreshing lookup tables stay current). Gate-checked through the real
# streaming engine against the equivalent batch join.
@query(
    "streamed_segment_counts",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_events
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def streamed_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import load

    ev = _events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_events"))
    return _run_to_memory(agg, "complete")


# Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps a
# key's state only until the watermark passes its event time — the
# production spelling for deduping an at-least-once event feed without
# unbounded state (plain dropDuplicates retains every key forever).
# The stream is unioned with itself so every event arrives twice; the
# engine's state store must collapse the pairs exactly.
@query(
    "streamed_watermark_dedup",
    oracle="SELECT count(DISTINCT event_id) AS n_events FROM events",
)
def streamed_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    doubled = _events_stream(spark, sf_dir).unionByName(
        _events_stream(spark, sf_dir)
    )
    deduped = (
        doubled.withWatermark("ts", f"{_WM_DELAY_MIN} minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _run_to_memory(deduped, "complete")


# Streaming CEP funnel: the applyInPandasWithState spelling SCALE.md's
# funnel row promises for unbounded key spaces (operator:
# streaming/windows.funnel_snapshots; multi-batch + out-of-order
# correctness pinned in tests/test_streaming_windows.py).
@query(
    "streamed_funnel_users",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           regexp_matches(
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY epoch_us(ts), event_id),
             'v.*c.*p') AS funnel_complete
    FROM events
    GROUP BY user_id
    """,
)
def streamed_funnel_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered v->c->p funnel detection computed BY the streaming
    engine with arbitrary per-key state; the batch twin
    (conversion_funnel_users) shares the oracle. Every micro-batch
    emits a snapshot with a monotone n_events and the final answer
    keeps each user's last snapshot -- correct under ANY micro-batch
    split of the input, not just the single-batch availableNow case."""
    from ..streaming.windows import final_snapshot_per_key, funnel_snapshots

    ev = _events_stream(spark, sf_dir).select(
        "user_id", "ts_ns", "event_id", F.substring("event_type", 1, 1).alias("i")
    )
    out = _run_to_memory(funnel_snapshots(ev), "update")
    return final_snapshot_per_key(out, "user_id", "n_events")


_SG_MS = 30 * 60 * 1000  # session gap, matches relational3.SESSION_GAP_MS


# Streaming session windows in append mode: the stateful half of ST6
# pushed through the gate. The engine gap-merges per-key sessions in
# the state store and emits a session only once the watermark (max
# event time − delay) passes its end — the oracle replicates both the
# islands construction AND the closure rule, so the row set proves the
# engine's merge/eviction behavior, not just the batch twin's math.
@query(
    "streamed_session_stats",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                       >= {_SG_MS * 1000}
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    tagged AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM flagged
    ),
    s AS (
      SELECT user_id,
             epoch_us(min(ts)) // 1000 AS session_start_ms,
             epoch_us(max(ts)) // 1000 + {_SG_MS} AS session_end_ms,
             count(*) AS n_events,
             round(sum(value), 2) AS total_value
      FROM tagged GROUP BY user_id, session_no
    ),
    wm AS (
      SELECT max(epoch_us(ts)) // 1000 - {_WM_DELAY_MIN * 60 * 1000} AS cutoff_ms
      FROM events
    )
    SELECT s.user_id, s.session_start_ms, s.session_end_ms,
           s.n_events, s.total_value
    FROM s, wm
    WHERE s.session_end_ms <= wm.cutoff_ms
    """,
)
def streamed_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-merged sessions computed BY the streaming engine
    (session_window + watermark, append mode); emitted rows are the
    sessions whose end fell behind the final watermark."""
    ev = _events_stream(spark, sf_dir).withColumn("ts_event", F.col("ts"))
    agg = (
        ev.withWatermark("ts_event", f"{_WM_DELAY_MIN} minutes")
        .groupBy(
            "user_id",
            F.session_window(F.col("ts_event"), "30 minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("w.start").cast("timestamp")).alias(
                "session_start_ms"
            ),
            F.unix_millis(F.col("w.end").cast("timestamp")).alias(
                "session_end_ms"
            ),
            "n_events",
            "total_value",
        )
    )
    return _run_to_memory(agg, "append")


# --- streaming near-duplicate detection (LLM-pipeline × streaming) ---------
#
# MinHash band keys are PER-ROW expressions (min over the doc's own
# shingle hashes), so the candidate-generation half of LSH dedup runs
# STATELESS on a stream — only the tiny band-bucket aggregation carries
# state. This is how a live ingestion feed flags "this doc near-matches
# something already seen" without ever joining history row-by-row.
# The per-row form is dedup.minhash_band_rows, the same lanes and band
# combine as the batch signature path.


def _streamed_lsh_oracle() -> str:
    from .textops import _minhash_ctes

    return f"""
    WITH {_minhash_ctes()}
    SELECT band, band_key,
           count(*) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS doc_ids_csv
    FROM bands
    GROUP BY band, band_key
    HAVING count(*) >= 2
    """


@query("streamed_lsh_near_dup_buckets", oracle=_streamed_lsh_oracle())
def streamed_lsh_near_dup_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate buckets computed BY the streaming engine:
    per-row MinHash band keys (stateless map over the document stream)
    feeding a complete-mode band-bucket aggregation — state is one row
    per occupied bucket, never a pairwise term. Buckets holding ≥2 docs
    are the LSH candidate groups a live dedup feed would emit."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    bucketed = (
        minhash_band_rows(stream)
        .groupBy("band", "band_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("doc_ids_csv"),
        )
    )
    out = _run_to_memory(bucketed, "complete")
    return out.filter(F.col("n_docs") >= 2)


# Streamed probe of the PERSISTED dedup signature store — the live half
# of operators/sigstore.py's daily loop: new documents flow through the
# real streaming engine, compute their band keys statelessly per row,
# and probe the store as a stream-static join. NOTE the static side's
# PLAN re-executes per micro-batch, but snapshot_read resolved the
# manifest to concrete version dirs at call time — appends land in
# brand-new dirs this pinned file index never sees, so the store
# version is FIXED for the stream's lifetime (fine here: nothing
# appends during the run). For live pickup of admissions — and for the
# persisted-bloom prefilter, which a stream-static join cannot apply —
# use the foreachBatch spelling (streaming/store_probe.py, query
# `foreachbatch_incremental_dedup`). Output = Δ×store candidate pairs
# only; Δ×Δ pairs belong to the admission loop (each committed batch
# becomes store for the next), which tests/test_sigstore.py pins
# batch-side. State is one row per distinct colliding pair — bounded
# by matches, never corpus-sized.
def _streamed_probe_oracle() -> str:
    from .textops import _minhash_oracle

    return _minhash_oracle(delta_pred="{id} % 4 = 0", cross_only=True)


@query("streamed_incremental_dedup", oracle=_streamed_probe_oracle())
def streamed_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.sigstore import signature_store_init
    from ..operators.snapshots import snapshot_read
    from ..tables import load

    docs = load(spark, sf_dir, "documents")
    # pid-scoped path: a concurrent gate replica must not rmtree a
    # store this process's running stream still references
    table = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "doc_signatures_stream",
    )
    shutil.rmtree(table, ignore_errors=True)
    delta_flag = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    signature_store_init(docs.filter(~delta_flag), table)
    store = snapshot_read(spark, table).select(
        F.col("doc_id").alias("_sid"), "band", "band_key"
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(delta_flag)
    )
    probes = (
        minhash_band_rows(stream)
        .join(store, ["band", "band_key"])
        .groupBy(
            F.least("doc_id", "_sid").alias("id_a"),
            F.greatest("doc_id", "_sid").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("_n_band_hits"))
    )
    out = _run_to_memory(probes, "complete")
    return out.select("id_a", "id_b")


@query(
    "foreachbatch_incremental_dedup",
    oracle=_streamed_probe_oracle(),
    bench=True,
)
def foreachbatch_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HIGH-FREQUENCY spelling of the streamed store probe
    (VERDICT r9 ask #3): each micro-batch probes the persisted store
    INSIDE foreachBatch via streaming/store_probe.py, so the persisted
    bloom + shard PartitionFilters prune apply per batch and the store
    re-resolves per batch (live pickup of admissions) — per-batch cost
    O(|Δ_batch| + collisions), independent of store size. Must emit
    exactly the pairs the stream-static spelling finds."""
    import os
    import shutil
    import tempfile

    from ..operators.sigstore import signature_store_init
    from ..streaming.store_probe import stream_store_probe
    from ..tables import load

    docs = load(spark, sf_dir, "documents")
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "doc_signatures_fb",
    )
    shutil.rmtree(base, ignore_errors=True)
    table = os.path.join(base, "store")
    delta_flag = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    signature_store_init(docs.filter(~delta_flag), table)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(delta_flag)
    )
    q = stream_store_probe(
        stream, table, os.path.join(base, "pairs"), os.path.join(base, "ckpt")
    )
    await_or_raise(q, 300)
    return (
        spark.read.parquet(os.path.join(base, "pairs"))
        .select("id_a", "id_b")
        .distinct()
    )


_CUSUM_TARGET = 500.0


# Streaming CUSUM drift monitor: the stateful changepoint shape next
# to the CEP funnel — per-user running deviation-from-target extremes
# computed BY the engine with arbitrary per-key state
# (applyInPandasWithState), correct under any micro-batch split and
# out-of-order arrival (the state log re-sorts before every fold).
# The oracle is the batch window spelling with the same fixed
# monitoring target; parity holds because both folds add the same
# doubles in the same (ts, event_id) order.
@query(
    "streamed_cusum_extremes",
    oracle=f"""
    WITH c AS (
      SELECT user_id,
             sum(value - {_CUSUM_TARGET!r}) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id
               ROWS UNBOUNDED PRECEDING
             ) AS cusum
      FROM events
    )
    SELECT user_id, count(*) AS n_events,
           round(max(cusum), 2) AS max_pos_drift,
           round(min(cusum), 2) AS max_neg_drift
    FROM c GROUP BY user_id
    """,
)
def streamed_cusum_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import cusum_snapshots, final_snapshot_per_key

    ev = _events_stream(spark, sf_dir).select(
        "user_id", "ts_ns", "event_id", "value"
    )
    # effectively-infinite disorder bound: gate parity with the
    # full-history batch oracle must NOT depend on how the source file
    # happens to split into micro-batches — with the production default
    # (10 min) an event arriving later than the watermark horizon would
    # be dropped by the engine while the oracle still folds it. The
    # bounded default stays for production monitors; the gate asks for
    # the exact fold.
    out = _run_to_memory(
        cusum_snapshots(ev, _CUSUM_TARGET, watermark_delay="3650 days"),
        "update",
    )
    last = final_snapshot_per_key(out, "user_id", "n_events")
    return last.select(
        "user_id",
        "n_events",
        F.round("max_pos_drift", 2).alias("max_pos_drift"),
        F.round("max_neg_drift", 2).alias("max_neg_drift"),
    )
