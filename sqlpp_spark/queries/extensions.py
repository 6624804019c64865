"""Driver-registry entries for the Structured Streaming and multimodal
extension operators (SURVEY.md §2.8 — net-new over the reference,
which has no streaming or UDF surface).

The streaming entries run a REAL readStream → watermark → window →
memory-sink pipeline to completion and return the sink contents as a
batch DataFrame, so the driver's correctness gate exercises the
streaming engine itself; the oracle is the equivalent batch SQL (a
completed bounded stream must agree with the batch computation).

Multimodal entries are oracled via CLOSED-FORM payloads (mixed-format
decode, resize, metadata-prune, integer-waveform audio: DuckDB
recomputes exact geometry, pixel means, sample energy and zero
crossings from the generating formulas). Only
``multimodal_audio_features`` (libm-sin sample synthesis, not
bit-portable across engines) remains rows-only, with the oracled
``multimodal_audio_decode_oracle`` as its exact-decode twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlpp_spark.queries import register, table

import itertools

_STREAM_SEQ = itertools.count(1)  # thread-safe under the GIL


def _unique_name(prefix: str) -> str:
    return f"{prefix}_{next(_STREAM_SEQ)}"


@register(
    "stream_tumbling_counts",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts, executed through Structured
    Streaming (file source → memory sink, run to completion). Equals
    the batch aggregation on a bounded input — which is exactly what
    the oracle checks."""
    from sqlpp_spark.streaming.events import (
        read_events_stream, run_stream_to_memory, tumbling_counts,
    )

    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    # complete mode: append would withhold windows the watermark hasn't
    # passed yet (i.e. the stream's trailing hour would be missing)
    out = run_stream_to_memory(stream, _unique_name("tumbling"), "complete")
    return out.select("window_start", "event_type", "n", "total_value")


@register(
    "stream_sliding_counts",
    oracle="""
WITH offsets AS (SELECT 0 AS k UNION ALL SELECT 1),
assigned AS (
  SELECT CAST(date_trunc('hour', ts)
              + CASE WHEN extract(minute FROM ts) >= 30
                     THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
              - k * INTERVAL 30 MINUTE
         AS TIMESTAMP) AS window_start,
         event_type
  FROM events, offsets
)
SELECT window_start, event_type, COUNT(*) AS n
FROM assigned GROUP BY 1, 2
""",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h span / 30m slide): every event counts in two
    overlapping windows. Oracle assigns each event to its two
    half-hour-aligned window starts in plain SQL."""
    from sqlpp_spark.streaming.events import (
        read_events_stream, run_stream_to_memory, sliding_counts,
    )

    stream = sliding_counts(read_events_stream(spark, sf_dir))
    out = run_stream_to_memory(stream, _unique_name("sliding"), "complete")
    return out.select("window_start", "event_type", "n")


@register(
    "stream_session_windows",
    oracle="""
WITH lagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
)
SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30m gap), FULLY emitted: the source
    appends two far-future sentinel micro-batches (flush=True) so the
    watermark closes every real session before the stream drains —
    append-mode output is then exactly the batch gaps-and-islands
    sessionization (new session when the gap STRICTLY exceeds 30m;
    session_end = last event + gap), which is the oracle."""
    from sqlpp_spark.streaming.events import (
        FLUSH_USER_ID, read_events_stream, run_stream_to_memory, session_windows,
    )

    stream = session_windows(read_events_stream(spark, sf_dir, flush=True))
    out = run_stream_to_memory(stream, _unique_name("sessions"), "append")
    return out.filter(F.col("user_id") != FLUSH_USER_ID)


@register(
    "stream_purchase_click_join",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       c.ts AS click_ts, c.value AS click_value
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
""",
)
def stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream self-join (purchases × same-user clicks in the
    preceding hour) run through Structured Streaming; inner-join
    matches on a bounded input equal the batch range join, which is
    what the oracle checks."""
    from sqlpp_spark.streaming.events import (
        purchase_click_join, read_events_stream, run_stream_to_memory,
    )

    stream = purchase_click_join(read_events_stream(spark, sf_dir))
    return run_stream_to_memory(stream, _unique_name("pcjoin"), "append")


@register(
    "stream_dedup_events",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-at-ingest: first row per (user_id, event_type)
    within the watermark horizon (dropDuplicatesWithinWatermark).
    WHICH physical row survives per key is processing-order-dependent,
    but the operator's deterministic contract — exactly one emission
    per key within the horizon (the fixture spans less than it) — is
    the key set itself, so the query projects the keys and the oracle
    is the batch DISTINCT."""
    from sqlpp_spark.streaming.events import (
        dedup_events_stream, read_events_stream, run_stream_to_memory,
    )

    stream = dedup_events_stream(read_events_stream(spark, sf_dir))
    out = run_stream_to_memory(stream, _unique_name("sdedup"), "append")
    return out.select("user_id", "event_type")


@register(
    "stream_exactly_once_sink",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(SUM(event_id) AS BIGINT) AS sum_id
FROM events
GROUP BY event_type
""",
)
def stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming file sink: events stream →
    foreachBatch with per-batch overwrite dirs + an atomically-replaced
    commit ledger (streaming/events.write_stream_exactly_once) → read
    back committed batches. n == n_distinct per type proves neither
    loss nor duplication; the oracle is the straight batch aggregate."""
    import tempfile

    from sqlpp_spark.streaming.events import (
        read_events_stream,
        read_exactly_once_output,
        write_stream_exactly_once,
    )

    base = tempfile.mkdtemp(prefix="sqlpp_e1s_")
    write_stream_exactly_once(
        read_events_stream(spark, sf_dir), f"{base}/out", f"{base}/ckpt"
    )
    return (
        read_exactly_once_output(spark, f"{base}/out")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("event_id").alias("n_distinct"),
            F.sum("event_id").alias("sum_id"),
        )
    )


@register(
    "multimodal_features",
    # three formats, one oracle: geometry per format family is a pure
    # id formula; the exact pixel mean is additionally checkable for
    # the PNG third (closed-form pixels); JPEG means are lossy and
    # SYNM means are byte-level — both NULLed symmetrically.
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents
  WHERE doc_id % 3 = 1
),
px AS (
  SELECT d.doc_id, SUM((x.i + 3 * y.i + d.doc_id) % 256) AS s,
         d.w * d.h AS n
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) y
  GROUP BY 1, 3
)
SELECT doc_id AS media_id,
       CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 13 + 9
                 ELSE doc_id % 13 + 4 END AS INT) AS width,
       CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 11 + 9
                 ELSE doc_id % 11 + 4 END AS INT) AS height,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS INT) AS channels,
       CASE WHEN doc_id % 3 = 1
            THEN (SELECT CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                  FROM px WHERE px.doc_id = documents.doc_id)
       END AS mean_png,
       CAST(1 AS BIGINT) AS decoded
FROM documents
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED mixed-format binary pipeline: one corpus carrying THREE
    payload formats (SYNM synthetic headers, real PNG, real 4:2:0
    JPEG, assigned by id mod 3) decoded in a single Arrow-batched
    mapInPandas pass — the per-payload format dispatch is the thing
    under test. All geometry is closed-form; the PNG third also
    oracles its exact pixel mean (JPEG means are lossy, SYNM means are
    byte-level — NULLed on both sides). crc32-geometry SYNM corpora
    stay covered by unit tests."""
    from sqlpp_spark.ops.multimodal import (
        decode_image, synthesize, synthesize_media,
    )

    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    synm = synthesize_media(
        d.filter(did % 3 == 0),
        width=(did % 13 + 4), height=(did % 11 + 4),
    ).select("media_id", "payload")
    png = synthesize(d.filter(did % 3 == 1), "png")
    jpg = synthesize(d.filter(did % 3 == 2), "jpeg")
    out = decode_image(synm.unionByName(png).unionByName(jpg))
    mid = F.col("media_id")
    return out.select(
        "media_id", "width", "height", "channels",
        F.when(mid % 3 == 1, F.col("mean_byte")).alias("mean_png"),
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_resize",
    # nearest-neighbor index mapping is exact integer arithmetic over
    # the closed-form pixels, so DuckDB recomputes the RESIZED image's
    # exact mean: ys[i] = min(floor((i+.5)*h/TH), h-1), same for xs,
    # pixel = (xs + 3*ys + id) mod 256 — identical to
    # ops/imagecodec.resize_array's nearest path.
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents
),
px AS (
  SELECT d.doc_id,
         SUM((least(CAST(floor((x.i + 0.5) * d.w / 16.0) AS BIGINT), d.w - 1)
              + 3 * least(CAST(floor((y.i + 0.5) * d.h / 12.0) AS BIGINT), d.h - 1)
              + d.doc_id) % 256) AS s
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, 15)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, 11)) AS i) y
  GROUP BY 1
)
SELECT doc_id AS media_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       CAST(s AS DOUBLE) / 192.0 AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED real resize: closed-form PNG payloads decode →
    nearest-resample to 16×12 → re-encode (one mapInPandas pass), then
    decode AGAIN and project the resized mean. DuckDB recomputes the
    exact post-resize pixel mean from the formula + the nearest index
    map, so a hash-green row certifies genuine pixel resampling (not
    header rewriting) through the Arrow batch path end to end."""
    from sqlpp_spark.ops.multimodal import (
        decode_image, resize_images, synthesize,
    )

    media = synthesize(table(spark, sf_dir, "documents"), "png")
    resized = resize_images(media, 16, 12, method="nearest")
    return decode_image(resized.select("media_id", "payload")).select(
        "media_id", "width", "height", "channels", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_audio_features",
    # r14: oracled via the tolerance-boolean pattern. The sine corpus
    # is the REALISTIC decode path (libm sin — DuckDB's sin can differ
    # in the last ulp, so rms/zero-crossings are not bit-portable);
    # the row carries the exact container integers plus features_ok =
    # decoded rms/zcr within closed-form physics bounds of the
    # synthesized sine. DuckDB asserts TRUE, so a decode bug (wrong
    # scaling, byte order, truncated frames) flips the row red while
    # the float features stay out of the hash. The bit-exact decode
    # oracle remains multimodal_audio_decode_oracle (formula
    # waveforms, integer energy).
    oracle="""
SELECT doc_id AS media_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(2000 AS BIGINT) AS n_samples,
       CAST(250 AS BIGINT) AS duration_ms,
       TRUE AS decoded,
       TRUE AS features_ok
FROM documents
""",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline: synthesize genuine RIFF/WAV payloads (stdlib
    wave writer, one 110+(id%880) Hz sine per doc at 8 kHz/250 ms),
    then decode real samples via Arrow-batched mapInPandas — sample
    rate, duration, RMS, zero-crossing count. ``features_ok`` checks
    the decoded features against the sine's closed form: rms within
    2% of A/sqrt(2) (A = 16000/32768; partial trailing period bounds
    the deviation well under that) and zero crossings within +-4 of
    f/2 (2f crossings/s for 0.25 s). Exact decode accuracy is pinned
    in tests/test_multimodal.py."""
    from sqlpp_spark.ops.multimodal import decode_audio, synthesize_audio

    docs = table(spark, sf_dir, "documents")
    dec = decode_audio(synthesize_audio(docs))
    freq = (F.col("media_id") % 880 + 110).cast("double")
    rms_expect = F.lit(16000.0 / 32768.0 / 2.0 ** 0.5)
    return dec.select(
        "media_id",
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.col("duration_ms").cast("bigint").alias("duration_ms"),
        F.col("decoded").cast("boolean").alias("decoded"),
        (
            (F.abs(F.col("rms") - rms_expect) <= rms_expect * 0.02)
            & (F.abs(F.col("zero_crossings") - freq / 2.0) <= F.lit(4.0))
        ).alias("features_ok"),
    )


@register(
    "multimodal_metadata_prune",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents
),
keep AS (SELECT * FROM dims WHERE w * h >= 100),
px AS (
  SELECT d.doc_id, d.w, d.h,
         SUM((x.i + 3 * y.i + d.doc_id) % 256) AS s
  FROM keep d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) y
  GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(s AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_metadata_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED metadata-only pruning BEFORE decode — the scale pattern:
    filter on cheap typed columns so the expensive binary decode only
    touches surviving rows. The metadata (closed-form geometry) prunes
    small images; only survivors' payloads run through the mapInPandas
    decode, and DuckDB recomputes the surviving set AND their exact
    pixel means, so a hash-green row checks both the prune semantics
    and that the decode really ran on exactly the pruned corpus."""
    from sqlpp_spark.ops.multimodal import decode_image, synthesize

    d = table(spark, sf_dir, "documents")
    meta = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 13 + 4).cast("int").alias("m_width"),
        (F.col("doc_id") % 11 + 4).cast("int").alias("m_height"),
    )
    pruned = meta.filter(F.col("m_width") * F.col("m_height") >= 100)
    media = synthesize(d, "png").join(
        pruned.select("media_id"), on="media_id", how="left_semi"
    )
    return decode_image(media).select(
        "media_id", "width", "height", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id, doc_id % 9000 + 500 AS dur FROM documents
)
SELECT media_id,
       CAST(f.i AS BIGINT) AS frame_idx,
       CAST(f.i * 1000 AS BIGINT) AS frame_ms
FROM m,
     LATERAL (
       SELECT unnest(generate_series(
         0, greatest(CAST(floor(dur / 1000.0) AS BIGINT) - 1, 0))) AS i
     ) f
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling PLAN (metadata-only, pre-decode): explode
    the frame indices a decoder would extract at 1 fps from each
    clip's duration — the pruning stage that keeps an actual video
    decoder from touching frames nobody asked for. Pure
    explode(sequence(...)) over typed metadata, zero Python; the
    oracle recomputes the index set from the closed-form durations."""
    from sqlpp_spark.ops.multimodal import frame_sample_indices

    d = table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 9000 + 500).cast("long").alias("duration_ms"),
    )
    return frame_sample_indices(media, every_ms=1000).select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("frame_ms").cast("bigint").alias("frame_ms"),
    )


@register(
    "multimodal_audio_decode_oracle",
    oracle="""
WITH p AS (
  SELECT doc_id, 2 * (doc_id % 997) + 1 AS a, doc_id % 251 AS b FROM documents
),
s AS (
  SELECT p.doc_id, t.i,
         ((p.a * t.i + p.b) % 65536) - 32768 AS v
  FROM p, LATERAL (SELECT unnest(generate_series(0, 159)) AS i) t
),
lagged AS (
  SELECT doc_id, v,
         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM s
),
agg AS (
  SELECT doc_id,
         SUM(v * v) AS energy,
         SUM(CASE WHEN prev IS NOT NULL AND (v < 0) <> (prev < 0)
                  THEN 1 ELSE 0 END) AS zc
  FROM lagged GROUP BY doc_id
)
SELECT doc_id AS media_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(160 AS BIGINT) AS n_samples,
       CAST(20 AS BIGINT) AS duration_ms,
       CAST(energy AS BIGINT) AS energy,
       CAST(zc AS BIGINT) AS zero_crossings,
       CAST(1 AS BIGINT) AS decoded
FROM agg
""",
)
def multimodal_audio_decode_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED real audio decode: WAV payloads whose 16-bit samples are
    a closed integer formula (((a*t+b) mod 2^16) - 2^15) decode through
    the stdlib-wave mapInPandas path; DuckDB recomputes the exact
    sample ENERGY (int64 sum of squares — the bit-portable sufficient
    statistic behind RMS) and zero-crossing count from the formula.
    A hash-green row certifies sample-level WAV decode driver-side —
    the float RMS stays off the projection because float-sum ordering
    (numpy pairwise vs SQL sequential) is not bit-portable."""
    from sqlpp_spark.ops.multimodal import decode_audio, synthesize_wave_formula

    d = table(spark, sf_dir, "documents")
    return decode_audio(synthesize_wave_formula(d)).select(
        "media_id", "sample_rate", "n_channels", "n_samples", "duration_ms",
        "energy", "zero_crossings",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_flac_decode_oracle",
    oracle="""
WITH p AS (
  SELECT doc_id, 2 * (doc_id % 997) + 1 AS a, doc_id % 251 AS b FROM documents
),
s AS (
  SELECT p.doc_id, t.i,
         ((p.a * t.i + p.b) % 65536) - 32768 AS v
  FROM p, LATERAL (SELECT unnest(generate_series(0, 159)) AS i) t
),
lagged AS (
  SELECT doc_id, v,
         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM s
),
agg AS (
  SELECT doc_id,
         SUM(v * v) AS energy,
         SUM(CASE WHEN prev IS NOT NULL AND (v < 0) <> (prev < 0)
                  THEN 1 ELSE 0 END) AS zc
  FROM lagged GROUP BY doc_id
)
SELECT doc_id AS media_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(160 AS BIGINT) AS n_samples,
       CAST(20 AS BIGINT) AS duration_ms,
       CAST(energy AS BIGINT) AS energy,
       CAST(zc AS BIGINT) AS zero_crossings,
       CAST(1 AS BIGINT) AS decoded
FROM agg
""",
)
def multimodal_flac_decode_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED FLAC FRAME decode (round-9 verdict ask #3 — the last
    tractable audio-decode boundary): payloads are real compressed
    FLAC streams (ops/flaccodec.py encode: fixed/verbatim subframes,
    Rice residuals, CRC-8/16, STREAMINFO MD5) whose 16-bit samples
    are the same closed formula as the WAV corpus; the mapInPandas
    decode path frame-decodes them and DuckDB recomputes exact sample
    ENERGY (int64 sum of squares) + zero crossings from the formula.
    A hash-green row certifies sample-level losslessness of the whole
    encode→decode chain, like multimodal_audio_decode_oracle for WAV
    and multimodal_png_decode_oracle for images."""
    from sqlpp_spark.ops.multimodal import (
        decode_audio, synthesize_flac_formula,
    )

    d = table(spark, sf_dir, "documents")
    return decode_audio(synthesize_flac_formula(d)).select(
        "media_id", "sample_rate", "n_channels", "n_samples", "duration_ms",
        "energy", "zero_crossings",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_flac_lpc_decode_oracle",
    oracle="""
WITH p AS (
  SELECT doc_id, 20 + 2 * (doc_id % 13) AS p, doc_id % 17 AS b
  FROM documents
),
s AS (
  SELECT p.doc_id, t.i,
         ABS(2 * ((t.i + p.b) % p.p) - p.p) * 400 - 8000 AS v
  FROM p, LATERAL (SELECT unnest(generate_series(0, 159)) AS i) t
),
lagged AS (
  SELECT doc_id, v,
         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM s
),
agg AS (
  SELECT doc_id,
         SUM(v * v) AS energy,
         SUM(CASE WHEN prev IS NOT NULL AND (v < 0) <> (prev < 0)
                  THEN 1 ELSE 0 END) AS zc
  FROM lagged GROUP BY doc_id
)
SELECT doc_id AS media_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(160 AS BIGINT) AS n_samples,
       CAST(20 AS BIGINT) AS duration_ms,
       CAST(energy AS BIGINT) AS energy,
       CAST(zc AS BIGINT) AS zero_crossings,
       CAST(1 AS BIGINT) AS decoded
FROM agg
""",
)
def multimodal_flac_lpc_decode_oracle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLED FLAC **LPC** decode: triangle waveforms (smooth, the
    shape linear prediction models well) encoded with force_lpc, so
    every subframe is an order-4 LPC subframe — quantized Levinson-
    Durbin coefficients, shift, integer prediction, Rice residuals —
    and the hash certifies THAT path specifically (the ramp-formula
    twin exercises fixed/verbatim). DuckDB recomputes energy + zero
    crossings from the closed triangle formula."""
    from sqlpp_spark.ops.multimodal import (
        decode_audio, synthesize_flac_formula,
    )

    d = table(spark, sf_dir, "documents")
    flac = synthesize_flac_formula(
        d, waveform="triangle", lpc_order=4, force_lpc=True
    )
    return decode_audio(flac).select(
        "media_id", "sample_rate", "n_channels", "n_samples", "duration_ms",
        "energy", "zero_crossings",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_webp_decode_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h,
         SUM(((x.i + 3 * y.i + d.doc_id) % 8) * 36) AS s
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) y
  GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(s AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_webp_decode_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED WebP (VP8L lossless) decode — closing the WebP half of
    the round-9 codec-boundary list the way FLAC closed the audio one:
    payloads are real VP8L streams (ops/webpcodec.py: canonical prefix
    codes, LZ77 + distance plane codes, color cache, and all FOUR
    transforms) whose pixels are the closed formula
    ((x + 3y + id) mod 8) * 36. The encoder configuration rotates by
    id mod 6 across plain/subtract-green/packed-palette/predictor/
    color-transform/meta-prefix streams, yet every variant must decode
    to the identical formula — so this ONE hash-green row certifies
    every inverse-transform path, the cache, and the huffman machinery
    end to end against DuckDB's recomputation from the formula alone.

    r19 opt (guide §4.1/§4.3): synth+decode run FUSED in one
    mapInPandas stage (``synthesize_and_decode``) so payloads
    never cross the Arrow boundary; row-identity with the staged form
    is pinned in tests/test_multimodal.py."""
    from sqlpp_spark.ops.multimodal import synthesize_and_decode

    d = table(spark, sf_dir, "documents")
    return synthesize_and_decode(d, "webp").select(
        "media_id", "width", "height", "channels", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_webp_lossy_oracle",
    oracle="""
SELECT doc_id AS media_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 48 WHEN 1 THEN 80
            ELSE 47 END AS INT) AS width,
       CAST(CASE doc_id % 3 WHEN 0 THEN 48 WHEN 1 THEN 64
            ELSE 33 END AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CASE doc_id % 3
            WHEN 0 THEN CAST(884084 AS DOUBLE) / 6912
            WHEN 1 THEN CAST(1944543 AS DOUBLE) / 15360
            ELSE CAST(642514 AS DOUBLE) / 4653
       END AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM documents
""",
)
def multimodal_webp_lossy_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED VP8 (lossy WebP) decode — the round-10 verdict's ask #6
    landed as real pixel decode, not a re-scoped boundary: payloads
    rotate through the three committed conformance streams whose
    reconstruction ops/vp8codec.py proved BIT-EXACT against the system
    libwebp (tests/test_vp8_interop.py — bool decoder, contextual kf
    B-mode parse, token lattice with per-frame updates, dequant, exact
    IDCT/WHT, all intra predictors, both loop filters). Lossy decode
    has no closed pixel formula, so the oracle is known-answer: DuckDB
    pins the decoded geometry and the exact RGB pixel mean per stream
    (values certified by the libwebp interop, then frozen here). A
    hash-green row certifies the full binary path — RIFF walk, VP8 key
    frame decode, BT.601 conversion, pixel stats — per document id.

    r19 opt (guide §4.1/§4.3): fused synth+decode, one mapInPandas
    stage (``synthesize_and_decode``)."""
    from sqlpp_spark.ops.multimodal import synthesize_and_decode

    d = table(spark, sf_dir, "documents")
    return synthesize_and_decode(d, "webp_lossy").select(
        "media_id", "width", "height", "channels", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_png_decode_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h,
         SUM((x.i + 3 * y.i + d.doc_id) % 256) AS s
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) y
  GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(1 AS INT) AS channels,
       CAST(s AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_png_decode_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED real-pixel image decode: PNG payloads whose pixels are a
    closed formula ((x + 3y + id) mod 256) are encoded by the
    pure-numpy codec in one mapInPandas pass and decoded back in
    another; DuckDB recomputes the exact decoded geometry AND pixel
    mean from the formula alone. A hash-green row here proves the
    binary decode path (chunk walk, inflate, unfilter, mean) end to
    end — the assurance plain rows-only multimodal entries can't give.

    r19 opt (guide §4.1/§4.3): fused synth+decode, one mapInPandas
    stage (``synthesize_and_decode``)."""
    from sqlpp_spark.ops.multimodal import synthesize_and_decode

    d = table(spark, sf_dir, "documents")
    return synthesize_and_decode(d, "png").select(
        "media_id", "width", "height", "channels", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_jpeg_decode_oracle",
    headline=True,  # the binary-decode perf row: mapInPandas fan-out
    oracle="""
SELECT doc_id AS media_id,
       CAST(doc_id % 13 + 9 AS INT) AS width,
       CAST(doc_id % 11 + 9 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(1 AS BIGINT) AS decoded
FROM documents
""",
)
def multimodal_jpeg_decode_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED JPEG decode over a MIXED corpus: baseline AND
    progressive (SOF2) payloads by id parity, subsampling rotating
    4:2:0/4:2:2/4:4:4 — one corpus walks every entropy-decode path the
    codec ships. JPEG is lossy so only the deterministic outputs
    project — geometry and the decode-success flag. decoded=1 holds
    ONLY if the full entropy decode succeeded (header-only parsing
    reports false), so a hash-green row certifies real baseline AND
    progressive pixel decode driver-side.

    r19 opt (guide §4.1/§4.3 — OPTIMIZATION_r19.md #12): synth and
    decode run FUSED in one mapInPandas stage, so the JPEG payloads
    never cross the JVM↔Python Arrow boundary (the staged
    ``decode_image(synthesize(d, "jpeg"))`` shipped every payload
    out of the encoder stage and back into the decoder stage);
    row-identity with the staged form is pinned in
    tests/test_multimodal.py::test_fused_synth_decode_identical."""
    from sqlpp_spark.ops.multimodal import synthesize_and_decode

    d = table(spark, sf_dir, "documents")
    return synthesize_and_decode(d, "jpeg").select(
        "media_id", "width", "height", "channels",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


_G711_MULAW_ORACLE = """
WITH p AS (
  SELECT doc_id, 2 * (doc_id % 97) + 1 AS a, doc_id % 53 AS b FROM documents
),
s AS (
  SELECT p.doc_id, t.i,
         255 - ((p.a * t.i + p.b) % 256) AS uc
  FROM p, LATERAL (SELECT unnest(generate_series(0, 159)) AS i) t
),
v AS (
  SELECT doc_id, i,
         CASE WHEN uc >= 128 THEN -(((uc % 16) * 8 + 132) * (1 << ((uc // 16) % 8)) - 132)
              ELSE (((uc % 16) * 8 + 132) * (1 << ((uc // 16) % 8)) - 132) END AS v
  FROM s
),
lagged AS (
  SELECT doc_id, v, LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM v
),
agg AS (
  SELECT doc_id,
         SUM(v * v) AS energy,
         SUM(CASE WHEN prev IS NOT NULL AND (v < 0) <> (prev < 0)
                  THEN 1 ELSE 0 END) AS zc
  FROM lagged GROUP BY doc_id
)
SELECT doc_id AS media_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(160 AS BIGINT) AS n_samples,
       CAST(20 AS BIGINT) AS duration_ms,
       CAST(energy AS BIGINT) AS energy,
       CAST(zc AS BIGINT) AS zero_crossings,
       CAST(1 AS BIGINT) AS decoded
FROM agg
"""


@register("multimodal_audio_mulaw_oracle", oracle=_G711_MULAW_ORACLE)
def multimodal_audio_mulaw_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED COMPRESSED-audio decode: G.711 mu-law WAV payloads
    (WAVE format tag 7, ops/audiocodec.py) whose code bytes are the
    closed formula u(t) = (a*t + b) mod 256. DuckDB expands the exact
    ITU-T G.711 formula per code — sign/exponent/mantissa integer
    arithmetic, bit-equal to the audioop reference tables — and
    recomputes decoded-sample energy + zero crossings. A hash-green
    row certifies the compressed decode path itself, shrinking the
    round-7 'compressed audio' boundary to the ffmpeg-class codecs
    (MP3/AAC/Vorbis)."""
    from sqlpp_spark.ops.multimodal import decode_audio, synthesize_g711_formula

    d = table(spark, sf_dir, "documents")
    return decode_audio(synthesize_g711_formula(d, law="mulaw")).select(
        "media_id", "sample_rate", "n_channels", "n_samples", "duration_ms",
        "energy", "zero_crossings",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


_G711_ALAW_ORACLE = """
WITH p AS (
  SELECT doc_id, 2 * (doc_id % 97) + 1 AS a, doc_id % 53 AS b FROM documents
),
s AS (
  SELECT p.doc_id, t.i,
         xor((p.a * t.i + p.b) % 256, 85) AS ac
  FROM p, LATERAL (SELECT unnest(generate_series(0, 159)) AS i) t
),
v AS (
  SELECT doc_id, i,
         CASE WHEN ac >= 128 THEN 1 ELSE -1 END *
         (CASE WHEN (ac // 16) % 8 = 0 THEN (ac % 16) * 16 + 8
               ELSE ((ac % 16) * 16 + 264) * (1 << (((ac // 16) % 8) - 1)) END) AS v
  FROM s
),
lagged AS (
  SELECT doc_id, v, LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM v
),
agg AS (
  SELECT doc_id,
         SUM(v * v) AS energy,
         SUM(CASE WHEN prev IS NOT NULL AND (v < 0) <> (prev < 0)
                  THEN 1 ELSE 0 END) AS zc
  FROM lagged GROUP BY doc_id
)
SELECT doc_id AS media_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(160 AS BIGINT) AS n_samples,
       CAST(20 AS BIGINT) AS duration_ms,
       CAST(energy AS BIGINT) AS energy,
       CAST(zc AS BIGINT) AS zero_crossings,
       CAST(1 AS BIGINT) AS decoded
FROM agg
"""


@register("multimodal_audio_alaw_oracle", oracle=_G711_ALAW_ORACLE)
def multimodal_audio_alaw_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 A-law twin of ``multimodal_audio_mulaw_oracle`` (WAVE
    format tag 6; even-bit-inverted codes, 13-bit segmented expand)."""
    from sqlpp_spark.ops.multimodal import decode_audio, synthesize_g711_formula

    d = table(spark, sf_dir, "documents")
    return decode_audio(synthesize_g711_formula(d, law="alaw")).select(
        "media_id", "sample_rate", "n_channels", "n_samples", "duration_ms",
        "energy", "zero_crossings",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_jpeg_lossless_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h,
         SUM((x.i + 3 * y.i + d.doc_id) % 256) AS s
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) y
  GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(1 AS INT) AS channels,
       CAST(s AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_jpeg_lossless_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED LOSSLESS-JPEG decode (SOF3, T.81 Annex H): predictive
    payloads rotating through all 7 predictors decode bit-exactly, so
    DuckDB verifies geometry AND the exact pixel mean — the full-pixel
    check the lossy JPEG entry can't offer. Closes the round-7
    'lossless JPEG' codec boundary.

    r19 opt (guide §4.1/§4.3): fused synth+decode, one mapInPandas
    stage (``synthesize_and_decode``)."""
    from sqlpp_spark.ops.multimodal import synthesize_and_decode

    d = table(spark, sf_dir, "documents")
    return synthesize_and_decode(d, "jpeg_lossless").select(
        "media_id", "width", "height", "channels", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_jpeg_arith_oracle",
    oracle="""
SELECT doc_id AS media_id,
       CAST(doc_id % 13 + 9 AS INT) AS width,
       CAST(doc_id % 11 + 9 AS INT) AS height,
       CAST(1 AS BIGINT) AS identical,
       CAST(1 AS BIGINT) AS decoded
FROM documents
""",
)
def multimodal_jpeg_arith_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED ARITHMETIC-JPEG decode (SOF9, T.81 Annexes D & F,
    r11): per doc the corpus encodes the gradient image BOTH with the
    QM arithmetic coder and the Huffman baseline (shared quantizer ⇒
    identical coefficients), rotating subsampling and exercising the
    restart-marker resync path, and asserts the decoded pixels are
    BIT-IDENTICAL. identical=1 certifies coefficient-exact QM entropy
    decode — the invariant the round-10 Qe-table transcription bug
    broke while self-round-trips stayed green (tests/test_jpegarith.py
    additionally pins this against the system libjpeg-turbo)."""
    from sqlpp_spark.ops.multimodal import jpeg_arith_equivalence

    d = table(spark, sf_dir, "documents")
    return jpeg_arith_equivalence(d)


@register(
    "multimodal_png_variants_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 4 AS variant,
         doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
  FROM documents
),
px AS (
  SELECT d.doc_id, d.variant, d.w, d.h,
         SUM((x.i + 3 * y.i + d.doc_id) % 256) AS s
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) y
  GROUP BY 1, 2, 3, 4
)
SELECT doc_id AS media_id,
       CAST(variant AS INT) AS variant,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(CASE WHEN variant = 1 THEN 3 ELSE 1 END AS INT) AS channels,
       CAST(s * (CASE WHEN variant = 2 THEN 256 ELSE 1 END) AS DOUBLE)
         / CAST(w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_png_variants_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED decode of the HARD PNG paths — Adam7 interlacing,
    palette (PLTE lookup), 16-bit samples — with closed-form pixels:
    DuckDB recomputes geometry, channel count and the exact decoded
    mean per variant (the 16-bit variant's mean is the formula mean
    × 256; the palette variant's gray palette makes all three decoded
    channels equal the formula). A hash-green row certifies
    deinterlacing, palette lookup and 16-bit unpacking driver-side.

    r19 opt (guide §4.1/§4.3): fused synth+decode, one mapInPandas
    stage (``synthesize_and_decode``)."""
    from sqlpp_spark.ops.multimodal import synthesize_and_decode

    d = table(spark, sf_dir, "documents")
    return synthesize_and_decode(d, "png_variants").select(
        "media_id",
        (F.col("media_id") % 4).cast("int").alias("variant"),
        "width", "height", "channels", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_gif_decode_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h,
         SUM((x.i + 3 * y.i + d.doc_id) % 256) AS s
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) y
  GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(s AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_gif_decode_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED GIF decode (ops/gifcodec.py: LZW, palette lookup, row
    interlacing, multi-frame container walk): gray-palette formula
    pixels make every decoded channel equal the formula, so DuckDB
    verifies geometry AND the exact decoded mean; odd ids are
    interlaced and every third payload carries a second frame the
    first-frame decode must skip.

    r19 opt (guide §4.1/§4.3): fused synth+decode, one mapInPandas
    stage (``synthesize_and_decode``)."""
    from sqlpp_spark.ops.multimodal import synthesize_and_decode

    d = table(spark, sf_dir, "documents")
    return synthesize_and_decode(d, "gif").select(
        "media_id", "width", "height", "channels", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_bmp_decode_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h,
         SUM((x.i + 3 * y.i + d.doc_id) % 256) AS s
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) y
  GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(s AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_bmp_decode_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED BMP decode (ops/bmpcodec.py): gray-palette formula
    pixels rotate through 8-bit plain, RLE8, 24-bit BGR and top-down
    variants; DuckDB verifies geometry and the exact decoded mean for
    all of them.

    r19 opt (guide §4.1/§4.3): fused synth+decode, one mapInPandas
    stage (``synthesize_and_decode``)."""
    from sqlpp_spark.ops.multimodal import synthesize_and_decode

    d = table(spark, sf_dir, "documents")
    return synthesize_and_decode(d, "bmp").select(
        "media_id", "width", "height", "channels", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_tiff_decode_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h,
         SUM((x.i + 3 * y.i + d.doc_id) % 256) AS s
  FROM dims d,
       LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS i) y
  GROUP BY 1, 2, 3
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(1 AS INT) AS channels,
       CAST(s AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_tiff_decode_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED TIFF decode (ops/tiffcodec.py): formula grayscale
    rotating through no-compression / TIFF-LZW (MSB-first,
    early-change) / PackBits, both byte orders, varying strip
    heights; DuckDB verifies geometry and the exact decoded mean.

    r19 opt (guide §4.1/§4.3): fused synth+decode, one mapInPandas
    stage (``synthesize_and_decode``)."""
    from sqlpp_spark.ops.multimodal import synthesize_and_decode

    d = table(spark, sf_dir, "documents")
    return synthesize_and_decode(d, "tiff").select(
        "media_id", "width", "height", "channels", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_webp_anim_frames_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h,
         2 + doc_id % 4 AS nf
  FROM documents
),
frames AS (
  SELECT d.doc_id, d.w, d.h, f.i AS frame_idx
  FROM dims d, LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS i) f
),
px AS (
  SELECT fr.doc_id, fr.frame_idx, fr.w, fr.h,
         SUM((x.i + 3 * y.i + fr.doc_id + 7 * fr.frame_idx) % 256) AS s
  FROM frames fr,
       LATERAL (SELECT unnest(generate_series(0, fr.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, fr.h - 1)) AS i) y
  GROUP BY 1, 2, 3, 4
)
SELECT doc_id AS media_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(3 * s + 255 * w * h AS DOUBLE)
           / CAST(4 * w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_webp_anim_frames_oracle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLED animated-WebP frame extraction (r11): ANMF-composited
    frames with closed-form VP8L-lossless pixels decode through
    extract_video_frames — the same verified-frame-decode surface the
    GIF twin provides, now for WebP's animation container (RFC 9649
    VP8X/ANIM/ANMF, no-blend overwrite compositing). DuckDB recomputes
    every frame's geometry and exact four-channel mean (gray frames
    with opaque alpha: (3f + 255)/4)."""
    from sqlpp_spark.ops.multimodal import extract_video_frames, synthesize

    d = table(spark, sf_dir, "documents")
    return extract_video_frames(synthesize(d, "webp_anim")).select(
        "media_id", "frame_idx", "width", "height", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


def _pack_ubigint(idx: str) -> str:
    """SUM-of-set-bits as UBIGINT with ``idx`` the bit position
    0..63. Bit 63 is built via *2^32 on a <32 shift — DuckDB's <<
    raises on a 63-bit shift instead of wrapping."""
    return (
        f"CAST(SUM(CAST(bit AS UBIGINT) * (CASE WHEN {idx} < 32 "
        f"THEN (CAST(1 AS UBIGINT) << ({idx})) "
        f"ELSE (CAST(1 AS UBIGINT) << ({idx}-32)) "
        f"* CAST(4294967296 AS UBIGINT) END)) AS UBIGINT)"
    )


_DHASH_PACK = _pack_ubigint("cy*8+cx")


def _dhash_oracle(cell_value_sql: str, tail: str) -> str:
    """DuckDB replay of the tiled-image dHash: recompute every 9x8
    cell value from the formula, derive the 64 comparison bits, pack
    them as UBIGINT (bit 63 via the *2^32 split — DuckDB's << checks
    overflow), then ``tail`` consumes the per-doc hashes."""
    return f"""
WITH cells AS (
  SELECT d.doc_id, cy.i AS cy, cx.i AS cx, {cell_value_sql} AS v
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0, 7)) AS i) cy,
       LATERAL (SELECT unnest(generate_series(0, 8)) AS i) cx
),
bits AS (
  SELECT a.doc_id, a.cy, a.cx,
         CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
  FROM cells a JOIN cells b
    ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
  WHERE a.cx < 8
),
hashes AS (
  SELECT doc_id, {_DHASH_PACK} AS h FROM bits GROUP BY doc_id
)
{tail}
"""


@register(
    "multimodal_image_dhash_oracle",
    oracle=_dhash_oracle(
        "(7 * d.doc_id + 17 * cx.i + 29 * cy.i) % 256",
        "SELECT doc_id AS media_id, "
        "lower(lpad(hex(h), 16, '0')) AS dhash_hex, "
        "CAST(1 AS BIGINT) AS decoded FROM hashes",
    ),
)
def multimodal_image_dhash_oracle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLED perceptual image fingerprinting (r12): 64-bit dHash
    (grayscale -> 9x8 block averages -> horizontal-gradient bits)
    over tiled PNGs whose block averages are closed-form — DuckDB
    recomputes every cell value, every comparison bit, and the exact
    packed 64-bit hash. The decode + hash stage is Arrow-batched
    mapInPandas with zero shuffle."""
    from sqlpp_spark.ops.multimodal import image_dhash, synthesize

    d = table(spark, sf_dir, "documents")
    return image_dhash(synthesize(d, "tile")).select(
        "media_id", "dhash_hex",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_image_neardup_oracle",
    oracle=_dhash_oracle(
        "CASE WHEN d.doc_id % 4 <> 0 AND cy.i = (d.doc_id * 5) % 8 "
        "AND cx.i = (d.doc_id * 3) % 9 "
        "THEN 255 - (7 * (d.doc_id // 4) + 17 * cx.i + 29 * cy.i) % 256 "
        "ELSE (7 * (d.doc_id // 4) + 17 * cx.i + 29 * cy.i) % 256 END",
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming "
        "FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.h, b.h)) <= 6",
    ),
)
def multimodal_image_neardup_oracle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLED perceptual image DEDUP (r12): dHash + the banded
    pigeonhole hamming join (the text-simhash machinery over 64-bit
    image hashes, ops.dedup.hamming_near_duplicates) on a corpus of
    4-member near-dup groups (shared base image, one inverted tile
    per member). The Spark side finds pairs via 7 exact band
    equi-joins — never all-pairs; DuckDB brute-forces every pair's
    hamming from recomputed hashes, so banding completeness (the
    pigeonhole guarantee) is checked against an exhaustive oracle."""
    from sqlpp_spark.ops.multimodal import image_near_duplicates, synthesize

    d = table(spark, sf_dir, "documents")
    return image_near_duplicates(
        synthesize(d, "tile_near_dups"), max_hamming=6
    )


def _afp_oracle(value_sql: str, tail: str) -> str:
    """DuckDB replay of the 65-block audio fingerprint: block value
    from the formula, energy = 4v² (4 constant samples per block),
    gradient bits, UBIGINT pack; ``tail`` consumes per-doc hashes."""
    return f"""
WITH blocks AS (
  SELECT d.doc_id, b.i AS blk, {value_sql} AS v
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0, 64)) AS i) b
),
energies AS (SELECT doc_id, blk, 4 * v * v AS e FROM blocks),
bits AS (
  SELECT a.doc_id, a.blk AS i,
         CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
  FROM energies a JOIN energies b
    ON a.doc_id = b.doc_id AND b.blk = a.blk + 1
  WHERE a.blk < 64
),
hashes AS (
  SELECT doc_id, {_pack_ubigint('i')} AS h FROM bits GROUP BY doc_id
)
{tail}
"""


@register(
    "multimodal_audio_fingerprint_oracle",
    oracle=_afp_oracle(
        "(7 * d.doc_id + 37 * b.i) % 1000 - 500",
        "SELECT doc_id AS media_id, "
        "lower(lpad(hex(h), 16, '0')) AS afp_hex, "
        "CAST(1 AS BIGINT) AS decoded FROM hashes",
    ),
)
def multimodal_audio_fingerprint_oracle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLED audio fingerprinting (r12): 64-bit block-energy
    gradient hash over clips that ship alternately as WAV PCM16 and
    FLAC — lossless, so both decode paths must produce the identical
    fingerprint under ONE codec-agnostic SQL oracle (this is the
    first entry that hash-verifies the RFC 9639 FLAC decoder inside a
    pipeline operator rather than a codec-level oracle)."""
    from sqlpp_spark.ops.multimodal import audio_fingerprint, synthesize

    d = table(spark, sf_dir, "documents")
    return audio_fingerprint(synthesize(d, "audio_tile")).select(
        "media_id", "afp_hex",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_audio_neardup_oracle",
    oracle=_afp_oracle(
        "CASE WHEN d.doc_id % 4 <> 0 AND b.i = (d.doc_id * 5) % 65 "
        "THEN (7 * (d.doc_id // 4) + 37 * b.i) % 1000 - 500 + 300 "
        "ELSE (7 * (d.doc_id // 4) + 37 * b.i) % 1000 - 500 END",
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming "
        "FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.h, b.h)) <= 6",
    ),
)
def multimodal_audio_neardup_oracle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLED audio near-dup detection (r12): fingerprints + the
    shared banded pigeonhole hamming join over 4-member clip groups
    (one perturbed energy block per member), WAV and FLAC containers
    mixed. Spark finds pairs via 7 band equi-joins; DuckDB
    brute-forces every pair from recomputed hashes — pigeonhole
    completeness against an exhaustive oracle, audio edition."""
    from sqlpp_spark.ops.multimodal import audio_near_duplicates, synthesize

    d = table(spark, sf_dir, "documents")
    return audio_near_duplicates(
        synthesize(d, "audio_tile_near_dups"), max_hamming=6
    )


@register(
    "multimodal_video_fingerprint_oracle",
    oracle=f"""
WITH dims AS (
  SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents
),
frames AS (
  SELECT d.doc_id, f.i AS k
  FROM dims d, LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS i) f
),
cells AS (
  SELECT fr.doc_id, fr.k, cy.i AS cy, cx.i AS cx,
         (7 * fr.doc_id + 11 * fr.k + 17 * cx.i + 29 * cy.i) % 256 AS v
  FROM frames fr,
       LATERAL (SELECT unnest(generate_series(0, 7)) AS i) cy,
       LATERAL (SELECT unnest(generate_series(0, 8)) AS i) cx
),
bits AS (
  SELECT a.doc_id, a.k, a.cy, a.cx,
         CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
  FROM cells a JOIN cells b
    ON a.doc_id = b.doc_id AND a.k = b.k AND a.cy = b.cy
   AND b.cx = a.cx + 1
  WHERE a.cx < 8
),
fhashes AS (
  SELECT doc_id, k, {_DHASH_PACK} AS h FROM bits GROUP BY doc_id, k
),
seqs AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         md5(string_agg(lower(lpad(hex(h), 16, '0')), '' ORDER BY k))
             AS video_fp
  FROM fhashes GROUP BY doc_id
)
SELECT doc_id AS media_id, n_frames, video_fp,
       CAST(1 AS BIGINT) AS decoded
FROM seqs
""",
)
def multimodal_video_fingerprint_oracle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLED whole-video fingerprinting (r12): every composited
    frame of an animated WebP dHashes, and the ordered hex sequence
    digests to an order-sensitive MD5 video signature — the exact-dup
    key a video-dedup pipeline groups on. DuckDB recomputes every
    frame's 64-bit hash from the tile formulas, re-concatenates in
    frame order and re-digests; the entry therefore hash-verifies the
    ANMF frame decode, the perceptual hash, AND the sequence digest
    together."""
    from sqlpp_spark.ops.multimodal import synthesize, video_fingerprint

    d = table(spark, sf_dir, "documents")
    return video_fingerprint(synthesize(d, "tile_anim")).select(
        "media_id", "n_frames", "video_fp",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_webp_anim_composite_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 8 AS w, doc_id % 11 + 8 AS h,
         2 + doc_id % 3 AS nf, doc_id % 256 AS b
  FROM documents
),
frames AS (
  SELECT d.doc_id, d.w, d.h, d.b, f.i AS k
  FROM dims d, LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS i) f
),
blended AS (
  -- odd ids: cumulative (3*v_j + 255) over strips 1..k, where
  -- v_j = (128*g_j + 127*b) // 255 is the exact integer src-OVER-dst
  -- value of an alpha-128 strip on the opaque base
  SELECT fr.doc_id, fr.k,
         SUM(3 * ((128 * ((fr.doc_id + 41 * j.i) % 256) + 127 * fr.b)
                  // 255) + 255) AS s3
  FROM frames fr,
       LATERAL (SELECT unnest(generate_series(1, fr.k)) AS i) j
  WHERE fr.doc_id % 2 = 1 AND fr.k >= 1
  GROUP BY 1, 2
)
SELECT fr.doc_id AS media_id,
       CAST(fr.k AS INT) AS frame_idx,
       CAST(fr.w AS INT) AS width,
       CAST(fr.h AS INT) AS height,
       CASE
         WHEN fr.k = 0 THEN
           CAST(3 * fr.b + 255 AS DOUBLE) / 4
         WHEN fr.doc_id % 2 = 0 THEN
           -- dispose path: composite k is ONLY strip k on a cleared
           -- transparent-black canvas
           CAST(3 * ((fr.doc_id + 41 * fr.k) % 256) + 255 AS DOUBLE)
               / CAST(2 * fr.w AS DOUBLE)
         ELSE
           -- blend path: strips 1..k blended onto the base
           CAST(2 * fr.h * bl.s3
                + (fr.w - 2 * fr.k) * fr.h * (3 * fr.b + 255) AS DOUBLE)
               / CAST(4 * fr.w * fr.h AS DOUBLE)
       END AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM frames fr LEFT JOIN blended bl
  ON fr.doc_id = bl.doc_id AND fr.k = bl.k
""",
)
def multimodal_webp_anim_composite_oracle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLED history-dependent animated-WebP compositing (r12,
    VERDICT ask #6): unlike the full-canvas twin above (whose every
    composite equals its own frame), these payloads make frame k's
    pixels depend on frames 0..k-1 — sub-canvas strip patches with
    dispose-to-background on even ids and src-OVER-dst alpha blending
    (the r12 encoder blend flag) on odd ids. All frames extract
    through the same Arrow-batched mapInPandas shape a training
    pipeline runs; DuckDB recomputes every composited frame's exact
    four-channel mean, including the integer blend arithmetic
    v = (128*g + 127*b) // 255."""
    from sqlpp_spark.ops.multimodal import extract_video_frames, synthesize

    d = table(spark, sf_dir, "documents")
    return extract_video_frames(synthesize(d, "webp_anim_patch")).select(
        "media_id", "frame_idx", "width", "height", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_video_frames_oracle",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h,
         2 + doc_id % 4 AS nf
  FROM documents
),
frames AS (
  SELECT d.doc_id, d.w, d.h, f.i AS frame_idx
  FROM dims d, LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS i) f
),
px AS (
  SELECT fr.doc_id, fr.frame_idx, fr.w, fr.h,
         SUM((x.i + 3 * y.i + fr.doc_id + 7 * fr.frame_idx) % 256) AS s
  FROM frames fr,
       LATERAL (SELECT unnest(generate_series(0, fr.w - 1)) AS i) x,
       LATERAL (SELECT unnest(generate_series(0, fr.h - 1)) AS i) y
  GROUP BY 1, 2, 3, 4
)
SELECT doc_id AS media_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(s AS DOUBLE) / CAST(w * h AS DOUBLE) AS mean_byte,
       CAST(1 AS BIGINT) AS decoded
FROM px
""",
)
def multimodal_video_frames_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED video-frame EXTRACTION: animated-GIF payloads with
    closed-form per-frame pixels decode through extract_video_frames
    (real LZW + compositing per frame, interlaced on odd ids); DuckDB
    recomputes every frame's geometry and exact mean. Upgrades the
    video modality from metadata-only frame planning to verified
    frame decode (MP4/WebM remain the documented ffmpeg boundary)."""
    from sqlpp_spark.ops.multimodal import extract_video_frames, synthesize

    d = table(spark, sf_dir, "documents")
    return extract_video_frames(synthesize(d, "video")).select(
        "media_id", "frame_idx", "width", "height", "mean_byte",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_heif_metadata_oracle",
    oracle="""
SELECT doc_id AS media_id,
       CASE doc_id % 4 WHEN 0 THEN 'avif' WHEN 1 THEN 'avif'
            ELSE 'heic' END AS format,
       CAST(62 AS INT) AS width,
       CAST(46 AS INT) AS height,
       CAST(8 AS INT) AS bit_depth,
       CAST(0 AS INT) AS rotation,
       (doc_id % 2 = 1) AS has_alpha,
       CASE doc_id % 4 WHEN 0 THEN 'av01' WHEN 1 THEN 'av01'
            ELSE 'hevc' END AS codec,
       CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
            WHEN 2 THEN 2 ELSE 4 END AS INT) AS n_items,
       CAST(CASE WHEN doc_id % 4 < 2 THEN 103 ELSE 224 END
            AS BIGINT) AS primary_item_bytes,
       CAST(1 AS BIGINT) AS decoded
FROM documents
""",
)
def multimodal_heif_metadata_oracle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLED HEIF/AVIF metadata extraction (r11): the modern-crawl
    image containers parse metadata-first (ISO 23008-12 item grammar
    over the 14496-12 box walk — pitm/iinf/iprp/ipma/iref/iloc,
    grid-derived codec resolution, AVIF and HEVC alpha-aux urns)
    WITHOUT touching the coded AV1/HEVC payloads, which remain the
    documented decode boundary. Payloads rotate through four committed
    libheif-encoded conformance streams whose every reported property
    was verified against libheif's own handle API
    (tests/test_heif_interop.py); DuckDB pins them as known answers."""
    from sqlpp_spark.ops.multimodal import heif_metadata, synthesize

    d = table(spark, sf_dir, "documents")
    return heif_metadata(synthesize(d, "heif")).select(
        "media_id", "format", "width", "height", "bit_depth", "rotation",
        "has_alpha", "codec", "n_items", "primary_item_bytes",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_mp4_metadata_oracle",
    oracle="""
WITH p AS (
  SELECT doc_id,
         doc_id % 29 + 2 AS n,
         doc_id % 5 + 1 AS ke
  FROM documents
)
SELECT doc_id AS media_id,
       'isom' AS brand,
       CAST(n * 40 AS BIGINT) AS duration_ms,
       CAST(1 AS INT) AS n_tracks,
       'avc1' AS codec,
       CAST(doc_id % 13 + 16 AS INT) AS width,
       CAST(doc_id % 11 + 16 AS INT) AS height,
       CAST(n AS BIGINT) AS n_samples,
       CAST((n + ke - 1) // ke AS BIGINT) AS n_keyframes,
       CAST(100 * n + n * (n - 1) // 2 AS BIGINT) AS sample_bytes,
       CAST(1 AS BIGINT) AS decoded
FROM p
""",
)
def multimodal_mp4_metadata_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED MP4 container-metadata extraction (ISO 14496-12 box
    walk, ops/mp4box.py — the metadata-first half of the video
    modality): per-doc minimal-but-valid streams with closed-form
    geometry/sample-table/keyframe content (odd ids use the 64-bit
    version-1 box forms) are parsed back via Arrow-batched
    mapInPandas, and DuckDB recomputes every field — duration from the
    stts walk, keyframe count from the stss spacing, total sample
    bytes from the stsz sum — from the formulas alone. H.264 pixel
    decode stays the documented ffmpeg boundary; this is the pruning/
    planning surface a crawl pipeline needs BEFORE that boundary."""
    from sqlpp_spark.ops.multimodal import mp4_metadata, synthesize

    d = table(spark, sf_dir, "documents")
    return mp4_metadata(synthesize(d, "mp4")).select(
        "media_id", "brand", "duration_ms", "n_tracks", "codec",
        "width", "height", "n_samples", "n_keyframes", "sample_bytes",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_mp4_keyframe_plan_oracle",
    oracle="""
WITH p AS (
  SELECT doc_id,
         doc_id % 29 + 2 AS n,
         doc_id % 5 + 1 AS ke
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(g.k AS BIGINT) AS sample_no,
       CAST((g.k - 1) * 40 AS BIGINT) AS sample_ms
FROM p, unnest(generate_series(1, CAST(n AS BIGINT), CAST(ke AS BIGINT))) AS g(k)
""",
)
def multimodal_mp4_keyframe_plan_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample PLANNING from the container alone: one row per
    sync sample (stss keyframe) with its sample number and
    presentation time — the seek list handed to a downstream decoder,
    derived without touching mdat. DuckDB replays the keyframe
    arithmetic (every ke-th sample from 1) per document."""
    from sqlpp_spark.ops.multimodal import mp4_keyframe_plan, synthesize

    d = table(spark, sf_dir, "documents")
    return mp4_keyframe_plan(synthesize(d, "mp4"))


@register(
    "multimodal_flac_metadata_oracle",
    oracle="""
SELECT doc_id AS media_id,
       CAST(CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN 8000 WHEN 1 THEN 16000
         WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sample_rate,
       CAST(doc_id % 2 + 1 AS INT) AS channels,
       CAST((doc_id % 3) * 4 + 16 AS INT) AS bits_per_sample,
       CAST((doc_id % 97 + 1) * 1000 AS BIGINT) AS total_samples,
       CAST((doc_id % 97 + 1) * 1000 * 1000 // (CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN 8000 WHEN 1 THEN 16000
         WHEN 2 THEN 22050 ELSE 44100 END) AS BIGINT) AS duration_ms,
       CAST(1 AS BIGINT) AS decoded
FROM documents
""",
)
def multimodal_flac_metadata_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED FLAC STREAMINFO extraction (RFC 9639 §8.2 bit fields,
    ops/audiocodec.flac_streaminfo): closed-form headers per doc are
    parsed back through Arrow-batched mapInPandas and DuckDB
    recomputes every field — incl. the 20/3/5/36-bit packed record and
    floor-division duration — from the formulas. The metadata-first
    audio surface; frame decode stays the documented boundary."""
    from sqlpp_spark.ops.multimodal import flac_metadata, synthesize

    d = table(spark, sf_dir, "documents")
    return flac_metadata(synthesize(d, "flac")).select(
        "media_id", "sample_rate", "channels", "bits_per_sample",
        "total_samples", "duration_ms",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_ogg_opus_metadata_oracle",
    oracle="""
SELECT doc_id AS media_id,
       CAST(doc_id % 2 + 1 AS INT) AS channels,
       CAST(312 + doc_id % 50 AS INT) AS pre_skip,
       CAST(CASE CAST(doc_id % 4 AS INTEGER)
         WHEN 0 THEN 8000 WHEN 1 THEN 16000
         WHEN 2 THEN 24000 ELSE 48000 END AS BIGINT) AS input_sample_rate,
       CAST(doc_id % 25 + 3 AS BIGINT) AS n_pages,
       CAST((doc_id % 25 + 1) * 20 AS BIGINT) AS duration_ms,
       CAST(1 AS BIGINT) AS decoded
FROM documents
""",
)
def multimodal_ogg_opus_metadata_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED Ogg Opus container metadata (RFC 3533 page walk with
    per-page CRC verification + RFC 7845 OpusHead and duration rule):
    closed-form streams per doc parse back through Arrow-batched
    mapInPandas, and DuckDB recomputes every field — page count =
    frames + BOS + tags, duration = frames × 960/48 ms net of
    pre-skip. Completes the audio-container trio (WAV native, FLAC
    STREAMINFO, Ogg Opus); frame decode stays the codec boundary."""
    from sqlpp_spark.ops.multimodal import ogg_metadata, synthesize

    d = table(spark, sf_dir, "documents")
    return ogg_metadata(synthesize(d, "ogg")).select(
        "media_id", "channels", "pre_skip", "input_sample_rate",
        "n_pages", "duration_ms",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_exif_metadata_oracle",
    oracle="""
SELECT doc_id AS media_id,
       CAST(doc_id % 8 + 1 AS INT) AS orientation,
       'Cam' || CAST(doc_id % 5 AS VARCHAR) AS make,
       '2026:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
         || ' 00:00:00' AS taken_at,
       CAST(doc_id % 13 + 9 AS BIGINT) AS pixel_x,
       CAST(doc_id % 11 + 9 AS BIGINT) AS pixel_y,
       CAST(1 AS BIGINT) AS decoded
FROM documents
""",
)
def multimodal_exif_metadata_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED EXIF extraction (EXIF 2.3 / TIFF 6.0 IFD grammar,
    ops/exif.py): real baseline JPEGs carry closed-form APP1 segments
    (orientation, make, capture date, Exif-sub-IFD pixel dims) and
    DuckDB recomputes every field from the formulas. The prune/correct
    metadata surface real image pipelines gate on BEFORE pixel
    decode; apply_orientation covers the correction transforms (unit-
    tested inverses)."""
    from sqlpp_spark.ops.multimodal import image_exif, synthesize

    d = table(spark, sf_dir, "documents")
    return image_exif(synthesize(d, "exif")).select(
        "media_id", "orientation", "make", "taken_at", "pixel_x", "pixel_y",
        F.col("decoded").cast("bigint").alias("decoded"),
    )


@register(
    "multimodal_mp3_metadata_oracle",
    oracle="""
WITH p AS (
  SELECT doc_id,
         doc_id % 40 + 1 AS n,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN 64 WHEN 1 THEN 128 WHEN 2 THEN 192 ELSE 320
         END AS kbps,
         CASE CAST(doc_id % 3 AS INTEGER)
           WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000
         END AS rate
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(kbps AS INT) AS bitrate_kbps,
       CAST(rate AS BIGINT) AS samplerate,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS INT) AS channels,
       CAST(n AS BIGINT) AS n_frames,
       CAST(n * 1152 * 1000 // rate AS BIGINT) AS duration_ms,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0
            ELSE 10 + (doc_id % 5) * 16 END AS BIGINT) AS id3v2_bytes,
       CAST(1 AS BIGINT) AS decoded
FROM p
""",
)
def multimodal_mp3_metadata_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED MP3 frame-header metadata (ISO 11172-3 sync walk,
    bitrate/samplerate tables, frame-length arithmetic, syncsafe ID3v2
    skip — ops/mp3box.py): closed-form MPEG1 Layer III streams parse
    back through the shared metadata extractor and DuckDB recomputes
    every field, incl. the integer-exact duration
    (frames × 1152 × 1000 // rate). Frame decode stays the boundary;
    the container quartet (MP4, FLAC, Ogg Opus, MP3) is complete."""
    from sqlpp_spark.ops.multimodal import mp3_metadata, synthesize

    d = table(spark, sf_dir, "documents")
    return mp3_metadata(synthesize(d, "mp3")).select(
        "media_id", "bitrate_kbps", "samplerate", "channels", "n_frames",
        "duration_ms", "id3v2_bytes",
        F.col("decoded").cast("bigint").alias("decoded"),
    )
