package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{IncrementalAgg, Multimodal}
import graft.streaming.Streams

/** Streaming + multimodal surface. The streaming query MUST equal its
  * batch twin on a bounded feed — so it shares the batch oracle.
  */
object StreamQueries {

  def all: Seq[Q] = Seq(streamHourly, multimodalFeatures, imageNearDup,
    audioFeatures, lobExport, sessionize, incrementalMv, asofJoin, rangeJoin,
    sketchMv, sketchOverlap)

  /** Per-row LOB export + re-read roundtrip (the reference's
    * Import/Export Column write-back: …/Глава 05…md:98, one file per
    * row's binary column). Every 7th document's payload lands as
    * `<doc_id>.bin` via [[Multimodal.exportFiles]] (executor-parallel
    * Hadoop FS writes), then the files are read BACK with Spark's
    * binaryFile source and fingerprinted — so the oracle match proves
    * byte-level write fidelity end-to-end, not just manifest
    * bookkeeping. The oracle replays the fingerprints from the source
    * parquet (md5 + byte length of the utf-8 payload).
    */
  val lobExport: Q = Q(
    "q_lob_export",
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS h
      |FROM documents WHERE doc_id % 7 = 0
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // repartition: the single-file documents scan would otherwise
    // export serially from one task; file-per-row writes parallelize
    // per input partition
    val media = Multimodal.syntheticMedia(Tables.documents(s, dir))
      .where(col("media_id") % 7 === 0)
      .repartition(16)
    val out = Fixtures.path("lob", dir)
    // wipe stale exports so the read-back glob sees exactly this run
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    Multimodal.exportFiles(media, "media_id", "bytes", out).count()
    // single root path + glob OPTION: a `/*.bin` glob path would
    // expand to one listing target per file and spawn a distributed
    // file-listing job; this way the index is one directory listStatus
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("h"))
      .orderBy(col("doc_id"))
  }

  /** Audio descriptor extraction over the media table's audio rows
    * (P12's audio leg — PCM-interpretation kernel, real batched
    * plumbing; see [[graft.operators.Multimodal.audioFeatures]]).
    *
    * FULLY oracle-checked: the kernel is deterministic arithmetic over
    * the payload bytes, so the oracle replays it in SQL — bytes via
    * `hex(encode(text))` + 2-char slices, 16-bit LE samples, per-256-
    * sample-window RMS/ZCR. Bit-exactness argument: s² terms are
    * multiples of 2⁻³⁰ summing below 2⁸, so Σs² is EXACTLY
    * representable in double regardless of summation order; /n, sqrt,
    * and the float cast are correctly rounded and order-free; ZCR is
    * a small-integer ratio whose double→float double-rounding cannot
    * straddle a float boundary (quotient distance ≥ 1/(n·2²⁵) ≫
    * 2⁻⁵³). The float-valued window stats are exact in double, span
    * < 53 bits, so the masses are order-independent too.
    */
  val audioFeatures: Q = Q(
    "q_audio_features",
    """WITH au AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS nb
      |  FROM documents WHERE doc_id % 3 = 1
      |),
      |idx AS (
      |  SELECT media_id, hx, CAST(t.x AS BIGINT) AS i
      |  FROM au, unnest(range(nb // 2)) AS t(x)
      |),
      |samp AS (
      |  SELECT media_id, i, i // 256 AS w,
      |    CASE WHEN hi >= 128 THEN hi*256 + lo - 65536
      |         ELSE hi*256 + lo END / 32768.0 AS s
      |  FROM (
      |    SELECT media_id, i,
      |      CAST(concat('0x', substring(hx, CAST(4*i+1 AS INT), 2)) AS INT) AS lo,
      |      CAST(concat('0x', substring(hx, CAST(4*i+3 AS INT), 2)) AS INT) AS hi
      |    FROM idx)
      |),
      |winsamp AS (
      |  SELECT media_id, w, i, s,
      |    lag(s) OVER (PARTITION BY media_id, w ORDER BY i) AS prev
      |  FROM samp
      |),
      |win AS (
      |  SELECT media_id, w,
      |    CAST(sqrt(sum(s*s) / count(*)) AS REAL) AS rms,
      |    CAST(CAST(count(*) FILTER (WHERE prev IS NOT NULL
      |                                 AND (s < 0) != (prev < 0)) AS DOUBLE)
      |         / greatest(count(*) - 1, 1) AS REAL) AS zcr
      |  FROM winsamp GROUP BY media_id, w
      |),
      |agg AS (
      |  SELECT media_id, CAST(count(*) AS INT) AS n_windows,
      |    round(sum(CAST(rms AS DOUBLE)), 6) AS rms_mass,
      |    round(sum(CAST(zcr AS DOUBLE)), 6) AS zcr_mass
      |  FROM win GROUP BY media_id
      |)
      |SELECT a.media_id AS media_id, coalesce(g.n_windows, 0) AS n_windows,
      |  coalesce(g.rms_mass, 0.0) AS rms_mass,
      |  coalesce(g.zcr_mass, 0.0) AS zcr_mass
      |FROM au a LEFT JOIN agg g ON a.media_id = g.media_id
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    val media = Multimodal.syntheticMedia(Tables.documents(s, dir))
      .filter(col("kind") === "audio")
    Multimodal.audioFeatures(media, windowSamples = 256)
      .select(
        col("media_id"),
        size(col("audio")).as("n_windows"),
        round(aggregate(col("audio"), lit(0.0),
          (acc, w) => acc + w.getField("rms").cast("double")), 6).as("rms_mass"),
        round(aggregate(col("audio"), lit(0.0),
          (acc, w) => acc + w.getField("zcr").cast("double")), 6).as("zcr_mass"))
      .orderBy(col("media_id"))
  }

  /** Sketch-typed A6 MV ([[graft.operators.Sketches]]): per-type
    * distinct users via HLL states folded over three batches. At gate
    * scale the sketch is in its exact (coupon) range, so the oracle is
    * plain COUNT(DISTINCT) — the estimate must EQUAL it; the
    * approximation regime is SketchSpec's. The in-query require pins
    * the MV invariant: folding batches tracks one sketch over
    * everything within the error band at ANY scale.
    */
  val sketchMv: Q = Q(
    "q_sketch_mv",
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS approx_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    import graft.operators.Sketches
    val events = Tables.events(s, dir)
    val keys = Seq("event_type")
    def st(f: org.apache.spark.sql.Column) =
      Sketches.distinctState(events.filter(f), keys, col("user_id"))
    val mv = Sketches.mergeDistinct(
      Sketches.mergeDistinct(
        st(col("event_id") % 3 === 0), st(col("event_id") % 3 === 1), keys),
      st(col("event_id") % 3 === 2), keys)
    val out = Sketches.estimateDistinct(mv, keys)
      .select(col("event_type"), col("n"),
        col("approx_distinct").as("approx_users"))
    // MV invariant: incremental fold tracks the single-shot sketch
    // within the lgK-12 error band (beyond the exact coupon range the
    // two paths densify differently, so estimates agree to ~rsd, not
    // bitwise — SketchSpec pins determinism and the band)
    val single = Sketches.estimateDistinct(
        Sketches.distinctState(events, keys, col("user_id")), keys)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val folded = out.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    require(single.keySet == folded.keySet && single.forall { case (k, s) =>
      math.abs(folded(k) - s) <= math.max(1L, math.round(s * 0.05)) },
      s"incremental HLL MV diverged from single-shot: $folded vs $single")
    out.orderBy(col("event_type"))
  }

  /** Theta-sketch set algebra ([[graft.operators.Sketches.overlap]]):
    * click-users vs purchase-users as two linear scans + constant-size
    * sketch algebra — no join of the two sides anywhere. Exact at gate
    * cardinality (below the sketch's k), so the oracle computes the
    * true set sizes.
    */
  val sketchOverlap: Q = Q(
    "q_sketch_overlap",
    """SELECT
      |  CAST((SELECT COUNT(DISTINCT user_id) FROM events
      |        WHERE event_type = 'click') AS DOUBLE) AS distinct_a,
      |  CAST((SELECT COUNT(DISTINCT user_id) FROM events
      |        WHERE event_type = 'purchase') AS DOUBLE) AS distinct_b,
      |  CAST((SELECT COUNT(*) FROM
      |        (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |         INTERSECT
      |         SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
      |    AS DOUBLE) AS overlap,
      |  CAST((SELECT COUNT(*) FROM
      |        (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |         EXCEPT
      |         SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
      |    AS DOUBLE) AS only_a""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    graft.operators.Sketches.overlap(
      ev.filter(col("event_type") === "click"), col("user_id"),
      ev.filter(col("event_type") === "purchase"), col("user_id"))
  }

  /** Range join (custom operator — a bare non-equi condition would be
    * a nested-loop in Spark): every event landing within one hour
    * after a signup of the same user, via time-bucket blocking. The
    * oracle runs the plain BETWEEN join — equality proves the
    * blocking exact.
    */
  val rangeJoin: Q = Q(
    "q_range_join",
    """WITH s AS (SELECT user_id AS su, event_id AS signup_id, ts AS s_ts
      |  FROM events WHERE event_type = 'signup')
      |SELECT e.event_id AS event_id, s.signup_id AS signup_id
      |FROM events e JOIN s ON e.user_id = s.su
      |  AND e.ts >= s.s_ts AND e.ts < s.s_ts + INTERVAL 1 HOUR
      |ORDER BY event_id, signup_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("s_end"))
    graft.operators.RangeJoin.pointInInterval(
      ev.select(col("user_id"), col("event_id"), col("ts")), signups,
      "user_id", "ts", "su", "s_ts", "s_end")
      .select(col("event_id"), col("signup_id"))
      .orderBy(col("event_id"), col("signup_id"))
  }

  /** AS-OF join (custom operator — Spark lacks it): each event carries
    * the same user's latest at-or-before 'signup' event id. The oracle
    * replays the identical union+window form in SQL, so the
    * one-shuffle implementation is value-proven, nulls included.
    */
  val asofJoin: Q = Q(
    "q_asof_join",
    """WITH r AS (SELECT user_id AS k, ts, MAX(event_id) AS sid
      |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id AS k, ts, event_id, CAST(NULL AS BIGINT) AS sid, 1 AS src
      |  FROM events
      |  UNION ALL
      |  SELECT k, ts, NULL, sid, 0 AS src FROM r),
      |w AS (SELECT *, LAST_VALUE(sid IGNORE NULLS) OVER (
      |    PARTITION BY k ORDER BY ts, src
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup
      |  FROM u)
      |SELECT k AS user_id, event_id, asof_signup
      |FROM w WHERE src = 1
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.operators.AsOf.joinAsOf(
      ev.select(col("user_id"), col("event_id"), col("ts")), signups,
      "user_id", "ts", "user_id", "ts", "event_id", "asof_signup")
      .select(col("user_id"), col("event_id"), col("asof_signup"))
      .orderBy(col("event_id"))
  }

  /** A6 State/Merge materialized view, oracle-gated: the MV is built
    * by folding THREE batch partials (split by event_id) and
    * finalizing; the oracle aggregates the full input directly in one
    * pass. Equality proves maintaining the MV incrementally equals
    * recomputing — including the ordered element list, canonicalized
    * to a cents string (see q_mart_wide).
    */
  val incrementalMv: Q = Q(
    "q_incremental_mv",
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total,
      |  array_to_string(LIST(
      |    CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR)
      |    ORDER BY event_id), ',') AS vals
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
    val keys = Seq("event_type")
    def part(f: org.apache.spark.sql.Column) =
      IncrementalAgg.partial(events.filter(f), keys, "value", "event_id")
    val mv = IncrementalAgg.merge(
      IncrementalAgg.merge(
        part(col("event_id") % 3 === 0), part(col("event_id") % 3 === 1), keys),
      part(col("event_id") % 3 === 2), keys)
    IncrementalAgg.finalize(mv, keys)
      .select(
        col("event_type"), col("n"), col("total"),
        array_join(
          transform(col("values"),
            x => round(x * 100).cast("long").cast("string")),
          ",").as("vals"))
      .orderBy(col("event_type"))
  }

  /** Session windows (30-min inactivity gap) via `session_window`;
    * the oracle replays the same sessions with gaps-and-islands SQL
    * (lag → new-session flag → running sum → group). Session start is
    * the first event; a new session opens when the gap is ≥ 30 min.
    */
  val sessionize: Q = Q(
    "q_sessionize",
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.functions.ExactAgg.dsum(col("value")).as("total_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Structured-Streaming hourly aggregate drained through a
    * complete-mode memory sink; oracle = the batch hourly rollup
    * (streaming ≡ batch on a bounded feed).
    */
  val streamHourly: Q = Q(
    "q_stream_hourly",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
      |FROM events
      |GROUP BY hour_ts, event_type
      |ORDER BY hour_ts, event_type""".stripMargin) { (s, dir) =>
    Streams.drainComplete(s, Streams.hourlyAgg(Streams.eventsStream(s, dir)),
        Fixtures.freshName("stream_hourly"))
      .orderBy(col("hour_ts"), col("event_type"))
  }

  /** Multimodal pipeline: media table (image rows carry REAL PNG
    * payloads) → per-partition batch feature extraction (true ImageIO
    * decode for images, byte-histogram features for audio/video) →
    * typed output with decoded dimensions. Rows-only check (binary
    * payloads are engine-internal).
    */
  /** Image near-dup via perceptual hash (dHash + Hamming banding).
    * The media population renders image payloads keyed by
    * `doc_id % 25`: same residue class ⇒ byte-identical PNG ⇒ dHash
    * distance 0, and distinct seeds render images whose dHashes
    * differ (asserted pairwise in DedupSpec) — so the exact ground
    * truth is SQL-expressible from `documents` alone: image-kind rows
    * (doc_id % 3 = 0) in the same residue class. maxDist = 0 keeps
    * the oracle exact; the recall-at-perturbation story for
    * maxDist > 0 is spec-gated (DedupSpec).
    */
  val imageNearDup: Q = Q(
    "q_image_neardup",
    """SELECT a.doc_id AS d1, b.doc_id AS d2, 0 AS hamming
      |FROM documents a JOIN documents b
      |  ON a.doc_id < b.doc_id
      | AND a.doc_id % 3 = 0 AND b.doc_id % 3 = 0
      | AND a.doc_id % 25 = b.doc_id % 25
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val media = Multimodal.syntheticMediaWithImages(
      Tables.documents(s, dir), Some(25L))
    Multimodal.imageNearDupPairs(media, maxDist = 0)
      .orderBy(col("d1"), col("d2"))
  }

  /** Oracle-checked on the generator-determined projection: decoded
    * geometry (the renderer pins width = 8 + id%8, height 8, format
    * png), payload size and 16-bin byte-histogram mass for the
    * non-image rows (text-byte payloads — the bin of a byte is its
    * first hex digit, so the oracle replays the histogram from
    * `hex(encode(text))`), and the fixed feature dimensionality. The
    * image rows' PNG byte size and luminance-histogram mass depend on
    * the encoder's output bytes — engine-internal, pinned
    * pixel-exactly in StreamSpec/DedupSpec instead (NULL here to keep
    * the catalog row hash-checkable).
    */
  val multimodalFeatures: Q = Q(
    "q_multimodal_features",
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |    hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
      |    length(text) AS nc
      |  FROM documents
      |),
      |by AS (
      |  SELECT doc_id, nb, substring(hx, CAST(2*t.x+1 AS INT), 1) AS hi
      |  FROM d, unnest(range(nb)) AS t(x) WHERE doc_id % 3 != 0
      |),
      |bins AS (
      |  SELECT doc_id, nb, hi, count(*) AS cnt FROM by GROUP BY doc_id, nb, hi
      |),
      |mass AS (
      |  SELECT doc_id,
      |    round(CAST(sum(CAST(CAST(cnt AS DOUBLE)/nb AS REAL)) AS DOUBLE), 6)
      |      AS fm
      |  FROM bins GROUP BY doc_id
      |)
      |SELECT d.doc_id AS media_id, d.kind AS kind,
      |  CASE WHEN kind != 'image' THEN CAST(nb AS INT) END AS n_bytes,
      |  CAST(CASE WHEN kind = 'image' THEN 8 + d.doc_id % 8 ELSE nc END AS INT)
      |    AS meta_width,
      |  CASE WHEN kind = 'image' THEN CAST(8 + d.doc_id % 8 AS INT) END
      |    AS dec_width,
      |  CASE WHEN kind = 'image' THEN 8 END AS dec_height,
      |  CASE WHEN kind = 'image' THEN 'png' END AS dec_format,
      |  16 AS feat_dim,
      |  CASE WHEN kind != 'image' THEN coalesce(m.fm, 0.0) END AS feat_mass
      |FROM d LEFT JOIN mass m ON d.doc_id = m.doc_id
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    val media = Multimodal.syntheticMediaWithImages(Tables.documents(s, dir))
    Multimodal.extractFeatures(media)
      .select(
        col("media_id"), col("kind"),
        when(col("kind") =!= "image", length(col("bytes"))).as("n_bytes"),
        col("meta.width").as("meta_width"),
        col("decoded.width").as("dec_width"),
        col("decoded.height").as("dec_height"),
        col("decoded.format").as("dec_format"),
        size(col("features")).as("feat_dim"),
        when(col("kind") =!= "image",
          round(aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast("double")), 6)).as("feat_mass"))
      .orderBy(col("media_id"))
  }
}
