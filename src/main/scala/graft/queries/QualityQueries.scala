package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Fuzzy, Rules, Scd}

/** Data-quality surface (SURVEY §2.10): SCD2, fuzzy lookup/grouping,
  * DQS rule validation, unknown member — all derived deterministically
  * from the star schema so DuckDB can replay the same scenario.
  */
object QualityQueries {

  def all: Seq[Q] = Seq(scd2, streamScd2, fuzzyLookup, fuzzyGroup,
    fuzzyGroupCc, dqsValidate, dqsSuggest, unknownMember, piiScrub,
    outlierIqr)

  /** Per-group IQR outlier screen ([[graft.operators.Rules.outliers]],
    * Tukey fences at k=1.5) over event values, rolled up per type:
    * fences + outlier counts. Exact quartiles (`percentile` ≡ DuckDB
    * `quantile_cont`, the q_percentile-proven pair) and fence
    * arithmetic mirrored expression-for-expression, so the flags
    * replay bit-exactly. NULL/NaN screened upfront on BOTH sides —
    * they are a different defect class than outliers.
    */
  val outlierIqr: Q = Q(
    "q_outlier_iqr",
    """WITH v AS (SELECT event_type, value FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value)),
      |s AS (SELECT event_type, quantile_cont(value, 0.25) AS q1,
      |    quantile_cont(value, 0.75) AS q3
      |  FROM v GROUP BY 1)
      |SELECT v.event_type,
      |  MIN(s.q1 - 1.5*(s.q3 - s.q1)) AS lo_fence,
      |  MIN(s.q3 + 1.5*(s.q3 - s.q1)) AS hi_fence,
      |  CAST(SUM(CASE WHEN v.value < s.q1 - 1.5*(s.q3 - s.q1)
      |      OR v.value > s.q3 + 1.5*(s.q3 - s.q1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
      |  COUNT(*) AS n_total
      |FROM v JOIN s USING (event_type)
      |GROUP BY v.event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull && !isnan(col("value")))
    graft.operators.Rules.outliers(ev, col("event_type"), col("value"))
      .groupBy(col("event_type"))
      .agg(
        min(col("lo_fence")).as("lo_fence"),
        min(col("hi_fence")).as("hi_fence"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_out"),
        count(lit(1)).as("n_total"))
      .orderBy(col("event_type"))
  }

  /** Streaming SCD2 ([[graft.streaming.Streams.scd2Stream]]): two
    * dated staging snapshots (2024-06-01: every bk%5 key changes
    * segment to `_X`; 2024-07-01: every bk%10 key changes again to
    * `_XY`) delivered as two micro-batches (maxFilesPerTrigger=1,
    * file order pinned by explicit mtimes, no sleeps). The drained
    * dimension must equal the date-ordered batch application — keys
    * changed twice carry TWO closed versions plus the `_XY` current,
    * keys changed once keep their `_X` current, untouched keys pass
    * through — which the oracle enumerates directly.
    */
  val streamScd2: Q = Q(
    "q_stream_scd2",
    """WITH dim AS (SELECT c_custkey AS customer_bk, c_name AS name,
      |    c_mktsegment AS segment FROM customer)
      |SELECT customer_bk, name, segment, is_current, start_date, end_date FROM (
      |  SELECT customer_bk, name, segment, true AS is_current,
      |    DATE '2020-01-01' AS start_date, CAST(NULL AS DATE) AS end_date
      |  FROM dim WHERE customer_bk % 5 <> 0
      |  UNION ALL
      |  SELECT customer_bk, name, segment, false,
      |    DATE '2020-01-01', DATE '2024-06-01'
      |  FROM dim WHERE customer_bk % 5 = 0
      |  UNION ALL
      |  SELECT customer_bk, name, segment || '_X', true,
      |    DATE '2024-06-01', NULL
      |  FROM dim WHERE customer_bk % 5 = 0 AND customer_bk % 10 <> 0
      |  UNION ALL
      |  SELECT customer_bk, name, segment || '_X', false,
      |    DATE '2024-06-01', DATE '2024-07-01'
      |  FROM dim WHERE customer_bk % 10 = 0
      |  UNION ALL
      |  SELECT customer_bk, name, segment || '_XY', true,
      |    DATE '2024-07-01', NULL
      |  FROM dim WHERE customer_bk % 10 = 0
      |) t
      |ORDER BY customer_bk, start_date""".stripMargin) { (s, dir) =>
    import graft.streaming.Streams
    val cust = Tables.customer(s, dir)
    val dim = cust.select(
      col("c_custkey").as("customer_bk"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"),
      lit(true).as("is_current"),
      lit("2020-01-01").cast("date").as("start_date"),
      lit(null).cast("date").as("end_date"))
    val root = Fixtures.fresh("scd2_stream")
    def snap(i: Int, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      df.coalesce(1).write.parquet(s"$root/b=$i")
      new java.io.File(s"$root/b=$i").listFiles()
        .foreach(f => f.setLastModified(mtime))
    }
    snap(0, cust.filter(col("c_custkey") % 5 === 0).select(
      col("c_custkey").as("customer_bk"), col("c_name").as("name"),
      concat(col("c_mktsegment"), lit("_X")).as("segment"),
      lit("2024-06-01").cast("date").as("run_date")), 1700000000000L)
    snap(1, cust.filter(col("c_custkey") % 10 === 0).select(
      col("c_custkey").as("customer_bk"), col("c_name").as("name"),
      concat(col("c_mktsegment"), lit("_XY")).as("segment"),
      lit("2024-07-01").cast("date").as("run_date")), 1700000100000L)
    Streams.scd2Stream(s, Streams.fileFeed(s, root), dim,
        "customer_bk", Seq("name", "segment"), "run_date")
      .orderBy(col("customer_bk"), col("start_date"))
  }

  /** PII redaction over the customer names (account-number shapes):
    * digits masked to '*', with a per-row redacted-character count for
    * the audit gate. Simple character-class regex ⇒ identical
    * semantics in both engines; narrow codegen map at any scale.
    */
  val piiScrub: Q = Q(
    "q_pii_scrub",
    """SELECT c_custkey,
      |  regexp_replace(c_name, '[0-9]', '*', 'g') AS masked_name,
      |  CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS BIGINT)
      |    AS n_redacted
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val (masked, removed) = graft.operators.Rules.redact(col("c_name"), "[0-9]")
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        masked.as("masked_name"),
        removed.as("n_redacted"))
      .orderBy(col("c_custkey"))
  }

  /** SCD Type 2 over a synthesized staging snapshot: customers with
    * bk%5==0 change segment, bk%7==0 are absent from staging
    * (untouched), bk%50==0 additionally spawn brand-new keys.
    */
  val scd2: Q = Q(
    "q_scd2",
    """WITH dim AS (SELECT c_custkey AS customer_bk, c_name AS name,
      |    c_mktsegment AS segment FROM customer)
      |SELECT customer_bk, name, segment, is_current, start_date, end_date FROM (
      |  SELECT customer_bk, name, segment, true AS is_current,
      |    DATE '2020-01-01' AS start_date, CAST(NULL AS DATE) AS end_date
      |  FROM dim WHERE customer_bk % 7 = 0 OR customer_bk % 5 <> 0
      |  UNION ALL
      |  SELECT customer_bk, name, segment, false,
      |    DATE '2020-01-01', DATE '2024-06-01'
      |  FROM dim WHERE customer_bk % 7 <> 0 AND customer_bk % 5 = 0
      |  UNION ALL
      |  SELECT customer_bk, name, segment || '_X', true,
      |    DATE '2024-06-01', NULL
      |  FROM dim WHERE customer_bk % 7 <> 0 AND customer_bk % 5 = 0
      |  UNION ALL
      |  SELECT customer_bk + 1000000, name || '_NEW', segment, true,
      |    DATE '2024-06-01', NULL
      |  FROM dim WHERE customer_bk % 50 = 0
      |) t
      |ORDER BY customer_bk, is_current, start_date""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val dim = cust.select(
      col("c_custkey").as("customer_bk"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"),
      lit(true).as("is_current"),
      lit("2020-01-01").cast("date").as("start_date"),
      lit(null).cast("date").as("end_date"))
    val stagingBase = cust.filter(col("c_custkey") % 7 =!= 0).select(
      col("c_custkey").as("customer_bk"),
      col("c_name").as("name"),
      when(col("c_custkey") % 5 === 0, concat(col("c_mktsegment"), lit("_X")))
        .otherwise(col("c_mktsegment")).as("segment"))
    val stagingNew = cust.filter(col("c_custkey") % 50 === 0).select(
      (col("c_custkey") + 1000000).as("customer_bk"),
      concat(col("c_name"), lit("_NEW")).as("name"),
      col("c_mktsegment").as("segment"))
    Scd.scd2(dim, stagingBase.unionByName(stagingNew),
        "customer_bk", Seq("name", "segment"), "2024-06-01")
      .orderBy(col("customer_bk"), col("is_current"), col("start_date"))
  }

  /** Fuzzy Lookup: '#'-stripped customer names matched back to the
    * clean reference at similarity ≥ 0.8 (Levenshtein-normalized),
    * best match per stream row. The oracle cross-joins; the operator
    * 3-gram-blocks — identical results because every ≥0.8 pair shares
    * grams.
    */
  val fuzzyLookup: Q = Q(
    "q_fuzzy_lookup",
    """WITH stream AS (SELECT c_custkey AS sid,
      |    substring(c_name, 1, 8) || substring(c_name, 10) AS dirty
      |  FROM customer WHERE c_custkey < 100),
      |ref AS (SELECT c_custkey AS rid, c_name FROM customer),
      |scored AS (SELECT sid, rid,
      |    1.0 - CAST(levenshtein(dirty, c_name) AS DOUBLE)
      |        / CAST(greatest(length(dirty), length(c_name)) AS DOUBLE) AS _similarity
      |  FROM stream, ref)
      |SELECT sid, rid AS match_id, _similarity FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY sid
      |      ORDER BY _similarity DESC, rid) AS rn
      |  FROM scored WHERE _similarity >= 0.8) t
      |WHERE rn = 1
      |ORDER BY sid""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val stream = cust.filter(col("c_custkey") < 100).select(
      col("c_custkey").as("sid"),
      concat(substring(col("c_name"), 1, 8), substring(col("c_name"), 10, 100))
        .as("dirty"))
    val ref = cust.select(col("c_custkey").as("rid"), col("c_name"))
    // PassJoin segment blocking — lossless for sim >= tau (the
    // unchanged cross-join oracle proves it)
    Fuzzy.lookupEdit(stream, ref, "sid", "dirty", "rid", "c_name", tau = 0.8)
      .select(col("sid"), col("rid").as("match_id"), col("_similarity"))
      .orderBy(col("sid"))
  }

  /** Fuzzy Grouping over mangled names. The single-level canonical
    * pick (min id over the ≥τ neighborhood, self included) is exactly
    * expressible as a brute-force similarity self-join in the oracle —
    * equality proves the gram blocking + one-sided scoring +
    * symmetrization lossless.
    */
  val fuzzyGroup: Q = Q(
    "q_fuzzy_group",
    """WITH m AS (SELECT c_custkey AS id,
      |    CASE WHEN c_custkey % 3 = 0
      |      THEN substring(c_name, 1, 8) || substring(c_name, 10)
      |      ELSE c_name END AS name
      |  FROM customer WHERE c_custkey < 200),
      |nbr AS (SELECT a.id AS id, MIN(b.id) AS min_nbr
      |  FROM m a JOIN m b ON a.id <> b.id
      |    AND 1.0 - CAST(levenshtein(a.name, b.name) AS DOUBLE)
      |      / CAST(greatest(length(a.name), length(b.name)) AS DOUBLE) >= 0.85
      |  GROUP BY a.id),
      |keyed AS (SELECT m.id AS _key_in,
      |    least(COALESCE(nbr.min_nbr, m.id), m.id) AS _key_out,
      |    m.name AS name
      |  FROM m LEFT JOIN nbr ON m.id = nbr.id)
      |SELECT k._key_in, k._key_out, k.name,
      |  CASE WHEN k._key_in = k._key_out THEN 1.0
      |    ELSE 1.0 - CAST(levenshtein(k.name, c.name) AS DOUBLE)
      |      / CAST(greatest(length(k.name), length(c.name)) AS DOUBLE)
      |  END AS _score
      |FROM keyed k JOIN m c ON k._key_out = c.id
      |ORDER BY _key_in""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir).filter(col("c_custkey") < 200)
    val mangled = cust.select(
      col("c_custkey").as("id"),
      when(col("c_custkey") % 3 === 0,
        concat(substring(col("c_name"), 1, 8), substring(col("c_name"), 10, 100)))
        .otherwise(col("c_name")).as("name"))
    Fuzzy.group(mangled, "id", "name", tau = 0.85)
      .select(col("_key_in"), col("_key_out"), col("name"), col("_score"))
      .orderBy(col("_key_in"))
  }

  /** Transitive Fuzzy Grouping over the same mangled population:
    * connected components of the ≥τ similarity graph (min-label
    * propagation + pointer jumping in Spark). The oracle computes the
    * SAME fixpoint from first principles — a recursive reachability
    * CTE over the brute-force similarity edges, component id = min
    * reachable id — so equality proves both the gram blocking's recall
    * AND the distributed fixpoint iteration exact.
    */
  val fuzzyGroupCc: Q = Q(
    "q_fuzzy_group_cc",
    """WITH RECURSIVE m AS (SELECT c_custkey AS id,
      |    CASE WHEN c_custkey % 3 = 0
      |      THEN substring(c_name, 1, 8) || substring(c_name, 10)
      |      ELSE c_name END AS name
      |  FROM customer WHERE c_custkey < 200),
      |sim AS (SELECT a.id AS src, b.id AS dst
      |  FROM m a JOIN m b ON a.id <> b.id
      |    AND 1.0 - CAST(levenshtein(a.name, b.name) AS DOUBLE)
      |      / CAST(greatest(length(a.name), length(b.name)) AS DOUBLE) >= 0.85),
      |reach(src, dst) AS (
      |  SELECT id, id FROM m
      |  UNION
      |  SELECT r.src, s.dst FROM reach r JOIN sim s ON r.dst = s.src)
      |SELECT m.id AS _key_in, comp._key_out, m.name
      |FROM m JOIN (SELECT src, MIN(dst) AS _key_out
      |  FROM reach GROUP BY src) comp ON m.id = comp.src
      |ORDER BY _key_in""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir).filter(col("c_custkey") < 200)
    val mangled = cust.select(
      col("c_custkey").as("id"),
      when(col("c_custkey") % 3 === 0,
        concat(substring(col("c_name"), 1, 8), substring(col("c_name"), 10, 100)))
        .otherwise(col("c_name")).as("name"))
    Fuzzy.groupConnected(mangled, "id", "name", tau = 0.85)
      .select(col("_key_in"), col("_key_out"), col("name"))
      .orderBy(col("_key_in"))
  }

  /** DQS-style rule validation: domain rule with correction
    * (segment → OTHER), range and format rules without (→ invalid).
    */
  val dqsValidate: Q = Q(
    "q_dqs_validate",
    """SELECT c_custkey,
      |  CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY')
      |         AND c_acctbal BETWEEN -1000 AND 8000
      |         AND c_name LIKE 'Customer#%' THEN 'valid'
      |       WHEN NOT (c_acctbal BETWEEN -1000 AND 8000)
      |         OR NOT (c_name LIKE 'Customer#%') THEN 'invalid'
      |       ELSE 'corrected' END AS dq_status,
      |  CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY')
      |       THEN c_mktsegment ELSE 'OTHER' END AS c_mktsegment,
      |  c_acctbal
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val allowed = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")
    Rules.validate(
      Tables.customer(s, dir),
      Seq(
        Rules.Rule("c_mktsegment",
          col("c_mktsegment").isin(allowed: _*), Some(lit("OTHER"))),
        Rules.Rule("c_acctbal",
          col("c_acctbal").between(-1000, 8000), None),
        Rules.Rule("c_name", col("c_name").startsWith("Customer#"), None)))
      .select(col("c_custkey"), col("dq_status"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** DQS "Suggested" outcome: same rules as q_dqs_validate, but the
    * domain correction is PROPOSED, not applied — the original
    * c_mktsegment survives and the suggestion rides in its own column
    * for reviewer sign-off (reference's Correct/Suggested/Invalid
    * triad, Глава 11:66-84).
    */
  val dqsSuggest: Q = Q(
    "q_dqs_suggest",
    """SELECT c_custkey,
      |  CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY')
      |         AND c_acctbal BETWEEN -1000 AND 8000
      |         AND c_name LIKE 'Customer#%' THEN 'valid'
      |       WHEN NOT (c_acctbal BETWEEN -1000 AND 8000)
      |         OR NOT (c_name LIKE 'Customer#%') THEN 'invalid'
      |       ELSE 'suggested' END AS dq_status,
      |  c_mktsegment,
      |  CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY')
      |       THEN NULL ELSE 'OTHER' END AS c_mktsegment_suggested,
      |  c_acctbal
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val allowed = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")
    Rules.validateSuggest(
      Tables.customer(s, dir),
      Seq(
        Rules.Rule("c_mktsegment",
          col("c_mktsegment").isin(allowed: _*), Some(lit("OTHER"))),
        Rules.Rule("c_acctbal",
          col("c_acctbal").between(-1000, 8000), None),
        Rules.Rule("c_name", col("c_name").startsWith("Customer#"), None)))
      .select(col("c_custkey"), col("dq_status"), col("c_mktsegment"),
        col("c_mktsegment_suggested"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** Unknown-member: fact rows with a poisoned dimension key keep
    * flowing with surrogate −1 instead of being dropped.
    */
  val unknownMember: Q = Q(
    "q_unknown_member",
    """SELECT CASE WHEN o_orderkey % 13 = 0 THEN -1 ELSE o_custkey END AS customer_sk,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY customer_sk
      |ORDER BY customer_sk""".stripMargin) { (s, dir) =>
    val fact = Tables.orders(s, dir).select(
      col("o_orderkey"),
      (col("o_custkey") +
        when(col("o_orderkey") % 13 === 0, 1000000).otherwise(0))
        .as("cust_fk"))
    val dim = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_custkey").as("customer_sk"))
    Scd.unknownMember(fact, dim, "cust_fk", "c_custkey", "customer_sk")
      .groupBy(col("customer_sk"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("customer_sk"))
  }
}
