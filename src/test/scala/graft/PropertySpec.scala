package graft

import org.apache.spark.sql.functions._
import scala.util.Random
import graft.functions.{ExactAgg, OrderedAgg, Text}
import graft.operators.{AsOf, RangeJoin, Skew}

/** Algebraic invariants from SURVEY §5 (reference prose → properties):
  * zip keeps length, explode multiplies row counts by array sizes,
  * exact sums are partition-invariant, salted join ≡ plain join.
  * Deterministic seeded generators (scalatestplus bridge is not in
  * the offline cache; plain loops give the same coverage).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)

  test("property: Components.connected equals union-find on random graphs") {
    for (trial <- 1 to 3) {
      val n = 40 + rnd.nextInt(60)
      val nEdges = rnd.nextInt(n) // sparse: interesting component mix
      val edgeList = List.fill(nEdges)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edgeList.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0L until n).map(i => i -> find(i)).toMap
      val nodes = (0L until n).toDF("id")
      val edges =
        if (edgeList.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else edgeList.toDF("src", "dst")
      val got = graft.operators.Components.connected(nodes, "id", edges, "src", "dst")
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: n=$n edges=${edgeList.size}")
      CacheScope.release()
    }
  }

  test("property: ChangeFeed replay reconstructs any random mutation sequence") {
    import graft.sources.{ChangeFeed, TxTable}
    for (trial <- 1 to 3) {
      val root = s"target/tmp/cfprop_${trial}_${System.nanoTime()}"
      val nKeys = 20 + rnd.nextInt(20)
      def part(k: Long) = s"P${k % 3}"
      var state = (0L until nKeys)
        .map(k => k -> rnd.nextInt(1000).toDouble).toMap
      TxTable.create(
        state.toSeq.map { case (k, v) => (k, part(k), v) }
          .toDF("k", "p", "v"), root, Some("p"))

      // random mutation batches: each picks keys to update/delete/insert,
      // applied as partition overwrites of every TOUCHED partition
      var fromV = 0L
      for (_ <- 1 to 3) {
        val updates = state.keys.filter(_ => rnd.nextBoolean()).toSeq
          .map(k => k -> rnd.nextInt(1000).toDouble)
        val deletes = (state.keySet -- updates.map(_._1))
          .filter(_ => rnd.nextInt(4) == 0)
        val inserts = List.fill(rnd.nextInt(5))(
          (nKeys + rnd.nextInt(1000)).toLong)
          .filterNot(state.contains).distinct.map(k => k -> rnd.nextInt(1000).toDouble)
        val next = (state -- deletes) ++ updates ++ inserts
        val touched = (updates.map(_._1) ++ deletes ++ inserts.map(_._1))
          .map(part).toSet
        if (touched.nonEmpty) {
          val rows = next.toSeq.collect {
            case (k, v) if touched(part(k)) => (k, part(k), v)
          }
          // a partition whose keys all vanished must be dropped explicitly
          val emptied = touched -- rows.map(_._2).toSet
          TxTable.overwritePartitions(
            rows.toDF("k", "p", "v"), root, "p",
            alsoDropValues = emptied.toSeq)
          val toV = TxTable.currentVersion(spark, root).get
          // the feed over the range replays v_from into v_to
          val feed = ChangeFeed.between(spark, root, fromV, toV, Seq("k"))
            .select("k", "v", ChangeFeed.OpCol)
            .as[(Long, Double, String)].collect()
          val replayed = feed.foldLeft(state) {
            case (s, (k, _, "delete")) => s - k
            case (s, (k, v, _)) => s.updated(k, v)
          }
          assert(replayed == next,
            s"trial $trial: feed replay diverged from the applied state")
          fromV = toV
        }
        state = next
      }
      // and the WHOLE history nets into one feed: replay(v0, feed(0, cur))
      val cur = TxTable.currentVersion(spark, root).get
      if (cur > 0) {
        val v0 = TxTable.readVersion(spark, root, 0L)
          .select("k", "v").as[(Long, Double)].collect().toMap
        val netFeed = ChangeFeed.between(spark, root, 0L, cur, Seq("k"))
          .select("k", "v", ChangeFeed.OpCol)
          .as[(Long, Double, String)].collect()
        val replayed = netFeed.foldLeft(v0) {
          case (s, (k, _, "delete")) => s - k
          case (s, (k, v, _)) => s.updated(k, v)
        }
        assert(replayed == state,
          s"trial $trial: net feed over the whole history diverged")
      }
    }
  }

  test("property: dsum is invariant under partitioning and ordering") {
    for (_ <- 1 to 5) {
      val xs = List.fill(30)(rnd.nextLong() % 100000L).map(_ / 100.0)
      val parts = 1 + rnd.nextInt(8)
      val df = xs.toDF("x")
      val a = df.agg(ExactAgg.dsum($"x")).head.getDouble(0)
      val b = df.repartition(parts).agg(ExactAgg.dsum($"x")).head.getDouble(0)
      val c = xs.reverse.toDF("x").agg(ExactAgg.dsum($"x")).head.getDouble(0)
      assert(a == b && b == c, s"xs=$xs parts=$parts")
    }
  }

  test("property: explode row count = sum of array sizes (ARRAY JOIN invariant)") {
    for (_ <- 1 to 5) {
      val sizes = List.fill(10)(rnd.nextInt(6))
      val df = sizes.zipWithIndex
        .map { case (n, i) => (i.toLong, (0 until n).map(_.toString)) }
        .toDF("id", "arr")
      assert(df.select($"id", explode($"arr")).count() == sizes.map(_.toLong).sum)
    }
  }

  test("property: sortedZip output length = group size (arrayZip invariant)") {
    for (_ <- 1 to 5) {
      val n = 1 + rnd.nextInt(40)
      val df = (0 until n).map(i => (1, i, s"v$i")).toDF("k", "o", "v")
      val z = df.groupBy($"k")
        .agg(OrderedAgg.sortedZip($"o", "v" -> $"v").as("z"))
        .select(size($"z")).head.getInt(0)
      assert(z == n)
    }
  }

  test("property: wordShingles count = max(0, tokens - n + 1)") {
    for (t <- Seq(0, 1, 2, 3, 5, 12); n <- 1 to 4) {
      val text = (0 until t).map(i => s"w$i").mkString(" ")
      val c = Seq(text).toDF("text")
        .select(size(Text.wordShingles(Text.tokens($"text"), n)))
        .head.getInt(0)
      assert(c == math.max(0, t - n + 1), s"t=$t n=$n")
    }
  }

  test("property: as-of join equals the naive per-row latest-at-or-before scan") {
    for (_ <- 1 to 3) {
      val left = List.fill(30)((rnd.nextInt(4).toLong, rnd.nextInt(50).toLong))
        .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val right = List.fill(15)((rnd.nextInt(4).toLong, rnd.nextInt(50).toLong,
        rnd.nextInt(1000).toLong))
      val lDf = left.toDF("k", "t", "eid")
      val rDf = right.toDF("k", "t", "v")
      val got = AsOf.joinAsOf(lDf, rDf, "k", "t", "k", "t", "v", "av")
        .select($"eid", $"av")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      // naive reference: per left row, the max v among right rows at
      // the max at-or-before ts of the same key (max v = the operator's
      // documented per-(key,ts) tie resolution)
      left.foreach { case (k, t, eid) =>
        val eligible = right.filter(r => r._1 == k && r._2 <= t)
        val want =
          if (eligible.isEmpty) None
          else {
            val ts = eligible.map(_._2).max
            Some(eligible.filter(_._2 == ts).map(_._3).max)
          }
        assert(got(eid) == want, s"k=$k t=$t")
      }
    }
  }

  test("property: bucket-blocked range join equals the plain non-equi join") {
    for (trial <- 1 to 3) {
      val pts = List.fill(25)((rnd.nextInt(3).toLong, rnd.nextInt(100000).toLong))
        .zipWithIndex.map { case ((k, s), i) =>
          (k, new java.sql.Timestamp(1700000000000L + s * 1000), i.toLong) }
      val ivs = List.fill(10)((rnd.nextInt(3).toLong, rnd.nextInt(100000).toLong,
        rnd.nextInt(20000).toLong)).zipWithIndex.map { case ((k, s, len), i) =>
          (k, new java.sql.Timestamp(1700000000000L + s * 1000),
            new java.sql.Timestamp(1700000000000L + (s + len) * 1000), i.toLong) }
      val pDf = pts.toDF("k", "pt", "pid")
      val iDf = ivs.toDF("ik", "s", "e", "iid")
      val blocked = RangeJoin.pointInInterval(pDf, iDf, "k", "pt", "ik", "s", "e")
        .select($"pid", $"iid").as[(Long, Long)].collect().toSet
      val plain = pDf.join(iDf,
          $"k" === $"ik" && $"pt" >= $"s" && $"pt" < $"e")
        .select($"pid", $"iid").as[(Long, Long)].collect().toSet
      assert(blocked == plain, s"trial=$trial")
    }
  }

  test("property: salted join equals plain join") {
    for (_ <- 1 to 3) {
      val lk = List.fill(25)(rnd.nextInt(6))
      val rk = List.fill(6)(rnd.nextInt(6)).distinct
      val factor = 2 + rnd.nextInt(4)
      val l = lk.zipWithIndex.map { case (k, i) => (k.toLong, i.toLong) }
        .toDF("k", "lv")
      val r = rk.map(k => (k.toLong, s"r$k")).toDF("rk", "rv")
      val plain = l.join(r, l("k") === r("rk"))
        .select("k", "lv", "rv").as[(Long, Long, String)].collect().toSet
      val salted = Skew.saltedJoin(l, r, "k", "rk", "lv", factor)
        .select("k", "lv", "rv").as[(Long, Long, String)].collect().toSet
      assert(salted == plain, s"factor=$factor")
    }
  }

  test("property: bucket-group pruning never changes query results") {
    // the soundness contract behind BucketIds.allowedByFilters: pruning
    // may only REMOVE provably-empty groups — every predicate shape,
    // enumerable or not, must return exactly what an unbucketed copy of
    // the same rows returns (wrong pruning = silent row loss)
    val wh = s"target/tmp/graft_prune_prop_${System.nanoTime()}"
    spark.conf.set("spark.sql.catalog.pb", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pb.warehouse", wh)
    spark.sql("CREATE NAMESPACE pb.t")
    spark.sql(
      "CREATE TABLE pb.t.p (k BIGINT, s STRING, v DOUBLE) " +
        "PARTITIONED BY (bucket(8, k))")
    spark.sql(
      """INSERT INTO pb.t.p
        |SELECT CASE WHEN id % 97 = 0 THEN NULL ELSE id % 211 END AS k,
        |       concat('x', id % 13) AS s, id * 1.0 AS v
        |FROM range(0, 500)""".stripMargin)
    spark.sql(
      """SELECT CASE WHEN id % 97 = 0 THEN NULL ELSE id % 211 END AS k,
        |       concat('x', id % 13) AS s, id * 1.0 AS v
        |FROM range(0, 500)""".stripMargin).createOrReplaceTempView("pb_plain")
    val predicates = Seq(
      "k = 5", "k = 5000", "5 = k", "k IN (1, 2, 3)", "k IN (5, NULL)",
      "k <=> NULL", "k IS NULL", "k = NULL", "k = 5 OR k = 700",
      "(k = 5 AND v > 0) OR k = 9", "k % 7 = 0", "k > 450",
      "s = 'x3' AND k IN (3, 33)", "NOT (k = 5)",
      "k IN (1,2,3,4,5,6,7,8,9,10,11,12,13,14)") // InSet conversion
    predicates.foreach { p =>
      val got = spark.sql(s"SELECT k, s, v FROM pb.t.p WHERE $p")
        .collect().map(_.toString).sorted.toSeq
      val want = spark.sql(s"SELECT k, s, v FROM pb_plain WHERE $p")
        .collect().map(_.toString).sorted.toSeq
      assert(got == want,
        s"WHERE $p: pruned scan returned ${got.size} rows, expected ${want.size}")
    }
  }

  test("repetitionRatio: 0 for empty/all-distinct, (n-1)/n for constant text") {
    val df = Seq(
      (1L, ""), (2L, "   "), (3L, "a b c"), (4L, "x x x x"),
      (5L, "a b a")).toDF("id", "t")
    val got = df.select($"id", Text.repetitionRatio($"t").as("r"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0 && got(2L) == 0.0, "empty text guards")
    assert(got(3L) == 0.0, "all-distinct")
    assert(got(4L) == 1.0 - 1.0 / 4.0, "constant text")
    assert(got(5L) == 1.0 - 2.0 / 3.0)
  }

  test("salted join spreads a hot key across factor partitions") {
    // one giant key (Zipf head), broadcast disabled so the join really
    // shuffles on the composite (key, salt) — the scenario saltedJoin
    // exists for. Without salting every hot-key row lands in ONE
    // shuffle partition; with it they must occupy > 1 (and ≤ factor).
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> conf.get(k))
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val hot = (1 to 2000).map(i => (7L, i.toLong)) ++
        (1 to 50).map(i => (i.toLong % 5, 10000L + i))
      val l = hot.toDF("k", "lv")
      val r = (0 to 10).map(k => (k.toLong, s"r$k")).toDF("rk", "rv")
      val factor = 8
      val salted = Skew.saltedJoin(l, r, "k", "rk", "lv", factor)
      val spread = salted.filter($"k" === 7L)
        .select(spark_partition_id().as("p"))
        .distinct().count()
      assert(spread > 1 && spread <= factor,
        s"hot key occupied $spread partitions (factor=$factor)")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("property: chunkWindows reconstructs the token stream exactly") {
    // invariant: chunk 0 plus every later chunk's post-overlap suffix
    // re-concatenates to the full token stream — which also proves the
    // covered-tail drop rule loses nothing (a tail is only dropped
    // when its predecessor already reached the end)
    import graft.operators.Pack
    val cases = for (_ <- 1 to 12) yield
      (rnd.nextInt(40), 2 + rnd.nextInt(8), rnd.nextInt(4))
    for ((t, w, oRaw) <- cases; o = math.min(oRaw, w - 1)) {
      val toks = (0 until t).map(i => s"w$i")
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = Pack.chunkWindows(df, "doc_id", "text", w, o)
        .orderBy(col("chunk_id"))
        .select(col("chunk_id"), col("n_tok"), col("chunk_text"))
        .as[(Long, Long, String)].collect()
      if (t == 0) assert(chunks.isEmpty)
      else {
        // ordinals are the kept starts' stride multiples — strictly
        // increasing but possibly with the final one(s) absent
        assert(chunks.map(_._1).toSeq == chunks.map(_._1).toSeq.sorted)
        chunks.foreach { case (_, n, txt) =>
          assert(txt.split(" ").length == n)
        }
        val rebuilt = chunks.zipWithIndex.flatMap { case ((_, _, txt), i) =>
          val ts = txt.split(" ").toSeq
          if (i == 0) ts else ts.drop(o)
        }
        assert(rebuilt.toSeq == toks, s"t=$t w=$w o=$o: ${rebuilt.toSeq} vs $toks")
      }
    }
  }

  test("property: scd2Stream equals a sequential per-date model on random dated feeds") {
    import java.sql.Date
    type Ver = (Long, Option[String], Option[String], Boolean, String, Option[String])
    val days = (0 until 6).map(i => Date.valueOf(f"2024-06-${1 + 3 * i}%02d"))
    val vals = Seq(Some("x"), Some("y"), None) // nulls exercise <=>
    def pick(): Option[String] = vals(rnd.nextInt(vals.size))
    for (trial <- 1 to 6) {
      // keys 1..6 are current (their start dates drawn from the same
      // days, so a staged date can precede a current row's start), some
      // with a closed version; keys 7..9 are absent from the dimension
      val cur = (1L to 6L).map(k => (k, pick(), pick(), days(rnd.nextInt(days.size))))
      val hist = cur.filter(_ => rnd.nextBoolean()).map { case (k, _, _, s) =>
        (k, pick(), pick(), false, Date.valueOf("2020-01-01"), Option(s)) }
      // 1–3 batches over ascending dates; a batch may re-deliver the
      // previous batch's last snapshot, and its rows are shuffled
      val dates = rnd.shuffle(days.toList).take(2 + rnd.nextInt(4)).sortBy(_.getTime)
      val cuts = (1 until dates.size).filter(_ => rnd.nextInt(3) == 0).take(2)
      val groups = (0 +: cuts :+ dates.size).sliding(2)
        .map { case Seq(a, b) => dates.slice(a, b) }.toSeq
      val snaps = dates.map(d => d -> rnd.shuffle((1L to 9L).toList)
        .take(1 + rnd.nextInt(9)).map(k => (k, pick(), pick(), d))).toMap
      val batches = groups.zipWithIndex.map { case (g, i) =>
        val redeliver =
          if (i > 0 && rnd.nextBoolean()) snaps(groups(i - 1).last) else Nil
        rnd.shuffle(redeliver ++ g.flatMap(snaps))
      }
      // the model: plain Scala, one batch and one date at a time
      val open = scala.collection.mutable.Map(
        cur.map { case (k, a, b, s) => k -> ((a, b, s)) }: _*)
      val closed = Seq.newBuilder[Ver]
      hist.foreach { case (k, a, b, _, s, e) =>
        closed += ((k, a, b, false, s.toString, e.map(_.toString))) }
      for {
        batch <- batches
        (d, rows) <- batch.groupBy(_._4).toSeq.sortBy(_._1.getTime)
        (k, a, b, _) <- rows
      } open.get(k) match {
        case Some((ca, cb, _)) if ca == a && cb == b => ()
        case Some((ca, cb, s)) =>
          closed += ((k, ca, cb, false, s.toString, Some(d.toString)))
          open(k) = (a, b, d)
        case None => open(k) = (a, b, d)
      }
      val expected = (closed.result() ++ open.map { case (k, (a, b, s)) =>
        (k, a, b, true, s.toString, None) }).sortBy(_.toString)

      val dim = (cur.map { case (k, a, b, s) => (k, a, b, true, s, None: Option[Date]) } ++ hist)
        .toDF("bk", "a", "b", "is_current", "start_date", "end_date")
      val root = s"target/tmp/scd2prop_${System.nanoTime()}"
      batches.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("bk", "a", "b", "run_date").coalesce(1).write.parquet(s"$root/b=$i")
        new java.io.File(s"$root/b=$i").listFiles()
          .foreach(_.setLastModified(1700000000000L + i * 100000L))
      }
      val got = graft.streaming.Streams.scd2Stream(spark,
          graft.streaming.Streams.fileFeed(spark, root), dim, "bk", Seq("a", "b"), "run_date")
        .select(col("bk"), col("a"), col("b"), col("is_current"),
          col("start_date").cast("string"), col("end_date").cast("string"))
        .as[(Long, Option[String], Option[String], Boolean, String, Option[String])]
        .collect().toSeq.sortBy(_.toString)
      assert(got == expected, s"trial $trial: batches=$batches dim=$cur hist=$hist")
    }
  }
}
