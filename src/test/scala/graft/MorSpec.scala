package graft

import org.apache.spark.sql.functions._
import graft.sources.{ChangeFeed, GraftFileIndex, MergeOnRead, TxTable}

/** Merge-on-read position deletes: DELETE writes bytes ∝ deleted rows
  * (no data-file rewrite), every read surface merges the delete set,
  * copy-on-write DML materializes first, compact/materialize localize,
  * CDF/restore/vacuum/clone stay correct across DV-bearing versions.
  */
class MorSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String) =
    s"target/tmp/mor_${tag}_${System.nanoTime()}"

  private def seed = (1L to 100L).map(k =>
    (k, if (k % 2 == 0) "even" else "odd", k * 1.5)).toDF("k", "p", "v")

  private def dataPaths(root: String): Set[String] =
    TxTable.currentSnapshot(spark, root).get.entries.map(_.relPath).toSet

  test("deleteWhere removes scattered rows WITHOUT rewriting any data file") {
    val root = freshRoot("basic")
    TxTable.create(seed, root, Some("p"))
    val before = dataPaths(root)
    val (v, n) = MergeOnRead.deleteWhere(spark, root, expr("k % 7 = 0"))
    assert(v == 1L)
    assert(n == 14L, s"100/7 = 14 doomed rows, got $n")
    // THE merge-on-read contract: the data file set is byte-identical
    assert(dataPaths(root) == before,
      "merge-on-read DELETE must not rewrite data files")
    val snap = TxTable.currentSnapshot(spark, root).get
    assert(snap.dvs.nonEmpty && snap.dvs.map(_.rows).sum == 14L)
    // reads merge
    val back = TxTable.read(spark, root).select("k").as[Long].collect().toSet
    assert(back == (1L to 100L).filterNot(_ % 7 == 0).toSet)
    // time travel to the pre-delete version still sees everything
    assert(TxTable.readVersion(spark, root, 0L).count() == 100L)
    // readWhere composes stats pruning with the merge
    assert(TxTable.readWhere(spark, root, col("k") <= 10)
      .select("k").as[Long].collect().toSet ==
      (1L to 10L).filterNot(_ % 7 == 0).toSet)
  }

  test("deletes compose; re-deleting already-deleted rows is a no-op") {
    val root = freshRoot("compose")
    TxTable.create(seed, root, None)
    val (_, n1) = MergeOnRead.deleteWhere(spark, root, expr("k <= 10"))
    assert(n1 == 10L)
    // overlap: k <= 20 re-matches the 10 already-deleted rows
    val (_, n2) = MergeOnRead.deleteWhere(spark, root, expr("k <= 20"))
    assert(n2 == 10L, s"only the 10 still-visible rows delete, got $n2")
    assert(TxTable.read(spark, root).count() == 80L)
    // nothing matches → no commit
    val vBefore = TxTable.currentVersion(spark, root).get
    val (v3, n3) = MergeOnRead.deleteWhere(spark, root, expr("k < 0"))
    assert(n3 == 0L && v3 == vBefore)
  }

  test("SQL reads through the catalog merge the delete set (extension rule)") {
    val wh = freshRoot("sqlwh")
    spark.conf.set("spark.sql.catalog.gmor", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmor.warehouse", wh)
    spark.sql("CREATE NAMESPACE gmor.m")
    seed.createOrReplaceTempView("mor_seed")
    spark.sql(
      """CREATE TABLE gmor.m.t PARTITIONED BY (bucket(4, k))
        |AS SELECT * FROM mor_seed""".stripMargin)
    val res = spark.sql(
      "CALL gmor.system.delete_where('m.t', 'k % 7 = 0')").head()
    assert(res.getLong(1) == 14L)
    // aggregate, filter, and join shapes all read merged
    assert(spark.sql("SELECT count(*) FROM gmor.m.t").as[Long].head() == 86L)
    assert(spark.sql("SELECT sum(k) FROM gmor.m.t").as[Long].head() ==
      (1L to 100L).filterNot(_ % 7 == 0).sum)
    assert(spark.sql("SELECT count(*) FROM gmor.m.t WHERE k <= 14")
      .as[Long].head() == 12L)
    // time travel: the pre-delete version (CTAS = empty v0 + insert
    // v1) is whole
    assert(spark.sql("SELECT count(*) FROM gmor.m.t VERSION AS OF 1")
      .as[Long].head() == 100L)
    // CALL detail surfaces the outstanding delete set
    val det = spark.sql("CALL gmor.system.detail('m.t')").head()
    assert(det.getLong(6) >= 1L && det.getLong(7) == 14L,
      s"detail must report dv files/rows: $det")
    // the V1 format surface merges too
    assert(spark.read.format("graft").load(s"$wh/m/t").count() == 86L)
  }

  test("copy-on-write DML on a DV-bearing table materializes first, stays exact") {
    val wh = freshRoot("cowwh")
    spark.conf.set("spark.sql.catalog.gmw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmw.warehouse", wh)
    spark.sql("CREATE NAMESPACE gmw.m")
    seed.createOrReplaceTempView("mor_cow_seed")
    spark.sql(
      """CREATE TABLE gmw.m.t PARTITIONED BY (p)
        |AS SELECT * FROM mor_cow_seed""".stripMargin)
    spark.sql("CALL gmw.system.delete_where('m.t', 'k % 7 = 0')")
    // UPDATE must not resurrect the 14 deleted rows
    spark.sql("UPDATE gmw.m.t SET v = 0.0 WHERE k % 10 = 0")
    val root = s"$wh/m/t"
    val snap = TxTable.currentSnapshot(spark, root).get
    assert(snap.dvs.isEmpty, "CoW DML must materialize the delete set")
    val rows = TxTable.read(spark, root)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(rows.keySet == (1L to 100L).filterNot(_ % 7 == 0).toSet)
    assert(rows.filter(_._1 % 10 == 0).values.forall(_ == 0.0))
    assert(rows.filter(k => k._1 % 10 != 0).forall { case (k, v) => v == k * 1.5 })
  }

  test("materialize rewrites ONLY DV-affected files; vacuum then reclaims the DV") {
    val root = freshRoot("mat")
    TxTable.create(seed, root, Some("p"))
    val before = TxTable.currentSnapshot(spark, root).get.entries
    // delete only odd keys → only the odd partition's files are affected
    MergeOnRead.deleteWhere(spark, root, expr("k % 5 = 0 AND p = 'odd'"))
    val dvRel = TxTable.currentSnapshot(spark, root).get.dvs.head.relPath
    val v = MergeOnRead.materialize(spark, root)
    val after = TxTable.currentSnapshot(spark, root).get
    assert(after.version == v && after.dvs.isEmpty)
    // even-partition files are byte-identical (not rewritten)
    val evenBefore = before.filter(_.partition == "p=even").map(_.relPath).toSet
    val evenAfter = after.entries.filter(_.partition == "p=even")
      .map(_.relPath).toSet
    assert(evenAfter == evenBefore,
      "materialize must not touch files without deletes")
    assert(TxTable.read(spark, root).select("k").as[Long].collect().toSet ==
      (1L to 100L).filterNot(k => k % 5 == 0 && k % 2 == 1).toSet)
    // pre-materialize versions still read the DV — vacuum refuses…
    assert(TxTable.readVersion(spark, root, 1L).count() == 90L)
    // …then reclaiming history drops the now-unreferenced delete file
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$root/$dvRel")))
    TxTable.vacuum(spark, root, keepFromVersion = after.version)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/$dvRel")),
      "vacuum must reclaim delete files no retained version references")
  }

  test("compact localizes deletes on the files it rewrites") {
    val root = freshRoot("cpt")
    TxTable.create(seed.repartition(4), root, None)
    MergeOnRead.deleteWhere(spark, root, expr("k % 3 = 0"))
    val v = TxTable.compact(spark, root)
    assert(v > 1L, "small files should have compacted")
    val snap = TxTable.currentSnapshot(spark, root).get
    // rows are exact post-compaction (deletes were applied in the
    // rewrite; carried DV rows are inert against the fresh files)
    assert(TxTable.read(spark, root).select("k").as[Long].collect().toSet ==
      (1L to 100L).filterNot(_ % 3 == 0).toSet)
    assert(TxTable.read(spark, root).count() ==
      spark.read.schema(seed.schema)
        .parquet(snap.entries.map(e => TxTable.entryPath(root, e.relPath)): _*)
        .count(), "compacted files must physically shed deleted rows")
  }

  test("ChangeFeed emits row-level deletes for a DV-only commit; restore resurrects") {
    val root = freshRoot("cdf")
    TxTable.create(seed, root, Some("p"))
    MergeOnRead.deleteWhere(spark, root, expr("k <= 5"))           // v1
    val changes = ChangeFeed.between(spark, root, 0L, 1L, Seq("k"))
    val dels = changes.filter(col(ChangeFeed.OpCol) === "delete")
      .select("k").as[Long].collect().toSet
    assert(dels == (1L to 5L).toSet, s"expected 5 deletes, got $dels")
    assert(changes.count() == 5L, "a DV commit changes nothing else")
    // restore to v0: the delete set rolls back in one metadata commit
    TxTable.restore(spark, root, 0L)                               // v2
    assert(TxTable.read(spark, root).count() == 100L)
    val resurrect = ChangeFeed.between(spark, root, 1L, 2L, Seq("k"))
    val ins = resurrect.filter(col(ChangeFeed.OpCol) === "insert")
      .select("k").as[Long].collect().toSet
    assert(ins == (1L to 5L).toSet,
      s"restore across a DV version must surface resurrections: $ins")
  }

  test("shallow clone of a DV-bearing table reads merged; its deletes localize under the clone") {
    val root = freshRoot("clsrc")
    val dst = freshRoot("cldst")
    TxTable.create(seed, root, Some("p"))
    MergeOnRead.deleteWhere(spark, root, expr("k > 90"))
    TxTable.cloneTable(spark, root, dst)
    assert(TxTable.read(spark, dst).count() == 90L,
      "clone must apply the source's position deletes")
    // clone-local delete stacks on the cloned set
    MergeOnRead.deleteWhere(spark, dst, expr("k <= 10"))
    assert(TxTable.read(spark, dst).count() == 80L)
    assert(TxTable.read(spark, root).count() == 90L, "source untouched")
    // localizing the clone rewrites ONLY the DV-affected files, and
    // the rewrites land under the CLONE root (never the source's)
    val extBefore = TxTable.currentSnapshot(spark, dst).get.entries
      .count(_.relPath.startsWith("/"))
    MergeOnRead.materialize(spark, dst)
    val after = TxTable.currentSnapshot(spark, dst).get
    assert(after.dvs.isEmpty)
    assert(after.entries.count(_.relPath.startsWith("/")) < extBefore,
      "affected external entries must localize under the clone")
    assert(TxTable.read(spark, dst).count() == 80L)
    assert(TxTable.read(spark, root).count() == 90L, "source untouched")
  }

  test("raw scans refuse DV-bearing snapshots (no silent resurrection)") {
    val root = freshRoot("guard")
    TxTable.create(seed, root, None)
    MergeOnRead.deleteWhere(spark, root, expr("k = 1"))
    val snap = TxTable.currentSnapshot(spark, root).get
    val e = intercept[IllegalArgumentException] {
      new GraftFileIndex(spark, root, snap).listFiles(Nil, Nil)
    }
    assert(e.getMessage.contains("GraftExtensions"))
  }

  test("streaming append tail fails loudly on a DV change; change feed nets it to deletes") {
    val root = freshRoot("stream")
    TxTable.create(seed, root, Some("p"))
    MergeOnRead.deleteWhere(spark, root, expr("k = 42"))
    // the append tail must refuse the rows-removed-without-files shape
    val src = new graft.sources.GraftStreamSource(spark, root,
      seed.schema, baseVersion = 0L, ignoreChanges = false)
    val err = intercept[IllegalStateException] {
      src.getBatch(
        Some(org.apache.spark.sql.execution.streaming.runtime.LongOffset(0L)),
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(1L))
        .count()
    }
    assert(err.getMessage.contains("position-delete"))
    // the change-feed consumer is the documented answer
    val cdf = ChangeFeed.between(spark, root, 0L, 1L, Seq("k"))
    assert(cdf.select("k").as[Long].collect().toSeq == Seq(42L))
  }

  test("updateWhere appends post-images + masks old rows, ∝ updated rows") {
    val root = freshRoot("upd")
    TxTable.create(seed, root, Some("p"))
    val before = dataPaths(root)
    // simultaneous assignments over the PRE-image: v reads old v,
    // and the swap (v = v + k, p untouched) proves RHS pre-image
    val (v1, n) = MergeOnRead.updateWhere(spark, root,
      expr("k % 10 = 3"), Seq("v" -> expr("v + k")))
    assert(v1 == 1L && n == 10L)
    val snap = TxTable.currentSnapshot(spark, root).get
    // every ORIGINAL data file still present (no rewrite) + appended
    // post-image files whose rows == updated rows
    assert(before.subsetOf(snap.entries.map(_.relPath).toSet))
    val freshRows = snap.entries.filterNot(e => before(e.relPath))
      .map(e => graft.sources.FileStats.decode(e.stats).rows).sum
    assert(freshRows == 10L, s"appended rows must equal updates, got $freshRows")
    assert(snap.dvs.map(_.rows).sum == 10L)
    // read-back: count unchanged, updated rows show post-image
    val rows = TxTable.read(spark, root)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(rows.size == 100)
    assert(rows.forall { case (k, v) =>
      v == (if (k % 10 == 3) k * 1.5 + k else k * 1.5) })
    // time travel to the pre-update version sees pre-images
    assert(TxTable.readVersion(spark, root, 0L)
      .filter(col("k") === 3).select("v").as[Double].head() == 4.5)
    // updates COMPOSE: the second update's pre-image is the first's
    // post-image, and its positions land in the APPENDED files
    val (_, n2) = MergeOnRead.updateWhere(spark, root,
      expr("k = 3"), Seq("v" -> expr("v * 2")))
    assert(n2 == 1L)
    assert(TxTable.read(spark, root)
      .filter(col("k") === 3).select("v").as[Double].head() == 15.0)
    // ChangeFeed across the first update version: _op = 'update'
    val cdf = ChangeFeed.between(spark, root, 0L, 1L, Seq("k"))
      .select("k", "v", ChangeFeed.OpCol)
      .as[(Long, Double, String)].collect().sortBy(_._1)
    assert(cdf.forall(_._3 == "update"), s"expected updates, got ${cdf.toSeq}")
    assert(cdf.map(_._1).toSeq == (1L to 100L).filter(_ % 10 == 3).toSeq)
    assert(cdf.forall { case (k, v, _) => v == k * 1.5 + k })
  }

  test("updateWhere keeps bucket placement and CHECKs; CALL surface works") {
    val wh = freshRoot("updwh")
    spark.conf.set("spark.sql.catalog.gmu", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmu.warehouse", wh)
    spark.sql("CREATE NAMESPACE gmu.m")
    seed.createOrReplaceTempView("mor_upd_seed")
    spark.sql(
      """CREATE TABLE gmu.m.t PARTITIONED BY (bucket(4, k))
        |AS SELECT * FROM mor_upd_seed""".stripMargin)
    val root = s"$wh/m/t"
    TxTable.addCheck(spark, root, "v_pos", "v >= 0")
    val before = dataPaths(root)
    val res = spark.sql(
      """CALL gmu.system.update_where('m.t', 'k % 9 = 2',
        |  'v = v * 2, p = concat(p, ''!'')')""".stripMargin).head()
    assert(res.getLong(1) == 11L, s"100/9≈11 matches, got ${res.getLong(1)}")
    val snap = TxTable.currentSnapshot(spark, root).get
    // appended files follow the bucket layout (placement parity: the
    // SPJ/pruning contracts need every file inside its bucket dir)
    val freshEntries = snap.entries.filterNot(e => before(e.relPath))
    assert(freshEntries.nonEmpty &&
      freshEntries.forall(_.partition.startsWith("_bucket=")),
      s"fresh entries must carry bucket dirs: $freshEntries")
    freshEntries.foreach { e =>
      val id = e.partition.stripPrefix("_bucket=").toInt
      val off = spark.read.parquet(s"$root/${e.relPath}")
        .where(pmod(hash(col("k")), lit(4)) =!= id).count()
      assert(off == 0L, s"${e.relPath} rows outside ${e.partition}")
    }
    // SQL reads merge; the 11 updated rows show both assignments
    assert(spark.sql("SELECT count(*) FROM gmu.m.t").as[Long].head() == 100L)
    val updated = spark.sql(
      "SELECT k, v, p FROM gmu.m.t WHERE k % 9 = 2")
      .as[(Long, Double, String)].collect()
    assert(updated.length == 11)
    assert(updated.forall { case (k, v, p) =>
      v == k * 1.5 * 2 && p.endsWith("!") })
    // a CHECK-violating update refuses BEFORE anything commits
    val vBefore = TxTable.currentVersion(spark, root).get
    val err = intercept[Exception] {
      spark.sql("CALL gmu.system.update_where('m.t', 'k = 2', 'v = -1')")
    }
    assert(err.getMessage.contains("v_pos"), s"got: ${err.getMessage}")
    assert(TxTable.currentVersion(spark, root).get == vBefore)
  }

  test("mergeInto applies update/delete/insert clauses in ONE commit, ∝ changed rows") {
    val root = freshRoot("mrg")
    TxTable.create(seed, root, Some("p"))
    val before = dataPaths(root)
    val parity = (k: Long) => if (k % 2 == 0) "even" else "odd"
    // one source, three clause populations: updates (96..100),
    // deletes (1..5, op flag), inserts (101..105, no match)
    val src = ((96L to 100L).map(k => (k, parity(k), k * 10.0, "U")) ++
      (1L to 5L).map(k => (k, parity(k), 0.0, "D")) ++
      (101L to 105L).map(k => (k, parity(k), k * 10.0, "I")))
      .toDF("k", "p", "v", "op")
    val res = MergeOnRead.mergeInto(spark, root, src, Seq("k"),
      matchedSets = Some(Seq("v" -> expr("src.v"))),
      matchedDelete = Some(expr("src.op = 'D'")))
    assert(res == MergeOnRead.MergeResult(1L, 5L, 5L, 5L), s"got $res")
    val snap = TxTable.currentSnapshot(spark, root).get
    // cost shape: originals byte-untouched; masks = upd + del;
    // appends = upd + ins
    assert(before.subsetOf(snap.entries.map(_.relPath).toSet))
    assert(snap.dvs.map(_.rows).sum == 10L)
    val freshRows = snap.entries.filterNot(e => before(e.relPath))
      .map(e => graft.sources.FileStats.decode(e.stats).rows).sum
    assert(freshRows == 10L, s"appends must equal upd + ins, got $freshRows")
    // read-back: deletes gone, updates post-imaged, inserts present
    val rows = TxTable.read(spark, root)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(rows.keySet == (6L to 105L).toSet)
    assert(rows.forall { case (k, v) =>
      v == (if (k >= 96) k * 10.0 else k * 1.5) })
    // ChangeFeed across the merge version classifies all three ops
    val cdf = ChangeFeed.between(spark, root, 0L, 1L, Seq("k"))
      .select("k", ChangeFeed.OpCol).as[(Long, String)].collect().toMap
    assert(cdf == ((1L to 5L).map(_ -> "delete") ++
      (96L to 100L).map(_ -> "update") ++
      (101L to 105L).map(_ -> "insert")).toMap, s"got $cdf")
    // SQL MERGE cardinality violation: two source rows, one target row
    val dup = Seq((50L, "even", 1.0), (50L, "even", 2.0)).toDF("k", "p", "v")
    val err = intercept[IllegalStateException] {
      MergeOnRead.mergeInto(spark, root, dup, Seq("k"))
    }
    assert(err.getMessage.contains("cardinality"), s"got: ${err.getMessage}")
    // nothing to do → no commit (no matches, insert off)
    val miss = Seq((9999L, "odd", 1.0)).toDF("k", "p", "v")
    val res2 = MergeOnRead.mergeInto(spark, root, miss, Seq("k"),
      matchedSets = Some(Nil), insertUnmatched = false)
    assert(res2 == MergeOnRead.MergeResult(1L, 0L, 0L, 0L), s"got $res2")
  }

  test("mergeInto: duplicate matches only violate when a clause ACTS; bucket layout prunes the position scan") {
    val root = freshRoot("mrgdup")
    TxTable.create(seed, root, Some("bucket(4,k)"))
    val dup = Seq((50L, "even", 1.0), (50L, "even", 2.0),
      (300L, "odd", 3.0)).toDF("k", "p", "v")
    // insert-only merge: the duplicate MATCH is not acted on → no
    // violation (SQL MERGE with only WHEN NOT MATCHED never raises);
    // the unmatched row inserts
    val res = MergeOnRead.mergeInto(spark, root, dup, Seq("k"),
      matchedSets = None)
    assert(res.updated == 0L && res.deleted == 0L && res.inserted == 1L,
      s"got $res")
    assert(TxTable.read(spark, root).filter(col("k") === 50).count() == 1L)
    assert(TxTable.read(spark, root).filter(col("k") === 300).count() == 1L)
    // the same duplicate under an ACTING clause raises
    val err = intercept[IllegalStateException] {
      MergeOnRead.mergeInto(spark, root,
        dup.filter(col("k") === 50), Seq("k"))
    }
    assert(err.getMessage.contains("cardinality"))
    // a table column named `src` would capture the source-struct name
    // in clause expressions — refused loudly up front
    val clash = freshRoot("mrgclash")
    TxTable.create(seed.withColumnRenamed("p", "src"), clash, None)
    val err2 = intercept[IllegalArgumentException] {
      MergeOnRead.mergeInto(spark, clash,
        Seq((1L, "x", 1.0)).toDF("k", "src", "v"), Seq("k"))
    }
    assert(err2.getMessage.contains("reserved"), s"got: ${err2.getMessage}")
    // manifest pruning: a one-key source scans only its own bucket's
    // entries (plus any outside the layout's dir convention)
    val snap = TxTable.currentSnapshot(spark, root).get
    val one = Seq((50L, "even", 9.9)).toDF("k", "p", "v")
    val wantDir = "_bucket=" + one
      .select(graft.sources.Layout.dirColumn(one, "bucket(4,k)")).head.getInt(0)
    val cand = MergeOnRead.candidateEntries(
      one, Seq("k"), Some("bucket(4,k)"), snap.entries)
    assert(cand.nonEmpty && cand.forall(_.partition == wantDir),
      s"candidates must sit in $wantDir: ${cand.map(_.partition)}")
    assert(cand.size < snap.entries.size,
      "pruning must exclude the other buckets' files")
    // layouts NOT covered by the ON keys keep the full scan
    assert(MergeOnRead.candidateEntries(
      one, Seq("v"), Some("bucket(4,k)"), snap.entries) == snap.entries)
    // identity layouts prune too (writer's own dir rendering)...
    val idRoot = freshRoot("mrgid")
    TxTable.create(seed, idRoot, Some("p"))
    val idSnap = TxTable.currentSnapshot(spark, idRoot).get
    val oddSrc = Seq((3L, "odd", 1.0)).toDF("k", "p", "v")
    val candId = MergeOnRead.candidateEntries(
      oddSrc, Seq("k", "p"), Some("p"), idSnap.entries)
    assert(candId.nonEmpty && candId.forall(_.partition == "p=odd"),
      s"identity candidates must sit in p=odd: ${candId.map(_.partition)}")
    assert(candId.size < idSnap.entries.size)
    // ...but only when the layout column IS an ON key
    assert(MergeOnRead.candidateEntries(
      oddSrc, Seq("k"), Some("p"), idSnap.entries) == idSnap.entries)
    // and a pruned merge on the composite key still lands correctly
    val res2 = MergeOnRead.mergeInto(spark, idRoot, oddSrc, Seq("k", "p"),
      matchedSets = Some(Seq("v" -> expr("src.v"))), insertUnmatched = false)
    assert(res2.updated == 1L)
    assert(TxTable.read(spark, idRoot).filter(col("k") === 3)
      .select("v").as[Double].head() == 1.0)
  }

  test("mergeInto clause conditions gate update/insert; randomized ≡ reference reconcile") {
    // matchedCond: only rows passing WHEN MATCHED AND cond update;
    // the rest stay untouched (and unmasked)
    val root = freshRoot("mrgcond")
    TxTable.create(seed, root, None)
    val src = (1L to 20L).map(k => (k, k * 100.0)).toDF("k", "v")
    val res = MergeOnRead.mergeInto(spark, root, src, Seq("k"),
      matchedSets = Some(Nil),
      matchedCond = Some(expr("k % 2 = 0")),
      insertUnmatched = false)
    assert(res.updated == 10L && res.deleted == 0L && res.inserted == 0L,
      s"got $res")
    val rows = TxTable.read(spark, root)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert((1L to 20L).forall(k =>
      rows(k) == (if (k % 2 == 0) k * 100.0 else k * 1.5)))
    assert(TxTable.currentSnapshot(spark, root).get.dvs.map(_.rows).sum == 10L,
      "ungated matched rows must stay unmasked")

    // randomized three-clause merges against a plain-DataFrame
    // reference reconcile (deterministic seed): same final state
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val r2 = freshRoot(s"mrgprop$trial")
      val n = 50 + rnd.nextInt(50)
      val tgt0 = (1L to n.toLong).map(k => (k, rnd.nextInt(1000).toDouble))
      TxTable.create(tgt0.toDF("k", "v"), r2, Some("bucket(4,k)"))
      // unique-keyed source: some matching, some beyond the domain
      val srcRows = rnd.shuffle((1L to (n + 30).toLong).toList)
        .take(40).map(k => (k, rnd.nextInt(1000).toDouble,
          Seq("U", "D", "I")(rnd.nextInt(3))))
      val s2 = srcRows.toDF("k", "v", "op")
      MergeOnRead.mergeInto(spark, r2, s2, Seq("k"),
        matchedSets = Some(Seq("v" -> expr("src.v"))),
        matchedDelete = Some(expr("src.op = 'D'")),
        insertUnmatched = true,
        insertCond = Some(expr("src.op <> 'D'")))
      // reference: plain map-based reconcile with the same clauses
      val bySrc = srcRows.map(r => r._1 -> r).toMap
      val expect = (tgt0.flatMap { case (k, v) =>
        bySrc.get(k) match {
          case Some((_, _, "D")) => None
          case Some((_, nv, _)) => Some(k -> nv)
          case None => Some(k -> v)
        }
      } ++ srcRows.collect {
        case (k, nv, op) if op != "D" && k > n => k -> nv
      }).toMap
      val got = TxTable.read(spark, r2)
        .select("k", "v").as[(Long, Double)].collect().toMap
      assert(got == expect, s"trial $trial: merge ≠ reference reconcile")
    }
  }

  test("mergeInto evolveSchema adds source-only columns additively") {
    val root = freshRoot("mrgev")
    TxTable.create(seed, root, Some("bucket(4,k)"))
    val src = ((10L to 12L).map(k => (k, k * 2.0, s"n$k")) ++
      Seq((500L, 5.0, "n500"))).toDF("k", "v", "note")
    // without the flag the unknown column is ignored — schema unchanged
    MergeOnRead.mergeInto(spark, root,
      src.filter(col("k") === 10), Seq("k"))
    assert(!TxTable.read(spark, root).columns.contains("note"))
    // with it: metadata-only evolve, update-all and inserts carry it
    val res = MergeOnRead.mergeInto(spark, root, src, Seq("k"),
      evolveSchema = true)
    assert(res.updated == 3L && res.inserted == 1L, s"got $res")
    val byK = TxTable.read(spark, root)
      .select("k", "note").as[(Long, Option[String])].collect().toMap
    assert(byK(10L).contains("n10") && byK(12L).contains("n12"))
    assert(byK(500L).contains("n500"))
    // untouched rows read the evolved column as null
    assert(byK(1L).isEmpty)
    // time travel keeps the pre-evolve schema
    assert(!TxTable.readVersion(spark, root, 0L).columns.contains("note"))
  }

  test("CALL merge_into: update-all default, bucket placement, CHECKs, null-fill inserts") {
    val wh = freshRoot("mrgwh")
    spark.conf.set("spark.sql.catalog.gmm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmm.warehouse", wh)
    spark.sql("CREATE NAMESPACE gmm.m")
    seed.createOrReplaceTempView("mor_mrg_seed")
    spark.sql(
      """CREATE TABLE gmm.m.t PARTITIONED BY (bucket(4, k))
        |AS SELECT * FROM mor_mrg_seed""".stripMargin)
    val root = s"$wh/m/t"
    TxTable.addCheck(spark, root, "v_pos", "v >= 0")
    val before = dataPaths(root)
    // source WITHOUT p: update-all claims only (k, v); inserts
    // null-fill the missing p column
    ((40L to 44L).map(k => (k, k + 0.25)) ++
      (201L to 203L).map(k => (k, k + 0.25)))
      .toDF("k", "v").createOrReplaceTempView("mor_mrg_changes")
    val res = spark.sql(
      """CALL gmm.system.merge_into('m.t', 'mor_mrg_changes', 'k')"""
    ).head()
    assert((res.getLong(1), res.getLong(2), res.getLong(3)) == ((5L, 0L, 3L)),
      s"got $res")
    val snap = TxTable.currentSnapshot(spark, root).get
    // appends keep the bucket layout (placement parity for SPJ/pruning)
    val freshEntries = snap.entries.filterNot(e => before(e.relPath))
    assert(freshEntries.nonEmpty &&
      freshEntries.forall(_.partition.startsWith("_bucket=")),
      s"fresh entries must carry bucket dirs: $freshEntries")
    // updated rows keep their untouched p; inserted rows null-fill it
    val got = spark.sql(
      "SELECT k, v, p FROM gmm.m.t WHERE k >= 40 AND k <= 44 OR k >= 201")
      .as[(Long, Double, Option[String])].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == ((40L to 44L) ++ (201L to 203L)).toSeq)
    assert(got.forall { case (k, v, _) => v == k + 0.25 })
    assert(got.filter(_._1 <= 44).forall(_._3.isDefined))
    assert(got.filter(_._1 >= 201).forall(_._3.isEmpty))
    assert(spark.sql("SELECT count(*) FROM gmm.m.t").as[Long].head() == 103L)
    // a CHECK-violating post-image refuses BEFORE anything commits
    val vBefore = TxTable.currentVersion(spark, root).get
    Seq((7L, -1.0)).toDF("k", "v")
      .createOrReplaceTempView("mor_mrg_bad")
    val err = intercept[Exception] {
      spark.sql("CALL gmm.system.merge_into('m.t', 'mor_mrg_bad', 'k')")
    }
    assert(err.getMessage.contains("v_pos"), s"got: ${err.getMessage}")
    assert(TxTable.currentVersion(spark, root).get == vBefore)
  }

  test("concurrent MoR DML on disjoint keys: all 8 writers land via fresh-scan retry") {
    // the DV-commit counterpart of TxSpec's append-contention case:
    // commitDvAppend/commitDvUpdate are PINNED to the snapshot their
    // positions were computed against, so a racer must discard its
    // legs and redo the position scan against the new current snapshot
    // — correctness under contention comes from recompute, not rebase.
    // 8 threads, disjoint key ranges: 4 DELETE legs + 4 UPDATE legs.
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = freshRoot("race")
    TxTable.create(seed, root, Some("p"))
    val before = dataPaths(root)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val legs: Seq[() => (Long, Long)] =
        (0 until 4).map { i => () =>
          MergeOnRead.deleteWhere(spark, root,
            expr(s"k > ${i * 10} AND k <= ${i * 10 + 10}"), maxRetries = 20)
        } ++ (0 until 4).map { i => () =>
          MergeOnRead.updateWhere(spark, root,
            expr(s"k > ${40 + i * 10} AND k <= ${50 + i * 10}"),
            Seq("v" -> (col("v") + 1000.0)), maxRetries = 20)
        }
      val results = Await.result(
        Future.sequence(legs.map(f => Future(f()))), 300.seconds)
      // every leg landed its own commit: versions 1..8, no sharing
      assert(results.map(_._1).toSet == (1L to 8L).toSet,
        s"legs must land distinct consecutive versions: $results")
      assert(results.map(_._2).forall(_ == 10L),
        s"each leg owns exactly 10 rows: $results")
    } finally pool.shutdown()
    // content: 1..40 deleted; 41..80 bumped; 81..100 untouched
    val got = TxTable.read(spark, root).select("k", "v")
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == (41L to 100L).toSet, "deletes lost or over-applied")
    assert((41L to 80L).forall(k => got(k) == k * 1.5 + 1000.0),
      "an update leg lost rows in the race")
    assert((81L to 100L).forall(k => got(k) == k * 1.5))
    // MoR posture survived the contention: the original data files are
    // all still present (deletes masked, updates appended post-images)
    val snap = TxTable.currentSnapshot(spark, root).get
    assert(before.subsetOf(snap.entries.map(_.relPath).toSet),
      "a racing MoR writer rewrote seed data files")
    assert(snap.dvs.map(_.rows).sum == 80L,
      s"40 deleted + 40 update-masked positions, got ${snap.dvs.map(_.rows).sum}")
  }

  test("updateWhere and mergeInto free their checkpointed blocks") {
    val root = freshRoot("cpfree")
    TxTable.create(seed, root, Some("p"))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    MergeOnRead.updateWhere(spark, root,
      expr("k % 10 = 3"), Seq("v" -> expr("v + 1")))
    assert(sc.getPersistentRDDs.size <= before,
      s"updateWhere left ${sc.getPersistentRDDs.size - before} RDDs resident")
    val src = Seq((3L, "odd", 0.0), (200L, "even", 1.0)).toDF("k", "p", "v")
    MergeOnRead.mergeInto(spark, root, src, Seq("k"))
    assert(sc.getPersistentRDDs.size <= before,
      s"mergeInto left ${sc.getPersistentRDDs.size - before} RDDs resident")
  }
}
