package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session extensions for the graft table format — register with
  * `spark.sql.extensions=graft.GraftExtensions`. Two rules:
  * [[graft.sources.ApplyDeletionVectors]] (resolution) makes
  * SQL/DataFrame reads of merge-on-read (position-delete-bearing)
  * snapshots merge their delete sets — sessions without it fail
  * loudly on such tables instead of silently resurrecting deleted
  * rows; [[graft.sources.MorDmlRuntimeFiltering]] (pre-CBO) gives
  * merge-on-read SQL DML (`WriteDelta`) runtime file pruning on the
  * layout key, so a trickle MERGE reads ∝ touched groups.
  *
  * It also holds the engine's session conf defaults
  * ([[GraftExtensions.Defaults]]). Every graft session loads this
  * extension, including sessions built outside [[graft.Session]], new
  * and cloned sessions, so this is their one place.
  */
final class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule { session =>
      // the analyzer is built once per session, before its first plan
      GraftExtensions.setDefaults(session)
      new graft.sources.ApplyDeletionVectors(session)
    }
    ext.injectPreCBORule(session =>
      new graft.sources.MorDmlRuntimeFiltering(session))
  }
}

object GraftExtensions {

  /** Set on every session that has no value of its own for the key.
    * Both keep Spark's generated-class cache, keyed by (class loader,
    * source), from holding one stage under many keys:
    *  - `useIdInClassName=false`: a stage's class is named
    *    `GeneratedIteratorForCodegenStage<id>` by default, so one
    *    pipeline at another stage id (another plan, AQE stage or
    *    fixpoint round) is another source and compiles again;
    *  - `autoBucketedScan.enabled=false`: while it is on, every
    *    `persist` plans its cached plan in a clone of the session
    *    (`CacheManager` turns the key off there), and each clone has
    *    its own executor class loader, so the cached plan's stages
    *    compile again on every call. Off, a bucketed table is always
    *    read bucketed; no catalog query reads a bucketed table.
    */
  val Defaults: Seq[(String, String)] = Seq(
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")

  private def setDefaults(session: SparkSession): Unit = {
    val conf = session.sessionState.conf
    Defaults.foreach { case (k, v) =>
      if (!conf.contains(k)) conf.setConfString(k, v)
    }
  }
}
