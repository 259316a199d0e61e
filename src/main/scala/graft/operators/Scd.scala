package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-Changing-Dimension maintenance (SURVEY Q4/Q5; reference:
  * …/Глава 10…md:48-61 — SCD wizard criticized, set-based MERGE
  * preferred, …/Глава 12…md:87-99 — the MERGE example; unknown member
  * …/Глава 10…md:74-76).
  *
  * Set-based, one keyed pass per run (the reference's own
  * recommendation over the row-by-row wizard): see [[scd2Dated]]. One
  * shuffle on the business key; a full-partition rewrite (no MERGE
  * target over plain parquet — the Delta/Iceberg seam, SURVEY §7.4).
  *
  * Dimension schema contract: bk ++ attrs ++ (is_current: boolean,
  * start_date: date, end_date: date nullable).
  */
object Scd {

  /** SCD Type 2, the one-date call of [[scd2Dated]]: attribute change
    * closes the old version and opens a new one at `runDate`; absent
    * keys are untouched; unknown keys insert.
    */
  def scd2(dim: DataFrame, staging: DataFrame, bk: String,
      attrs: Seq[String], runDate: String): DataFrame =
    scd2Dated(dim, staging, bk, attrs, lit(runDate))

  /** The SCD2 kernel: fold dated staging rows (bk ++ attrs, snapshot
    * date `date`) into `dim` in ONE pass, equal to applying each date's
    * snapshot in ascending order. Current and staged rows share one
    * window per bk ordered by (`__stg`, `__d`), so the current row
    * comes first; a staged row opens a version when it is the key's
    * first row or its attrs differ (null-safe) from the previous row,
    * which by induction carries the version open at its date. `lead`
    * closes each version; the last is current. A staged row with a
    * null key or date, or a repeated (bk, date), fails the pass.
    * `dates` observes the min (`lo`) and max (`hi`) staged date on
    * that pass, on `dim`'s session (the union's receiver).
    */
  private[graft] def scd2Dated(dim: DataFrame, staging: DataFrame,
      bk: String, attrs: Seq[String], date: Column,
      dates: Option[Observation] = None): DataFrame = {
    val (d, stg, keep) = (col("__d"), col("__stg"), col(bk) +: attrs.map(col))
    val both = dim.filter(col("is_current"))
      .select(keep :+ col("start_date").as("__d") :+ lit(false).as("__stg"): _*)
      .unionByName(staging
        .select(keep :+ date.cast("date").as("__d") :+ lit(true).as("__stg"): _*))
    val u = dates.fold(both)(
      both.observe(_, min(when(stg, d)).as("lo"), max(when(stg, d)).as("hi")))
    val w = Window.partitionBy(col(bk)).orderBy(stg, d)
    def prev(c: Column): Column = lag(c, 1).over(w)
    val open = when(stg && (col(bk).isNull || d.isNull),
        raise_error(lit(s"scd2: a staged row has a null $bk or snapshot date")))
      .when(stg && prev(stg) && prev(d) === d, raise_error(concat(
        lit(s"scd2: two staged rows for $bk="), col(bk).cast("string"), lit(" on "),
        d.cast("string"), lit(" — a snapshot holds one row per key and date"))))
      .otherwise(!stg || prev(stg).isNull ||
        attrs.map(a => !(col(a) <=> prev(col(a)))).reduce(_ || _))
    val next = lead(d, 1).over(w)
    val versions = u.select(keep :+ d :+ stg :+ open.as("__open"): _*)
      .filter(col("__open")).select(dim.columns.map {
        case "is_current" => next.isNull.as("is_current")
        case "start_date" => d.as("start_date")
        case "end_date" => next.as("end_date")
        case c => col(c)
      }: _*)
    dim.filter(!col("is_current")).unionByName(versions)
  }

  /** SCD Type 1: in-place overwrite of changed attributes, insert of
    * new keys, history-free. A staged NULL keeps the dimension's old
    * value (coalesce semantics) — "overwrite with NULL" requires a
    * sentinel in the staging feed, matching the wizard's treatment of
    * absent attribute values.
    */
  def scd1(dim: DataFrame, staging: DataFrame, bk: String,
      attrs: Seq[String]): DataFrame = {
    val stg = staging.select(
      col(bk).as(s"__s_$bk") +: attrs.map(a => col(a).as(s"__s_$a")): _*)
    dim.join(stg, col(bk) === col(s"__s_$bk"), "full_outer")
      .select(
        coalesce(col(s"__s_$bk"), col(bk)).as(bk) +:
          attrs.map(a => coalesce(col(s"__s_$a"), col(a)).as(a)): _*)
  }

  /** Unknown-member pattern: failed dimension lookups surface with
    * surrogate key −1 instead of dropping fact rows.
    */
  def unknownMember(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String, sk: String): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), "left")
      .withColumn(sk, coalesce(col(sk), lit(-1L)))
      .drop(dim(dimKey))
}
