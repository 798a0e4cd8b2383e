package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Projection / filter / scalar-column / sort / set operators.
  *
  * Re-expresses the reference's pandas column surface Spark-first
  * (ref: tasks/visualization/src/visualization.py:43-60, :97-105,
  * :131-154) as small pure `DataFrame => DataFrame` combinators.
  * Everything here is a narrow transformation or a Catalyst-native
  * expression — no UDFs, no shuffles beyond the sorts that are the
  * operator's own semantics, so filters and projections push down
  * to the Parquet scan untouched at 100 TB.
  */
object Relational {

  /** Manual column pruning before a join — ref visualization.py:54-59.
    * Catalyst prunes automatically, but an explicit projection keeps
    * downstream schemas narrow and self-documenting. */
  def project(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** Equality filter — ref visualization.py:170, :185. */
  def filterEq(df: DataFrame, c: String, v: Any): DataFrame =
    df.filter(col(c) === lit(v))

  /** Set-membership filter — ref visualization.py:146. */
  def filterIsIn(df: DataFrame, c: String, vs: Seq[Any]): DataFrame =
    df.filter(col(c).isin(vs: _*))

  /** Bulk column rename — ref visualization.py:104, :189. */
  def renameAll(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** Null -> domain sentinel (open-ended validity intervals) —
    * ref visualization.py:43-45: missing debut -> '1900-01-01',
    * missing fin -> '2024-12-31'. */
  def fillNullSentinel(df: DataFrame, c: String, sentinel: String): DataFrame =
    df.withColumn(c, coalesce(col(c), lit(sentinel)))

  /** Literal (non-regex) substring replace, the '0023'->'2023' year
    * repair — ref visualization.py:44. pandas str.replace is literal
    * here, so quote the pattern. */
  def strReplaceLiteral(df: DataFrame, c: String, from: String, to: String): DataFrame =
    df.withColumn(
      c,
      regexp_replace(
        col(c),
        java.util.regex.Pattern.quote(from),
        java.util.regex.Matcher.quoteReplacement(to)))

  /** String -> date cast after repair — ref visualization.py:46-47. */
  def toDate(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, to_date(col(c)))

  /** Post-outer-join null -> 0 fill — ref visualization.py:154. */
  def fillNullZero(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.fill(0, cols)

  /** Inclusive interval length in days — ref visualization.py:60
    * (`Duration = fin - debut + 1 day`). Integer days, not
    * CalendarInterval (orderable + writable). */
  def inclusiveDurationDays(df: DataFrame, out: String, start: String, end: String): DataFrame =
    df.withColumn(out, datediff(col(end), col(start)) + lit(1))

  // ---- sorts / limits — ref visualization.py:103-105, :131, :138 ----

  def sortDesc(df: DataFrame, c: String, tiebreak: Seq[Column] = Nil): DataFrame =
    df.orderBy(col(c).desc +: tiebreak: _*)

  def sortMulti(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.orderBy(keys: _*)

  /** Distributed top-k: orderBy+limit plans as TakeOrderedAndProject —
    * no full sort at scale. */
  def topK(df: DataFrame, keys: Seq[Column], k: Int): DataFrame =
    df.orderBy(keys: _*).limit(k)

  // ---- set operations (ExtOps, SURVEY.md §2.7) ----

  /** UNION ALL by column name (safe against column-order drift). */
  def unionAll(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  /** Set union (distinct). */
  def unionDistinct(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b).distinct()

  /** Set semantics (SQL INTERSECT / EXCEPT — distinct). Named
    * *Distinct to avoid colliding with Spark's multiset
    * `DataFrame.intersectAll/exceptAll`, which keep duplicates. */
  def intersectDistinct(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)

  def exceptDistinct(a: DataFrame, b: DataFrame): DataFrame = a.except(b)

  /** Multiset semantics (SQL INTERSECT ALL / EXCEPT ALL). */
  def intersectAll(a: DataFrame, b: DataFrame): DataFrame = a.intersectAll(b)

  def exceptAll(a: DataFrame, b: DataFrame): DataFrame = a.exceptAll(b)
}
