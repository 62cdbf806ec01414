package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's inline data-quality checks as library calls
  * (SURVEY.md §5.1; reference `02_reporting_layer.sql:9-27`,
  * `README.md:121-136`).
  */
object Quality {

  /** Keys appearing more than once — must be empty on every staged view
    * (reference `README.md:126-130`).
    */
  def duplicateKeys(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("n_rows")).filter(col("n_rows") > 1)

  /** Rows with a NULL key (reference `README.md:123-124`). */
  def nullKeyCount(df: DataFrame, key: Column): Long =
    df.filter(key.isNull).count()

  /** The *intended* uniqueness probe: rows == distinct keys. */
  def isUniquePerKey(df: DataFrame, key: Column): Boolean = {
    val r = df.agg(count(lit(1)).as("n"), count_distinct(key).as("d")).head()
    r.getLong(0) == r.getLong(1)
  }

  def assertUniqueKey(df: DataFrame, key: Column, what: String): Unit =
    require(isUniquePerKey(df, key), s"$what: key not unique")

  def assertNoNullKey(df: DataFrame, key: Column, what: String): Unit =
    require(nullKeyCount(df, key) == 0L, s"$what: NULL keys present")
}
