package graft

import graft.operators.Quality
import graft.staging.StagingViews
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `Pipeline.qa` fails on the first defective view with the message and
  * in the order of one `Quality.assertUniqueKey` / `assertNoNullKey`
  * call per contact view and check, then `assertNoNullKey` on
  * `clean_accounts` — the checks it folds into one aggregate query.
  */
class PipelineQaSpec extends SparkSpec {

  private def view(keys: Option[String]*): DataFrame = {
    import spark.implicits._
    keys.toDF("account_id")
  }

  private val ok = Seq(Some("a"), Some("b"), Some("c"))

  /** The five views, each `ok` unless the case overrides it. */
  private def views(cases: Map[String, Seq[Option[String]]]): StagingViews = {
    def of(n: String) = view(cases.getOrElse(n, ok): _*)
    StagingViews(of("clean_accounts"), of("clean_contacts_primary"),
      of("clean_contacts_field"), of("clean_contacts_promise"),
      of("clean_contacts_restructure"))
  }

  /** The checks one action per view and check, in `Pipeline.qa`'s order. */
  private def oneActionPerCheck(v: StagingViews): Unit = {
    Seq("clean_contacts_primary" -> v.primary, "clean_contacts_field" -> v.field,
      "clean_contacts_promise" -> v.promise, "clean_contacts_restructure" -> v.restructure)
      .foreach { case (name, df) =>
        Quality.assertUniqueKey(df, col("account_id"), name)
        Quality.assertNoNullKey(df, col("account_id"), name)
      }
    Quality.assertNoNullKey(v.cleanAccounts, col("account_id"), "clean_accounts")
  }

  private def failure(run: => Unit): Option[String] =
    try { run; None } catch { case e: IllegalArgumentException => Some(e.getMessage) }

  private val dup = Seq(Some("a"), Some("b"), Some("a"))
  private val withNull = Seq(Some("a"), None, Some("c"))

  private val cases: Seq[(String, Map[String, Seq[Option[String]]], Option[String])] = Seq(
    ("every view clean", Map.empty, None),
    ("a duplicate key", Map("clean_contacts_field" -> dup),
      Some("clean_contacts_field: key not unique")),
    ("a NULL key fails uniqueness first", Map("clean_contacts_promise" -> withNull),
      Some("clean_contacts_promise: key not unique")),
    ("a duplicate and a NULL key in one view", Map("clean_contacts_restructure" ->
      (dup :+ None)), Some("clean_contacts_restructure: key not unique")),
    ("a NULL key before a duplicate in a later view", Map(
      "clean_contacts_primary" -> withNull, "clean_contacts_restructure" -> dup),
      Some("clean_contacts_primary: key not unique")),
    ("a NULL in clean_accounts", Map("clean_accounts" -> withNull),
      Some("clean_accounts: NULL keys present")),
    ("a duplicate in clean_accounts is not checked", Map("clean_accounts" -> dup), None),
    ("a contact view fails before clean_accounts", Map(
      "clean_accounts" -> withNull, "clean_contacts_promise" -> dup),
      Some("clean_contacts_promise: key not unique")),
    ("an empty view passes", Map("clean_contacts_field" -> Nil), None))

  cases.foreach { case (name, defects, want) =>
    test(s"qa: $name -> ${want.getOrElse("passes")}") {
      val v = views(defects)
      val got = failure(Pipeline.qa(v)).map(_.stripPrefix("requirement failed: "))
      assert(got == want)
      assert(got == failure(oneActionPerCheck(v)).map(_.stripPrefix("requirement failed: ")))
    }
  }
}
