package graft.staging

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ref._
import graft.operators.LatestPerKey

/** The 5 staged views of the reference's staging layer
  * (`/root/reference/01_staging_layer.sql`), re-expressed as lazy
  * `DataFrame` pipelines. Like the reference's non-materialized views
  * (`README.md:116`), nothing here runs a job — each view is a logical
  * plan that Catalyst inlines, pushes filters through, and prunes columns
  * across (SURVEY.md §4).
  *
  * The 4 contact views differ only in a source filter, a channel and a
  * contact-type classification and a window order, so each is ONE
  * [[ContactView]] entry, and both forms are generated from those
  * entries: the per-view functions (`cleanContactsPrimary` …, one scan
  * and one shuffle each) and the fused [[contacts]] frame that
  * [[build]] stages (all four views in one pass, tagged by view).
  *
  * Scale notes:
  *  - The fused frame reads the activity log ONCE and shuffles once: at
  *    100 TB that is one scan instead of four. The per-view source
  *    filters (`collection_channel='FIELD'`, `contact_outcome=
  *    'PAYMENT_PROMISE'`, …) skip almost no row groups, because the log
  *    is sorted by neither column, so the four separate scans were four
  *    full reads.
  *  - Every view dedups on `account_id` via [[LatestPerKey]]; the
  *    `row_number=1` filter becomes `WindowGroupLimit` (partial top-1
  *    before the shuffle), in the fused form per (view, account).
  *
  * @param tieCols extra raw columns appended (ascending) to every window
  *        order as a deterministic tie-breaker — mandatory for the oracle
  *        hash-match gate (SURVEY.md §7.4 item 1). They must exist in the
  *        activities input and are dropped from view output.
  */
object StagingLayer {

  /** Pass-through contact columns (reference `01_staging_layer.sql:98-105`). */
  val contactCols: Seq[String] = Seq(
    "contact_outcome", "non_payment_reason", "contact_location",
    "next_action", "notes", "phone_number", "department", "agent_name")

  /** Output schema of every contact view (reference `01_staging_layer.sql:130-144`). */
  val viewCols: Seq[String] = Seq(
    "account_id", "activity_date", "activity_time", "next_activity_date",
    "collection_channel", "contact_type") ++ contactCols

  /** The view column of [[contacts]]: a row's position in [[contactViews]]. */
  val tagCol = "view_tag"

  /** One contact view: its name, its source filter, channel and
    * contact-type expressions over the raw activity columns, and its
    * window order over the preprocessed columns. `order` takes the
    * wrapper each order expression is written under (identity for one
    * view, the tag guard in [[contacts]]), so the direction of each
    * component is written once.
    */
  final case class ContactView(name: String, filter: Column, channel: Column, ctype: Column,
                               order: (Column => Column) => Seq[Column])

  private val recency: (Column => Column) => Seq[Column] = k => Seq(
    k(col("activity_date")).desc_nulls_last, k(col("activity_time")).desc_nulls_last)

  /** View 2 — clean_contacts_primary (`01_staging_layer.sql:59-146`):
    * latest relevant contact per account; the priority prefix makes
    * (channel ASC, type ASC) a business-priority sort, then recency.
    */
  private val primary = ContactView("clean_contacts_primary", lit(true),
    channelPriority(col("collection_channel")),
    normalizeContactType(col("contact_type"), col("collection_channel"), col("agent_name")),
    k => Seq(k(col("collection_channel")).asc_nulls_first, k(col("contact_type")).asc_nulls_first,
      k(col("activity_date")).desc_nulls_last))

  /** View 3 — clean_contacts_field (`01_staging_layer.sql:157-230`):
    * latest field visit per account.
    */
  private val field = ContactView("clean_contacts_field", col("collection_channel") === "FIELD",
    lit("02.FIELD"), normalizeContactTypeField(col("contact_type"), col("agent_name")),
    k => Seq(k(col("contact_type")).asc_nulls_first, k(col("activity_date")).desc_nulls_last))

  /** View 4 — clean_contacts_promise (`01_staging_layer.sql:241-314`):
    * latest payment promise per account, pure recency order.
    */
  private val promise = ContactView("clean_contacts_promise",
    col("contact_outcome") === "PAYMENT_PROMISE",
    channelPriority(col("collection_channel")), lit("PROMISE"), recency)

  /** View 5 — clean_contacts_restructure (`01_staging_layer.sql:325-398`). */
  private val restructure = ContactView("clean_contacts_restructure",
    col("contact_outcome") === "RESTRUCTURE_REQUEST",
    channelPriority(col("collection_channel")), lit("RESTRUCTURE"), recency)

  /** The 4 contact views in tag order ([[StagingViews]] reads them by it). */
  val contactViews: Seq[ContactView] = Seq(primary, field, promise, restructure)

  /** View 1 — clean_accounts (`01_staging_layer.sql:25-44`): pass-through
    * projection + metro coverage flag. No dedup at staging level by design
    * ("multiple operations per account", reference `README.md:51`).
    */
  def cleanAccounts(accounts: DataFrame): DataFrame =
    accounts.withColumn("coverage_area", coverageArea(col("customer_city")))

  /** Shared contact_preprocessing CTE shape (`01_staging_layer.sql:60-107`). */
  private def preprocess(
      activities: DataFrame,
      channel: Column,
      ctype: Column,
      tieCols: Seq[String]): DataFrame =
    activities.select(
      Seq(
        col("account_id"),
        parseDdMmYyyy(col("activity_date")).as("activity_date"),
        col("activity_time"),
        parseDdMmYyyy(col("next_activity_date")).as("next_activity_date"),
        channel.as("collection_channel"),
        ctype.as("contact_type")
      ) ++ contactCols.map(col) ++ tieCols.map(col): _*)

  private def ties(tieCols: Seq[String]): Seq[Column] = tieCols.map(c => col(c).asc_nulls_first)

  /** One contact view on its own: filter, preprocess, latest per account. */
  private def single(v: ContactView, activities: DataFrame, tieCols: Seq[String]): DataFrame =
    LatestPerKey(
      preprocess(activities.filter(v.filter), v.channel, v.ctype, tieCols),
      Seq(col("account_id")),
      v.order(identity) ++ ties(tieCols)
    ).select(viewCols.map(col): _*)

  /** Primary-contact preprocessing without the dedup — public so the
    * STREAMING staging mode can apply the identical expressions and do
    * its latest-per-key in keyed state instead of a window.
    */
  def preprocessPrimary(activities: DataFrame, extraCols: Seq[String] = Nil): DataFrame =
    preprocess(activities, primary.channel, primary.ctype, extraCols)

  def cleanContactsPrimary(activities: DataFrame, tieCols: Seq[String] = Nil): DataFrame =
    single(primary, activities, tieCols)

  def cleanContactsField(activities: DataFrame, tieCols: Seq[String] = Nil): DataFrame =
    single(field, activities, tieCols)

  def cleanContactsPromise(activities: DataFrame, tieCols: Seq[String] = Nil): DataFrame =
    single(promise, activities, tieCols)

  def cleanContactsRestructure(activities: DataFrame, tieCols: Seq[String] = Nil): DataFrame =
    single(restructure, activities, tieCols)

  /** The 4 contact views as ONE frame of [[tagCol]] + [[viewCols]],
    * from one scan of `activities` and one shuffle — the operator
    * fusion of the four [[single]] plans:
    *
    *  - one projection computes the shared columns (each date parsed
    *    once per activity row) and an array with one (tag, channel,
    *    contact type) struct per view whose filter the row passes;
    *  - exploding it emits one row per qualifying view;
    *  - one [[LatestPerKey]] partitioned by (tag, account_id) orders by
    *    every view's order, each component guarded by `tag = v` with its
    *    own direction, then the tie columns. Inside a window partition
    *    the tag is constant, so the other views' components are constant
    *    NULLs and the order is exactly that view's own.
    *
    * The int tag keeps the shuffled rows small (a view-name string tag
    * made them about 20 % larger).
    */
  def contacts(activities: DataFrame, tieCols: Seq[String] = Nil): DataFrame = {
    val tag = col(tagCol)
    val qualifying = filter(array(contactViews.zipWithIndex.map { case (v, t) =>
      when(v.filter, struct(lit(t).as(tagCol), v.channel.as("collection_channel"),
        v.ctype.as("contact_type")))
    }: _*), _.isNotNull)
    val shared = activities.select(Seq(
        col("account_id"),
        parseDdMmYyyy(col("activity_date")).as("activity_date"),
        col("activity_time"),
        parseDdMmYyyy(col("next_activity_date")).as("next_activity_date"),
        qualifying.as("__views")
      ) ++ contactCols.map(col) ++ tieCols.map(col): _*)
    val pre = shared.withColumn("__view", explode(col("__views"))).select(Seq(
        col(s"__view.$tagCol").as(tagCol),
        col("account_id"), col("activity_date"), col("activity_time"), col("next_activity_date"),
        col("__view.collection_channel").as("collection_channel"),
        col("__view.contact_type").as("contact_type")
      ) ++ contactCols.map(col) ++ tieCols.map(col): _*)
    val order = contactViews.zipWithIndex.flatMap { case (v, t) =>
      v.order(e => when(tag === t, e)) }
    LatestPerKey(pre, Seq(tag, col("account_id")), order ++ ties(tieCols))
      .select((tagCol +: viewCols).map(col): _*)
  }

  // ===== incremental batch staging (the MERGE/upsert form of view 2) =====
  //
  // The state row set keeps the ranking + tie columns that the published
  // view drops, so a later batch can rank old vs new rows under the
  // IDENTICAL total order. Top-1 per key under a total order is an
  // associative tournament, so folding daily batches in any grouping is
  // exactly the full recompute — verified by the
  // `pipeline_incremental_primary` oracle gate, whose twin is the SAME
  // SQL as the batch view. At 100 TB each increment shuffles only
  // |state| + |delta| (one best row per account + the new batch), never
  // rescanning the activity history.

  /** Initial incremental state from a history batch: one best row per
    * account, ranking columns retained.
    */
  def primaryState(activities: DataFrame, tieCols: Seq[String]): DataFrame =
    LatestPerKey(
      preprocessPrimary(activities, tieCols),
      Seq(col("account_id")),
      primary.order(identity) ++ ties(tieCols))

  /** Fold one new raw-activity batch into the state (same shape in and
    * out, so increments chain).
    */
  def incrementPrimary(state: DataFrame, newActivities: DataFrame,
                       tieCols: Seq[String]): DataFrame =
    LatestPerKey(
      state.unionByName(preprocessPrimary(newActivities, tieCols)),
      Seq(col("account_id")),
      primary.order(identity) ++ ties(tieCols))

  /** Publish the incremental state as the view schema. */
  def stateToView(state: DataFrame): DataFrame = state.select(viewCols.map(col): _*)

  /** All 5 views, the contact views fused ([[contacts]]), also
    * registered as temp views (idempotent replace — the
    * `DROP VIEW IF EXISTS` + `CREATE VIEW` pair, SURVEY.md §2 S4/S5) so
    * `spark.sql` reaches the identical plans.
    */
  def build(
      spark: SparkSession,
      accounts: DataFrame,
      activities: DataFrame,
      tieCols: Seq[String] = Nil): StagingViews = {
    val v = StagingViews(cleanAccounts(accounts), contacts(activities, tieCols))
    v.cleanAccounts.createOrReplaceTempView("clean_accounts")
    contactViews.zip(v.contactFrames).foreach { case (cv, df) =>
      df.createOrReplaceTempView(cv.name) }
    v
  }
}

/** Handle on the 5 staged views (reference `01_staging_layer.sql`):
  * `clean_accounts`, and the 4 contact views as one frame tagged by
  * [[StagingLayer.tagCol]], each view its tag's rows.
  */
final case class StagingViews(cleanAccounts: DataFrame, contacts: DataFrame) {
  private def view(tag: Int): DataFrame =
    contacts.filter(col(StagingLayer.tagCol) === tag).drop(StagingLayer.tagCol)

  lazy val primary: DataFrame = view(0)
  lazy val field: DataFrame = view(1)
  lazy val promise: DataFrame = view(2)
  lazy val restructure: DataFrame = view(3)

  /** The 4 contact views in [[StagingLayer.contactViews]] order. */
  def contactFrames: Seq[DataFrame] = Seq(primary, field, promise, restructure)
}

object StagingViews {

  /** The handle over 4 separately built contact views: their union,
    * each tagged with its position. Catalyst prunes every other branch
    * from a view's filter, so a view reads only its own plan.
    */
  def apply(cleanAccounts: DataFrame, primary: DataFrame, field: DataFrame,
            promise: DataFrame, restructure: DataFrame): StagingViews =
    StagingViews(cleanAccounts, Seq(primary, field, promise, restructure).zipWithIndex
      .map { case (df, t) => df.withColumn(StagingLayer.tagCol, lit(t)) }
      .reduce(_ unionByName _))
}
