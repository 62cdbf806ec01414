package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Leak gate for gate fixtures: a query's second call must leave none of
  * its first call's fixture directories on disk and none of its first
  * call's catalog tables registered. Rows cover the gates that once
  * never retired their fixture, the bloom file-skipping gates, and one
  * gate per retire pattern (directory only, directory plus table,
  * several roots, streaming).
  *
  * Fixture directories are matched by the query's fixture prefixes, in
  * `java.io.tmpdir` and under the per-JVM root. Test JVMs share the temp
  * dir, so only directories first seen after this JVM's own call count.
  * A catalog table is identified by name and location: a fixed-name
  * table that a later call re-creates elsewhere is not the first call's.
  */
class FixtureLeakSpec extends SparkSpec {

  private val rows: Seq[(String, Seq[String])] = Seq(
    "layout_compaction_exec" -> Seq("graft_compact"),
    "pipeline_time_travel" -> Seq("graft_tt"),
    "pipeline_change_feed" -> Seq("graft_cdf"),
    "pipeline_apply_change_feed" -> Seq("graft_cdf"),
    "pipeline_vacuum_retention" -> Seq("graft_vac"),
    "pipeline_vacuum_compact_markers" -> Seq("graft_vaccm"),
    "pipeline_backfill_overwrite" -> Seq("graft_backfill"),
    "report1_from_bucketed" -> Seq("graft_r1b"),
    "source_json_roundtrip" -> Seq("graft_json_rt"),
    "source_orc_roundtrip" -> Seq("graft_orc_rt"),
    "source_csv_roundtrip" -> Seq("graft_csv_rt"),
    "source_partitioned_roundtrip" -> Seq("graft_part_rt"),
    "source_schema_evolution" -> Seq("graft_schema_evo"),
    "streaming_publish_exactly_once" -> Seq("graft-eo-publish"),
    // the bloom file-skipping gates
    "layout_bloom_pruned_scan" -> Seq("graft_bloomspine"),
    "layout_bloom_roster_delete" -> Seq("graft_bloomroster"),
    // one row per retire pattern
    "layout_stats_pruned_scan" -> Seq("graft_spine"),
    "sim_ivf_append_topk" -> Seq("graft_ivf_app"),
    "pipeline_delete_propagate_state" ->
      Seq("graft_prg_digest", "graft_prg_band", "graft_prg_labels"),
    "streaming_merge_apply" -> Seq("graft-smrg", "graft-smrg-src"))

  private def roots: Seq[Path] =
    Seq(Paths.get(System.getProperty("java.io.tmpdir")), operators.Checkpoints.root)

  private def fixtureDirs(prefixes: Seq[String]): Set[Path] = {
    val names = prefixes.map(p => s"${java.util.regex.Pattern.quote(p)}-?\\d+".r)
    roots.flatMap { r =>
      val st = Files.list(r)
      try st.iterator().asScala.filter(p => Files.isDirectory(p) &&
          names.exists(_.matches(p.getFileName.toString))).toList
      finally st.close()
    }.toSet
  }

  private def tableNames(): Set[String] =
    spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name).toSet

  private def location(table: String): String =
    spark.sql(s"DESCRIBE TABLE EXTENDED `$table`").collect()
      .find(_.getString(0) == "Location").map(_.getString(1)).getOrElse("")

  rows.foreach { case (name, prefixes) =>
    test(s"$name: its second call retires every fixture of its first") {
      val run = SparkEntry.queries(name)
      val dirs0 = fixtureDirs(prefixes)
      val tables0 = tableNames()
      run(spark, sfSmoke).collect()
      val firstDirs = fixtureDirs(prefixes) -- dirs0
      val firstTables = (tableNames() -- tables0).map(t => t -> location(t))
      assert(firstDirs.nonEmpty, s"$name made no fixture dir matching $prefixes")
      run(spark, sfSmoke).collect()
      val leakedDirs = firstDirs.filter(Files.exists(_))
      val leakedTables = firstTables.filter { case (t, loc) =>
        spark.catalog.tableExists(t) && location(t) == loc }
      assert(leakedDirs.isEmpty, s"$name: first call's fixture dirs survive: $leakedDirs")
      assert(leakedTables.isEmpty, s"$name: first call's tables still registered: $leakedTables")
    }
  }
}
