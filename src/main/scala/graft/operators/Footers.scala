package graft.operators

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** DRIVER-LOCAL PARQUET METADATA: schemas from file footers and a
  * manifest version's entry list, read on the driver with the
  * `parquet-hadoop` reader and the session's Hadoop configuration —
  * the same file system Spark's scans read. Asking Spark instead costs
  * a job per lookup: schema inference (with or without `mergeSchema`)
  * and a `collect` of a manifest each run as a small Spark job plus its
  * driver gap, although the answer is a footer or a few hundred rows.
  *
  * Nothing is cached: a lookup reads the files as they are now, so a
  * root dropped and re-created (in this process or another) is read as
  * the new table.
  */
object Footers {

  /** A manifest row's data file and its deletion-vector sidecar. */
  type Entries = Array[(String, Option[String])]

  /** The footer key under which Spark's writer records the frame's
    * schema (`ParquetReadSupport.SPARK_METADATA_KEY`).
    */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def conf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** Data files under `path` (the path itself when it is a file), in
    * name order, descending into partition directories; `_`- and
    * `.`-prefixed names are markers, metadata and checksums, which
    * Spark's file listing skips too.
    */
  private def leaves(fs: FileSystem, p: Path): Iterator[Path] =
    if (fs.getFileStatus(p).isFile) Iterator(p)
    else fs.listStatus(p).iterator
      .filterNot(st => st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith("."))
      .toSeq.sortBy(_.getPath.getName).iterator
      .flatMap(st => if (st.isFile) Iterator(st.getPath) else leaves(fs, st.getPath))

  private def leavesOf(c: Configuration, path: String): Iterator[Path] = {
    val p = new Path(path)
    leaves(p.getFileSystem(c), p)
  }

  private def withReader[A](c: Configuration, file: Path)(f: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, c))
    try f(r) finally r.close()
  }

  /** Every field nullable, nested types included — what Spark's file
    * sources make of a footer schema before a scan uses it.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def fileSchema(c: Configuration, file: Path): StructType =
    withReader(c, file) { r =>
      val meta = r.getFooter.getFileMetaData
      val written = Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
      nullable(written.getOrElse(
        new ParquetToSparkSchemaConverter(c).convert(meta.getSchema)))
        .asInstanceOf[StructType]
    }

  /** The data schema of one write-once parquet path (a version,
    * generation or CDC directory, or a single file): the footer of its
    * first data file. Spark adds a partitioned directory's partition
    * columns itself when the read names the directory.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val c = conf(spark)
    val first = leavesOf(c, path).nextOption().getOrElse(
      throw new IllegalStateException(s"no parquet data file under $path"))
    fileSchema(c, first)
  }

  private val WidenChains = Seq(
    Seq("tinyint", "smallint", "int", "bigint"), Seq("float", "double"))

  /** Is `from` → `to` a safe promotion along one widening chain? */
  def widensTo(from: DataType, to: DataType): Boolean =
    WidenChains.exists { ch =>
      val (i, j) = (ch.indexOf(from.simpleString), ch.indexOf(to.simpleString))
      i >= 0 && j > i
    }

  /** The read schema of a file set: one footer per generation directory
    * (a generation is written once, by one job, under one schema),
    * merged field by field in first-appearance order. Equal types keep,
    * a [[widensTo]] pair keeps the wider (Spark's Parquet readers upcast
    * narrow pages under the wide type), anything else is a conflict. A
    * field some generation lacks reads back NULL for its files.
    */
  def mergedSchemaOf(spark: SparkSession, files: Seq[String]): StructType = {
    val c = conf(spark)
    val fields = mutable.LinkedHashMap.empty[String, StructField]
    files.distinctBy(f => f.substring(0, f.lastIndexOf('/'))).foreach { f =>
      fileSchema(c, new Path(f)).foreach { fl =>
        fields.get(fl.name) match {
          case None => fields(fl.name) = fl
          case Some(prev) if prev.dataType == fl.dataType => ()
          case Some(prev) if widensTo(prev.dataType, fl.dataType) => fields(fl.name) = fl
          case Some(prev) if widensTo(fl.dataType, prev.dataType) => ()
          case Some(prev) => throw new IllegalArgumentException(
            s"cannot merge generation schemas: ${fl.name} is " +
              s"${prev.dataType.simpleString} vs ${fl.dataType.simpleString}")
        }
      }
    }
    StructType(fields.values.toSeq)
  }

  /** The `(file, dv_path)` entries of a manifest version directory (or
    * file), read with only those two columns projected. A manifest
    * without a `dv_path` column lists no deletion vectors.
    */
  def entriesOf(spark: SparkSession, path: String): Entries = {
    val c = conf(spark)
    leavesOf(c, path).flatMap(f => withReader(c, f) { r =>
      val schema = r.getFooter.getFileMetaData.getSchema
      val hasDv = schema.containsField("dv_path")
      val proj = new MessageType(schema.getName,
        (Seq("file") ++ Option.when(hasDv)("dv_path"))
          .map(n => schema.getType(schema.getFieldIndex(n))): _*)
      r.setRequestedSchema(proj)
      val io = new ColumnIOFactory().getColumnIO(proj, schema)
      val out = mutable.ArrayBuffer.empty[(String, Option[String])]
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(proj))
        var i = 0L
        while (i < pages.getRowCount) {
          val g = records.read()
          out += ((g.getString("file", 0),
            Option.when(hasDv && g.getFieldRepetitionCount("dv_path") > 0)(
              g.getString("dv_path", 0))))
          i += 1
        }
        pages = r.readNextRowGroup()
      }
      out
    }).toArray
  }
}
