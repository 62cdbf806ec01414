package graft.operators

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType,
  LongType, MapType, StringType, StructField, StructType}

/** DRIVER-LOCAL PARQUET METADATA: schemas from file footers, a
  * manifest version's entry list and the rows of the engine's small
  * artifacts (IVF centroids, one-row BM25 corpus stats), read on the
  * driver with the `parquet-hadoop` reader and the session's Hadoop
  * configuration — the same file system Spark's scans read. Asking
  * Spark instead costs a job per lookup: schema inference (with or
  * without `mergeSchema`) and a `collect` each run as a small Spark job
  * plus its driver gap, although the answer is a footer or a few
  * hundred rows. [[read]] is the scan of a single-schema path with its
  * schema given, so it starts no inference job.
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

  /** A file's schema as Spark's inference reads it: the schema Spark's
    * writer recorded, else the footer's parquet schema converted under
    * the session's SQL settings (`nanosAsLong`, `inferTimestampNTZ`,
    * `binaryAsString`, …) — files other writers produced carry no
    * Spark schema.
    */
  private def fileSchema(spark: SparkSession, c: Configuration, file: Path): StructType =
    withReader(c, file) { r =>
      val meta = r.getFooter.getFileMetaData
      val written = Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
      nullable(written.getOrElse(
        new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema)))
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
    fileSchema(spark, c, first)
  }

  /** A scan of one single-schema parquet path under its [[schemaOf]]:
    * what `spark.read.parquet(path)` reads, minus the inference job.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

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
      fileSchema(spark, c, new Path(f)).foreach { fl =>
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

  /** Every record of `file` under the projection `proj`, in file order. */
  private def records[A](c: Configuration, file: Path,
                         proj: MessageType => MessageType)(f: Group => A): Seq[A] =
    withReader(c, file) { r =>
      val schema = r.getFooter.getFileMetaData.getSchema
      val want = proj(schema)
      r.setRequestedSchema(want)
      val io = new ColumnIOFactory().getColumnIO(want, schema)
      val out = mutable.ArrayBuffer.empty[A]
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val rows = io.getRecordReader(pages, new GroupRecordConverter(want))
        var i = 0L
        while (i < pages.getRowCount) {
          out += f(rows.read())
          i += 1
        }
        pages = r.readNextRowGroup()
      }
      out.toSeq
    }

  /** The `(file, dv_path)` entries of a manifest version directory (or
    * file), read with only those two columns projected. A manifest
    * without a `dv_path` column lists no deletion vectors.
    */
  def entriesOf(spark: SparkSession, path: String): Entries = {
    val c = conf(spark)
    leavesOf(c, path).flatMap(f => records(c, f, schema =>
      new MessageType(schema.getName, Seq("file", "dv_path").filter(schema.containsField)
        .map(n => schema.getType(schema.getFieldIndex(n))): _*)) { g =>
      (g.getString("file", 0),
        Option.when(g.getType.containsField("dv_path") &&
          g.getFieldRepetitionCount("dv_path") > 0)(g.getString("dv_path", 0)))
    }).toArray
  }

  /** One non-NULL value of a primitive column (the `j`-th repetition). */
  private def atom(g: Group, i: Int, j: Int, t: DataType): Any = t match {
    case IntegerType => g.getInteger(i, j)
    case LongType => g.getLong(i, j)
    case DoubleType => g.getDouble(i, j)
    case BooleanType => g.getBoolean(i, j)
    case StringType => g.getString(i, j)
    case other => throw new IllegalArgumentException(
      s"Footers.rowsOf reads int, bigint, double, boolean, string and arrays of " +
        s"them; got ${other.simpleString}")
  }

  /** Field `i` of `g` as Spark holds it: NULL when absent, an array from
    * either LIST layout (a repeated group wrapping each element, or a
    * bare repeated primitive).
    */
  private def cell(g: Group, i: Int, t: DataType): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else t match {
      case ArrayType(et, _) =>
        val list = g.getGroup(i, 0)
        val n = list.getFieldRepetitionCount(0)
        if (list.getType.getType(0).isPrimitive) Seq.tabulate(n)(atom(list, 0, _, et))
        else Seq.tabulate(n)(j => cell(list.getGroup(0, j), 0, et))
      case _ => atom(g, i, 0, t)
    }

  /** Every row of a small single-schema artifact (a few hundred rows at
    * most), read on the driver under its [[schemaOf]] — the rows
    * `Footers.read(spark, path).collect()` returns, in file order,
    * without a Spark job. Columns are int, bigint, double, boolean,
    * string or arrays of them.
    */
  def rowsOf(spark: SparkSession, path: String): Array[Row] = {
    val schema = schemaOf(spark, path)
    val c = conf(spark)
    leavesOf(c, path).flatMap(f => records(c, f, identity) { g =>
      new GenericRowWithSchema(
        schema.fields.map(fl => cell(g, g.getType.getFieldIndex(fl.name), fl.dataType)),
        schema): Row
    }).toArray
  }
}
