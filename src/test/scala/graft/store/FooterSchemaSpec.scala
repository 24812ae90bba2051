package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

import graft.SparkSpec

/** [[FastScan.footerSchema]] is a drop-in for
  * `spark.read.parquet(file).schema`: the same full `StructType`
  * (types, nullability and field metadata) for Spark-written files,
  * schema-DDL stages and files without Spark's row metadata, under
  * every session flag that steers the parquet → Spark type mapping. */
class FooterSchemaSpec extends SparkSpec {

  private def scratch(tag: String): String =
    graft.util.TempDirs.scratch(tag)

  private def fsOf(p: String): FileSystem =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def partFiles(dir: String): Seq[String] =
    fsOf(dir).listStatus(new Path(dir)).toSeq.map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).sorted

  private val flags = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Run `body` once per combination of [[flags]], restoring the
    * session's own values afterwards. */
  private def underEveryFlagCombination(body: String => Unit): Unit = {
    val saved = flags.map(k => k -> spark.conf.getOption(k))
    try
      for (mask <- 0 until (1 << flags.size)) {
        val set = flags.zipWithIndex.map { case (k, i) =>
          k -> (((mask >> i) & 1) == 1) }
        set.foreach { case (k, v) => spark.conf.set(k, v.toString) }
        body(set.map { case (k, v) => s"$k=$v" }.mkString(", "))
      }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Equal schemas, or both sides refuse the file (e.g. TIMESTAMP(NANOS)
    * without nanosAsLong). */
  private def assertSameSchema(file: String, clue: String): Unit = {
    val expected = scala.util.Try(spark.read.parquet(file).schema)
    val got = scala.util.Try(
      FastScan.footerSchema(spark, fsOf(file), new Path(file)))
    assert(expected.isSuccess == got.isSuccess,
      s"$file [$clue]: spark.read $expected vs footerSchema $got")
    expected.foreach(e => assert(got.get == e,
      s"$file [$clue]:\n${got.get.treeString}\nvs\n${e.treeString}"))
  }

  test("Spark-written type zoo: every type, non-null columns, field " +
      "metadata") {
    val dir = scratch("graft_footer_zoo")
    val comment = new MetadataBuilder().putString("comment", "kept")
      .putLong("width", 8L).build()
    val zoo = spark.sql(
      """SELECT CAST(1 AS INT) AS i, CAST(2 AS BIGINT) AS l,
        |  CAST(1.5 AS DOUBLE) AS d, CAST('1.25' AS DECIMAL(38,18)) AS dec,
        |  'a' AS s, CAST('b' AS BINARY) AS b, DATE'2024-01-02' AS dt,
        |  TIMESTAMP'2024-01-02 03:04:05' AS ts,
        |  TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz,
        |  array(1, 2) AS arr, map('k', 1L) AS m,
        |  named_struct('x', 1, 'y', named_struct('z', 'q')) AS st,
        |  CAST(NULL AS STRING) AS maybe""".stripMargin)
      .withColumn("s", col("s").as("s", comment))
    // literals are non-nullable: the zoo carries both kinds
    assert(zoo.schema.fields.exists(!_.nullable) &&
      zoo.schema.fields.exists(_.nullable))
    zoo.coalesce(1).write.mode("overwrite").parquet(dir)
    val files = partFiles(dir)
    assert(files.nonEmpty)
    val read = spark.read.parquet(files.head).schema
    assert(read("s").metadata == comment, read("s"))
    underEveryFlagCombination(c => files.foreach(assertSameSchema(_, c)))
  }

  test("a file staged under schema-DDL physical names") {
    val root = scratch("graft_footer_ddl")
    Versioned.commitAppend(spark.range(4).toDF("k")
      .withColumn("v", col("k") * 2), root)
    Versioned.addColumns(spark, root,
      StructType.fromDDL("tag STRING, score DOUBLE"))
    Versioned.renameColumn(spark, root, "v", "value")
    Versioned.commitAppend(spark.range(4, 6).toDF("k")
      .withColumn("value", col("k") * 2)
      .withColumn("tag", col("k").cast("string"))
      .withColumn("score", col("k").cast("double")), root)
    val data = Versioned.files(root).filter(_.contains("/data/"))
    assert(data.size >= 2)
    // the post-DDL stage carries physical names, not the logical ones
    val staged = data.map(f => spark.read.parquet(f).columns.toSet)
    assert(staged.exists(c => !c.contains("value") && c.size == 4), staged)
    underEveryFlagCombination(c => data.foreach(assertSameSchema(_, c)))
  }

  test("a file without Spark's row metadata (plain parquet-hadoop " +
      "writer): REQUIRED columns, raw binary, NANOS and NTZ micros") {
    val file = new Path(scratch("graft_footer_plain"), "plain.parquet")
    val schema = MessageTypeParser.parseMessageType(
      """message plain {
        |  required int32 i;
        |  optional int64 l;
        |  required double d;
        |  optional binary raw;
        |  optional binary s (STRING);
        |  optional int32 dt (DATE);
        |  optional int64 nanos (TIMESTAMP(NANOS,true));
        |  optional int64 ntz (TIMESTAMP(MICROS,false));
        |  optional int64 utc (TIMESTAMP(MICROS,true));
        |  optional fixed_len_byte_array(16) dec (DECIMAL(38,18));
        |  optional group arr (LIST) {
        |    repeated group list { optional int32 element; }
        |  }
        |  optional group m (MAP) {
        |    repeated group key_value {
        |      required binary key (STRING);
        |      optional int64 value;
        |    }
        |  }
        |  required group st { required int32 x; optional binary y (STRING); }
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(file)
      .withConf(spark.sessionState.newHadoopConf()).withType(schema)
      .build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
        .append("i", 1).append("l", 2L).append("d", 1.5d)
        .append("raw", "r").append("s", "s").append("dt", 19724)
        .append("nanos", 1L).append("ntz", 2L).append("utc", 3L)
      g.addGroup("arr").addGroup("list").append("element", 7)
      g.addGroup("m").addGroup("key_value").append("key", "k")
        .append("value", 9L)
      g.addGroup("st").append("x", 3)
      writer.write(g)
    } finally writer.close()
    // no Spark row schema: every type comes from the converter, so the
    // session flags decide, and REQUIRED columns read back nullable
    val raw = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sessionState.newHadoopConf()))
    val kv = try raw.getFooter.getFileMetaData.getKeyValueMetaData
      finally raw.close()
    assert(!kv.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    underEveryFlagCombination(c => assertSameSchema(file.toString, c))
  }
}
