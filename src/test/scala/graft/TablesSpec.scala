package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema contract between the testdata parquet, the engine, and the DuckDB
  * oracles. The round-5 testdata regeneration silently changed `events.ts`
  * from TIMESTAMP(NANOS) to TIMESTAMP(MICROS, isAdjustedToUTC=false) and
  * broke 22 queries with opaque analysis errors; this spec exists so the next
  * regen fails ONE obvious test instead.
  */
class TablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fields(name: String): Map[String, DataType] =
    Tables.read(spark, dir, name).schema.fields.map(f => f.name -> f.dataType).toMap

  test("events resolves with ts normalized to ns-since-epoch LONG") {
    assert(fields("events") === Map(
      "event_id" -> LongType, "ts" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))
  }

  test("events.ts values land in the generator's January-2024 window (UTC)") {
    // Catches both scale mistakes (µs vs ns: off by 1000×) and timezone
    // mistakes (a non-UTC NTZ conversion shifts by whole hours): the data
    // starts within the first hour of 2024-01-01 UTC and ends before Feb 1.
    val r = Tables.events(spark, dir).agg(min("ts"), max("ts")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val jan1 = 1704067200000000000L // 2024-01-01T00:00:00Z as ns
    assert(lo >= jan1 && lo < jan1 + 3600L * 1000000000L, s"min ts = $lo")
    assert(hi > jan1 && hi < 1706745600000000000L, s"max ts = $hi") // < Feb 1
  }

  test("date columns resolve as NTZ timestamps the oracles exchange at µs/ms") {
    assert(fields("orders")("o_orderdate") === TimestampNTZType)
    assert(fields("lineitem")("l_shipdate") === TimestampNTZType)
  }

  test("all ten tables resolve to the schemas the oracles assume") {
    assert(fields("region") === Map(
      "r_regionkey" -> IntegerType, "r_name" -> StringType))
    assert(fields("nation") === Map(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
    assert(fields("customer") === Map(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType))
    assert(fields("supplier") === Map(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assert(fields("part") === Map(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
    assert(fields("orders") === Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType))
    assert(fields("lineitem") === Map(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType))
    assert(fields("documents") === Map(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
    assert(fields("embeddings") === Map(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))
  }

  test("ts literal predicates on normalized events push down to parquet") {
    // The TsLiteralPushdown rule must rewrite `unix_micros(cast(ts))*1000
    // cmp L` back onto the bare column; otherwise time-range scans read
    // every row group at 100 TB.
    val plan = Tables.events(spark, dir)
      .filter(col("ts") < lit(1704672000000000000L))
      .select("event_id").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), LessThan(ts,"), plan)
  }

  test("relation cache sees a part file rewritten in place in a directory table") {
    // A Spark-written table is a directory: its own length is 0 and its
    // mtime stays put when a part file is rewritten in place, so a key
    // of the directory's stats alone would keep serving the old relation.
    import spark.implicits._
    import java.io.File
    import java.nio.file.{Files, StandardCopyOption}
    val root = Files.createTempDirectory("tables-relcache").toFile
    try {
      val table = new File(root, "docs.parquet")
      Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(table.getPath)
      assert(Tables.read(spark, root.getPath, "docs").count() == 1)

      val next = new File(root, "next")
      val rows = (1L to 500L).map(i => (i, s"row $i of the rewrite"))
      rows.toDF("id", "s").coalesce(1).write.parquet(next.getPath)
      val dirMtime = table.lastModified()
      def part(d: File) = d.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val (oldPart, newPart) = (part(table), part(next))
      Files.copy(newPart.toPath, oldPart.toPath,
        StandardCopyOption.REPLACE_EXISTING)
      assert(table.setLastModified(dirMtime))
      assert(table.lastModified() == dirMtime)

      val got = Tables.read(spark, root.getPath, "docs").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(got == rows)
    } finally {
      def rm(f: File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(root)
    }
  }

  test("relation cache serves a live session and releases a stopped one") {
    import spark.implicits._
    import java.io.File
    val root = java.nio.file.Files.createTempDirectory("tables-release")
      .toFile
    try {
      Seq((1L, "a")).toDF("id", "s").write
        .parquet(new File(root, "docs.parquet").getPath)
      // search serving re-reads its tables per request: same relation
      assert(Tables.read(spark, root.getPath, "docs") eq
        Tables.read(spark, root.getPath, "docs"))
      val (code, out) =
        ChildJvm.run("graft.TablesReleaseCheck", Nil, root.getPath)
      assert(code == 0 && out.linesIterator.contains("released"),
        s"exit $code: $out")
    } finally {
      def rm(f: File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(root)
    }
  }
}
