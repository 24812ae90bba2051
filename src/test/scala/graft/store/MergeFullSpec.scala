package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Full MERGE grammar: conditional matched actions, matched DELETE,
  * NOT MATCHED BY SOURCE, insert column lists — SQL surface and the
  * Scala `commitMergeConditional` beneath it. */
class MergeFullSpec extends SparkSpec {

  private def scratch(tag: String): String =
    graft.util.TempDirs.scratch(tag)

  private def freshTarget(tag: String): (String, String) = {
    val root = scratch(tag)
    val view = tag + "_v"
    spark.range(10).toDF("k")
      .withColumn("v", col("k") * 10L)
      // nullable ts (insert clauses that omit it write null)
      .withColumn("ts", when(col("k") >= 0L, lit(100L)))
      .write.format("graft").save(root)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view " +
      s"USING graft OPTIONS (path '$root')")
    (root, view)
  }

  test("conditional matched update: the reference's keep-newest upsert " +
      "expressed as WHEN MATCHED AND s.ts > t.ts") {
    val (root, view) = freshTarget("graft_mf_keepnew")
    // source: k=2 older (ts 50, must NOT overwrite), k=3 newer
    // (ts 200, must overwrite), k=20 new (must insert)
    spark.createDataFrame(Seq((2L, 999L, 50L), (3L, 333L, 200L),
        (20L, 200L, 150L)))
      .toDF("k", "v", "ts").createOrReplaceTempView("graft_mf_src1")
    spark.sql(s"MERGE INTO $view t USING graft_mf_src1 s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND s.ts > t.ts THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val out = Versioned.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 11)
    assert(out.find(_._1 == 2L).get == ((2L, 20L, 100L)),
      "older source row must not overwrite")
    assert(out.find(_._1 == 3L).get == ((3L, 333L, 200L)),
      "newer source row must overwrite")
    assert(out.find(_._1 == 20L).get == ((20L, 200L, 150L)))
  }

  test("WHEN MATCHED THEN DELETE and conditional delete") {
    val (root, view) = freshTarget("graft_mf_del")
    spark.range(3, 7).toDF("k").withColumn("v", lit(0L))
      .withColumn("ts", lit(0L))
      .createOrReplaceTempView("graft_mf_src2")
    spark.sql(s"MERGE INTO $view t USING graft_mf_src2 s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND t.k % 2 = 0 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + s.v + 1")
    val out = Versioned.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!out.exists(r => r._1 == 4L || r._1 == 6L),
      "even matched keys must delete")
    assert(out.find(_._1 == 3L).get._2 == 31L)
    assert(out.find(_._1 == 5L).get._2 == 51L)
    assert(out.length == 8)
  }

  test("NOT MATCHED BY SOURCE updates and deletes") {
    val (root, view) = freshTarget("graft_mf_nmbs")
    spark.range(0, 4).toDF("k").withColumn("v", col("k"))
      .withColumn("ts", lit(500L))
      .createOrReplaceTempView("graft_mf_src3")
    spark.sql(s"MERGE INTO $view t USING graft_mf_src3 s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED BY SOURCE AND t.k >= 8 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1")
    val out = Versioned.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 8, "k=8,9 must be deleted")
    assert((0L to 3L).forall(k => out.find(_._1 == k).get._2 == k),
      "matched rows take source values")
    assert((4L to 7L).forall(k => out.find(_._1 == k).get._2 == -1L),
      "unmatched target rows take the NMBS update")
  }

  test("INSERT with a column list fills unnamed columns with null") {
    val (root, view) = freshTarget("graft_mf_inslist")
    spark.sql(s"INSERT INTO $view (k, v) VALUES (50, 500)")
    val r = spark.sql(s"SELECT k, v, ts FROM $view WHERE k = 50").head
    assert(r.getLong(0) == 50L && r.getLong(1) == 500L && r.isNullAt(2))
    // merge insert column list: unassigned ts stays null
    spark.range(60, 62).toDF("k").withColumn("v", col("k") * 2L)
      .withColumn("ts", lit(7L))
      .createOrReplaceTempView("graft_mf_src4")
    spark.sql(s"MERGE INTO $view t USING graft_mf_src4 s " +
      "ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    val m = spark.sql(s"SELECT k, v, ts FROM $view WHERE k = 60").head
    assert(m.getLong(1) == 120L && m.isNullAt(2))
    assert(Versioned.read(spark, root).count() == 13L)
  }

  test("duplicate source keys matching one target row are refused") {
    val (root, view) = freshTarget("graft_mf_dup")
    spark.createDataFrame(Seq((3L, 1L, 0L), (3L, 2L, 0L)))
      .toDF("k", "v", "ts").createOrReplaceTempView("graft_mf_src5")
    val threw =
      try {
        spark.sql(s"MERGE INTO $view t USING graft_mf_src5 s " +
          "ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET v = s.v " +
          "WHEN NOT MATCHED THEN INSERT *")
        false
      } catch { case _: Throwable => true }
    assert(threw, "ambiguous multi-match must be refused")
    assert(Versioned.latestVersion(root) == 1L)
    // duplicates that only INSERT are legal (no target match)
    spark.createDataFrame(Seq((90L, 1L, 0L), (90L, 2L, 0L)))
      .toDF("k", "v", "ts").createOrReplaceTempView("graft_mf_src6")
    spark.sql(s"MERGE INTO $view t USING graft_mf_src6 s " +
      "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT count(*) FROM $view WHERE k = 90")
      .head.getLong(0) == 2L)
  }

  test("conditional merge with cdc=true keeps the change feed exact") {
    val root = scratch("graft_mf_cdc")
    spark.range(10).toDF("k").withColumn("v", col("k") * 10L)
      .write.format("graft").save(root)
    val src = spark.createDataFrame(
        Seq((2L, 999L), (3L, 333L), (20L, 200L)))
      .toDF("k", "v")
    Versioned.commitMergeConditional(src, root, Seq("k"),
      matched = Seq(
        Versioned.MergeClause(
          Some(org.apache.spark.sql.functions.col("__s_v") > 500L),
          "delete", Nil),
        Versioned.MergeClause(None, "update",
          Seq("v" -> org.apache.spark.sql.functions.col("__s_v")))),
      notMatched = Seq(Versioned.MergeClause(None, "insert",
        Seq("k" -> org.apache.spark.sql.functions.col("__s_k"),
          "v" -> org.apache.spark.sql.functions.col("__s_v")))),
      notMatchedBySource = Nil, cdc = true)
    assert(Versioned.read(spark, root).count() == 10L,
      "k=2 deleted, k=3 updated, k=20 inserted")
    val feed = Versioned.readChangeFeed(spark, root, 1L)
    val dels = feed.filter(col("_change_type") === "delete")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ins = feed.filter(col("_change_type") === "insert")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dels.toSet == Set((2L, 20L), (3L, 30L)),
      s"old images of the deleted + updated rows, got ${dels.toSet}")
    assert(ins.toSet == Set((3L, 333L), (20L, 200L)),
      s"new images of the updated + inserted rows, got ${ins.toSet}")
  }

  test("general merge key-prunes when NOT MATCHED BY SOURCE is absent") {
    val root = scratch("graft_mf_prune")
    // 4 single-file commits with disjoint key ranges + sidecars
    (0 until 4).foreach { i =>
      spark.range(i * 100L, i * 100L + 100).toDF("k")
        .withColumn("v", col("k")).coalesce(1)
        .write.format("graft").mode("append")
        .option("statsCols", "k").save(root)
    }
    val before = Versioned.files(root, 4L).toSet
    spark.range(150, 160).toDF("k").withColumn("v", lit(-5L))
      .createOrReplaceTempView("graft_mf_src7")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_mf_pr " +
      s"USING graft OPTIONS (path '$root')")
    spark.sql("MERGE INTO graft_mf_pr t USING graft_mf_src7 s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND s.v < t.v THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    val after = Versioned.files(root).toSet
    val surviving = before.intersect(after)
    assert(surviving.size == 3,
      s"only the k∈[100,200) file may rewrite; ${4 - surviving.size} " +
        "files were rewritten")
    assert(Versioned.read(spark, root)
      .filter(col("k") >= 150 && col("k") < 160 && col("v") === -5L)
      .count() == 10L)
    assert(Versioned.read(spark, root).count() == 400L)
  }

  test("a conditional merge into an emptied table and a staged-dir " +
      "overwrite keep the stats lineage: each new version prunes") {
    val root = scratch("graft_mf_sidecar")
    // partitioned, so deleting every row leaves NO data file and the
    // merge below takes its insert-only branch
    Versioned.commitAppend(spark.range(0, 10).toDF("k")
      .withColumn("p", col("k") % 2L).withColumn("v", col("k")), root,
      statsCols = Seq("k"), partitionBy = Seq("p"))
    Versioned.commitDelete(spark, root, lit(true))
    assert(Versioned.files(root).isEmpty)
    def statsSidecar(v: Long) = new java.io.File(root, s"stats-v$v.json")
    def prunesAll(v: Long): Boolean =
      Versioned.prunedFiles(root, Map("k" -> (100L, 200L)), v)._1.isEmpty
    val insert = Versioned.MergeClause(None, "insert",
      Seq("k", "p", "v").map(c => c -> col("__s_" + c)))
    val vm = Versioned.commitMergeConditional(spark.range(1, 4, 1, 1).toDF("k")
      .withColumn("p", lit(0L)).withColumn("v", col("k")), root, Seq("k"),
      matched = Nil, notMatched = Seq(insert), notMatchedBySource = Nil)
    assert(Versioned.read(spark, root).count() == 3L)
    assert(statsSidecar(vm).exists(), s"no stats sidecar at v$vm")
    assert(prunesAll(vm), "a bound outside the inserted keys must prune")
    val stage = Versioned.newStageDir(root)
    spark.range(50, 53, 1, 1).toDF("k").withColumn("p", lit(1L))
      .withColumn("v", col("k")).write.parquet(stage + "/part")
    val vs = Versioned.commitStagedDir(root, stage)
    assert(Versioned.read(spark, root).count() == 3L)
    assert(prunesAll(vs), "the staged-dir version must prune too")
  }

  test("0-row part files are not staged: a 3-row insert from 4 slices " +
      "leaves no file a bound outside its keys admits") {
    def prunesAll(root: String, v: Long): Boolean =
      Versioned.prunedFiles(root, Map("k" -> (100L, 200L)), v)._1.isEmpty
    // one of the 4 slices is empty: Spark writes a 0-row part-00000
    // for it, which has no stats entry
    def threeRows(from: Long) = spark.range(from, from + 3, 1, 4).toDF("k")
    assert(threeRows(1L).rdd.getNumPartitions == 4)
    val root = scratch("graft_mf_empty_part")
    // partitioned, so deleting every row leaves no data file and the
    // merge below takes its insert-only branch
    Versioned.commitAppend(spark.range(0, 10).toDF("k")
      .withColumn("p", col("k") % 2L).withColumn("v", col("k")), root,
      statsCols = Seq("k"), partitionBy = Seq("p"))
    Versioned.commitDelete(spark, root, lit(true))
    val insert = Versioned.MergeClause(None, "insert",
      Seq("k", "p", "v").map(c => c -> col("__s_" + c)))
    val vm = Versioned.commitMergeConditional(threeRows(1L)
        .withColumn("p", lit(0L)).withColumn("v", col("k")), root, Seq("k"),
      matched = Nil, notMatched = Seq(insert), notMatchedBySource = Nil)
    assert(Versioned.read(spark, root).count() == 3L)
    assert(prunesAll(root, vm), Versioned.files(root, vm).mkString("\n"))
    // a flat append stages the same way
    val flat = scratch("graft_mf_empty_part_flat")
    val va = Versioned.commitAppend(threeRows(20L), flat,
      statsCols = Seq("k"))
    assert(Versioned.files(flat, va).size == 3)
    assert(Versioned.read(spark, flat).count() == 3L)
    assert(prunesAll(flat, va))
  }

  test("an all-row DELETE of a flat table publishes no data file: the " +
      "emptied version reads as a typed empty frame and admits nothing") {
    val root = scratch("graft_mf_delete_all")
    val v1 = Versioned.commitAppend(spark.range(0, 10).toDF("k")
      .withColumn("v", col("k")), root, statsCols = Seq("k"))
    val vd = Versioned.commitDelete(spark, root, lit(true))
    assert(vd == v1 + 1)
    assert(Versioned.files(root, vd).isEmpty,
      Versioned.files(root, vd).mkString("\n"))
    val emptied = Versioned.read(spark, root, vd)
    assert(emptied.count() == 0L)
    assert(emptied.schema == Versioned.read(spark, root, v1).schema)
    // the emptied table takes the merge's insert-only branch, whose
    // staged files all carry stats
    val insert = Versioned.MergeClause(None, "insert",
      Seq("k", "v").map(c => c -> col("__s_" + c)))
    val vm = Versioned.commitMergeConditional(
      spark.range(1, 4, 1, 4).toDF("k").withColumn("v", col("k")), root,
      Seq("k"), matched = Nil, notMatched = Seq(insert),
      notMatchedBySource = Nil)
    assert(Versioned.read(spark, root, vm).count() == 3L)
    assert(Versioned.prunedFiles(root, Map("k" -> (100L, 200L)), vm)._1
      .isEmpty, Versioned.files(root, vm).mkString("\n"))
  }
}
