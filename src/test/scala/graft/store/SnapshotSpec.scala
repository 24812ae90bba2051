package graft.store

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.api.Engine
import org.apache.spark.sql.functions._

/** Every read is a projection of ONE store snapshot: "latest", the
  * manifest, the schema-DDL state and the tombstones are resolved once
  * per read, so a commit landing mid-read cannot tear it and a read's
  * metadata cost does not multiply with its entry points. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def countingRoot(): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[CountingLocalFileSystem].getName)
    "countfs://" + java.nio.file.Files.createTempDirectory("snapshot_spec")
  }

  private def freshRoot() = java.nio.file.Files
    .createTempDirectory("snapshot_spec").toString

  test("a tombstone commit landing mid-read does not reach the read") {
    val root = countingRoot()
    Versioned.commitAppend((1L to 6L).map(i => (i, s"u$i")).toDF("id", "url"),
      root)
    val v = Versioned.latestVersion(root)
    // the next manifest open is the read resolving its version: a DV
    // delete publishes v+1 right then
    CountingLocalFileSystem.onManifestOpen.set(() =>
      Versioned.commitDeleteVectors(spark, root, col("id") <= 3L))
    val got = Versioned.readSkipped(spark, root, Map.empty)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(CountingLocalFileSystem.onManifestOpen.get == null,
      "the hook never ran")
    assert(Versioned.latestVersion(root) == v + 1)
    // version v's rows, not v's files under v+1's tombstones
    assert(got == (1L to 6L).map(i => (i, s"u$i")))
    assert(Versioned.read(spark, root).count() == 3L)
  }

  test("one lookupKey lists the table root once and opens one manifest") {
    val root = countingRoot()
    (0 until 3).foreach { b =>
      Versioned.commitAppend((0 until 20).map(i => (b * 20L + i,
        s"https://host/${b * 20 + i}")).toDF("id", "url"), root,
        statsCols = Seq("id"), bloomCols = Seq("url"))
    }
    val rootDir = new org.apache.hadoop.fs.Path(root).toUri.getPath
      .stripSuffix("/")
    CountingLocalFileSystem.reset()
    val rows = Engine.lookupKey(spark, root, "https://host/42").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(42L))
    val lists = CountingLocalFileSystem.lists.asScala.count(_ == rootDir)
    val manifests = CountingLocalFileSystem.opens.asScala
      .count(_.split('/').last.startsWith("manifest-v"))
    assert((lists, manifests) == (1, 1),
      s"root listings $lists, manifest opens $manifests")
  }

  test("a merge and a delete each resolve their parent once: 5 root " +
      "listings and 4 manifest opens per commit") {
    val root = countingRoot()
    (0 until 4).foreach { b =>
      Versioned.commitAppend((0 until 10).map(i => (b * 10L + i,
        s"https://host/${b * 10 + i}")).toDF("id", "url"), root,
        statsCols = Seq("id"))
    }
    val rootDir = new org.apache.hadoop.fs.Path(root).toUri.getPath
      .stripSuffix("/")
    def counted(commit: => Long): (Int, Int) = {
      CountingLocalFileSystem.reset()
      commit
      (CountingLocalFileSystem.lists.asScala.count(_ == rootDir),
        CountingLocalFileSystem.opens.asScala
          .count(_.split('/').last.startsWith("manifest-v")))
    }
    val merge = counted(Versioned.commitMerge(
      Seq((12L, "https://host/12-new")).toDF("id", "url"), root, Seq("id")))
    val delete = counted(
      Versioned.commitDelete(spark, root, col("id") === 33L))
    // per commit: the parent snapshot, stage's schema-DDL and
    // constraint lookups, commitFiles' CAS and the sidecar pass's
    // snapshot of the new version list the root; the parent snapshot,
    // the CAS's parent manifest, the publish check and the sidecar
    // snapshot open a manifest
    assert(merge == (5, 4), "merge (root listings, manifest opens)")
    assert(delete == (5, 4), "delete (root listings, manifest opens)")
    assert(Versioned.read(spark, root).count() == 39L)
  }

  test("a pruned read returns the full read's columns") {
    val root = freshRoot()
    Versioned.commitAppend((0L until 5L).map(i => (i, s"n$i")).toDF("id",
      "url"), root, statsCols = Seq("id"))
    // a wider batch, appended without schema DDL
    Versioned.commitAppend((100L until 105L).map(i => (i, s"w$i", i * 2))
      .toDF("id", "url", "extra"), root, statsCols = Seq("id"))
    val (admitted, total) = Versioned.prunedFiles(root, Map.empty,
      equalities = Map("id" -> 103L))
    assert(total > admitted.size && admitted.nonEmpty,
      s"lookup must admit only the wide batch: $admitted of $total")
    val full = Versioned.read(spark, root)
    val hit = Engine.lookup(spark, root, 103L, keyCol = "id")
    assert(hit.columns.toSeq == full.columns.toSeq)
    assert(hit.schema == full.schema)
    assert(hit.collect().map(_.getAs[String]("url")).toSeq == Seq("w103"))
  }

  test("a miss is an empty frame with the full read's columns") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "url"),
      root, statsCols = Seq("id"))
    Versioned.commitDeleteVectors(spark, root, col("id") === 2L)
    assert(Versioned.hasDeleteVectors(root))
    val miss = Engine.lookup(spark, root, 7L, keyCol = "id")
    assert(miss.schema == Versioned.read(spark, root).schema)
    assert(miss.count() == 0L)
    assert(Engine.tableCount(spark, root) == 1L)
  }
}
