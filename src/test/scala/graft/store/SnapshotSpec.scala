package graft.store

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.api.Engine
import org.apache.spark.sql.functions._

/** Every read is a projection of ONE store snapshot: "latest", the
  * manifest, the schema-DDL state and the tombstones are resolved once
  * per read, so a commit landing mid-read cannot tear it and a read's
  * metadata cost does not multiply with its entry points. Every commit
  * stages, publishes and maintains its sidecars from the ONE snapshot
  * of its parent. */
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

  /** (root listings, manifest opens) of `root` while `body` runs. */
  private def counted(root: String)(body: => Any): (Int, Int) = {
    val rootDir = new org.apache.hadoop.fs.Path(root).toUri.getPath
      .stripSuffix("/")
    CountingLocalFileSystem.reset()
    body
    (CountingLocalFileSystem.lists.asScala.count(_ == rootDir),
      CountingLocalFileSystem.opens.asScala
        .count(_.startsWith(rootDir + "/manifest-v")))
  }

  private def urls(from: Int, n: Int) =
    (from until from + n).map(i => (i.toLong, s"https://host/$i"))
      .toDF("id", "url")

  // per commit: the parent snapshot lists the root and opens its
  // manifest; the publish check re-reads the published manifest's
  // writer token. Nothing else resolves "latest" again.
  test("a merge and a delete each resolve their parent once: 1 root " +
      "listing and 2 manifest opens per commit") {
    val root = countingRoot()
    (0 until 4).foreach(b =>
      Versioned.commitAppend(urls(b * 10, 10), root, statsCols = Seq("id")))
    val merge = counted(root)(Versioned.commitMerge(
      Seq((12L, "https://host/12-new")).toDF("id", "url"), root, Seq("id")))
    val delete = counted(root)(
      Versioned.commitDelete(spark, root, col("id") === 33L))
    assert(merge == (1, 2), "merge (root listings, manifest opens)")
    assert(delete == (1, 2), "delete (root listings, manifest opens)")
    assert(Versioned.read(spark, root).count() == 39L)
  }

  test("an append, an overwrite and a txn-append each resolve their " +
      "parent once: 1 root listing and 2 manifest opens per commit") {
    val stats = countingRoot()
    val plain = countingRoot()
    val sink = countingRoot()
    (0 until 2).foreach { b =>
      Versioned.commitAppend(urls(b * 10, 10), stats, statsCols = Seq("id"))
      Versioned.commitAppend(urls(b * 10, 10), plain)
      Versioned.commitAppendTxn(urls(b * 10, 10), sink, "sink", b.toLong)
    }
    val statsAppend = counted(stats)(
      Versioned.commitAppend(urls(20, 10), stats))
    val plainAppend = counted(plain)(
      Versioned.commitAppend(urls(20, 10), plain))
    val txnAppend = counted(sink)(
      Versioned.commitAppendTxn(urls(20, 10), sink, "sink", 2L))
    val overwrite = counted(plain)(
      Versioned.commitOverwrite(urls(100, 5), plain))
    assert(statsAppend == (1, 2),
      "append on a stats lineage (root listings, manifest opens)")
    assert(plainAppend == (1, 2), "append (root listings, manifest opens)")
    assert(txnAppend == (1, 2), "txn-append (root listings, manifest opens)")
    assert(overwrite == (1, 2), "overwrite (root listings, manifest opens)")
    // the stats lineage continued through the counted append
    val (admitted, total) = Versioned.prunedFiles(stats,
      Map("id" -> (25L, 25L)))
    assert(total > 1 && admitted.size == 1)
    assert(Versioned.read(spark, sink).count() == 30L)
    assert(Versioned.read(spark, plain).count() == 5L)
  }

  test("a commit landing right after a write's parent listing is " +
      "composed on under an append and refused under a merge") {
    val root = countingRoot()
    Versioned.commitAppend(urls(0, 3), root)
    // the next manifest open is the parent snapshot of the write below:
    // a racing append publishes v2 right then
    CountingLocalFileSystem.onManifestOpen.set(() =>
      Versioned.commitAppend(urls(10, 3), root))
    assert(Versioned.commitAppend(urls(20, 3), root) == 3L)
    assert(CountingLocalFileSystem.onManifestOpen.get == null,
      "the hook never ran")
    def ids(v: Long) = Versioned.read(spark, root, v)
      .as[(Long, String)].collect().map(_._1).sorted.toSeq
    assert(ids(2L) == Seq(0L, 1L, 2L, 10L, 11L, 12L))
    assert(ids(3L) == Seq(0L, 1L, 2L, 10L, 11L, 12L, 20L, 21L, 22L))
    // under a rewrite the same race is a conflict: the merge planned
    // against v3 must not publish on top of the racer's v4
    CountingLocalFileSystem.onManifestOpen.set(() =>
      Versioned.commitAppend(urls(30, 3), root))
    intercept[java.util.ConcurrentModificationException] {
      Versioned.commitMerge(Seq((1L, "https://host/1-new")).toDF("id",
        "url"), root, Seq("id"))
    }
    assert(Versioned.latestVersion(root) == 4L)
    assert(ids(4L) == ids(3L) ++ Seq(30L, 31L, 32L))
    assert(Versioned.read(spark, root).filter(col("id") === 1L)
      .as[(Long, String)].collect().toSeq == Seq((1L, "https://host/1")))
  }

  // a version range resolves once: the snapshot of its upper end (one
  // listing, one open) plus one open per other manifest it needs
  test("a non-CDF stream's delta batch over one appended version opens " +
      "2 manifests: the range resolves once") {
    val root = countingRoot()
    Versioned.commitAppend(urls(0, 10), root)
    Versioned.commitAppend(urls(10, 10), root)
    val schema = Versioned.read(spark, root).schema
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    // startingVersion 2: the query's one batch is the delta (1, 2]; the
    // explicit schema keeps the source from reading a snapshot for it
    val (_, manifests) = counted(root) {
      val q = spark.readStream.format("graft.sources.VersionedStream")
        .schema(schema).option("root", root).option("startingVersion", "2")
        .load().writeStream.option("checkpointLocation", freshRoot())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          ids.synchronized { ids ++= b.select("id").as[Long].collect() }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(ids.sorted.toSeq == (10L until 20L))
    assert(manifests == 2, s"manifest opens $manifests")
  }

  test("a change feed over 3 appended versions lists the root once and " +
      "opens each manifest once") {
    val root = countingRoot()
    (0 until 3).foreach(b => Versioned.commitAppend(urls(b * 10, 10), root))
    var feed: org.apache.spark.sql.DataFrame = null
    val cost = counted(root) {
      feed = Versioned.readChangeFeed(spark, root, 0L)
    }
    assert(cost == (1, 3), "(root listings, manifest opens)")
    assert(feed.select("id", "_commit_version").as[(Long, Long)].collect()
      .toSet == (0 until 30).map(i => (i.toLong, i / 10 + 1L)).toSet)
  }

  test("a format(\"graft\") change feed read lists the root once") {
    val root = countingRoot()
    (0 until 3).foreach(b => Versioned.commitAppend(urls(b * 10, 10), root))
    var rows = 0L
    val (lists, _) = counted(root) {
      rows = spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", "1").load(root).count()
    }
    assert(lists == 1, "root listings")
    assert(rows == 20L)
  }

  test("readChangeFeedSince lists the root once") {
    val root = countingRoot()
    (0 until 3).foreach(b => Versioned.commitAppend(urls(b * 10, 10), root))
    var feed: org.apache.spark.sql.DataFrame = null
    // an instant before the first commit feeds from table birth
    val (lists, _) = counted(root) {
      feed = Versioned.readChangeFeedSince(spark, root, 0L)
    }
    assert(lists == 1, "root listings")
    assert(feed.count() == 30L)
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
