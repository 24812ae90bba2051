package graft.sources

import graft.SparkSpec
import graft.store.Versioned
import org.apache.spark.sql.DataFrame

class VersionedStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) = java.nio.file.Files
    .createTempDirectory(tag).toString

  private def readVersioned(root: String, opts: (String, String)*) =
    opts.foldLeft(spark.readStream
        .format("graft.sources.VersionedStream").option("root", root)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  // run a query draining everything currently available into a
  // per-batch collector (foreachBatch supports checkpoint recovery,
  // unlike the memory sink)
  private def drain(df: DataFrame, ckpt: String,
                    batches: scala.collection.mutable.ArrayBuffer[Set[Long]])
      : Unit = {
    val q = df.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("k").as[Long].collect().toSet
        batches.synchronized { if (rows.nonEmpty) batches += rows }; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  test("initial batch = full snapshot; later commits arrive as deltas; " +
      "a restart resumes from the checkpoint, not from scratch") {
    val root = freshDir("vstream") + "/t"
    val ckpt = freshDir("vstream_ckpt")
    Versioned.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    Versioned.commitAppend(Seq((3L, "c")).toDF("k", "s"), root)

    val batches = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root), ckpt, batches)
    assert(batches.toSeq == Seq(Set(1L, 2L, 3L)),
      s"initial snapshot batches: $batches")

    // two more commits, then RESUME from the same checkpoint: only the
    // delta arrives
    Versioned.commitAppend(Seq((4L, "d")).toDF("k", "s"), root)
    Versioned.commitAppend(Seq((5L, "e")).toDF("k", "s"), root)
    val batches2 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root), ckpt, batches2)
    assert(batches2.flatten.toSet == Set(4L, 5L),
      s"resumed batches: $batches2")
  }

  test("startingVersion skips history; maxVersionsPerBatch paces " +
      "steady-state batches one commit at a time") {
    val root = freshDir("vstream_sv") + "/t"
    (1 to 4).foreach { i =>
      Versioned.commitAppend(Seq((i.toLong, s"v$i")).toDF("k", "s"), root)
    }
    val sv = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root, "startingVersion" -> "3"),
      freshDir("vs_sv_ckpt"), sv)
    assert(sv.flatten.toSet == Set(3L, 4L), s"startingVersion=3 got $sv")

    // pacing: a FRESH query paces from its very first batch (the
    // marker under the source metadata dir proves nothing is
    // committed, so the cap is safe), then live commits arrive one
    // micro-batch per version
    val root2 = freshDir("vstream_mx") + "/t"
    (1 to 2).foreach { i =>
      Versioned.commitAppend(Seq((i.toLong, i.toLong)).toDF("k", "v"),
        root2)
    }
    val ckpt2 = freshDir("vs_mx_ckpt")
    val batches = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    def drainPaced(commitMore: Boolean): Unit = {
      val q = readVersioned(root2, "maxVersionsPerBatch" -> "1")
        .writeStream.option("checkpointLocation", ckpt2)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.select("k").as[Long].collect().toSet
          batches.synchronized { if (rows.nonEmpty) batches += rows }; ()
        }.start()
      try {
        q.processAllAvailable()
        if (commitMore) {
          (3 to 5).foreach { i =>
            Versioned.commitAppend(
              Seq((i.toLong, i.toLong)).toDF("k", "v"), root2)
          }
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    drainPaced(commitMore = true)
    assert(batches.toSeq == Seq(Set(1L), Set(2L), Set(3L), Set(4L),
      Set(5L)), s"fresh paced batches were $batches")
    // a RESTART stays paced too: the engine's recovery getBatch syncs
    // the source's position from the checkpoint before the first
    // proposal, so stepping resumes one version per batch (never an
    // offset behind the checkpoint)
    (6 to 7).foreach { i =>
      Versioned.commitAppend(Seq((i.toLong, i.toLong)).toDF("k", "v"),
        root2)
    }
    batches.clear()
    drainPaced(commitMore = false)
    assert(batches.toSeq == Seq(Set(6L), Set(7L)),
      s"restarted paced batches were $batches")
  }

  test("sink side: micro-batches append-commit exactly-once; a restart " +
      "from the same checkpoint adds nothing; stats seed from batch 0") {
    implicit val sqlCtx = spark.sqlContext
    val out = freshDir("vsink") + "/t"
    val ckpt = freshDir("vsink_ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    def run(): Unit = {
      val q = in.toDF().toDF("k")
        .writeStream.format("graft.sources.VersionedStream")
        .option("root", out).option("statsCols", "k")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    in.addData(1L, 2L)
    run()
    in.addData(3L)
    run()
    assert(Versioned.read(spark, out).as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    // replaying the SAME checkpoint with no new data commits nothing
    val vBefore = Versioned.latestVersion(out)
    run()
    assert(Versioned.latestVersion(out) == vBefore)
    // stats seeded by the sink: pruning + metadata count work
    assert(Versioned.metadataCount(out).contains(3L))
    assert(Versioned.prunedFiles(out, Map("k" -> (99L, 99L)))._1.isEmpty)
    // append-only: complete mode is rejected loudly
    val ex = intercept[Exception] {
      in.toDF().toDF("k").groupBy("k").count()
        .writeStream.format("graft.sources.VersionedStream")
        .option("root", out).outputMode("complete")
        .option("checkpointLocation", freshDir("vsink_bad")).start()
    }
    assert(ex.getMessage.contains("append-only"))
  }

  test("writeStream.partitionBy commits micro-batches under the " +
      "hive-style layout; the streamed table path-prunes") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    implicit val sqlCtx = spark.sqlContext
    val out = freshDir("vsink_part") + "/t"
    val ckpt = freshDir("vsink_part_ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = in.toDF().toDF("k")
      .withColumn("bucket", pmod(col("k"), lit(4L)))
      .writeStream.format("graft.sources.VersionedStream")
      .option("root", out).option("checkpointLocation", ckpt)
      .partitionBy("bucket").start()
    in.addData(0L until 40L: _*)
    try q.processAllAvailable() finally q.stop()
    val back = Versioned.read(spark, out)
    assert(back.count() == 40L)
    assert(back.columns.sorted.toSeq == Seq("bucket", "k"),
      "shadow partition dirs must never surface as columns")
    val (kept, total) = Versioned.prunedFiles(out,
      Map("bucket" -> (2L, 2L)))
    assert(total >= 4 && kept.size < total,
      s"bucket=2 admitted ${kept.size} of $total streamed files")
    assert(Versioned.readPruned(spark, out, Map("bucket" -> (2L, 2L)))
      .filter(col("bucket") === 2L).count() == 10L)
  }

  test("startingTimestamp streams commits published AT or after the " +
      "instant (Delta's at-or-after boundary); an instant before the " +
      "first commit streams everything") {
    val root = freshDir("vstream_ts") + "/t"
    val beforeAll = System.currentTimeMillis() - 5L
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    Thread.sleep(25) // manifest mtimes are millis; separate the commits
    val cut = System.currentTimeMillis()
    Thread.sleep(25)
    Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), root)
    Versioned.commitAppend(Seq((3L, "c")).toDF("k", "s"), root)
    val after = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root, "startingTimestamp" -> cut.toString),
      freshDir("vs_ts_ckpt"), after)
    assert(after.flatten.toSet == Set(2L, 3L), s"after-cut got $after")
    val all = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root, "startingTimestamp" -> beforeAll.toString),
      freshDir("vs_ts_ckpt2"), all)
    assert(all.flatten.toSet == Set(1L, 2L, 3L), s"before-all got $all")
    // the boundary itself: a commit published EXACTLY at the instant
    // is INCLUDED (versionAtOrAfter, Delta semantics — the old
    // versionAt+1 resolution skipped it)
    val manifest2 = new org.apache.hadoop.fs.Path(root, "manifest-v2.json")
    val mt2 = manifest2
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(manifest2).getModificationTime
    assert(Versioned.versionAtOrAfter(root, mt2).contains(2L))
    val atCut = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root, "startingTimestamp" -> mt2.toString),
      freshDir("vs_ts_ckpt4"), atCut)
    assert(atCut.flatten.toSet.contains(2L),
      s"commit at the exact instant must stream, got $atCut")
    // an instant after every commit → idle stream, nothing replayed
    assert(Versioned.versionAtOrAfter(root,
      System.currentTimeMillis() + 60000L).isEmpty)
    // both options at once is a loud error
    intercept[Exception] {
      drain(readVersioned(root, "startingTimestamp" -> cut.toString,
        "startingVersion" -> "2"), freshDir("vs_ts_ckpt3"),
        scala.collection.mutable.ArrayBuffer[Set[Long]]())
    }
  }

  test("change-feed streaming: batches carry inserts AND deletion-" +
      "vector deletes with commit stamps; a restart resumes from the " +
      "checkpoint; a plain stream over the same lineage fails loudly") {
    val root = freshDir("vstream_cdf") + "/t"
    val ckpt = freshDir("vstream_cdf_ckpt")
    Versioned.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      root)
    val changes =
      scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    def drainCdf(): Unit = {
      val q = readVersioned(root, "readChangeFeed" -> "true")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.select("k", "s", "_change_type",
              "_commit_version")
            .as[(Long, String, String, Long)].collect()
          changes.synchronized { changes ++= rows }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drainCdf()
    assert(changes.toSet == Set((1L, "a", "insert", 1L),
      (2L, "b", "insert", 1L)))
    // a DV delete and an append stream as one resumed batch
    Versioned.commitDeleteVectors(spark, root,
      org.apache.spark.sql.functions.col("k") === 1L)
    Versioned.commitAppend(Seq((3L, "c")).toDF("k", "s"), root)
    drainCdf()
    assert(changes.toSet == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (1L, "a", "delete", 2L), (3L, "c", "insert", 3L)))
    // a DEFAULT (append-rows) stream whose INITIAL SNAPSHOT covers the
    // whole lineage reads the LIVE rows (tombstones applied — the
    // anti-join rides the opaque leaf, no stateful-join misplan)
    val snap = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val qs = readVersioned(root)
      .writeStream.option("checkpointLocation", freshDir("cdf_snap"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("k", "s").as[(Long, String)].collect()
        snap.synchronized { snap ++= rows }; ()
      }.start()
    try qs.processAllAvailable() finally qs.stop()
    assert(snap.toSet == Set((2L, "b"), (3L, "c")))
    // but a default stream whose DELTA RANGE crosses the DV commit
    // fails loudly instead of silently skipping the delete
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = readVersioned(root, "startingVersion" -> "2")
        .writeStream.option("checkpointLocation", freshDir("cdf_plain"))
        .foreachBatch { (_: DataFrame, _: Long) => () }.start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(String.valueOf(ex.getMessage).contains("deletion-vector") ||
      String.valueOf(ex.getCause).contains("deletion-vector"))
  }

  test("sink REFUSES a query-independent exactly-once identity: no " +
      "appId/checkpointLocation option errors loudly, even under a " +
      "session-default checkpoint location") {
    implicit val sqlCtx = spark.sqlContext
    val out = freshDir("vsink_sessdflt") + "/t"
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    in.addData(1L, 2L)
    // neither appId nor any checkpoint: loud error at sink creation
    val ex = intercept[Exception] {
      in.toDF().toDF("k").writeStream
        .format("graft.sources.VersionedStream")
        .option("root", out).start()
    }
    assert(ex.getMessage.contains("exactly-once identity"))
    // session default is NOT a valid identity either: an unnamed query
    // gets a fresh random checkpoint subdir per start (batchIds restart
    // at 0) while any identity derived from the default stays constant,
    // so the txn dedupe would silently skip every batch of a rerun —
    // the sink must throw the same loud error, not guess
    val dflt = freshDir("vsink_sessdflt_ckpt")
    spark.conf.set("spark.sql.streaming.checkpointLocation", dflt)
    try {
      val ex2 = intercept[Exception] {
        in.toDF().toDF("k").writeStream
          .format("graft.sources.VersionedStream")
          .queryName("sessdflt_q").option("root", out).start()
      }
      assert(ex2.getMessage.contains("exactly-once identity"),
        s"session default must not back-fill the identity: $ex2")
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }

  test("a NEW query (fresh checkpoint) sinking the same root is not " +
      "txn-deduped against the old one: appId derives from the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val out = freshDir("vsink_fresh") + "/t"
    def runOnce(ckpt: String, data: Long*): Unit = {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      in.addData(data: _*)
      val q = in.toDF().toDF("k")
        .writeStream.format("graft.sources.VersionedStream")
        .option("root", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    // query 1 commits its batch 0; query 2 is a DIFFERENT query (fresh
    // checkpoint) whose batchIds also start at 0 — with a root-derived
    // shared appId its batch would read as a duplicate and silently
    // vanish; with checkpoint-derived identity both land
    runOnce(freshDir("vsink_ckpt_a"), 1L, 2L)
    runOnce(freshDir("vsink_ckpt_b"), 3L)
    assert(Versioned.read(spark, out).as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
  }

  test("a schema-evolution commit mid-stream fails the query loudly " +
      "instead of surfacing a downstream mismatch") {
    val root = freshDir("vstream_ev") + "/t"
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    val q = readVersioned(root)
      .writeStream.option("checkpointLocation", freshDir("vs_ev_ckpt"))
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    try {
      q.processAllAvailable()
      // q220-style evolution append: a later batch adds a column
      Versioned.commitAppend(Seq((2L, "b", 7L)).toDF("k", "s", "extra"),
        root)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val full = ex.getMessage +
        Iterator.iterate(ex.getCause)(c =>
          if (c == null) null else c.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(full.contains("schema drift"), s"unexpected failure: $full")
    } finally if (q.isActive) q.stop()
  }

  test("a restore back to the last-consumed snapshot HEALS the stream " +
      "(empty batch), and later appends keep flowing") {
    val root = freshDir("vstream_rs") + "/t"
    val ckpt = freshDir("vs_rs_ckpt")
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), root)
    val b1 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root), ckpt, b1) // consumes through v2
    assert(b1.flatten.toSet == Set(1L, 2L))
    // a bad overwrite lands and is ROLLED BACK before the stream ever
    // drains it: v4's manifest == v2's, so the restart's delta is
    // empty — the stream must continue, not crash on the bad history
    Versioned.commitOverwrite(Seq((9L, "bad")).toDF("k", "s"), root)
    Versioned.commitRestore(root, 2L)
    val b2 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root), ckpt, b2)
    assert(b2.isEmpty, s"healed restart should deliver nothing: $b2")
    Versioned.commitAppend(Seq((3L, "c")).toDF("k", "s"), root)
    val b3 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root), ckpt, b3)
    assert(b3.flatten.toSet == Set(3L), s"post-heal append: $b3")
  }

  test("an overwrite commit mid-stream fails the query loudly instead " +
      "of double-counting rewritten history") {
    val root = freshDir("vstream_ow") + "/t"
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    val q = readVersioned(root)
      .writeStream.option("checkpointLocation", freshDir("vs_ow_ckpt"))
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    try {
      q.processAllAvailable()
      Versioned.commitOverwrite(Seq((9L, "z")).toDF("k", "s"), root)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val full = ex.getMessage +
        Iterator.iterate(ex.getCause)(c =>
          if (c == null) null else c.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(full.contains("append lineage"), s"unexpected failure: $full")
    } finally if (q.isActive) q.stop()
  }

  test("maxFilesPerBatch paces the initial snapshot: a 3-file cut " +
      "drains file-by-file in deterministic order, a mid-snapshot " +
      "restart resumes at the right file, and the union is exactly " +
      "the snapshot") {
    val root = freshDir("vstream_paced") + "/t"
    Versioned.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), root)
    Versioned.commitAppend(
      Seq((3L, "c"), (4L, "d")).toDF("k", "s").coalesce(1), root)
    Versioned.commitAppend(
      Seq((5L, "e")).toDF("k", "s").coalesce(1), root)
    val fileSets = Set(Set(1L, 2L), Set(3L, 4L), Set(5L))

    // FRESH query: the whole snapshot drains one file per batch
    val b0 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root, "maxFilesPerBatch" -> "1"),
      freshDir("vstream_paced_ckpt0"), b0)
    assert(b0.size == 3 && b0.toSet == fileSets,
      s"fresh paced snapshot should drain as the 3 file sets: $b0")

    // mid-snapshot restart: Trigger.Once commits exactly the first
    // 1-file slice, then a normal restart resumes at the next file
    val ckpt = freshDir("vstream_paced_ckpt")
    val b1 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val q1 = readVersioned(root, "maxFilesPerBatch" -> "1")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("k").as[Long].collect().toSet
        b1.synchronized { if (rows.nonEmpty) b1 += rows }; ()
      }.start()
    q1.awaitTermination()
    assert(b1.size == 1 && fileSets.contains(b1.head),
      s"Trigger.Once under pacing should consume exactly one file: $b1")
    val b2 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root, "maxFilesPerBatch" -> "1"), ckpt, b2)
    assert(b2.flatten.toSet == Set(1L, 2L, 3L, 4L, 5L) -- b1.head,
      s"restart must resume at the NEXT file (no re-read, no skip): " +
        s"consumed ${b1.head} then $b2")
    assert((b1 ++ b2).map(_.size).sum == 5,
      s"pacing duplicated or dropped rows: $b1 then $b2")

    // steady state is untouched: a post-snapshot append arrives as a
    // normal delta batch
    Versioned.commitAppend(Seq((6L, "f")).toDF("k", "s"), root)
    val b3 = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    drain(readVersioned(root, "maxFilesPerBatch" -> "1"), ckpt, b3)
    assert(b3.toSeq == Seq(Set(6L)), s"delta after paced snapshot: $b3")
  }

  test("a FRESH change-feed stream under maxVersionsPerBatch paces " +
      "its history replay instead of materializing every change in " +
      "one first batch") {
    val root = freshDir("vstream_cdf_paced") + "/t"
    (1 to 3).foreach { i =>
      Versioned.commitAppend(
        Seq((i.toLong, s"v$i")).toDF("k", "s"), root)
    }
    val batches =
      scala.collection.mutable.ArrayBuffer[Set[(Long, String, Long)]]()
    val q = readVersioned(root, "readChangeFeed" -> "true",
        "maxVersionsPerBatch" -> "1")
      .writeStream
      .option("checkpointLocation", freshDir("cdf_paced_ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("k", "_change_type", "_commit_version")
          .as[(Long, String, Long)].collect().toSet
        batches.synchronized { if (rows.nonEmpty) batches += rows }; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches.size == 3,
      s"3-version history under maxVersionsPerBatch=1 must replay in " +
        s"3 batches: $batches")
    assert(batches.flatten.toSet == Set(
      (1L, "insert", 1L), (2L, "insert", 2L), (3L, "insert", 3L)))
  }

  test("a CDF stream crosses a row-neutral compaction as an EMPTY " +
      "batch instead of crash-looping on the feed's no-changes error") {
    val root = freshDir("vstream_cdf_compact") + "/t"
    val ckpt = freshDir("cdf_compact_ckpt")
    (1 to 3).foreach { i =>
      Versioned.commitAppend(
        Seq((i.toLong, s"v$i")).toDF("k", "s").coalesce(1), root)
    }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def drainCdf(): Unit = {
      val q = readVersioned(root, "readChangeFeed" -> "true")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val r = b.select("k", "_change_type")
            .as[(Long, String)].collect()
          rows.synchronized { rows ++= r }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drainCdf() // consumes through v3
    assert(rows.size == 3)
    // routine table maintenance: a compaction changes the FILE LIST
    // but no live row — the stream must deliver zero changes and keep
    // flowing, not die on readChangeFeed's nonEmpty require
    assert(Versioned.commitCompact(spark, root,
      smallBytes = 1L << 20) == 4L)
    drainCdf()
    assert(rows.size == 3, s"compaction fabricated changes: $rows")
    Versioned.commitAppend(Seq((9L, "post")).toDF("k", "s"), root)
    drainCdf()
    assert(rows.toSet.contains((9L, "insert")),
      s"post-compaction appends must keep flowing: $rows")
  }

  test("the paced snapshot cut carries the SAME lineage guards as the " +
      "unpaced path: a rewrite inside (startingVersion-1, latest] " +
      "fails loudly instead of streaming recopied rows") {
    val root = freshDir("vstream_paced_rw") + "/t"
    (1 to 3).foreach { i =>
      Versioned.commitAppend(
        Seq((i.toLong, s"v$i")).toDF("k", "s").coalesce(1), root)
    }
    // v4 rewrites v1's file: the cut (manifest(4) minus manifest(2))
    // would otherwise include the rewritten file's RECOPIED rows
    Versioned.commitDelete(spark, root,
      org.apache.spark.sql.functions.col("k") === 1L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = readVersioned(root, "startingVersion" -> "3",
          "maxFilesPerBatch" -> "1")
        .writeStream
        .option("checkpointLocation", freshDir("paced_rw_ckpt"))
        .foreachBatch { (_: DataFrame, _: Long) => () }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val full = ex.getMessage +
      Iterator.iterate(ex.getCause)(c =>
        if (c == null) null else c.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(full.contains("append lineage"), s"unexpected failure: $full")
  }

  test("change-feed stream with an EXPLICIT schema gets the CDF stamp " +
      "columns appended (no misleading schema-drift error)") {
    val root = freshDir("vstream_cdf_es") + "/t"
    Versioned.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      root)
    // the user passes the TABLE's schema (the natural call) — the
    // source must append _change_type/_commit_version itself instead
    // of failing the first batch with "schema drift"
    val tableSchema = Versioned.read(spark, root).schema
    val rows =
      scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    val q = spark.readStream
      .format("graft.sources.VersionedStream")
      .schema(tableSchema)
      .option("root", root).option("readChangeFeed", "true").load()
      .writeStream.option("checkpointLocation", freshDir("cdf_es_ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val r = b.select("k", "s", "_change_type", "_commit_version")
          .as[(Long, String, String, Long)].collect()
        rows.synchronized { rows ++= r }; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(rows.toSet == Set((1L, "a", "insert", 1L),
      (2L, "b", "insert", 1L)))
  }

  test("a vacuumed consumed-offset manifest surfaces as the crisp " +
      "re-seed error on the CDF stream, not a raw FileNotFound") {
    val root = freshDir("vstream_cdf_vac") + "/t"
    val ckpt = freshDir("cdf_vac_ckpt")
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    val drained = scala.collection.mutable.ArrayBuffer[String]()
    def runCdf(): Unit = {
      val q = readVersioned(root, "readChangeFeed" -> "true")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val r = b.select("s").as[String].collect()
          drained.synchronized { drained ++= r }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    runCdf() // consumes through v1
    Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), root)
    Versioned.commitAppend(Seq((3L, "c")).toDF("k", "s"), root)
    // vacuum retires v1 — the stream's consumed offset. The resumed
    // query's first touch of that offset (sameEntries with fromV=1)
    // must raise the same "vacuumed - re-seed" signal readChangeFeed
    // does, not a FileNotFoundException from the manifest read.
    Versioned.vacuum(root, keepFrom = 2L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runCdf()
    }
    val full = ex.getMessage +
      Iterator.iterate(ex.getCause)(c =>
        if (c == null) null else c.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(full.contains("re-seed"), s"unexpected failure: $full")
    assert(!full.contains("FileNotFound"), s"raw FNF leaked: $full")
  }
}
