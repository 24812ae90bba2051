package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() = java.nio.file.Files
    .createTempDirectory("versioned_spec").toString

  test("commits advance versions; each pinned version is its snapshot") {
    val root = freshRoot()
    assert(Versioned.latestVersion(root) == 0L)
    val v1 = Versioned.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    val v2 = Versioned.commitAppend(Seq((3L, "c")).toDF("k", "s"), root)
    assert((v1, v2) == (1L, 2L))
    assert(Versioned.read(spark, root, 1).count() == 2)
    assert(Versioned.read(spark, root, 2).count() == 3)
    // default = latest
    assert(Versioned.read(spark, root).count() == 3)
  }

  test("old versions are immune to later commits (file-pinned)") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, 10L)).toDF("k", "v"), root)
    val before = Versioned.read(spark, root, 1)
    Versioned.commitAppend(Seq((2L, 20L), (3L, 30L)).toDF("k", "v"), root)
    Versioned.commitAppend(Seq((4L, 40L)).toDF("k", "v"), root)
    // both a pre-commit handle and a fresh pin read the v1 snapshot
    assert(before.as[(Long, Long)].collect().toSet == Set((1L, 10L)))
    assert(Versioned.read(spark, root, 1).as[(Long, Long)]
      .collect().toSet == Set((1L, 10L)))
    assert(Versioned.read(spark, root, 3).count() == 4)
  }

  test("an orphaned half-commit (no manifest rename) is invisible") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    // crash between data write and manifest rename: files exist under
    // data/, no manifest points at them
    Seq((99L, "orphan")).toDF("k", "s").write.parquet(
      new java.io.File(new java.io.File(root, "data"), "half")
        .getAbsolutePath)
    assert(Versioned.latestVersion(root) == 1L)
    assert(Versioned.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
  }

  test("vacuum deletes only what no retained manifest reaches") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), root)
    // overwrite-commit: v3 pins only its own files
    val v3 = Versioned.commitOverwrite(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), root)
    // orphan from a crashed writer
    Seq((99L, "x")).toDF("k", "s").write.parquet(
      new java.io.File(new java.io.File(root, "data"), "half")
        .getAbsolutePath)
    val (nDel, bytes) = Versioned.vacuum(root, v3)
    assert(nDel > 0 && bytes > 0)
    assert(Versioned.read(spark, root, v3).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // retired versions now fail loudly
    intercept[IllegalArgumentException] {
      Versioned.read(spark, root, 1)
    }
  }

  test("vacuum dry-run reports what the sweep would reclaim without " +
      "deleting anything") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), root)
    val v3 = Versioned.commitOverwrite(
      Seq((9L, "z")).toDF("k", "s"), root)
    val (wouldDel, wouldBytes) = Versioned.vacuum(root, v3, dryRun = true)
    assert(wouldDel > 0 && wouldBytes > 0)
    // nothing was touched: every version still reads
    assert(Versioned.read(spark, root, 1).count() == 1)
    assert(Versioned.read(spark, root, 2).count() == 2)
    // the real sweep reclaims exactly what the dry run predicted
    assert(Versioned.vacuum(root, v3) == ((wouldDel, wouldBytes)))
    assert(Versioned.read(spark, root, v3).count() == 1)
  }

  test("vacuum keeps files shared between retired and retained versions") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    val v2 = Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), root)
    // v2's manifest includes v1's files (append) — retiring v1 must
    // delete NOTHING from the data path
    val (nDel, _) = Versioned.vacuum(root, v2)
    assert(Versioned.read(spark, root, v2).count() == 2)
    // only _SUCCESS/.crc side files are sweepable; every parquet file
    // survives because v2 still reaches them
    assert(Versioned.read(spark, root, v2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("racing commits: loser detects the collision and retries on the " +
      "new parent; both batches survive, versions stay linear") {
    val root = freshRoot()
    val filesA = Versioned.stage(Seq((1L, "a")).toDF("k", "s"),
      Versioned.latest(root))
    val filesB = Versioned.stage(Seq((2L, "b")).toDF("k", "s"),
      Versioned.latest(root))
    // Writer A composes manifest-v1, and in the window between
    // composition and publication writer B commits v1 first — the
    // exact interleave a naive replace-rename silently loses.
    var fired = false
    val vA = Versioned.publish(spark, Versioned.latest(root), filesA,
      "append", beforePublish = _ => {
        if (!fired) {
          fired = true
          assert(Versioned.publish(spark, Versioned.latest(root), filesB,
            "append") == 1L)
        }
      })
    assert(vA == 2L) // A lost v1, retried on top of B's commit
    assert(Versioned.latestVersion(root) == 2L)
    // v1 is B alone; v2 is B's base plus A's re-listed files — no
    // committed row was orphaned by the race
    assert(Versioned.read(spark, root, 1).as[(Long, String)]
      .collect().toSet == Set((2L, "b")))
    assert(Versioned.read(spark, root, 2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("concurrent threaded commits all land, versions linear") {
    val root = freshRoot()
    val dfs = (1 to 4).map(i => Seq((i.toLong, s"w$i")).toDF("k", "s"))
    val threads = dfs.map { df =>
      new Thread(() => { Versioned.commitAppend(df, root); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Versioned.latestVersion(root) == 4L)
    assert(Versioned.read(spark, root).as[(Long, String)]
      .collect().toSet ==
      (1 to 4).map(i => (i.toLong, s"w$i")).toSet)
  }

  test("empty batches: a 0-row parquet commit stays readable; a " +
      "file-less commit is rejected loudly") {
    val root = freshRoot()
    // Spark's writer emits a schema-bearing 0-row part file for an
    // empty DF, so this commit is benign and the version readable
    val empty = Seq((1L, "a")).toDF("k", "s").filter("k < 0")
    val v1 = Versioned.commitAppend(empty, root)
    assert(Versioned.read(spark, root, v1).count() == 0)
    // a write that produced NO parquet files (a partitioned write of
    // an empty frame stages none) would brick the version with an
    // uninferable schema — rejected at commit
    val e = intercept[IllegalArgumentException] {
      Versioned.commitAppend(empty, root, partitionBy = Seq("s"))
    }
    assert(e.getMessage.contains("empty batch"))
    assert(Versioned.latestVersion(root) == v1)
  }

  test("file:// scheme root works end-to-end through the FileSystem API") {
    val dir = freshRoot()
    val root = "file://" + dir
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    val v2 = Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), root)
    assert(Versioned.read(spark, root, v2).count() == 2)
    // the same table is reachable through the bare-path spelling too
    assert(Versioned.read(spark, dir, v2).count() == 2)
    val (nDel, _) = Versioned.vacuum(root, v2)
    assert(Versioned.read(spark, dir, v2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("manifests are root-relative; vacuum through an aliased root " +
      "spelling deletes nothing a retained manifest reaches") {
    val dir = freshRoot()
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), dir)
    val v2 = Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), dir)
    // manifest carries no absolute paths (nothing mentions the root)
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, s"manifest-v$v2.json")), "UTF-8")
    assert(!m.contains(dir), "manifest should store root-relative paths")
    assert(m.contains("data/"))
    // vacuum via a SYMLINK alias of the root: with absolute-path
    // manifests the keep set matches nothing and this deletes the
    // whole table; with relative paths it is alias-proof
    val alias = java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(dir + "_alias"),
      java.nio.file.Paths.get(dir)).toString
    Versioned.vacuum(alias, v2)
    assert(Versioned.read(spark, dir, v2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("readChanges returns exactly the files added between two " +
      "versions; overwrite lineages fail loudly") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    Versioned.commitAppend(Seq((2L, "b"), (3L, "c")).toDF("k", "s"), root)
    Versioned.commitAppend(Seq((4L, "d")).toDF("k", "s"), root)
    assert(Versioned.readChanges(spark, root, 1, 2).as[(Long, String)]
      .collect().toSet == Set((2L, "b"), (3L, "c")))
    assert(Versioned.readChanges(spark, root, 1, 3).as[(Long, String)]
      .collect().toSet == Set((2L, "b"), (3L, "c"), (4L, "d")))
    assert(Versioned.readChanges(spark, root, 2, 3).as[(Long, String)]
      .collect().toSet == Set((4L, "d")))
    // an overwrite commit rewrites history: incremental reads across
    // it would double-count, so they must refuse
    val v4 = Versioned.commitOverwrite(
      Seq((9L, "z")).toDF("k", "s"), root)
    val e = intercept[IllegalArgumentException] {
      Versioned.readChanges(spark, root, 2, v4)
    }
    assert(e.getMessage.contains("append lineage"))
  }

  test("one append-lineage guard: readChanges, a snapshot cut above " +
      "table birth and a non-CDF stream agree on every range") {
    // the failure and every cause's message, as one string
    def outcome[T](body: => T): Either[String, T] =
      try Right(body)
      catch { case e: Exception =>
        Left(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" | "))
      }
    // the row count of every batch a stream started at v2 delivers
    def streamBatches(root: String): Seq[Long] = {
      val counts = scala.collection.mutable.ArrayBuffer[Long]()
      val q = spark.readStream.format("graft.sources.VersionedStream")
        .option("root", root).option("startingVersion", "2").load()
        .writeStream.option("checkpointLocation", freshRoot())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          counts.synchronized { counts += b.count() }; ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      counts.toSeq
    }
    def lineage(msg: String): Boolean =
      msg.contains("append lineage") ||
        msg.contains("deletion-vector commit")
    // every range is (1, 3]: two appends, then the commit under test
    val ranges = Seq[(String, String => Long, Boolean)](
      ("copy-on-write delete",
        r => Versioned.commitDelete(spark, r, col("k") === 1L), true),
      ("deletion-vector delete",
        r => Versioned.commitDeleteVectors(spark, r, col("k") === 1L), true),
      ("restore back to from's files",
        r => Versioned.commitRestore(r, 1L), false))
    ranges.foreach { case (name, commit, refused) =>
      val root = freshRoot()
      Versioned.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
      Versioned.commitAppend(Seq((3L, "c")).toDF("k", "s"), root)
      assert(commit(root) == 3L, name)
      val read = outcome(Versioned.readChanges(spark, root, 1L, 3L).count())
      val cut = outcome(Versioned.snapshotCutFiles(root, 1L, 3L))
      val stream = outcome(streamBatches(root))
      if (refused) Seq(read, cut, stream).foreach { o =>
        assert(o.fold(lineage, _ => false), s"$name: $o")
      } else {
        assert(read.fold(_.contains("no files added"), _ => false),
          s"$name: $read")
        assert(cut == Right(Nil), s"$name: $cut")
        assert(stream == Right(Seq(0L)), s"$name: $stream")
      }
    }
  }

  test("txn commits are idempotent per (appId, batchId); apps are " +
      "independent; stale redeliveries skip even after later batches") {
    val root = freshRoot()
    val v1 = Versioned.commitAppendTxn(
      Seq((1L, "a")).toDF("k", "s"), root, "sinkA", 0L)
    // immediate redelivery of the same batch: no new version, no rows
    val v1b = Versioned.commitAppendTxn(
      Seq((1L, "a")).toDF("k", "s"), root, "sinkA", 0L)
    assert((v1, v1b) == (1L, 1L))
    assert(Versioned.read(spark, root).count() == 1)
    // another app's batch 0 is a DIFFERENT transaction
    Versioned.commitAppendTxn(Seq((2L, "b")).toDF("k", "s"), root,
      "sinkB", 0L)
    // sinkA's next batch lands; then a LATE redelivery of its batch 0
    // (restart long after) must still be recognized and skipped
    Versioned.commitAppendTxn(Seq((3L, "c")).toDF("k", "s"), root,
      "sinkA", 1L)
    val vLate = Versioned.commitAppendTxn(
      Seq((1L, "a")).toDF("k", "s"), root, "sinkA", 0L)
    assert(vLate == Versioned.latestVersion(root))
    assert(Versioned.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Versioned.latestTxnBatch(root, "sinkA").contains(1L))
    assert(Versioned.latestTxnBatch(root, "sinkB").contains(0L))
    assert(Versioned.latestTxnBatch(root, "sinkC").isEmpty)
  }

  test("latestTxnBatch over vacuumed history returns None instead of " +
      "crashing on reclaimed manifests") {
    val root = freshRoot()
    Versioned.commitAppendTxn(Seq((1L, "a")).toDF("k", "s"), root,
      "sinkA", 0L)
    Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), root)
    // v3 rewrites history, then vacuum retires v1..v2 — sinkA's only
    // txn stamp is on a reclaimed manifest
    Versioned.commitOverwrite(Seq((9L, "z")).toDF("k", "s"), root)
    Versioned.vacuum(root, keepFrom = 3L)
    assert(Versioned.latestTxnBatch(root, "sinkA").isEmpty)
    // and a surviving stamp on a retained manifest still reads
    Versioned.commitAppendTxn(Seq((3L, "c")).toDF("k", "s"), root,
      "sinkB", 5L)
    assert(Versioned.latestTxnBatch(root, "sinkB").contains(5L))
  }

  test("timestamp travel into vacuumed history fails loudly instead of " +
      "crashing on a reclaimed manifest") {
    val root = freshRoot()
    (1L to 3L).foreach(i =>
      Versioned.commitAppend(Seq((i, s"r$i")).toDF("k", "s"), root))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def setT(v: Long, t: Long) = fs.setTimes(
      new org.apache.hadoop.fs.Path(root, s"manifest-v$v.json"), t, -1)
    setT(1, 1000000L); setT(2, 2000000L); setT(3, 3000000L)
    Versioned.vacuum(root, keepFrom = 3L)
    // v1 was the table at this instant, but its manifest is gone
    intercept[IllegalArgumentException] {
      Versioned.versionAt(root, 1500000L)
    }
    intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, root, 2500000L)
    }
    assert(Versioned.versionAt(root, 3000000L) == 3L)
    assert(Versioned.versionAtOrAfter(root, 1500000L).contains(3L))
    assert(Versioned.versionAtOrAfter(root, 3000001L).isEmpty)
  }

  test("a rewrite composed against the EMPTY table conflict-detects a " +
      "racing first commit (the empty-merge branch's expectedParent)") {
    val root = freshRoot()
    // the exact parameters commitMerge's parent==0 branch passes; the
    // race lands through the beforePublish seam
    var raced = false
    val ex = intercept[java.util.ConcurrentModificationException] {
      val empty = Versioned.latest(root)
      Versioned.publish(spark, empty,
        Versioned.stage(Seq((1L, "a")).toDF("k", "s"), empty), "merge",
        Versioned.Rewrite,
        beforePublish = { _ =>
          if (!raced) {
            raced = true
            Versioned.commitAppend(Seq((9L, "z")).toDF("k", "s"), root)
          }
        })
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the racing first commit is intact, not overwritten
    assert(Versioned.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((9L, "z")))
  }

  test("a missing sidecar (crash between manifest and sidecar write) " +
      "degrades pruning for that version's files only, not the lineage") {
    val root = freshRoot()
    def append(lo: Long, hi: Long): Long = Versioned.commitAppend(
      spark.range(lo, hi).select(col("id").as("k")).coalesce(1), root,
      statsCols = Seq("k"))
    append(0L, 100L)
    append(100L, 200L)
    // simulate the crash window: v2's sidecar vanishes
    val gone = new java.io.File(root, "stats-v2.json")
    assert(gone.delete(), s"fixture: $gone should exist")
    val v3 = append(200L, 300L)
    assert(v3 == 3L)
    // the v3 sidecar continued the lineage from v1's column list AND
    // self-healed: v2's file had no carried entry, so it was recomputed
    // alongside v3's — every file prunes again, only v3's survives
    val (kept, total) = Versioned.prunedFiles(root,
      Map("k" -> (250L, 260L)))
    assert(total == 3L && kept.size == 1, s"kept ${kept.size} of $total")
    // correctness unaffected either way
    assert(Versioned.readPruned(spark, root, Map("k" -> (250L, 260L)))
      .filter(col("k").between(250L, 260L)).count() == 11L)
  }

  test("schema evolution: merged read widens, old rows null-filled; " +
      "the pinned pre-evolution version keeps its narrow schema") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    Versioned.commitAppend(
      Seq((2L, "b", 7L)).toDF("k", "s", "extra"), root)
    val merged = Versioned.read(spark, root, mergeSchema = true)
    assert(merged.columns.toSet == Set("k", "s", "extra"))
    assert(merged.select("k", "extra").as[(Long, Option[Long])]
      .collect().toSet == Set((1L, None), (2L, Some(7L))))
    // the pinned pre-evolution snapshot never widens
    assert(Versioned.read(spark, root, 1, mergeSchema = true)
      .columns.toSet == Set("k", "s"))
  }

  test("merge upserts: matched keys replaced, new keys inserted, the " +
      "pinned parent snapshot unchanged") {
    val root = freshRoot()
    Versioned.commitAppend(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), root)
    val v2 = Versioned.commitMerge(
      Seq((2L, 99L), (4L, 40L)).toDF("k", "v"), root, Seq("k"))
    assert(v2 == 2L)
    assert(Versioned.read(spark, root, v2).as[(Long, Long)]
      .collect().toSet ==
      Set((1L, 10L), (2L, 99L), (3L, 30L), (4L, 40L)))
    // time travel: the parent still reads the pre-merge rows
    assert(Versioned.read(spark, root, 1).as[(Long, Long)]
      .collect().toSet == Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("merge is copy-on-write: untouched files ride into the new " +
      "manifest verbatim; only matched files are rewritten") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, 10L)).toDF("k", "v"), root)
    Versioned.commitAppend(Seq((2L, 20L)).toDF("k", "v"), root)
    def manifest(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, s"manifest-v$v.json")), "UTF-8")
    def files(v: Long) = manifest(v).linesIterator.map(_.trim)
      .filter(s => s.startsWith("\"data/"))
      .map(_.stripPrefix("\"").stripSuffix(",").stripSuffix("\"")).toSet
    val v1Files = files(1) // the file holding only k=1
    // merge touches only k=2 → k=1's file must NOT be rewritten
    val v3 = Versioned.commitMerge(
      Seq((2L, 99L)).toDF("k", "v"), root, Seq("k"))
    assert(v1Files.subsetOf(files(v3)),
      "untouched file should be carried verbatim, not rewritten")
    assert((files(2) -- files(v3)).nonEmpty,
      "the matched file should have been replaced")
    assert(Versioned.read(spark, root, v3).as[(Long, Long)]
      .collect().toSet == Set((1L, 10L), (2L, 99L)))
  }

  test("merge into an empty table is a plain insert; merge then vacuum " +
      "reclaims the superseded files and keeps the merged snapshot") {
    val root = freshRoot()
    val v1 = Versioned.commitMerge(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root, Seq("k"))
    assert(v1 == 1L)
    val v2 = Versioned.commitMerge(
      Seq((2L, 99L)).toDF("k", "v"), root, Seq("k"))
    val (nDel, bytes) = Versioned.vacuum(root, v2)
    assert(nDel > 0 && bytes > 0,
      "vacuum after merge should reclaim the superseded rewrite input")
    assert(Versioned.read(spark, root, v2).as[(Long, Long)]
      .collect().toSet == Set((1L, 10L), (2L, 99L)))
    intercept[IllegalArgumentException] {
      Versioned.read(spark, root, 1)
    }
  }

  test("delete removes matching rows copy-on-write; a no-match delete " +
      "is a metadata no-op; null predicates keep their rows") {
    val root = freshRoot()
    Versioned.commitAppend(
      Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
        .toDF("k", "v"), root)
    // v = 10 deletes k=1 only; k=2's NULL v evaluates the predicate to
    // null and must SURVIVE (SQL DELETE removes only TRUE matches)
    val v2 = Versioned.commitDelete(spark, root, col("v") === 10L)
    assert(v2 == 2L)
    assert(Versioned.read(spark, root, v2).as[(Long, Option[Long])]
      .collect().toSet == Set((2L, None), (3L, Some(30L))))
    // pre-delete history still readable until vacuumed
    assert(Versioned.read(spark, root, 1).count() == 3)
    // nothing matches → no new version
    assert(Versioned.commitDelete(spark, root, col("v") === 777L) == v2)
    assert(Versioned.latestVersion(root) == v2)
  }

  test("a bloom-table merge of 3 keys prunes with 1 SQL execution: the " +
      "bounds and the bloom keys come from one distinct-collect") {
    val root = freshRoot()
    // 20 files of 50 consecutive keys: bounds spanning the domain admit
    // them all, so the bloom probe engages
    Versioned.commitAppend(spark.range(0, 1000, 1, 4).select(
        col("id").as("k"), concat(lit("http://h/"), col("id")).as("url")),
      root, statsCols = Seq("k", "url"), bloomCols = Seq("k", "url"),
      maxRecordsPerFile = 50L)
    val s = Versioned.latest(root)
    assert(s.dataFiles.size == 20)
    val keys = Seq(5L, 500L, 995L)
    def pruned(upd: org.apache.spark.sql.DataFrame, key: String) = {
      var cands = Seq.empty[String]
      val execs = graft.BuildJobs.during(spark, "graft.versioned.prune") {
        cands = Versioned.pruneMergeScan(upd, s, Seq(key))._1
      }.distinct
      assert(execs.size == 1, s"$key merge: pruning ran executions $execs")
      cands
    }
    // the candidates are exactly what the sidecars admit for those keys
    val byK = pruned(keys.map(k => (k, -k)).toDF("k", "v"), "k")
    assert(byK == Versioned.admit(s, Map("k" -> (5L, 995L)),
      Map("k" -> keys), Map.empty))
    assert(byK.size < 20)
    val urls = keys.map(k => s"http://h/$k")
    val byUrl = pruned(urls.map(u => (u, 0L)).toDF("url", "v"), "url")
    val pks = urls.map(Versioned.prefixKeyOf)
    assert(byUrl == Versioned.admit(s, Map("url" -> (pks.min, pks.max)),
      Map.empty, Map("url" -> urls.map(Versioned.hashKeyOf))))
    assert(byUrl.size < 20)
    // past 1,024 key tuples the bounds come from the agg and each bloom
    // column is probed alone, as long as it has at most 1,024 values
    val wide = (0 until 1100).map(i => (i % 10 * 100 + 5L, s"http://h/x$i"))
    val byBoth = Versioned.pruneMergeScan(wide.toDF("k", "url"), s,
      Seq("k", "url"))._1
    val pk = Versioned.prefixKeyOf("http://h/x0")
    assert(byBoth == Versioned.admit(s,
      Map("k" -> (5L, 905L), "url" -> (pk, pk)),
      Map("k" -> (0 until 10).map(_ * 100 + 5L)), Map.empty))
    assert(byBoth.size <= 10)
    // a table without blooms takes its bounds from one agg
    val plain = freshRoot()
    Versioned.commitAppend(spark.range(0, 1000, 1, 4).toDF("k"), plain,
      statsCols = Seq("k"), maxRecordsPerFile = 50L)
    val ps = Versioned.latest(plain)
    var cands = Seq.empty[String]
    val execs = graft.BuildJobs.during(spark, "graft.versioned.prune") {
      cands = Versioned.pruneMergeScan(Seq(5L, 10L).toDF("k"), ps,
        Seq("k"))._1
    }.distinct
    assert(execs.size == 1, s"pruning ran executions $execs")
    assert(cands == Versioned.admit(ps, Map("k" -> (5L, 10L)), Map.empty,
      Map.empty) && cands.size == 1)
  }

  test("merge/delete pre-prune the match scan with the sidecars they " +
      "maintain: a one-file merge scans one file, skipped files ride " +
      "verbatim, delete predicates prune too") {
    val root = freshRoot()
    def append(lo: Long, hi: Long): Unit = { Versioned.commitAppend(
      spark.range(lo, hi).select(col("id").as("k"),
        (col("id") * 10).as("v")).coalesce(1), root,
      statsCols = Seq("k"), bloomCols = Seq("k")); () }
    // 8 disjoint-range files: enough that both pruning stages engage
    // (tiny tables short-circuit — pruning can't pay for its planning
    // jobs on a handful of files)
    (0 until 8).foreach(i => append(i * 100L, (i + 1) * 100L))
    def rels(v: Long) = Versioned.files(root, v)
      .map(p => p.substring(p.indexOf("data/")))
    val parent = Versioned.latestVersion(root)
    val parentRels = rels(parent)

    // bounds pruning: updates keyed inside ONE file's range
    val upd = Seq((150L, -1L), (151L, -2L)).toDF("k", "v")
    val (cands, skipped) =
      Versioned.pruneMergeScan(upd, Versioned.snapshot(root, parent), Seq("k"))
    assert(cands.size == 1 && skipped.size == 7,
      s"bounds pruned to ${cands.size} candidates of ${parentRels.size}")

    // bloom pruning where bounds cannot: keys {5, 795} span the whole
    // domain (bounds admit all 8), only the blooms know the middle
    // files hold neither
    val updSpan = Seq((5L, -3L), (795L, -4L)).toDF("k", "v")
    val (cands2, _) = Versioned.pruneMergeScan(updSpan,
      Versioned.snapshot(root, parent), Seq("k"))
    assert(cands2.size == 2,
      s"bloom should exclude the middle files, kept ${cands2.size}")

    // a tiny table never pays the pruning jobs: all files candidates
    val tiny = freshRoot()
    Versioned.commitAppend(Seq((1L, 1L)).toDF("k", "v"), tiny,
      statsCols = Seq("k"))
    assert(Versioned.pruneMergeScan(upd, Versioned.snapshot(tiny, 1L),
      Seq("k"))._2.isEmpty)

    // end-to-end merge: the two skipped files' entries ride VERBATIM
    // into the new manifest, contents match a full-scan merge
    val vm = Versioned.commitMerge(upd, root, Seq("k"))
    assert(rels(vm).toSet.intersect(parentRels.toSet) == skipped.toSet)
    val merged = Versioned.read(spark, root, vm)
      .filter(col("k").isin(150L, 151L, 152L))
      .as[(Long, Long)].collect().toSet
    assert(merged == Set((150L, -1L), (151L, -2L), (152L, 1520L)))

    // delete with a literal predicate: conjunct extraction prunes the
    // scan to the one admitted file, others carry verbatim
    val probe = spark.read.parquet(Versioned.files(root, vm).head)
    val (bounds, eqs, _) = Versioned.predicateKeyStats(probe,
      col("k") === 250L && col("v") =!= 0L)
    assert(bounds == Map("k" -> (250L, 250L)) && eqs == Map("k" -> Seq(250L)))
    val beforeDel = rels(vm)
    val vd = Versioned.commitDelete(spark, root, col("k") === 250L)
    assert(rels(vd).toSet.intersect(beforeDel.toSet).size ==
      beforeDel.size - 1, "delete should rewrite exactly one file")
    assert(Versioned.read(spark, root, vd).filter(col("k") === 250L)
      .isEmpty)
    // an OR predicate yields no conjuncts — no pruning, still correct
    val (b2, e2, h2) = Versioned.predicateKeyStats(probe,
      col("k") === 1L || col("k") === 299L)
    assert(b2.isEmpty && e2.isEmpty && h2.isEmpty)
    val vd2 = Versioned.commitDelete(spark, root,
      col("k") === 1L || col("k") === 299L)
    assert(Versioned.read(spark, root, vd2)
      .filter(col("k").isin(1L, 299L)).isEmpty)
  }

  test("a commit landing mid-rewrite raises ConcurrentModification " +
      "instead of silently dropping it") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    val parent = Versioned.latest(root)
    val staged = Versioned.stage(Seq((9L, "z")).toDF("k", "s"), parent)
    var fired = false
    intercept[java.util.ConcurrentModificationException] {
      Versioned.publish(spark, parent, staged, "merge", Versioned.Rewrite,
        beforePublish = _ => {
          if (!fired) {
            fired = true
            // concurrent append between rewrite composition and publish
            Versioned.commitAppend(Seq((2L, "b")).toDF("k", "s"), root)
          }
        })
    }
    // the concurrent append survived untouched
    assert(Versioned.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("mockhdfs:// scheme: exclusive publish goes through the RENAME " +
      "branch; the loser detects the collision and retries — race " +
      "coverage for the non-POSIX path of publishExclusive") {
    // HDFS-contract double: rename fails when the destination exists
    // (RawLocalFileSystem would silently replace). file:// tests cover
    // only the link(2) branch; this covers the other one.
    spark.sparkContext.hadoopConfiguration.set("fs.mockhdfs.impl",
      classOf[MockHdfsFileSystem].getName)
    val root = "mockhdfs://" + freshRoot()
    val filesA = Versioned.stage(Seq((1L, "a")).toDF("k", "s"),
      Versioned.latest(root))
    val filesB = Versioned.stage(Seq((2L, "b")).toDF("k", "s"),
      Versioned.latest(root))
    var fired = false
    val vA = Versioned.publish(spark, Versioned.latest(root), filesA,
      "append", beforePublish = _ => {
        if (!fired) {
          fired = true
          // B publishes v1 inside A's compose→publish window: A's
          // rename must FAIL (dest exists), never replace B's manifest
          assert(Versioned.publish(spark, Versioned.latest(root), filesB,
            "append") == 1L)
        }
      })
    assert(vA == 2L, "A must lose v1 to B and land v2 on retry")
    assert(Versioned.read(spark, root, 1).as[(Long, String)]
      .collect().toSet == Set((2L, "b")))
    assert(Versioned.read(spark, root, 2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    // the rest of the protocol works over the scheme too
    val v3 = Versioned.commitOverwrite(
      Seq((9L, "z")).toDF("k", "s"), root)
    val (nDel, _) = Versioned.vacuum(root, v3)
    assert(nDel > 0)
    assert(Versioned.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((9L, "z")))
  }

  test("mocks3:// scheme: exclusive publish goes through the " +
      "CONDITIONAL-PUT branch; rename would silently replace, the " +
      "loser detects the collision and retries — race coverage for " +
      "the object-store path of publishExclusive") {
    spark.sparkContext.hadoopConfiguration.set("fs.mocks3.impl",
      classOf[MockS3FileSystem].getName)
    val root = "mocks3://" + freshRoot()
    val filesA = Versioned.stage(Seq((1L, "a")).toDF("k", "s"),
      Versioned.latest(root))
    val filesB = Versioned.stage(Seq((2L, "b")).toDF("k", "s"),
      Versioned.latest(root))
    var fired = false
    val vA = Versioned.publish(spark, Versioned.latest(root), filesA,
      "append", beforePublish = _ => {
        if (!fired) {
          fired = true
          // B publishes v1 inside A's compose→publish window: A's
          // conditional put must FAIL (object exists) — this scheme's
          // rename would have silently replaced B's manifest
          assert(Versioned.publish(spark, Versioned.latest(root), filesB,
            "append") == 1L)
        }
      })
    assert(vA == 2L, "A must lose v1 to B and land v2 on retry")
    assert(Versioned.read(spark, root, 1).as[(Long, String)]
      .collect().toSet == Set((2L, "b")))
    assert(Versioned.read(spark, root, 2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    // the rest of the protocol works over the scheme too
    val v3 = Versioned.commitOverwrite(
      Seq((9L, "z")).toDF("k", "s"), root)
    val (nDel, _) = Versioned.vacuum(root, v3)
    assert(nDel > 0)
    assert(Versioned.read(spark, root).as[(Long, String)]
      .collect().toSet == Set((9L, "z")))
  }

  test("compaction RESOLVES a concurrent blind append (recompose + " +
      "retry, both commits survive) but still fails when a racing " +
      "commit removed a file being packed") {
    val root = freshRoot()
    (1 to 4).foreach(i => Versioned.commitAppend(
      Seq((i.toLong, s"v$i")).toDF("k", "s"), root))
    // append lands inside compaction's compose→publish window: the
    // rewrite changes no row, so compaction must recompose and succeed
    var fired = false
    val v = Versioned.commitCompact(spark, root, smallBytes = 1L << 20,
      beforePublish = { _ =>
        if (!fired) {
          fired = true
          Versioned.commitAppend(Seq((99L, "raced")).toDF("k", "s"),
            root)
        }
      })
    assert(Versioned.read(spark, root, v).as[(Long, String)]
      .collect().toSet ==
      ((1 to 4).map(i => (i.toLong, s"v$i")).toSet + ((99L, "raced"))),
      "both the compaction and the racing append must survive")
    // the packed rewrite + the racer's file
    assert(Versioned.files(root, v).size == 2)

    // a racing commit that REMOVED a packed file is NOT compatible
    val root2 = freshRoot()
    (1 to 4).foreach(i => Versioned.commitAppend(
      Seq((i.toLong, s"v$i")).toDF("k", "s"), root2))
    var fired2 = false
    intercept[java.util.ConcurrentModificationException] {
      Versioned.commitCompact(spark, root2, smallBytes = 1L << 20,
        beforePublish = { _ =>
          if (!fired2) {
            fired2 = true
            // rewrites the file holding k=2 — packing it would
            // resurrect the deleted row
            Versioned.commitDelete(spark, root2, col("k") === 2L)
            ()
          }
        })
    }
    assert(Versioned.read(spark, root2).filter(col("k") === 2L).isEmpty,
      "the racing delete must win")
  }

  test("restore publishes an old snapshot as a NEW version (metadata " +
      "only, history stays linear); clone forks a zero-copy table " +
      "that evolves independently") {
    val root = freshRoot()
    Versioned.commitAppend(
      spark.range(0L, 10L).select(col("id").as("k")).coalesce(1), root,
      statsCols = Seq("k"))
    Versioned.commitAppend(
      spark.range(10L, 20L).select(col("id").as("k")).coalesce(1), root)
    // "bad" commit rewrites everything; restore rolls forward to v2
    Versioned.commitOverwrite(
      spark.range(90L, 95L).select(col("id").as("k")).coalesce(1), root)
    val vr = Versioned.commitRestore(root, 2L)
    assert(vr == 4L, "restore must be a forward commit")
    assert(Versioned.read(spark, root).as[Long].collect().toSet ==
      (0L until 20L).toSet)
    // metadata-only: the restored manifest lists v2's files verbatim
    assert(Versioned.files(root, 4L).toSet ==
      Versioned.files(root, 2L).toSet)
    // the bad version stays time-travelable until vacuumed
    assert(Versioned.read(spark, root, 3L).count() == 5L)
    // sidecar lineage survived the round trip: stats still prune
    assert(Versioned.prunedFiles(root, Map("k" -> (15L, 16L)))._1
      .size == 1)
    // restoring to the current version is a no-op
    assert(Versioned.commitRestore(root, 4L) == 4L)

    // shallow clone: v1 of the clone references the SOURCE's files
    val clone = freshRoot() + "/clone"
    assert(Versioned.cloneShallow(root, clone) == 1L)
    assert(Versioned.read(spark, clone).as[Long].collect().toSet ==
      (0L until 20L).toSet)
    // the clone evolves independently of the source...
    Versioned.commitAppend(Seq(100L).toDF("k"), clone)
    assert(Versioned.read(spark, clone).count() == 21L)
    assert(Versioned.read(spark, root).count() == 20L)
    // ...and its own vacuum never touches borrowed source files
    Versioned.commitOverwrite(Seq(200L).toDF("k"), clone)
    Versioned.vacuum(clone, keepFrom = Versioned.latestVersion(clone))
    assert(Versioned.read(spark, root).count() == 20L)
    // a second clone into a non-empty target fails loudly
    intercept[IllegalArgumentException] {
      Versioned.cloneShallow(root, clone)
    }
  }

  test("read of an uncommitted version fails loudly") {
    val root = freshRoot()
    intercept[IllegalArgumentException] {
      Versioned.read(spark, root, 1)
    }
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    intercept[IllegalArgumentException] {
      Versioned.read(spark, root, 7)
    }
  }

  test("file-level data skipping: stats enabled once maintain " +
      "themselves across appends, bounds prune files, results match " +
      "an unpruned read") {
    val root = freshRoot()
    // three appends of disjoint key ranges, each 1 file; stats enabled
    // at the first commit and auto-continued by the later two
    Versioned.commitAppend(
      spark.range(0L, 100L).select(col("id").as("k"),
        (col("id") * 2).as("v")).coalesce(1), root,
      statsCols = Seq("k"))
    Versioned.commitAppend(
      spark.range(100L, 200L).select(col("id").as("k"),
        (col("id") * 2).as("v")).coalesce(1), root)
    Versioned.commitAppend(
      spark.range(200L, 300L).select(col("id").as("k"),
        (col("id") * 2).as("v")).coalesce(1), root)
    val (kept, total) = Versioned.prunedFiles(root,
      Map("k" -> (120L, 130L)))
    assert(total == 3L && kept.size == 1, s"kept ${kept.size} of $total")
    val pruned = Versioned.readPruned(spark, root,
        Map("k" -> (120L, 130L)))
      .filter(col("k").between(120L, 130L))
      .as[(Long, Long)].collect().toSet
    val full = Versioned.read(spark, root)
      .filter(col("k").between(120L, 130L))
      .as[(Long, Long)].collect().toSet
    assert(pruned == full && full.size == 11)
    // a store without stats never prunes
    val bare = freshRoot()
    Versioned.commitAppend(spark.range(5).select(col("id").as("k"))
      .coalesce(1), bare)
    assert(Versioned.prunedFiles(bare, Map("k" -> (99L, 99L)))._1
      .size == 1)
  }

  test("z-ordered overwrite + stats prune on BOTH dimensions; delete " +
      "keeps the sidecar maintained") {
    val root = freshRoot()
    val grid = spark.range(0L, 4096L).select(
      (col("id") % 64L).as("x"), expr("id div 64").as("y"))
    Versioned.commitOverwrite(
      Layout.zorder2(grid, col("x"), col("y"), nFiles = 16), root,
      statsCols = Seq("x", "y"))
    val (kept, total) = Versioned.prunedFiles(root,
      Map("x" -> (0L, 7L), "y" -> (0L, 7L)))
    assert(total == 16L && kept.size <= 4,
      s"z-order skipping kept ${kept.size}/16 files for a 1/64 box")
    val got = Versioned.readPruned(spark, root,
        Map("x" -> (0L, 7L), "y" -> (0L, 7L)))
      .filter(col("x") <= 7L && col("y") <= 7L).count()
    assert(got == 64L)
    // copy-on-write delete recomputes stats only for rewritten files
    val v = Versioned.commitDelete(spark, root, col("x") === 0L)
    val (fs, _) = (new org.apache.hadoop.fs.Path(root))
      .getFileSystem(spark.sparkContext.hadoopConfiguration) -> ()
    assert(fs.exists(new org.apache.hadoop.fs.Path(root,
      s"stats-v$v.json")), "delete dropped the stats sidecar")
    val (kept2, _) = Versioned.prunedFiles(root,
      Map("x" -> (0L, 7L), "y" -> (0L, 7L)), v)
    assert(Versioned.readPruned(spark, root,
        Map("x" -> (0L, 7L), "y" -> (0L, 7L)), v)
      .filter(col("x") <= 7L && col("y") <= 7L).count() == 56L)
    assert(kept2.nonEmpty)
  }

  test("metadata-only count, timestamp time travel, and the vacuum " +
      "orphan grace window") {
    val root = freshRoot()
    Versioned.commitAppend(spark.range(0L, 10L).select(col("id").as("k"))
      .coalesce(1), root, statsCols = Seq("k"))
    // v2 OVERWRITES so v1's file becomes dead history once v1 retires
    Versioned.commitOverwrite(spark.range(0L, 15L).select(col("id").as("k"))
      .coalesce(1), root)
    // counts come from the sidecar, no scan; a stats-less store says None
    assert(Versioned.metadataCount(root).contains(15L))
    assert(Versioned.metadataCount(root, 1L).contains(10L))
    val bare = freshRoot()
    Versioned.commitAppend(spark.range(3).toDF("k"), bare)
    assert(Versioned.metadataCount(bare).isEmpty)

    // timestamp travel: pin manifest publication times explicitly
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def setT(v: Long, t: Long) = fs.setTimes(
      new org.apache.hadoop.fs.Path(root, s"manifest-v$v.json"), t, -1)
    setT(1, 1000000L); setT(2, 2000000L)
    assert(Versioned.versionAt(root, 1500000L) == 1L)
    assert(Versioned.versionAt(root, 2000000L) == 2L)
    assert(Versioned.readAsOf(spark, root, 1500000L).count() == 10L)
    intercept[IllegalArgumentException] {
      Versioned.versionAt(root, 999999L)
    }

    // orphan grace: a freshly staged-but-unpublished file (another
    // writer mid-commit) survives a graced vacuum; dead history and
    // aged orphans are swept
    val orphanDir = new org.apache.hadoop.fs.Path(root, "data/orphan")
    fs.mkdirs(orphanDir)
    val orphan = new org.apache.hadoop.fs.Path(orphanDir, "part-0.parquet")
    val os = fs.create(orphan); os.write(Array[Byte](1, 2, 3)); os.close()
    val (d1, _) = Versioned.vacuum(root, 2L, orphanGraceMs = 3600000L)
    assert(fs.exists(orphan), "graced vacuum deleted a fresh orphan")
    assert(d1 >= 1L, "graced vacuum skipped retired history")
    assert(Versioned.read(spark, root).count() == 15L)
    val (d2, _) = Versioned.vacuum(root, 2L, orphanGraceMs = 0L)
    assert(!fs.exists(orphan), "ungraced vacuum kept the orphan")
    assert(d2 >= 1L)
  }

  test("bloom sidecar prunes point lookups where min/max cannot; " +
      "absent keys prune everything; rewrites keep the lineage") {
    val root = freshRoot()
    // 3 files with fully-overlapping [min, max] ranges but disjoint
    // key sets (k % 3 = i) — range stats admit every file, so only the
    // bloom can prune an equality probe
    (0 until 3).foreach { i =>
      Versioned.commitAppend(
        spark.range(1000).select((col("id") * 3L + i).as("k"))
          .coalesce(1), root,
        statsCols = Seq("k"), bloomCols = Seq("k"))
    }
    val (kept, total) = Versioned.prunedFiles(root, Map.empty,
      equalities = Map("k" -> 300L))
    assert(total == 3 && kept.size == 1,
      s"bloom kept ${kept.size}/3 files for a single-residue key")
    assert(Versioned.readPruned(spark, root, Map.empty,
        equalities = Map("k" -> 300L))
      .filter(col("k") === 300L).count() == 1L)
    // a key in no file prunes the whole list (no false "must scan")
    assert(Versioned.prunedFiles(root, Map.empty,
      equalities = Map("k" -> -5L))._1.isEmpty)
    // copy-on-write delete recomputes blooms only for rewritten files
    // and the probe still answers correctly at the new version
    val v = Versioned.commitDelete(spark, root, col("k") === 300L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root,
      s"bloom-v$v.json")), "delete dropped the bloom sidecar")
    assert(Versioned.readPruned(spark, root, Map.empty, v,
        equalities = Map("k" -> 303L))
      .filter(col("k") === 303L).count() == 1L)
  }

  test("bloom sidecar v2 is sharded: each commit writes one delta " +
      "shard + a small index carrying parents by reference; vacuum " +
      "reclaims shards no retained index lists") {
    val root = freshRoot()
    (0 until 3).foreach { i =>
      Versioned.commitAppend(
        spark.range(1000).select((col("id") * 3L + i).as("k"))
          .coalesce(1), root,
        statsCols = Seq("k"), bloomCols = Seq("k"))
    }
    def indexText(v: Long) = new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(root, s"bloom-v$v.json")))
    def shardsOf(v: Long) = "meta/bloom-[0-9a-f-]+\\.bin".r
      .findAllIn(indexText(v)).toSeq
    // v3's index lists exactly 3 shards: v1's and v2's by reference +
    // one new; the per-commit write is the delta shard + index only
    assert(shardsOf(3).size == 3 && shardsOf(3).distinct.size == 3)
    assert(shardsOf(2).toSet.subsetOf(shardsOf(3).toSet),
      "parent shards must carry by reference, not rewrite")
    // the index itself stays small (no inline bit arrays)
    assert(indexText(3).length < 1000,
      s"v2 index unexpectedly large: ${indexText(3).length}B")
    // an overwrite starts a fresh generation: its shard list has ONE
    // shard and none of the old ones (their files are all dead)
    val vNew = Versioned.commitOverwrite(
      spark.range(50).select(col("id").as("k")).coalesce(1), root,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    assert(shardsOf(vNew).size == 1 &&
      !shardsOf(vNew).exists(shardsOf(3).toSet))
    // vacuum retires v1..v3; their shards (bloom AND stats — statsCols
    // were set, so each commit wrote one of each) are dead history,
    // reclaimed; the retained generation's two shards survive and the
    // probe still prunes
    val metaDir = java.nio.file.Paths.get(root, "meta")
    val before = java.nio.file.Files.list(metaDir).count()
    assert(before == 8, s"expected 8 shards (4 bloom + 4 stats), $before")
    Versioned.vacuum(root, keepFrom = vNew)
    assert(java.nio.file.Files.list(metaDir).count() == 2)
    assert(Versioned.prunedFiles(root, Map.empty,
      equalities = Map("k" -> 10L))._1.size == 1)
    assert(Versioned.prunedFiles(root, Map.empty,
      equalities = Map("k" -> 999999L))._1.isEmpty)
  }

  test("metadata shard format roundtrips randomized entries — bulk " +
      "read, selective seek read, header-only key table") {
    val root = freshRoot()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(new org.apache.hadoop.fs.Path(root))
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val words = 1 + rnd.nextInt(16)
      val n = 1 + rnd.nextInt(200)
      val entries = (0 until n).map { i =>
        // keys with unicode + the col|path shape the sidecars use
        val k = s"col$i|data/ü${rnd.alphanumeric.take(rnd.nextInt(40))
          .mkString}/part-$i.parquet"
        k -> Seq.fill(words)(rnd.nextLong())
      }
      val rel = Versioned.writeMetaShard(fs, rootPath, s"t$trial",
        words, entries)
      val p = new org.apache.hadoop.fs.Path(rootPath, rel)
      // bulk read (needed = null) returns every entry verbatim
      assert(Versioned.readMetaShardEntries(fs, p, null) ==
        entries.toMap, s"trial $trial bulk roundtrip")
      // selective read seeks only a minority subset, still verbatim
      val subset = entries.indices.filter(_ % 7 == 0)
        .map(entries(_)._1).toSet
      val sel = Versioned.readMetaShardEntries(fs, p, subset)
      assert(sel == entries.filter(e => subset(e._1)).toMap,
        s"trial $trial selective roundtrip")
      // unknown keys read as absent, never as garbage
      assert(Versioned.readMetaShardEntries(fs, p,
        Set("col0|no/such/file")).isEmpty)
    }
    // width mismatch is a loud writer-side error
    intercept[IllegalArgumentException] {
      Versioned.writeMetaShard(fs, rootPath, "bad", 4,
        Seq("k" -> Seq(1L, 2L)))
    }
  }

  test("stats sidecar v1 (inline JSON) stays readable and migrates " +
      "into a shard on the next commit") {
    val root = freshRoot()
    def append(lo: Long, hi: Long) = { Versioned.commitAppend(
      spark.range(lo, hi).select(col("id").as("k")).coalesce(1), root); () }
    append(0L, 100L); append(100L, 200L)
    val Seq(fileA, fileB) = Versioned.files(root, 2L)
      .map(p => p.substring(p.indexOf("data/")))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "stats-v2.json"),
      s"""{"version": 2, "cols": ["k"],
         |"$fileA": [100, 0, 99],
         |"$fileB": [100, 100, 199]
         |}""".stripMargin.getBytes("UTF-8"))
    // v1 read path: interval pruning + metadata count work
    assert(Versioned.prunedFiles(root, Map("k" -> (150L, 160L)), 2L)
      ._1.size == 1)
    assert(Versioned.metadataCount(root, 2L).contains(200L))
    // next commit migrates inline entries into a shard; index is v2
    append(200L, 300L)
    val idx3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "stats-v3.json")))
    assert(idx3.contains("\"shards\"") && !idx3.contains("[100, 0, 99]"))
    assert(Versioned.prunedFiles(root, Map("k" -> (50L, 60L)), 3L)
      ._1.size == 1)
    assert(Versioned.metadataCount(root, 3L).contains(300L))
  }

  test("bloom sidecar v1 (inline JSON) stays readable and migrates " +
      "into a shard on the next commit") {
    val root = freshRoot()
    // fileA: k entirely null → all-zero bloom (prunes every probe);
    // fileB: admit-everything bloom (all ones) — hand-written in the
    // legacy v1 inline format
    Versioned.commitAppend(spark.range(10)
      .select(lit(null).cast("long").as("k"), col("id").as("x"))
      .coalesce(1), root, statsCols = Seq("x"))
    Versioned.commitAppend(spark.range(10)
      .select(col("id").as("k"), col("id").as("x")).coalesce(1), root)
    def rels(v: Long) = Versioned.files(root, v)
      .map(p => p.substring(p.indexOf("data/")))
    val Seq(fileA, fileB) = rels(2L)
    val words = 1024 // 64 Kib / 64
    val v1Json = s"""{"version": 2, "bloomcols": ["k"],
      |"k|$fileA": [${Seq.fill(words)("0").mkString(", ")}],
      |"k|$fileB": [${Seq.fill(words)("-1").mkString(", ")}]
      |}""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "bloom-v2.json"),
      v1Json.getBytes("UTF-8"))
    // v1 read path: the all-zero bloom prunes fileA on any equality
    val (kept, total) = Versioned.prunedFiles(root, Map.empty, 2L,
      equalities = Map("k" -> 5L))
    assert(total == 2 && kept.size == 1 && kept.head.contains(
      fileB.substring(fileB.lastIndexOf('/') + 1)))
    // next commit migrates the live inline entries into a shard and
    // writes a v2 index; pruning behavior is unchanged
    Versioned.commitAppend(spark.range(10, 20)
      .select(col("id").as("k"), col("id").as("x")).coalesce(1), root)
    val idx3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "bloom-v3.json")))
    assert(idx3.contains("\"shards\"") && !idx3.contains("[0, 0"))
    // k=5 lives only in fileB (the new file holds 10..19, its real
    // bloom prunes it); k=15 only in the new file
    val (kept3, total3) = Versioned.prunedFiles(root, Map.empty, 3L,
      equalities = Map("k" -> 5L))
    assert(total3 == 3 && kept3 == kept,
      s"post-migration probe kept ${kept3.size}/3")
    assert(Versioned.prunedFiles(root, Map.empty, 3L,
      equalities = Map("k" -> 15L))._1.size == 2,
      "k=15 should admit fileB (all-ones) + the new file")
  }

  test("compaction bin-packs small files copy-on-write: identical " +
      "content, fewer files, pinned parent intact, vacuum reclaims") {
    val root = freshRoot()
    (0 until 6).foreach { i =>
      Versioned.commitAppend(
        spark.range(i * 10L, i * 10L + 10L).select(col("id").as("k"))
          .coalesce(1), root, statsCols = Seq("k"))
    }
    val parent = Versioned.latestVersion(root)
    val before = Versioned.read(spark, root).as[Long].collect().toSet
    val nBefore = Versioned.files(root).size
    val v = Versioned.commitCompact(spark, root, smallBytes = 1L << 20)
    assert(v == parent + 1)
    val nAfter = Versioned.files(root).size
    assert(nAfter < nBefore, s"$nBefore -> $nAfter files")
    assert(Versioned.read(spark, root).as[Long].collect().toSet == before)
    // parent still reads the pre-compaction layout
    assert(Versioned.read(spark, root, parent).as[Long]
      .collect().toSet == before)
    assert(Versioned.files(root, parent).size == nBefore)
    // stats carried into the packed version: pruning still works
    val (kept, total) = Versioned.prunedFiles(root, Map("k" -> (0L, 5L)))
    assert(kept.size <= total)
    assert(Versioned.readPruned(spark, root, Map("k" -> (0L, 5L)))
      .filter(col("k") <= 5L).count() == 6L)
    // nothing small left: compacting again is a metadata no-op
    assert(Versioned.commitCompact(spark, root, 1L << 20) == v ||
      Versioned.files(root).size <= nAfter)
    val (nDel, _) = Versioned.vacuum(root, v)
    assert(nDel >= nBefore.toLong - 1,
      s"vacuum reclaimed only $nDel of the $nBefore superseded files")
    assert(Versioned.read(spark, root).as[Long].collect().toSet == before)
  }

  test("merge on a STRING key prunes through the string skip keys — " +
      "never through a long cast — and stays exact: the file holding " +
      "a non-numeric matching key is always admitted") {
    val root = freshRoot()
    def append(ks: String*): Unit = { Versioned.commitAppend(
      ks.toSeq.map(k => (k, s"old-$k")).toDF("k", "v").coalesce(1),
      root, statsCols = Seq("k"), bloomCols = Seq("k")); () }
    // file 2 holds "abc" ALONGSIDE castable strings — the trap a
    // long-cast pruning path would fall into: bounds [5,5] derived
    // from the castable update key alone are disjoint from this
    // file's castable values (7,8), pruning exactly the file that
    // holds the matching "abc" row (and under ANSI the cast of "abc"
    // THROWS, failing the whole commit). The string PREFIX key has no
    // such trap: the probe interval [pk("5"), pk("abc")] overlaps
    // file 2's [pk("7"), pk("abc")] — admitted — while the files
    // lexicographically outside the interval prune away.
    append("1", "2"); append("7", "8", "abc")
    append("20", "21"); append("30", "31"); append("40")
    val parent = Versioned.latestVersion(root)
    val rels = Versioned.files(root, parent)
      .map(p => p.substring(p.indexOf("data/")))
    val upd = Seq(("5", "new-5"), ("abc", "new-abc")).toDF("k", "v")
    val (cands, skipped) =
      Versioned.pruneMergeScan(upd, Versioned.snapshot(root, parent), Seq("k"))
    assert(cands.size == 1 && skipped.size == 4,
      s"prefix-key bounds should admit exactly the abc file, " +
        s"got ${cands.size} candidates")
    // end-to-end: exactly one row per key, "abc" updated not
    // duplicated, the unmatched castable key "5" inserted
    val vm = Versioned.commitMerge(upd, root, Seq("k"))
    val out = Versioned.read(spark, root, vm).as[(String, String)]
      .collect().toMap
    assert(out.size == Versioned.read(spark, root, vm).count(),
      "merge produced duplicate keys")
    assert(out("abc") == "new-abc" && out("5") == "new-5" &&
      out("7") == "old-7")
  }

  test("string skip keys: writer expressions and driver-side probes " +
      "are the IDENTICAL arithmetic, and the prefix key is monotone " +
      "in byte-wise string order") {
    val samples = Seq("", "a", "ab", "abcdefgh", "abcdefghi",
      "https://example.com/x", "https://example.com/y",
      "Ω-multibyte-π", "ζζζζζζζζζζ", "", "zzzzzzzzz",
      "123", "abcÿdef", "ab", "日本語のテキスト")
    val df = samples.toDF("s")
    val got = df.select(col("s"), Versioned.prefixKeyCol(col("s")),
        Versioned.hashKeyCol(col("s")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    samples.foreach { s =>
      assert(got(s)._1 == Versioned.prefixKeyOf(s),
        s"prefix key drift for '$s': sql=${got(s)._1} " +
          s"driver=${Versioned.prefixKeyOf(s)}")
      assert(got(s)._2 == Versioned.hashKeyOf(s),
        s"hash key drift for '$s'")
    }
    // monotone: byte-wise string order implies prefix-key order
    val byteOrder = new Ordering[String] {
      def compare(a: String, b: String): Int = {
        val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
    }
    val sorted = samples.sorted(byteOrder)
    sorted.sliding(2).foreach { case Seq(a, b) =>
      assert(Versioned.prefixKeyOf(a) <= Versioned.prefixKeyOf(b),
        s"prefix key not monotone: '$a' <= '$b' but keys reversed")
    case _ => () }
  }

  test("URL-keyed table: shared scheme prefixes leave stats blind, " +
      "the hash bloom still prunes point lookups, merges AND " +
      "merge-on-read to the matching files") {
    val root = freshRoot()
    // 8 files of URLs all sharing the 8-byte prefix "https://" — the
    // prefix-key interval of every file is the single point
    // pk("https://"), so stats admit everything; only the full-value
    // hash blooms can discriminate (the reference's canonical table
    // is URL-keyed: linkgraph/store/cdb/cdb.go:16-22)
    (0 until 8).foreach { i =>
      Versioned.commitAppend(
        (0 until 50).map(j => (s"https://site$i.example/page$j",
          s"old-$i-$j")).toDF("url", "v").coalesce(1),
        root, statsCols = Seq("url"), bloomCols = Seq("url"))
    }
    val parent = Versioned.latestVersion(root)
    val rels = Versioned.files(root, parent)
      .map(p => p.substring(p.indexOf("data/")))
    // point lookup: one URL admits far fewer than 8 files (bloom FPs
    // permitted, full scans not)
    val (kept, total) = Versioned.prunedFiles(root, Map.empty, parent,
      stringEqualities = Map("url" -> "https://site3.example/page7"))
    assert(total == 8 && kept.size < 4,
      s"hash bloom should prune a URL lookup, admitted ${kept.size}/8")
    assert(Versioned.readPruned(spark, root, Map.empty, parent,
        stringEqualities = Map("url" -> "https://site3.example/page7"))
        .filter(col("url") === "https://site3.example/page7")
        .count() == 1,
      "the admitted set must include the URL's file")
    // URL-keyed MERGE: the match scan admits a minority of files
    val upd = Seq(("https://site2.example/page5", "new"),
      ("https://site6.example/page1", "new")).toDF("url", "v")
    val (cands, skipped) =
      Versioned.pruneMergeScan(upd, Versioned.snapshot(root, parent),
        Seq("url"))
    assert(cands.size < rels.size && skipped.nonEmpty,
      s"URL merge should pre-prune, scanned ${cands.size}/8")
    val vm = Versioned.commitMerge(upd, root, Seq("url"))
    val out = Versioned.read(spark, root, vm)
    assert(out.count() == 400L, "merge must not duplicate URL keys")
    assert(out.filter(col("v") === "new").count() == 2L)
    // merge-on-read over the same key space: tombstones land only for
    // matched rows, no duplicates in the live view
    val upd2 = Seq(("https://site1.example/page9", "mor"),
      ("https://brand.new/page", "mor")).toDF("url", "v")
    val vmor = Versioned.commitMergeOnRead(upd2, root, Seq("url"))
    val live = Versioned.read(spark, root, vmor)
    assert(live.count() == 401L,
      "MoR merge must tombstone the matched URL exactly once")
    assert(live.filter(col("v") === "mor").count() == 2L)
    assert(live.groupBy("url").count().filter(col("count") > 1)
      .isEmpty, "duplicate URL keys after MoR merge")
  }

  test("mocks3c:// — a lost conditional write surfacing at close() as " +
      "RemoteFileChangedException (the S3A 412 path) is classified as " +
      "a lost race: the loser retries the next version, never aborts") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mocks3c.impl", classOf[MockS3CondPutFileSystem].getName)
    hc.set("graft.versioned.condput.schemes", "mocks3c,mocks3n")
    val root = "mocks3c://" + freshRoot()
    val filesA = Versioned.stage(Seq((1L, "a")).toDF("k", "s"),
      Versioned.latest(root))
    val filesB = Versioned.stage(Seq((2L, "b")).toDF("k", "s"),
      Versioned.latest(root))
    var fired = false
    val vA = Versioned.publish(spark, Versioned.latest(root), filesA,
      "append", beforePublish = _ => {
        if (!fired) {
          fired = true
          assert(Versioned.publish(spark, Versioned.latest(root), filesB,
            "append") == 1L)
        }
      })
    assert(vA == 2L, "A must lose v1 to B's 412 and land v2 on retry")
    assert(Versioned.read(spark, root, 2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    // the classifier itself: hadoop-aws's exception by NAME (it is not
    // a compile-time dependency), wrapped causes, and the S3 message
    // shapes; an unrelated IOException is NOT a lost race
    assert(Versioned.isCondWriteConflict(
      new RemoteFileChangedException("412 at close")))
    assert(Versioned.isCondWriteConflict(new java.io.IOException(
      "wrapper", new RemoteFileChangedException("cause"))))
    assert(Versioned.isCondWriteConflict(new java.io.IOException(
      "PUT failed (Status Code: 412; Error Code: PreconditionFailed)")))
    assert(Versioned.isCondWriteConflict(new java.io.IOException(
      "At least one of the pre-conditions you specified did not hold")))
    assert(!Versioned.isCondWriteConflict(
      new java.io.IOException("connection reset")))
  }

  test("mocks3n:// — an object store that does NOT advertise atomic " +
      "conditional creates fails FAST at publish (a quietly " +
      "non-exclusive create loses racing commits); assumeCapable is " +
      "the documented out-of-band override") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mocks3n.impl", classOf[MockS3NoCondFileSystem].getName)
    hc.set("graft.versioned.condput.schemes", "mocks3c,mocks3n")
    val root = "mocks3n://" + freshRoot()
    val ex = intercept[UnsupportedOperationException] {
      Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    }
    assert(ex.getMessage.contains("conditional") &&
      ex.getMessage.contains("assumeCapable"))
    assert(Versioned.latestVersion(root) == 0L, "nothing published")
    hc.setBoolean("graft.versioned.condput.assumeCapable", true)
    try {
      assert(Versioned.commitAppend(
        Seq((1L, "a")).toDF("k", "s"), root) == 1L)
      assert(Versioned.read(spark, root).as[(Long, String)]
        .collect().toSet == Set((1L, "a")))
    } finally hc.unset("graft.versioned.condput.assumeCapable")
  }

  test("deletion vectors: merge-on-read delete rewrites NOTHING, reads " +
      "apply tombstones, time travel sees pre-delete rows, purge " +
      "materializes and re-enables copy-on-write ops") {
    val root = freshRoot()
    (0 until 3).foreach(i => Versioned.commitAppend(
      spark.range(i * 10L, (i + 1) * 10L).select(col("id").as("k"),
        (col("id") * 2).as("v")).coalesce(1), root,
      statsCols = Seq("k")))
    val before = Versioned.files(root).toSet
    // delete k in [5, 12] — spans two files; prune derives from the
    // predicate's own conjuncts so only those files are scanned
    val v4 = Versioned.commitDeleteVectors(spark, root,
      col("k") >= 5L && col("k") <= 12L)
    assert(v4 == 4L)
    val after = Versioned.files(root).toSet
    assert(before.subsetOf(after) &&
      (after -- before).forall(_.contains("/dv/")),
      "a DV commit must only add tombstone files")
    assert((after -- before).size == 1,
      "a DV commit stages ONE tombstone file, not one per scan task")
    assert(Versioned.read(spark, root).as[(Long, Long)].collect()
      .map(_._1).toSet == ((0L to 4L) ++ (13L to 29L)).toSet)
    // time travel: the pre-delete version still reads every row
    assert(Versioned.read(spark, root, 3L).count() == 30L)
    // second, overlapping delete: already-tombstoned rows don't
    // re-tombstone; live view shrinks again
    val v5 = Versioned.commitDeleteVectors(spark, root,
      col("k") >= 10L && col("k") <= 15L)
    assert(v5 == 5L)
    assert(Versioned.read(spark, root).as[(Long, Long)].collect()
      .map(_._1).toSet == ((0L to 4L) ++ (16L to 29L)).toSet)
    // a matching-nothing predicate is a metadata no-op
    assert(Versioned.commitDeleteVectors(spark, root,
      col("k") === 999L) == 5L)
    // so is one whose admitted rows are all tombstoned already: its
    // tombstone stage comes out empty and no dv/<uuid> dir stays behind
    assert(Versioned.commitDeleteVectors(spark, root,
      col("k") === 7L) == 5L)
    assert(new java.io.File(root, "dv").listFiles()
      .count(_.isDirectory) == 2, "only v4's and v5's tombstone stages")
    // facade paths apply tombstones too: metadataCount stays
    // metadata-only (stats counts minus the dv footers' row counts),
    // pruned reads anti-join
    assert(Versioned.metadataCount(root).contains(19L))
    assert(Versioned.readPruned(spark, root, Map("k" -> (0L, 29L)))
      .count() == 19L)
    // copy-on-write ops demand a purge first
    intercept[IllegalArgumentException] {
      Versioned.commitMerge(Seq((1L, 99L)).toDF("k", "v"), root,
        Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Versioned.commitDelete(spark, root, col("k") === 1L)
    }
    intercept[IllegalArgumentException] {
      Versioned.commitCompact(spark, root, smallBytes = 1L << 20)
    }
    // incremental reads refuse a range containing the DV commit: rows
    // were logically removed, the range is not an append lineage
    intercept[IllegalArgumentException] {
      Versioned.readChanges(spark, root, 3L, 5L)
    }
    // PURGE: tombstones fold into rewritten files; only the referenced
    // files rewrite, contents equal the live view, dv entries gone
    val liveBefore = Versioned.read(spark, root).as[(Long, Long)]
      .collect().toSet
    val vp = Versioned.commitPurgeDeleteVectors(spark, root)
    assert(vp == 6L)
    val purged = Versioned.files(root, vp)
    assert(purged.forall(!_.contains("/dv/")))
    // file 1 (k in 0..9) and files 2-3 were all touched by deletes in
    // this setup except none? files: [0..9], [10..19], [20..29]; both
    // deletes touch files 1 and 2; file 3 (20..29) rides verbatim
    assert(purged.toSet.intersect(before).size == 1,
      "untouched files must ride into the purged manifest verbatim")
    assert(Versioned.read(spark, root).as[(Long, Long)]
      .collect().toSet == liveBefore)
    // copy-on-write is legal again
    val vm = Versioned.commitMerge(Seq((1L, 99L)).toDF("k", "v"), root,
      Seq("k"))
    assert(Versioned.read(spark, root, vm).filter(col("k") === 1L)
      .as[(Long, Long)].collect().toSet == Set((1L, 99L)))
    // vacuum reclaims the retired tombstone files with the same set
    // arithmetic as data files
    val (nDel, _) = Versioned.vacuum(root, vm)
    assert(nDel > 0)
    assert(!fsHasDvFiles(root),
      "vacuum must sweep retired deletion-vector files")
    assert(Versioned.read(spark, root).count() == liveBefore.size)
  }

  private def fsHasDvFiles(root: String): Boolean = {
    val dir = new java.io.File(root, "dv")
    dir.exists && dir.listFiles != null && dir.listFiles.exists(d =>
      d.isDirectory && d.listFiles.exists(_.getName.endsWith(".parquet")))
  }

  test("DESCRIBE HISTORY: every retained commit reads back with its " +
      "operation stamp, entry counts and txn; vacuumed versions absent") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a")).toDF("k", "s"), root)
    Versioned.commitAppendTxn(Seq((2L, "b")).toDF("k", "s"), root,
      "histapp", 0L)
    Versioned.commitMerge(Seq((1L, "x")).toDF("k", "s"), root, Seq("k"))
    Versioned.commitDeleteVectors(spark, root, col("k") === 2L)
    Versioned.commitPurgeDeleteVectors(spark, root)
    Versioned.commitRestore(root, 3L)
    val h = Versioned.history(spark, root)
      .as[(Long, Long, String, Long, Long, Long, Long, String)]
      .collect().sortBy(_._1)
    assert(h.map(r => (r._1, r._3)).toSeq == Seq(
      (1L, "append"), (2L, "txn-append"), (3L, "merge"),
      (4L, "dv-delete"), (5L, "dv-purge"), (6L, "restore")))
    assert(h(3)._6 >= 1L && h(2)._6 == 0L,
      "dv-delete must show tombstone entries, merge none")
    // dv_bytes is the purge-pressure gauge: positive while tombstones
    // accumulate, zero once the purge folds them back
    assert(h(3)._7 > 0L && h(4)._7 == 0L,
      s"dv_bytes should read ${h(3)._7} at dv-delete, 0 after purge")
    assert(h(1)._8 == "histapp:0", "txn stamp must read back")
    assert(h.forall(_._2 > 0L), "published_at must be real mtimes")
    // vacuum: retired versions drop out of the history
    Versioned.vacuum(root, 6L)
    assert(Versioned.history(spark, root).select("version")
      .as[Long].collect().toSeq == Seq(6L))
  }

  test("merge-on-read upsert: matched rows tombstone, updates append, " +
      "zero existing bytes rewrite; repeat upserts chain; the change " +
      "feed reads each as delete+insert pairs") {
    val root = freshRoot()
    (0 until 3).foreach(i => Versioned.commitAppend(
      spark.range(i * 10L, (i + 1) * 10L).select(col("id").as("k"),
        (col("id") * 2).as("v")).coalesce(1), root,
      statsCols = Seq("k")))
    val before = Versioned.files(root).toSet
    val v4 = Versioned.commitMergeOnRead(
      Seq((5L, -5L), (15L, -15L), (99L, -99L)).toDF("k", "v"), root,
      Seq("k"))
    assert(v4 == 4L)
    val after = Versioned.files(root).toSet
    assert(before.subsetOf(after),
      "MOR merge must never rewrite an existing file")
    val snap = Versioned.read(spark, root).as[(Long, Long)]
      .collect().toMap
    assert(snap.size == 31 && snap(5L) == -5L && snap(15L) == -15L &&
      snap(99L) == -99L && snap(6L) == 12L)
    // second upsert touches a row the FIRST upsert appended: the new
    // tombstone lands in the appended file, the chain stays exact
    val v5 = Versioned.commitMergeOnRead(
      Seq((5L, 555L)).toDF("k", "v"), root, Seq("k"))
    val snap2 = Versioned.read(spark, root, v5).as[(Long, Long)]
      .collect().toMap
    assert(snap2.size == 31 && snap2(5L) == 555L)
    // metadata-only count stays exact through the tombstone chain
    assert(Versioned.metadataCount(root).contains(31L))
    // the change feed reads the upserts as delete+insert pairs
    val feed = Versioned.readChangeFeed(spark, root, 3L)
      .filter(col("k") === 5L)
      .select(col("v"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSet
    assert(feed == Set((10L, "delete", 4L), (-5L, "insert", 4L),
      (-5L, "delete", 5L), (555L, "insert", 5L)))
    // purge converts back to read-optimized; contents identical
    val liveBefore = Versioned.read(spark, root).as[(Long, Long)]
      .collect().toSet
    val vp = Versioned.commitPurgeDeleteVectors(spark, root)
    assert(Versioned.files(root, vp).forall(!_.contains("/dv/")))
    assert(Versioned.read(spark, root, vp).as[(Long, Long)]
      .collect().toSet == liveBefore)
  }

  test("change data feed: inserts from added data files, deletes " +
      "materialized from deletion vectors, loud on rewrite commits") {
    val root = freshRoot()
    Versioned.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      root)
    Versioned.commitAppend(Seq((3L, "c")).toDF("k", "s"), root)
    Versioned.commitDeleteVectors(spark, root, col("k") === 2L)
    Versioned.commitAppend(Seq((4L, "d")).toDF("k", "s"), root)
    val feed = Versioned.readChangeFeed(spark, root, 0L)
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 2L),
      (2L, "b", "delete", 3L),
      (4L, "d", "insert", 4L)))
    // bounded range: only the delete and the last insert
    assert(Versioned.readChangeFeed(spark, root, 2L)
      .as[(Long, String, String, Long)].collect().toSet ==
      Set((2L, "b", "delete", 3L), (4L, "d", "insert", 4L)))
    // a DV purge is a row-NEUTRAL rewrite: it contributes zero
    // changes instead of failing the feed (its deletes were already
    // reported at their dv commits). A range holding ONLY the purge
    // is an empty feed (loud - an empty scan has no schema); a range
    // spanning purge + append yields exactly the append.
    Versioned.commitPurgeDeleteVectors(spark, root)
    val ex = intercept[IllegalArgumentException] {
      Versioned.readChangeFeed(spark, root, 4L)
    }
    assert(ex.getMessage.contains("no changes"))
    Versioned.commitAppend(Seq((5L, "e")).toDF("k", "s"), root)
    assert(Versioned.readChangeFeed(spark, root, 4L)
      .as[(Long, String, String, Long)].collect().toSet ==
      Set((5L, "e", "insert", 6L)),
      "a purge inside the range must be transparent to the feed")
    assert(Versioned.readChangeFeed(spark, root, 5L)
      .as[(Long, String, String, Long)].collect().toSet ==
      Set((5L, "e", "insert", 6L)))
    // a vacuumed manifest inside the range (from=0 = since birth, but
    // the early manifests are gone) is a crisp re-seed error
    Versioned.vacuum(root, 6L)
    val exV = intercept[IllegalArgumentException] {
      Versioned.readChangeFeed(spark, root, 0L)
    }
    assert(exV.getMessage.contains("vacuumed"))
  }

  test("OPTIMIZE ZORDER BY: clustering compaction keeps contents " +
      "permutation-identical and turns an unprunable 2-dim box into " +
      "a pruned one") {
    val root = freshRoot()
    val n = 4096L
    val df = spark.range(n).select(
      (col("id") % 64L).as("x"), expr("id div 64").as("y"),
      col("id").as("payload"))
    // hash-sliced appends: every file spans both domains
    (0 until 4).foreach(i => Versioned.commitAppend(
      df.filter(col("id") % 4 === i.toLong).coalesce(1), root,
      statsCols = Seq("x", "y")))
    val bounds = Map("x" -> (0L, 15L), "y" -> (0L, 15L))
    assert(Versioned.prunedFiles(root, bounds)._1.size == 4,
      "append layout should admit every file")
    val vz = Versioned.commitCompact(spark, root,
      smallBytes = 16L << 10, zorderBy = Seq("x", "y"),
      zorderFiles = 8)
    val (kept, total) = Versioned.prunedFiles(root, bounds, vz)
    assert(kept.size < total,
      s"zorder compaction pruned nothing: ${kept.size} of $total")
    assert(Versioned.read(spark, root, vz).as[(Long, Long, Long)]
      .collect().toSet ==
      df.as[(Long, Long, Long)].collect().toSet,
      "clustering must preserve contents exactly")
  }

  test("compaction's recompose loop is BOUNDED: sustained concurrent " +
      "append traffic re-raises the conflict after the retry budget " +
      "instead of livelocking the compactor") {
    val root = freshRoot()
    (1 to 4).foreach(i => Versioned.commitAppend(
      Seq((i.toLong, s"v$i")).toDF("k", "s"), root))
    var races = 0
    intercept[java.util.ConcurrentModificationException] {
      // every publish window loses to a fresh blind append — an
      // unbounded loop would never return from this call
      Versioned.commitCompact(spark, root, smallBytes = 1L << 20,
        beforePublish = { _ =>
          races += 1
          Versioned.commitAppend(
            Seq((1000L + races, "raced")).toDF("k", "s"), root)
          ()
        })
    }
    assert(races >= 20 && races <= 25,
      s"expected the 20-attempt budget to bound the loop, saw $races")
    // the table is intact: all four originals plus every raced append
    assert(Versioned.read(spark, root).count() == 4L + races)
  }

  test("CDC sidecars keep the change feed derivable across copy-on-" +
      "write merge/delete; row-neutral compaction crosses as zero " +
      "changes; a cdc-less rewrite still fails loudly") {
    val root = freshRoot()
    Versioned.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s").coalesce(1),
      root)
    // v2: CoW merge WITH cdc — update k=2, insert k=4; the feed must
    // read the exact delete+insert pairs, not the rewritten file
    val v2 = Versioned.commitMerge(
      Seq((2L, "B"), (4L, "d")).toDF("k", "s"), root, Seq("k"),
      cdc = true)
    // v3: CoW delete WITH cdc
    val v3 = Versioned.commitDelete(spark, root, col("k") === 1L,
      cdc = true)
    // v4: compaction — changes the file list, provably no row
    val v4 = Versioned.commitCompact(spark, root, smallBytes = 1L << 20)
    assert((v2, v3, v4) == (2L, 3L, 4L),
      s"expected compact to commit as v4, got ($v2, $v3, $v4)")
    Versioned.commitAppend(Seq((5L, "e")).toDF("k", "s"), root)
    val feed = Versioned.readChangeFeed(spark, root, 0L)
      .select("k", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 1L),
      (2L, "b", "delete", 2L), (2L, "B", "insert", 2L),
      (4L, "d", "insert", 2L),
      (1L, "a", "delete", 3L),
      (5L, "e", "insert", 5L)), s"feed read: $feed")
    // the live table is exactly the feed folded forward
    assert(Versioned.read(spark, root).as[(Long, String)].collect()
      .toSet == Set((2L, "B"), (3L, "c"), (4L, "d"), (5L, "e")))
    // cdc sidecars live in exactly ONE version's manifest: later
    // commits drop them, so the v5 manifest carries none
    assert(!Versioned.files(root).exists(_.contains("/cdc/")),
      "cdc entries must not ride forward past their own version")
    // a cdc-less CoW merge still fails the feed loudly over its range
    Versioned.commitMerge(Seq((3L, "C")).toDF("k", "s"), root, Seq("k"))
    val ex = intercept[IllegalArgumentException] {
      Versioned.readChangeFeed(spark, root, 5L).collect()
    }
    assert(ex.getMessage.contains("cdc=true"), s"got: $ex")
    // ...while ranges before the cdc-less rewrite stay derivable
    assert(Versioned.readChangeFeed(spark, root, 4L, 5L)
      .select("k").as[Long].collect().toSeq == Seq(5L))
  }

  test("indexSkipping backfills sidecars on an EXISTING table with no " +
      "new version, later commits maintain them; vacuumOlderThan " +
      "retires by wall clock; readChangeFeedSince anchors at an " +
      "instant") {
    val root = freshRoot()
    // six range-disjoint files committed WITHOUT any sidecar columns
    (0 until 6).foreach { i =>
      Versioned.commitAppend(
        spark.range(i * 10L, (i + 1) * 10L)
          .select(col("id").as("k"), (col("id") * 2).as("v"))
          .coalesce(1), root)
    }
    assert(Versioned.prunedFiles(root, Map("k" -> (0L, 9L)))._1
      .size == 6, "no sidecars yet: every file must admit")
    // ANALYZE-style backfill: skipping appears with NO new commit
    Versioned.indexSkipping(spark, root, statsCols = Seq("k"),
      bloomCols = Seq("k"))
    assert(Versioned.latestVersion(root) == 6L,
      "backfill must not publish a new version")
    val (kept, total) = Versioned.prunedFiles(root, Map("k" -> (0L, 9L)))
    assert(total == 6 && kept.size == 1,
      s"backfilled stats should admit 1 of 6 files, got ${kept.size}")
    // the sidecar lineage continues through later plain commits
    Versioned.commitAppend(
      spark.range(60L, 70L)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1), root)
    val (kept2, total2) =
      Versioned.prunedFiles(root, Map("k" -> (60L, 69L)))
    assert(total2 == 7 && kept2.size == 1,
      s"maintained stats should admit the new file only: ${kept2.size}")
    // timestamp-anchored feed: an instant before the first commit
    // feeds from birth
    assert(Versioned.readChangeFeedSince(spark, root, 0L).count() ==
      70L)
    // wall-clock retention: a huge window retires nothing; a zero
    // window keeps (at least) the latest and the table stays exact
    Versioned.vacuumOlderThan(root, olderThanMs = 86400000L)
    assert(Versioned.history(spark, root).count() == 7L)
    Versioned.vacuumOlderThan(root, 0L)
    assert(Versioned.read(spark, root).count() == 70L)
    assert(Versioned.latestVersion(root) == 7L)
  }

  test("shallow clones REGISTER on the source: a vacuum that could " +
      "reclaim borrowed files reports the clone (dry-run included), " +
      "a provably clone-safe vacuum reports nothing and leaves clone " +
      "reads intact") {
    val root = freshRoot()
    val target = freshRoot() + "/clone"
    Versioned.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      root)
    Versioned.cloneShallow(root, target)
    // v2 OVERWRITES the source: v1's files (the clone's borrow) become
    // retired history the moment keepFrom passes 1
    Versioned.commitOverwrite(Seq((9L, "z")).toDF("k", "s"), root)
    // keepFrom=2 would reclaim exactly what the clone borrows
    val atRisk = Versioned.cloneBorrowsAtRisk(root, 2L)
    assert(atRisk.size == 1 && atRisk.head._2.nonEmpty,
      s"the registered clone's borrow must be reported: $atRisk")
    assert(atRisk.head._1.contains("clone"), s"clone root: $atRisk")
    // keepFrom=1 retains everything the clone reads: provably safe
    assert(Versioned.cloneBorrowsAtRisk(root, 1L).isEmpty)
    // dry-run deletes nothing (warns on stderr); clone reads intact
    Versioned.vacuum(root, 2L, dryRun = true)
    assert(Versioned.read(spark, target).as[(Long, String)].collect()
      .toSet == Set((1L, "a"), (2L, "b")))
    // a non-retiring vacuum (keepFrom=1) sweeps only true orphans and
    // the clone still reads its pinned snapshot
    Versioned.vacuum(root, 1L)
    assert(Versioned.read(spark, target).as[(Long, String)].collect()
      .toSet == Set((1L, "a"), (2L, "b")))
  }

  test("__dv_file/__dv_idx are reserved on DV-carrying tables: DV " +
      "delete and merge-on-read REJECT a clashing schema loudly " +
      "instead of corrupting every later read") {
    val root = freshRoot()
    // a table whose columns collide with the tombstone key names —
    // legal for append/copy-on-write, poisonous under withDvKey's
    // withColumn (it would silently replace the user columns)
    Versioned.commitAppend(
      Seq((1L, "f1"), (2L, "f2")).toDF("k", "__dv_file"), root)
    val ex = intercept[IllegalArgumentException] {
      Versioned.commitDeleteVectors(spark, root, col("k") === 1L)
    }
    assert(ex.getMessage.contains("reserved"), s"got: $ex")
    val ex2 = intercept[IllegalArgumentException] {
      Versioned.commitMergeOnRead(
        Seq((1L, "f9")).toDF("k", "__dv_file"), root, Seq("k"))
    }
    assert(ex2.getMessage.contains("reserved"), s"got: $ex2")
    // the table stayed untouched and copy-on-write ops still work
    assert(Versioned.latestVersion(root) == 1L)
    Versioned.commitMerge(Seq((1L, "f9")).toDF("k", "__dv_file"),
      root, Seq("k"))
    assert(Versioned.read(spark, root).as[(Long, String)].collect()
      .toSet == Set((1L, "f9"), (2L, "f2")))
  }
}
