package usbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics over samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest standard percentile with at least ten samples beyond
    * it, falling back to the median when the sample cannot support one.
    * Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}

/** `file://` filesystem for the traced run: graft's FastLocalFileSystem
  * plus per-call counters (list, stat, open, create, rename) and the
  * bytes written through it. Counters are JVM-wide: in local mode the
  * driver and every executor share one JVM. */
class CountingFileSystem extends graft.util.FastLocalFileSystem {
  import CountingFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    stats.incrementAndGet(); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    counted(super.create(f, overwrite, bufferSize, replication, blockSize,
      progress))
  }
  override def create(f: Path, permission: FsPermission,
                      overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    counted(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    counted(super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }

  private def counted(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(new java.io.OutputStream {
      def write(b: Int): Unit = { out.write(b); written.incrementAndGet(); () }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); written.addAndGet(len.toLong); ()
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
}

object CountingFileSystem {
  val lists, stats, opens, creates, renames, written = new AtomicLong
  /** (list, stat, open, create, rename, bytes written) so far. */
  def snapshot(): Array[Long] =
    Array(lists, stats, opens, creates, renames, written).map(_.get)
  def readOps(a: Array[Long], b: Array[Long]): Long =
    (0 to 2).map(i => b(i) - a(i)).sum
  def allOps(a: Array[Long], b: Array[Long]): Long =
    (0 to 4).map(i => b(i) - a(i)).sum
  def bytes(a: Array[Long], b: Array[Long]): Long = b(5) - a(5)
}

/** One span: a timed call into a layer, in ns of `System.nanoTime`. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, start: Long, end: Long)

/** Spark job as the listener saw it (ms wall clock, converted to the
  * nanoTime scale on read). */
final class JobRec(val id: Int, val tag: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val stages = ArrayBuffer[Int]()
}

final class StageAgg {
  val tasks, runMs, shuffleBytes, spillBytes = new AtomicLong
}

/** Everything the benchmark observes from outside the engine: Spark
  * listener events (jobs, stages, tasks), QueryExecution trackers,
  * streaming progress, GC, and — when tracing — spans around every
  * layer call the benchmark makes. Untraced runs keep only what the
  * end-to-end metrics need. */
final class Obs(val spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  // wall-clock ms → nanoTime ns
  private val nanoOffset =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNano(ms: Long): Long = ms * 1000000L - nanoOffset

  private val nextId = new AtomicLong(1)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val currentOp = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }
  /** Finished ops: id → (start, end) ns. */
  val opSpans = new ConcurrentHashMap[Long, (Long, Long)]()
  /** Root span of every op, and of the ops running now. */
  private val roots, running = new ConcurrentHashMap[Long, Long]()
  val bookkeepingNs = new AtomicLong

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  /** (analysis start ns, planning ms) of every query the session ran. */
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    StreamingQueryListener.QueryProgressEvent]()
  val gcPauses = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Obs.OpProp))).map(_.toLong).getOrElse(0L)
      val r = new JobRec(e.jobId, tag, e.time)
      r.stages ++= e.stageIds
      jobs.put(e.jobId, r)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.runMs.addAndGet(m.executorRunTime)
        a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  sc.addSparkListener(listener)

  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      notePlanning(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.listenerManager.register(qeListener)

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(streamListener)

  // GC pauses as (start, end) on the nanoTime scale — the jvm layer's
  // spans. Registered only when tracing.
  private val gcEmitters =
    if (!tracing) Nil
    else java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.collect { case e: javax.management.NotificationEmitter => e }
      .toList
  private val gcListener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, h: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val g = info.getGcInfo
        // concurrent cycles run beside the application; only pauses stop it
        if (!info.getGcName.contains("Concurrent"))
          gcPauses.add((msToNano(jvmStartMs + g.getStartTime),
            msToNano(jvmStartMs + g.getEndTime)))
      }
  }
  gcEmitters.foreach(_.addNotificationListener(gcListener, null, null))

  /** Record a query's planning time; the listener does so for actions,
    * a workload for a query it runs through `queryExecution.toRdd`. */
  def notePlanning(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      planning.add((msToNano(ph.values.map(_.startTimeMs).min), Obs.planningMs(qe)))
  }

  /** Planning ms of the queries whose analysis began inside one of `ops`. */
  def planningMsOf(ops: Seq[Long]): Seq[Double] = {
    val slack = 1000000L // phase start times have ms resolution
    val ivs = ops.flatMap(o => Option(opSpans.get(o)))
    planning.asScala.toSeq.collect {
      case (t, ms) if ivs.exists { case (a, b) => a - slack <= t && t <= b + slack } => ms
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    gcEmitters.foreach(e =>
      try e.removeNotificationListener(gcListener)
      catch { case _: javax.management.ListenerNotFoundException => () })
  }

  /** Run `body` as a new op: Spark jobs launched from this thread (and
    * untagged jobs while it is the only op running) count toward it.
    * The op's own span belongs to the `client` layer: the benchmark. */
  def op[T](name: String)(body: => T): (Long, T) = {
    val id = nextId.getAndIncrement()
    currentOp.set(id)
    sc.setLocalProperty(Obs.OpProp, id.toString)
    val t0 = System.nanoTime()
    try (id, span("client", name)(body))
    finally {
      running.remove(id)
      opSpans.put(id, (t0, System.nanoTime()))
      sc.setLocalProperty(Obs.OpProp, null)
      currentOp.set(0L)
    }
  }

  /** Time `body` as a call into `layer`; recorded only when tracing. A
    * span on a thread outside any op (the streaming thread) belongs to
    * the op running, if only one is. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val b0 = System.nanoTime()
      val id = nextId.getAndIncrement()
      val mine = currentOp.get
      val (op, parent) = stack.get.headOption match {
        case Some(p) => (mine, p)
        case None if mine != 0L =>
          roots.put(mine, id); running.put(mine, id); (mine, 0L)
        case None => running.asScala.toSeq match {
          case Seq((o, root)) => (o, root)
          case _ => (0L, 0L)
        }
      }
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      bookkeepingNs.addAndGet(t0 - b0)
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, op, layer, name, t0, t1))
        bookkeepingNs.addAndGet(System.nanoTime() - t1)
      }
    }

  private lazy val owners: Map[Long, Seq[JobRec]] = {
    // a job belongs to the op that tagged it (Spark local property of the
    // submitting thread) while that op ran; an untagged job — the
    // streaming thread, pool threads, a tag a pool thread inherited from
    // an op that has ended — to the only op running when it started
    val slack = 1000000L // job start times have ms resolution
    val ivs = opSpans.asScala.toSeq
    jobs.values().asScala.toSeq.groupBy { j =>
      val t = msToNano(j.startMs)
      val covering = ivs.collect {
        case (id, (a, b)) if a - slack <= t && t <= b + slack => id
      }
      if (j.tag != 0L && covering.contains(j.tag)) j.tag
      else if (covering.size == 1) covering.head
      else 0L
    }
  }

  /** Jobs of an op; call once every op has finished and [[settle]]d. */
  def jobsOf(op: Long): Seq[JobRec] = owners.getOrElse(op, Nil)

  /** (stages, tasks, task busy ms, shuffle bytes, spill bytes) of jobs. */
  def stageTotals(js: Seq[JobRec]): (Long, Long, Long, Long, Long) = {
    val st = js.flatMap(_.stages).distinct
    val aggs = st.flatMap(s => Option(stageAgg.get(s)))
    (aggs.size.toLong, aggs.map(_.tasks.get).sum, aggs.map(_.runMs.get).sum,
      aggs.map(_.shuffleBytes.get).sum, aggs.map(_.spillBytes.get).sum)
  }

  /** ns of [t0, t1] covered by at least one of `iv`. */
  def covered(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var tot = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) tot += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) tot += ce - cs
    tot
  }

  /** Driver-side time of an op: its wall time not covered by any of its
    * Spark jobs. */
  def driverGapNs(op: Long, t0: Long, t1: Long): Long =
    (t1 - t0) - covered(jobsOf(op).filter(_.endMs > 0)
      .map(j => (msToNano(j.startMs), msToNano(j.endMs))), t0, t1)

  /** Let the listener bus catch up with the jobs that already ran. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (jobs.values().asScala.exists(_.endMs < 0) &&
      System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(50)
  }

  /** Per-op layer self times (ms) from the recorded spans. Every
    * instant of an op's wall time goes to exactly one layer: a GC pause
    * if one is running, else a Spark job of the op, else the deepest
    * benchmark span open at that instant — so an op's self times sum to
    * its wall time. Returns op id → (wall ms, layer → self ms). */
  def selfTimes(ops: Seq[Long]): Map[Long, (Double, Map[String, Double])] = {
    val byOp = spans.asScala.toSeq.groupBy(_.op)
    val gcs = gcPauses.asScala.toSeq
    ops.flatMap { op =>
      byOp.get(op).flatMap(_.find(s => roots.get(op) == s.id)).map { root =>
        val own = byOp(op)
        val parentOf = own.map(s => s.id -> s.parent).toMap
        def depth(id: Long): Int =
          Iterator.iterate(id)(i => parentOf.getOrElse(i, 0L))
            .takeWhile(_ != 0L).size
        // (start, end, rank, layer): higher rank wins an instant
        val iv = own.map(s => (s.start, s.end, depth(s.id), s.layer)) ++
          jobsOf(op).filter(_.endMs > 0).map(j =>
            (msToNano(j.startMs), msToNano(j.endMs), 1000, "spark")) ++
          gcs.map { case (a, b) => (a, b, 2000, "jvm") }
        val clipped = iv.map { case (a, b, r, l) =>
          (math.max(a, root.start), math.min(b, root.end), r, l)
        }.filter(x => x._2 > x._1)
        val cuts = clipped.flatMap(x => Seq(x._1, x._2)).distinct.sorted
        val self = scala.collection.mutable.Map[String, Long]()
        cuts.zip(cuts.tail).foreach { case (a, b) =>
          val live = clipped.filter(x => x._1 <= a && x._2 >= b)
          if (live.nonEmpty) {
            val l = live.maxBy(x => (x._3, x._1))._4
            self(l) = self.getOrElse(l, 0L) + (b - a)
          }
        }
        op -> ((root.end - root.start) / 1e6,
          self.map { case (l, ns) => l -> ns / 1e6 }.toMap)
      }
    }.toMap
  }

  /** Write spans (jobs and GC pauses included) as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.asScala.foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start,
          "end_ns" -> s.end))); w.newLine()
      }
      owners.foreach { case (op, js) => js.filter(_.endMs > 0).foreach { j =>
        w.write(Json(Map("job" -> j.id, "op" -> op, "layer" -> "spark",
          "start_ns" -> msToNano(j.startMs), "end_ns" -> msToNano(j.endMs),
          "stages" -> j.stages.toSeq))); w.newLine()
      } }
      gcPauses.asScala.foreach { case (a, b) =>
        w.write(Json(Map("layer" -> "jvm", "name" -> "gc pause",
          "start_ns" -> a, "end_ns" -> b))); w.newLine()
      }
    } finally w.close()
  }
}

object Obs {
  val OpProp = "usbench.op"

  /** analysis + optimization + planning ms recorded by a query's tracker. */
  def planningMs(qe: QueryExecution): Double =
    qe.tracker.phases.filter { case (k, _) =>
      k == "analysis" || k == "optimization" || k == "planning"
    }.values.map(_.durationMs).sum.toDouble

  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Used heap after full collections, MB. Spark's ContextCleaner
    * frees broadcast and shuffle state once a collection has queued
    * their references, so collect, let it run, and collect again. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(150) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Fixed pure-CPU probe (the range+shuffle+agg shape of
    * Bench.calibrate, at its mini-probe size): seconds, recorded beside
    * the metrics to explain outlier runs; never used to rescale one. */
  def loadProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 2000000L, 1L, 8)
      .selectExpr("id % 97 as k", "id")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"))
      .queryExecution.toRdd.foreach(_ => ())
    (System.nanoTime() - t0) / 1e9
  }
}
