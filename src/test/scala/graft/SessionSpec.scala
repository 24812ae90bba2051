package graft

import java.io.File

import org.apache.hadoop.fs.Path

/** [[Session]] is the one session builder: the shared test session
  * carries its contract, and no other code builds a session. */
class SessionSpec extends SparkSpec {

  test("the shared test session is Session.local(4)") {
    val fs = new Path("file:///tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[graft.util.FastLocalFileSystem], fs.getClass)
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head()
    assert(dot.getDouble(0) == 11.0)
  }

  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r

  /** Every .scala file under `root`, with its comments stripped. */
  private def codeUnder(root: String): Seq[(String, String)] = {
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val dir = new File(root)
    assert(dir.isDirectory, dir.getAbsolutePath)
    scalaFiles(dir).map(f =>
      f.getPath.replace(File.separatorChar, '/') -> comments.replaceAllIn(
        java.nio.file.Files.readString(f.toPath), ""))
  }

  test("no code outside graft/Session.scala builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    val sites = Seq("src/main/scala", "src/test/scala").flatMap(codeUnder)
      .collect { case (path, code) if builder.findFirstIn(code).isDefined =>
        path }
    assert(sites == Seq("src/main/scala/graft/Session.scala"))
  }

  test("engine code warns through log4j, not System.err") {
    val errPrintln = """System\s*\.\s*err\s*\.\s*println""".r
    // the mains own their console: Bench, Verify, Demo and tools/
    val mains = Seq("Bench.scala", "Verify.scala", "Demo.scala")
      .map("src/main/scala/graft/" + _)
    val sites = codeUnder("src/main/scala/graft").collect {
      case (path, code) if !mains.contains(path) &&
          !path.startsWith("src/main/scala/graft/tools/") &&
          errPrintln.findFirstIn(code).isDefined => path
    }
    assert(sites.isEmpty, sites)
  }
}
