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

  test("no code outside graft/Session.scala builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val roots = Seq("src/main/scala", "src/test/scala").map(new File(_))
    assert(roots.forall(_.isDirectory), roots.map(_.getAbsolutePath))
    val sites = roots.flatMap(scalaFiles).filter { f =>
      val code = comments.replaceAllIn(
        java.nio.file.Files.readString(f.toPath), "")
      builder.findFirstIn(code).isDefined
    }.map(_.getPath.replace(File.separatorChar, '/'))
    assert(sites == Seq("src/main/scala/graft/Session.scala"))
  }
}
