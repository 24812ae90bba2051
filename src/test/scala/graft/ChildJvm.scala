package graft

import scala.jdk.CollectionConverters._

/** Runs a main from the test classpath in a JVM of its own, for checks
  * the shared test JVM cannot host: a stopped session, or a JVM-wide
  * object that is initialized once. The child gets the test JVM's flags
  * plus `jvmOpts` and a 768 MB heap. Returns the exit code and every
  * line the child wrote to stdout or stderr. */
object ChildJvm {
  def run(main: String, jvmOpts: Seq[String], args: String*)
      : (Int, String) = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++
      jvm.getInputArguments.asScala ++ jvmOpts ++ Seq("-Xmx768m", "-cp",
        System.getProperty("java.class.path"), main) ++ args
    val out = new StringBuilder
    def line(l: String): Unit = out.synchronized {
      out.append(l).append('\n'); ()
    }
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(line, line))
    (code, out.synchronized(out.toString))
  }
}
