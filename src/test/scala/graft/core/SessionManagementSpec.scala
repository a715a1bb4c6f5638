package graft.core

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Library-API context management (reference dirhash.py:325-335): every
  * entry point works without a SparkSession argument — it borrows the
  * running SparkContext when there is one (with or without a session
  * over it), otherwise creates a private bare SparkContext, builds no
  * session, and stops the context afterwards. The create-path needs a
  * JVM with no SparkContext, so it runs in a forked probe JVM
  * ([[SessionlessProbe]]).
  */
class SessionManagementSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark

  private def fixture(): Path = {
    val root = Files.createTempDirectory("graft-session")
    Files.write(root.resolve("a.txt"), "hello".getBytes)
    Files.createDirectories(root.resolve("sub"))
    Files.write(root.resolve("sub/b.txt"), "world".getBytes)
    root
  }

  test("no-session overloads borrow the active session and leave it running") {
    val root = fixture()
    try {
      val explicit = DirHash.hashDirectory(spark, root.toString, "sha256", "1k")
      val implicitly = DirHash.hashDirectory(root.toString, "sha256", "1k")
      assert(explicit == implicitly)
      assert(!spark.sparkContext.isStopped,
        "borrowed session must not be stopped")
      assert(DirHash.verifyDirectoryHash(root.toString, explicit).matches)
      assert(!spark.sparkContext.isStopped)
    } finally graft.TestFiles.rmrf(root)
  }

  test("create-if-absent: a sessionless JVM hashes with a private session " +
      "and leaves none running (probe JVM)") {
    val root = fixture()
    try {
      val expected = DirHash.hashDirectory(spark, root.toString, "sha256", "1k")
      val javaBin = System.getProperty("java.home") + "/bin/java"
      // mirror the forked test JVM's --add-opens set (Spark 4 on JDK 17)
      import scala.jdk.CollectionConverters._
      val opens = _root_.java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala
        .filter(a => a == "--add-opens" || a.endsWith("=ALL-UNNAMED"))
      val cmd = Seq(javaBin) ++ opens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.master=local[2]",
        "-cp", System.getProperty("java.class.path"),
        "graft.core.SessionlessProbe", root.toString, expected)
      val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes())
      val exit = proc.waitFor()
      assert(exit == 0, s"probe failed (exit $exit):\n${out.takeRight(4000)}")
    } finally graft.TestFiles.rmrf(root)
  }
}

/** Runs in a fresh JVM with no SparkContext: asserts the no-session
  * library API hashes on a private bare SparkContext, returns the right
  * hash, and leaves no session registered (it builds none) and no
  * context running afterwards.
  */
object SessionlessProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.SparkSession
    val Array(dir, expected) = args
    require(SparkSession.getDefaultSession.isEmpty, "probe must start sessionless")
    val h = DirHash.hashDirectory(dir, "sha256", "1k")
    require(h == expected, s"hash mismatch: $h vs $expected")
    require(SparkSession.getDefaultSession.isEmpty, "default session left registered")
    require(SparkSession.getActiveSession.isEmpty, "active session left registered")
    // legacy-RDD caller shape: a bare SparkContext with NO SparkSession —
    // the library must borrow it and must NOT stop it
    val sc = new org.apache.spark.SparkContext(
      new org.apache.spark.SparkConf().setAppName("probe-bare").setMaster("local[2]"))
    val h2 = DirHash.hashDirectory(dir, "sha256", "1k")
    require(h2 == expected, s"bare-context hash mismatch: $h2 vs $expected")
    require(!sc.isStopped, "borrowed bare SparkContext was stopped")
    sc.stop()
  }
}
