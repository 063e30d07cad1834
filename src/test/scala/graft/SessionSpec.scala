package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one session profile: what it sets, that the suites run under it, and
  * that no main builds a session of its own. */
class SessionSpec extends SparkSpec {

  test("the profile sets local[N], N shuffle partitions, UTC and no UI") {
    assert(Session.confs(7).toMap == Map(
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("TestSpark is the profile at N = 4, with AQE on and the extensions") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sql("SELECT dot_long(array(1L, 2L), array(3L, 4L))").head().getLong(0) == 11L)
  }

  test("src/main builds sessions only through the profile") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    assert(sources.size > 50, "expected the main sources under src/main/scala")
    assert(sources.collect { case (f, src) if src.contains("SparkSession.builder") => f } ==
      Seq("Session.scala"))
    for ((f, src) <- sources;
         v <- Seq("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_EXTRA_CONFS"))
      assert(!src.contains("\"" + v + "\""), s"$f reads $v")
  }
}
