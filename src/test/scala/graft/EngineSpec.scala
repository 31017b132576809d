package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one session policy: [[Engine.session]] carries every setting the
  * tool programs used to copy into their own builders, the core count
  * is validated in one place, and no second builder can creep back.
  */
class EngineSpec extends AnyFunSuite {

  test("Engine.session(4) carries every setting of Bench's former builder") {
    SparkTestSession.spark // the suite's shared session, warehouse and all
    val spark = Engine.session(4)
    val expected = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.scheduler.mode" -> "FAIR",
      "spark.ui.enabled" -> "false")
    val conf = spark.sparkContext.getConf
    val wrong = expected.filter { case (k, v) =>
      spark.conf.getOption(k).orElse(conf.getOption(k)) != Some(v) }
    assert(wrong.isEmpty, s"settings missing or changed: $wrong")
    // Cloned sessions inherit them: they are builder settings.
    assert(spark.newSession().conf
      .get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("Engine.configure restores the SQL settings on a caller's session") {
    val own = SparkTestSession.spark.newSession()
    own.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    own.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    Engine.configure(own)
    Engine.configure(own)
    val wrong = Engine.sqlSettings.filter { case (k, v) => own.conf.get(k) != v }
    assert(wrong.isEmpty, s"not applied: $wrong")
  }

  test("a non-numeric or zero SPARK_GRAFT_CPUS fails naming the variable") {
    Seq("abc", "0", "-2", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](Engine.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
    assert(Engine.parseCpus(Some("6")) == 6)
    assert(Engine.parseCpus(None) == Runtime.getRuntime.availableProcessors())
  }

  test("a bad ScaleBench factor or repeat fails naming its variable") {
    Seq("SPARK_GRAFT_SCALE_FACTOR", "SPARK_GRAFT_SCALE_REPEAT").foreach { name =>
      Seq("10x", "0", "-1", " ").foreach { bad =>
        val e = intercept[IllegalArgumentException](Engine.positiveInt(name, Some(bad), 1))
        assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
      assert(Engine.positiveInt(name, Some(" 30 "), 1) == 30)
      assert(Engine.positiveInt(name, None, 10) == 10)
    }
  }

  test("no session builder under src/ outside Engine.scala") {
    val needle = "SparkSession" + ".builder"
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Engine.scala")
        .filter(p => java.nio.file.Files.readString(p).contains(needle))
        .map(_.toString).toList
      finally files.close()
    assert(offenders.isEmpty, s"builders outside Engine: $offenders")
  }
}
