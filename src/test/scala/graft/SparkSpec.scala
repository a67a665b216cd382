package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, one session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `op` runs: a sentinel job after it marks the
    * end, so the asynchronous listener bus has delivered every earlier
    * start by the time the sentinel's arrives. */
  def jobsDuring[T](op: => T): (T, Int) = {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = op
      spark.sparkContext.setJobDescription("jobs-sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 20000
      while (!seen.asScala.exists(_ == "jobs-sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      (out, seen.asScala.takeWhile(_ != "jobs-sentinel").size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

/** Store-agnostic test backdoors (aging objects for stale-slot sweeps). */
object StoreOps {
  def backdate(store: graft.vt.MetaStore, key: java.nio.file.Path, toMs: Long): Unit =
    store match {
      case s: graft.vt.S3SimMetaStore => s.backdate(key, toMs)
      case s: graft.vt.InMemoryMetaStore => s.backdate(key, toMs)
      case _ => java.nio.file.Files.setLastModifiedTime(key,
        java.nio.file.attribute.FileTime.fromMillis(toMs))
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
