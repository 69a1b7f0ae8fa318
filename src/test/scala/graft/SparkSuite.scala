package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One shared local SparkSession for the whole forked test JVM. */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` and returns its result with the description of every
    * job it started ("<none>" when unset), as a SparkListener sees them.
    */
  def jobDescriptions[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("<none>"))
    }
    val marker = s"graft-tests:end:${java.util.UUID.randomUUID}"
    sc.addSparkListener(listener)
    val out = try {
      val out = body
      // listener events arrive asynchronously but in order: once the
      // marker job's start is seen, every earlier job's has been too
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!descriptions.contains(marker) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(descriptions.contains(marker), "listener bus did not deliver the marker job")
      out
    } finally sc.removeSparkListener(listener)
    (out, descriptions.asScala.toSeq.filter(_ != marker))
  }
}
