package erbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Outcome of one timed operation: wall time to the complete, forced
  * output, plus what the correctness gates need.
  */
final case class OpOutcome(wallS: Double, hash: Long, f1: Double,
    gates: Seq[(String, Boolean)]) {
  def ok: Boolean = gates.forall(_._2)
}

trait Workload {
  /** Docs entering one timed operation. */
  def docsPerOp: Long
  /** Generates the workload's input tables from the seed (repeatable). */
  def generate(): Unit
  /** One-time state and warm-up after the inputs exist. */
  def prepare(traced: Boolean): Unit
  def hasOp(i: Int): Boolean = true
  /** The untraced operation through the engine's public entry point. */
  def op(i: Int): OpOutcome
  /** The same operation composed layer by layer inside spans. Ratio
    * inputs are recorded on the tracer after the composition ends.
    */
  def traced(i: Int, tr: Tracer): OpOutcome
  /** Outcomes of repeated operations must agree (same input each time). */
  def repeatable: Boolean
}

object Common {

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Materialize `df` (localCheckpoint, as the engine's stage boundaries
    * do) with its row count and `extras` observed on the same job.
    */
  def checkpoint(df: DataFrame, extras: (String, Column)*): (DataFrame, Map[String, Long]) = {
    val obs = Observation(s"erbench_${java.util.UUID.randomUUID}")
    val aggs = count(lit(1)).as("rows") +: extras.map { case (k, c) => c.as(k) }
    val out = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint(true)
    val row = obs.get
    (out, ("rows" +: extras.map(_._1)).map(k => k -> row(k).asInstanceOf[Long]).toMap)
  }

  /** Distinct docs, distinct entities and an order-free hash of the
    * (doc_id, entity_id) rows, in one job.
    */
  def assignmentSummary(assignments: DataFrame): (Long, Long, Long) = {
    val r = assignments.agg(countDistinct("doc_id"), countDistinct("entity_id"),
      coalesce(bit_xor(xxhash64(col("doc_id"), col("entity_id"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Pairwise precision/recall F1 of `labels` (pred, truth). The
    * (pred, truth) group sizes are collected: the benchmark's inputs
    * hold a few thousand docs.
    */
  def pairF1(labels: DataFrame): Double = {
    val groups = labels.groupBy("pred", "truth").count().collect()
      .map(r => (r.get(0), r.get(1), r.getLong(2)))
    def pairs(ns: Iterable[Long]): Double = ns.map(n => n.toDouble * (n - 1) / 2).sum
    val tp = pairs(groups.map(_._3))
    val pp = pairs(groups.groupMapReduce(_._1)(_._3)(_ + _).values)
    val ap = pairs(groups.groupMapReduce(_._2)(_._3)(_ + _).values)
    if (pp == 0 || ap == 0) (if (pp == ap) 1.0 else 0.0)
    else {
      val p = tp / pp; val r = tp / ap
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
  }

  /** Ground-truth entity of a synthetic doc: record id = 10^6 + 3e + v. */
  def synthTruth(docId: Column): Column =
    floor((split(docId, ":").getItem(1).cast("long") - 1000000L) / 3)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Parquet payload bytes under `dir` (no checksums or markers). */
  def parquetBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    finally s.close()
  }

  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from); val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t: Path = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def session(work: String, cores: Int, partitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("erbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
