package erbench

import erbench.Common._
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark entry point: one workload, one mode.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (session, input generation, warm-up) is timed as `setup_s`.
  * With `--trace 0` the workload's operation runs untraced for about
  * `--seconds` and the end-to-end metrics are printed. With `--trace 1`
  * each round runs the untraced operation and the same operation
  * composed layer by layer inside spans; the per-layer metrics are
  * printed. The last stdout line is the JSON result.
  */
object Main {

  val Layers: Seq[String] = Seq("sources", "normalize", "generic", "blocking", "scoring",
    "ambiguity", "cluster", "assemble", "export", "snapshot", "incremental", "dedup")

  val LayerFields: Seq[(String, String, LayerStats => Double)] = Seq(
    ("wall_s", "s", _.wallS), ("driver_s", "s", _.driverS), ("task_s", "s", _.taskS),
    ("cpu_s", "s", _.cpuS), ("gc_s", "s", _.gcS), ("shuffle_write_mb", "MB", _.shuffleWriteMb),
    ("spill_mb", "MB", _.spillMb), ("jobs", "count", _.jobs.toDouble),
    ("rows_out", "count", _.rowsOut.toDouble))

  val Ratios: Seq[(String, String)] = Seq(
    "blocking.candidate_pairs" -> "count", "blocking.pair_completeness" -> "ratio",
    "scoring.resolved_share" -> "ratio", "cluster.iterations" -> "count",
    "cluster.edge_rows" -> "count", "incremental.touched_share" -> "ratio",
    "incremental.cc_vertex_share" -> "ratio", "snapshot.bytes_written" -> "B",
    "snapshot.write_amplification" -> "ratio")

  /** Input sizes per workload (see BENCHMARK.json and README.md). */
  def workload(name: String, spark: org.apache.spark.sql.SparkSession, work: String,
      seed: Long): Workload = name match {
    case "resolve_batch" => new ResolveBatch(spark, work, seed, entities = 1200)
    case "incremental_ingest" => new IncrementalIngest(spark, work, seed, entities = 2000,
      batches = 10, batchDocs = 50)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Input generation is repeated this many times; its median enters setup_s. */
  val SetupRepeats = 3
  val ShufflePartitions = 8

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val budget = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(work, cores, ShufflePartitions)
    val listener = new SpanListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val w = workload(name, spark, work, seed)

    val genS = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime(); w.generate(); seconds(t0)
    }
    val t1 = System.nanoTime()
    w.prepare(trace)
    val setupS = sessionS + median(genS) + seconds(t1)
    println(f"[setup] session $sessionS%.2f s, generate ${genS.map(x => f"$x%.2f").mkString("/")} s, " +
      f"warm-up ${seconds(t1)}%.2f s, $cores cores")

    val outcomes = mutable.ArrayBuffer[OpOutcome]()
    val tracedOutcomes = mutable.ArrayBuffer[OpOutcome]()
    val stats = mutable.ArrayBuffer[Map[String, LayerStats]]()
    val counts = mutable.ArrayBuffer[Map[String, Double]]()
    var attempted = 0
    var failed = 0
    var hashesAgree = true
    def attempt(label: String)(body: => OpOutcome): Option[OpOutcome] = {
      attempted += 1
      try {
        val o = body
        o.gates.filterNot(_._2).foreach { case (g, _) => println(s"[gate] $label failed: $g") }
        if (o.ok) Some(o) else { failed += 1; None }
      } catch {
        case NonFatal(e) =>
          failed += 1
          println(s"[error] $label: $e")
          e.printStackTrace()
          None
      }
    }
    def untracedOp(i: Int): Option[OpOutcome] = {
      val o = attempt(s"op $i")(w.op(i))
      o.foreach(outcomes += _)
      o
    }
    def tracedOp(i: Int): Option[OpOutcome] = {
      org.apache.spark.ErbenchBus.drain(spark.sparkContext)
      listener.clear()
      val tr = new Tracer(spark.sparkContext)
      val o = attempt(s"traced op $i")(w.traced(i, tr))
      org.apache.spark.ErbenchBus.drain(spark.sparkContext)
      o.foreach { t =>
        tracedOutcomes += t
        stats += Profile.layers(tr.spans, listener.tasks, listener.jobs, tr.rows)
        counts += tr.counts
      }
      o
    }

    // The first operation always runs; another starts only if it is
    // expected to finish within the budget. A traced run's round is a
    // traced and an untraced operation on the same input; rounds
    // alternate which goes first. With one round the traced operation
    // goes first, so residual warming can only overstate the overhead.
    val start = System.nanoTime()
    var lastS = 0.0
    var i = 0
    while ((i == 0 || seconds(start) + lastS <= budget) && w.hasOp(i)) {
      val t0 = System.nanoTime()
      if (!trace) untracedOp(i)
      else {
        val (u, t) =
          if (i % 2 == 0) { val t = tracedOp(i); (untracedOp(i), t) }
          else { val u = untracedOp(i); (u, tracedOp(i)) }
        // the traced composition must reproduce the untraced result
        val same = u.zip(t).forall { case (a, b) => a.hash == b.hash && a.f1 == b.f1 }
        if (!same) println(s"[gate] traced op $i differs from the untraced run")
        hashesAgree &&= same
      }
      lastS = seconds(t0)
      i += 1
    }

    val repeatsAgree = !w.repeatable ||
      (outcomes ++ tracedOutcomes).map(o => (o.hash, o.f1)).distinct.size <= 1
    if (!repeatsAgree) println("[gate] repeated operations gave different results")
    val correct = failed == 0 && hashesAgree && repeatsAgree && outcomes.nonEmpty

    val walls = outcomes.map(_.wallS).toSeq
    val metrics: Seq[(String, Double, String)] = if (!trace) {
      val p50 = median(walls)
      println(f"[run] ${walls.size} ops, walls ${walls.map(x => f"$x%.3f").mkString(" ")} s")
      Seq(
        ("docs_per_s", w.docsPerOp / p50, "1/s"),
        ("batch_p50_s", p50, "s"),
        ("pair_f1", median(outcomes.map(_.f1).toSeq), "ratio"),
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
    } else {
      val n = math.max(1, stats.size).toDouble
      def mean(f: Map[String, LayerStats] => Double) = stats.map(f).sum / n
      val layerMetrics = for (l <- Layers; (field, unit, get) <- LayerFields)
        yield (s"$l.$field", mean(_.get(l).map(get).getOrElse(0.0)), unit)
      val ratioMetrics = Ratios.map { case (k, unit) =>
        (k, counts.map(_.getOrElse(k, 0.0)).sum / n, unit)
      }
      val tracedWall = median(tracedOutcomes.map(_.wallS).toSeq)
      val untracedWall = median(walls)
      val selfSum = mean(_.values.map(_.wallS).sum)
      printLayerTable(layerMetrics)
      layerMetrics ++ ratioMetrics ++ Seq(
        ("trace.untraced_s", untracedWall, "s"),
        ("trace.traced_s", tracedWall, "s"),
        ("trace.overhead_s", tracedWall - untracedWall, "s"),
        ("trace.self_sum_s", selfSum, "s"))
    }
    spark.stop()
    println(json(correct, attempted, failed, metrics))
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private def printLayerTable(m: Seq[(String, Double, String)]): Unit = {
    val byName = m.map(x => x._1 -> x._2).toMap
    println(f"${"layer"}%-12s" + LayerFields.map(f => f"${f._1}%17s").mkString)
    Layers.foreach { l =>
      println(f"$l%-12s" + LayerFields.map(f => f"${byName(s"$l.${f._1}")}%17.3f").mkString)
    }
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
