package erbench

import org.apache.spark.sql.SparkSession

/** Tests of the benchmark's span and listener code. Run with
  * `python3 erbench/run.py --self-test`; exits non-zero on a failure.
  */
object TraceTests {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    check("interval union merges overlaps and keeps gaps") {
      Interval.union(Seq(Interval(5, 7), Interval(0, 2), Interval(1, 3))) ==
        Vector(Interval(0, 3), Interval(5, 7))
    }
    check("interval subtraction leaves the uncovered pieces") {
      Interval.subtract(Seq(Interval(0, 10)), Seq(Interval(2, 4), Interval(3, 5), Interval(9, 12))) ==
        Vector(Interval(0, 2), Interval(5, 9))
    }

    check("self time excludes child spans") {
      val spans = Seq(
        SpanRecord(1, "outer", None, 0, 10000),
        SpanRecord(2, "inner", Some(1), 2000, 5000),
        SpanRecord(3, "inner", Some(1), 6000, 7000),
        SpanRecord(4, "leaf", Some(2), 3000, 4000))
      val l = Profile.layers(spans, Seq.empty, Seq.empty, Map.empty)
      close(l("outer").wallS, 6.0) && close(l("inner").wallS, 3.0) && close(l("leaf").wallS, 1.0)
    }

    check("driver_s is the self time no task interval covers") {
      val spans = Seq(SpanRecord(1, "a", None, 0, 10000), SpanRecord(2, "b", Some(1), 8000, 10000))
      def task(s: Long, from: Double, to: Double) = TaskRecord(Some(s), from, to, 0, 0, 0, 0, 0)
      // two overlapping tasks cover 1–4 s; a task of `b` at 8.5–9 s
      // covers none of `a`'s self time
      val tasks = Seq(task(1, 1000, 3000), task(1, 2000, 4000), task(2, 8500, 9000))
      val l = Profile.layers(spans, tasks, Seq.empty, Map.empty)
      close(l("a").driverS, 5.0) && close(l("b").driverS, 1.5) &&
        close(l("a").taskS, 0.0) && close(l("b").wallS, 2.0)
    }

    check("task metrics are summed per layer") {
      val spans = Seq(SpanRecord(1, "a", None, 0, 1000), SpanRecord(2, "a", None, 1000, 2000))
      val tasks = Seq(TaskRecord(Some(1), 0, 10, 10, 2000000000L, 5, 1000000, 0),
        TaskRecord(Some(2), 1000, 1010, 30, 1000000000L, 5, 500000, 2000000))
      val a = Profile.layers(spans, tasks, Seq(Some(1), Some(2), None), Map("a" -> 7L))("a")
      close(a.taskS, 0.04) && close(a.cpuS, 3.0) && close(a.gcS, 0.01) &&
        close(a.shuffleWriteMb, 1.5) && close(a.spillMb, 2.0) && a.jobs == 2 && a.rowsOut == 7
    }

    val spark = SparkSession.builder().master("local[2]").appName("erbench-tests")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val listener = new SpanListener
      spark.sparkContext.addSparkListener(listener)
      val tr = new Tracer(spark.sparkContext)
      tr.span("outer") {
        spark.sparkContext.parallelize(1 to 100, 2).count()
        tr.span("inner") {
          spark.sparkContext.parallelize(1 to 100, 2).count()
          spark.sparkContext.parallelize(1 to 100, 2).count()
        }
        spark.sparkContext.parallelize(1 to 100, 2).count()
      }
      spark.sparkContext.parallelize(1 to 100, 2).count()
      org.apache.spark.ErbenchBus.drain(spark.sparkContext)
      val l = Profile.layers(tr.spans, listener.tasks, listener.jobs, tr.rows)

      check("jobs are attributed to the innermost open span") {
        l("outer").jobs == 2 && l("inner").jobs == 2 && listener.jobs.count(_.isEmpty) == 1
      }
      check("tasks follow their job's span") {
        val byLayer = listener.tasks.groupBy(_.span.map(id => tr.spans.find(_.id == id).get.layer))
        byLayer.keySet == Set(Some("outer"), Some("inner"), None)
      }
      check("the span property is cleared when the outermost span closes") {
        spark.sparkContext.getLocalProperty(Tracer.Property) == null
      }
    } finally spark.stop()

    if (failures > 0) { println(s"$failures test(s) failed"); sys.exit(1) }
    println("all tests passed")
  }
}
