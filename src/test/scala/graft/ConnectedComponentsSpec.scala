package graft

import graft.cluster.ConnectedComponents
import graft.util.Materialize
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  /** Labels of every edge endpoint, by [[ConnectedComponents.assign]]. */
  private def cc(edges: Seq[(String, String)], spark: org.apache.spark.sql.SparkSession = spark,
      checkpointDir: Option[String] = None, localFinishEdges: Long = 100000L)
      : (Map[String, String], ConnectedComponents.Stats) = {
    import spark.implicits._
    val (assign, stats) = ConnectedComponents.assign(spark, endpoints(edges).toDF("doc_id"),
      edges.toDF("doc_a", "doc_b"), checkpointDir, localFinishEdges)
    (assign.collect().map(r => r.getString(0) -> r.getString(1)).toMap, stats)
  }

  private def endpoints(edges: Seq[(String, String)]): Seq[String] =
    edges.flatMap(e => Seq(e._1, e._2)).distinct

  test("chain collapses to min label") {
    val (got, _) = cc(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e"))
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a"))
  }

  test("star (reversed direction) collapses") {
    val (got, _) = cc(Seq("z" -> "m", "y" -> "m", "x" -> "m"))
    assert(got.values.toSet == Set("m"))
    assert(got.keySet == Set("x", "y", "z", "m"))
  }

  test("two components stay separate") {
    val (got, _) = cc(Seq("a" -> "b", "c" -> "d"))
    assert(got("a") == "a" && got("b") == "a")
    assert(got("c") == "c" && got("d") == "c")
  }

  test("self-loop and duplicate edges are harmless") {
    val (got, _) = cc(Seq("a" -> "a", "a" -> "b", "b" -> "a", "a" -> "b"))
    assert(got == Map("a" -> "a", "b" -> "a"))
  }

  test("assign adds singletons for edge-free docs") {
    val docs = Seq("a", "b", "c", "lonely").toDF("doc_id")
    val edges = Seq(("a", "b")).toDF("doc_a", "doc_b")
    val (assign, _) = ConnectedComponents.assign(spark, docs, edges)
    val got = assign.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "c", "lonely" -> "lonely"))
  }

  test("distributed loop (local finish disabled) agrees with the local-finish path") {
    // localFinishEdges=0 forces the pure large-star/small-star loop —
    // the path a 10^12-doc frontier takes — on graphs with every shape
    // quirk: chains (worst case for star-contraction), cliques,
    // singleton edges, shared-prefix ids
    val rnd = new scala.util.Random(11)
    val chain = (0 until 40).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    val clique = for (i <- 0 until 8; j <- i + 1 until 8) yield (f"k$i%02d", f"k$j%02d")
    val random = (1 to 150).map { _ =>
      (f"r${rnd.nextInt(60)}%02d", f"r${rnd.nextInt(60)}%02d")
    }.filter(e => e._1 != e._2)
    val edges = (chain ++ clique ++ random ++ Seq(("solo_a", "solo_b")))
    val (dist, distStats) = cc(edges, localFinishEdges = 0L)
    assert(distStats.iterations > 0, "distributed path must actually iterate")
    assert(dist == cc(edges)._1, "local union-find finish must produce the loop's fixpoint labels")
  }

  /** [[ConnectedComponents.assign]]'s labels, either lazy (read back
    * from CC's durable iteration snapshots when an action runs) or, with
    * `materialize`, through the caller's eager durable boundary in the
    * same `dir` (graft.util.Materialize), as a resolve's `assignments`
    * stage puts them.
    */
  private def durableLabels(s: org.apache.spark.sql.SparkSession, edges: Seq[(String, String)],
      dir: String, materialize: Boolean): (org.apache.spark.sql.DataFrame, ConnectedComponents.Stats) = {
    import s.implicits._
    val (assign, stats) = ConnectedComponents.assign(s,
      endpoints(edges).toDF("doc_id"), edges.toDF("doc_a", "doc_b"), Some(dir), 0L)
    (if (materialize) Materialize(assign, "assignments", Some(dir)).df else assign, stats)
  }

  for (materialize <- Seq(true, false))
    test(s"durable runs sharing a checkpointDir stay isolated (materializeAssignments=$materialize)") {
      // A's result is read back from its durable snapshots; B has the
      // same shape (so it writes as many iteration snapshots) but other
      // ids, so a shared snapshot path would hand A B's labels
      val chainA = (0 until 24).map(i => (f"a$i%02d", f"a${i + 1}%02d"))
      val chainB = chainA.map { case (s, d) => ("b" + s.tail, "b" + d.tail) }
      val dir = java.nio.file.Files.createTempDirectory("cc_shared").toString
      val (a, statsA) = durableLabels(spark, chainA, dir, materialize)
      assert(statsA.iterations > 0, "distributed path must actually iterate")
      durableLabels(spark, chainB, dir, materialize)._1.collect()
      val got = a.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == cc(chainA)._1)
    }

  test("local finish uses UTF8 binary order, matching the loop's least()/min()") {
    // U+1F600 (surrogate pair) vs U+FFFF: Java UTF-16 order puts the
    // surrogate pair FIRST, Spark's UTF8String (code-point) order puts
    // U+FFFF first — labels must not depend on which phase finishes
    val hi = "￿"          // U+FFFF
    val emoji = "😀" // U+1F600 — code point ABOVE U+FFFF
    assert(emoji < hi, "precondition: Java order disagrees with code-point order")
    val edges = Seq((hi, emoji))
    val (local, _) = cc(edges)
    val (dist, _) = cc(edges, localFinishEdges = 0L)
    assert(local == dist, "labels must be phase-invariant")
    assert(local.values.toSet == Set(hi), s"component min must be U+FFFF, got ${local.values.toSet}")
  }

  test("larger random graph matches a driver-side union-find oracle") {
    val rnd = new scala.util.Random(7)
    val n = 300
    val edges = (1 to 400).map { _ =>
      (f"n${rnd.nextInt(n)}%03d", f"n${rnd.nextInt(n)}%03d")
    }.filter(e => e._1 != e._2)
    assert(cc(edges)._1 == unionFind(edges))
  }

  for (materialize <- Seq(true, false))
    test(s"concurrent durable runs sharing a checkpointDir each match union-find (materializeAssignments=$materialize)") {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      // two same-shaped graphs with disjoint ids: a run that read the
      // other's snapshot would report the other's labels
      val rnd = new scala.util.Random(5)
      val shape = (0 until 24).map(i => (i, i + 1)) ++
        (1 to 60).map(_ => (rnd.nextInt(50), rnd.nextInt(50))).filter(e => e._1 != e._2)
      def graph(prefix: String) = shape.map { case (s, d) => (f"$prefix$s%02d", f"$prefix$d%02d") }
      val dir = java.nio.file.Files.createTempDirectory("cc_concurrent").toString
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val start = new java.util.concurrent.CyclicBarrier(2)
      try {
        val runs = Seq("a", "b").map { p =>
          Future {
            // a session per run: CC scopes SQL confs (graft.util.Confs),
            // and two runs on one session can restore each other's
            // values, leaving the shared test session with AQE off
            val s = spark.newSession()
            start.await()
            durableLabels(s, graph(p), dir, materialize)
          }
        }
        val results = runs.map(Await.result(_, 5.minutes))
        for ((p, (assign, stats)) <- Seq("a", "b").zip(results)) {
          assert(stats.iterations > 0, "distributed path must actually iterate")
          val got = assign.collect().map(r => r.getString(0) -> r.getString(1)).toMap
          assert(got == unionFind(graph(p)), s"run $p")
        }
      } finally pool.shutdown()
    }

  /** Docs and the edges between them. */
  private case class Graph(docs: Seq[String], edges: Seq[(String, String)])

  // ids above U+FFFF (surrogate pairs in Java) next to U+FFFF ids: Java's
  // UTF-16 order and Spark's code-point order disagree on them
  private val prefixes = Seq("d", "\uFFFF", "\uD83D\uDE00", "\uD835\uDD38")
  private def nonBmp(id: String) = id.codePointAt(0) > 0xFFFF

  private val genGraph: Gen[Graph] = for {
    n <- Gen.choose(4, 20)
    docs = (0 until n).map(i => f"${prefixes(i % prefixes.size)}$i%02d")
    m <- Gen.choose(0, 2 * n)
    edges <- Gen.listOfN(m, Gen.zip(Gen.oneOf(docs), Gen.oneOf(docs)))
    dups <- Gen.someOf(edges)
    loops <- Gen.someOf(docs.take(2))
  } yield Graph(docs, edges ++ dups.map(_.swap) ++ loops.map(d => (d, d)))

  for ((mode, ckpt, localFinish) <- Seq(("default", false, 100000L),
      ("localFinishEdges = 0", false, 0L), ("durable checkpointDir", true, 0L)))
    test(s"property: assign == union-find on generated graphs ($mode)") {
      val dir = if (ckpt) Some(java.nio.file.Files.createTempDirectory("cc_prop").toString) else None
      var isolated, selfLoops, duplicates, astral = 0
      val prop = Prop.forAll(genGraph) { g =>
        val onEdge = g.edges.flatMap(e => Seq(e._1, e._2)).toSet
        if (g.docs.exists(!onEdge(_))) isolated += 1
        if (g.edges.exists(e => e._1 == e._2)) selfLoops += 1
        if (g.edges.map(e => Set(e._1, e._2)).distinct.size < g.edges.size) duplicates += 1
        if (onEdge.exists(nonBmp)) astral += 1
        val (assign, _) = ConnectedComponents.assign(spark, g.docs.toDF("doc_id"),
          g.edges.toDF("doc_a", "doc_b"), dir, localFinish)
        val got = assign.collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
        val uf = unionFind(g.edges)
        // run's rows are the star forest: one row per non-min node
        // (no doc_id twice), pointing at a min (no entity_id as a doc_id)
        val (star, _) = ConnectedComponents.run(spark, g.edges.toDF("src", "dst"), dir, localFinish)
        val rows = star.collect().map(r => r.getString(0) -> r.getString(1)).toSeq
        val starForest = rows.map(_._1).distinct.size == rows.size &&
          rows.map(_._2).toSet.intersect(rows.map(_._1).toSet).isEmpty
        (got == g.docs.map(d => d -> uf.getOrElse(d, d)).sorted) :| "assign == union-find" &&
          starForest :| s"run's rows are a star forest: $rows" &&
          (rows.toMap == uf.filter { case (d, m) => d != m }) :| "star edges == non-min labels"
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12)
        .withInitialSeed(Seed(20261020L)), prop)
      assert(res.passed, res.status.toString)
      assert(isolated > 0 && selfLoops > 0 && duplicates > 0 && astral > 0,
        s"generator coverage: isolated=$isolated selfLoops=$selfLoops " +
          s"duplicates=$duplicates nonBmp=$astral")
    }

  /** Spark's string order: UTF-8 bytes, i.e. code points. */
  private val codePointOrder: Ordering[String] =
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Component-min labels (code-point order) by a classic driver-side
    * union-find.
    */
  private def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.Ordering[String].max(ra, rb)) = math.Ordering[String].min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical oracle labels: min member per root
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ms) => ms.map(_ -> ms.min(codePointOrder)) }.toMap
  }
}
