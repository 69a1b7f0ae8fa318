package graft

import graft.cluster.ConnectedComponents
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def cc(edges: Seq[(String, String)]): Map[String, String] = {
    val (assign, _) = ConnectedComponents.run(spark, edges.toDF("src", "dst"))
    assign.collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("chain collapses to min label") {
    val got = cc(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e"))
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a"))
  }

  test("star (reversed direction) collapses") {
    val got = cc(Seq("z" -> "m", "y" -> "m", "x" -> "m"))
    assert(got.values.toSet == Set("m"))
    assert(got.keySet == Set("x", "y", "z", "m"))
  }

  test("two components stay separate") {
    val got = cc(Seq("a" -> "b", "c" -> "d"))
    assert(got("a") == "a" && got("b") == "a")
    assert(got("c") == "c" && got("d") == "c")
  }

  test("self-loop and duplicate edges are harmless") {
    val got = cc(Seq("a" -> "a", "a" -> "b", "b" -> "a", "a" -> "b"))
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
    val (distAssign, distStats) = ConnectedComponents.run(
      spark, edges.toDF("src", "dst"), localFinishEdges = 0L)
    val dist = distAssign.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(distStats.iterations > 0, "distributed path must actually iterate")
    assert(dist == cc(edges), "local union-find finish must produce the loop's fixpoint labels")
  }

  for (materialize <- Seq(true, false))
    test(s"durable runs sharing a checkpointDir stay isolated (materializeAssignments=$materialize)") {
      // A's result is read back lazily from its durable snapshots; B has
      // the same shape (so it writes as many iteration snapshots) but
      // other ids, so a shared snapshot path would hand A B's labels
      val chainA = (0 until 24).map(i => (f"a$i%02d", f"a${i + 1}%02d"))
      val chainB = chainA.map { case (s, d) => ("b" + s.tail, "b" + d.tail) }
      val dir = java.nio.file.Files.createTempDirectory("cc_shared").toString
      def durable(edges: Seq[(String, String)]) = ConnectedComponents.run(
        spark, edges.toDF("src", "dst"), checkpointDir = Some(dir),
        localFinishEdges = 0L, materializeAssignments = materialize)
      val (a, statsA) = durable(chainA)
      assert(statsA.iterations > 0, "distributed path must actually iterate")
      durable(chainB)._1.collect()
      val got = a.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == cc(chainA))
    }

  test("local finish uses UTF8 binary order, matching the loop's least()/min()") {
    // U+1F600 (surrogate pair) vs U+FFFF: Java UTF-16 order puts the
    // surrogate pair FIRST, Spark's UTF8String (code-point) order puts
    // U+FFFF first — labels must not depend on which phase finishes
    val hi = "￿"          // U+FFFF
    val emoji = "😀" // U+1F600 — code point ABOVE U+FFFF
    assert(emoji < hi, "precondition: Java order disagrees with code-point order")
    val edges = Seq((hi, emoji))
    val local = cc(edges)
    val (distAssign, _) = ConnectedComponents.run(
      spark, edges.toDF("src", "dst"), localFinishEdges = 0L)
    val dist = distAssign.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist, "labels must be phase-invariant")
    assert(local.values.toSet == Set(hi), s"component min must be U+FFFF, got ${local.values.toSet}")
  }

  test("larger random graph matches a driver-side union-find oracle") {
    val rnd = new scala.util.Random(7)
    val n = 300
    val edges = (1 to 400).map { _ =>
      (f"n${rnd.nextInt(n)}%03d", f"n${rnd.nextInt(n)}%03d")
    }.filter(e => e._1 != e._2)
    // oracle: classic union-find
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
    val oracle = byRoot.flatMap { case (_, ms) => ms.map(_ -> ms.min) }.toMap
    assert(cc(edges) == oracle)
  }
}
