package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.io.SnapshotStore
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SnapshotStore's two-phase commit (stage, then publish) and its
  * manifest: the recorded schema, the fallback for manifests without
  * one, and the invisibility of staged snapshots.
  */
class SnapshotStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def newStore(): (String, SnapshotStore) = {
    val root = Files.createTempDirectory("snapstore").toString
    (root, new SnapshotStore(root))
  }

  /** Nested struct/array columns, some of them non-null at the source. */
  private def nested(n: Int) = spark.range(n).select(
    col("id"), // non-null
    concat(lit("d"), col("id")).as("doc_id"),
    array(struct(col("id").cast("string").as("kind"), lit(null).cast("string").as("text")))
      .as("spans"), // non-null array of structs
    struct(col("id").as("house"), array(lit("a"), lit(null).cast("string")).as("toks"))
      .as("addr"),
    when(col("id") % 2 === 0, col("id")).as("maybe"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("the recorded schema round-trips: a read equals the footer-inferred read") {
    val (root, store) = newStore()
    val df = nested(20)
    assert(!df.schema("id").nullable && !df.schema("spans").nullable)
    val id = store.commit(df, "t")
    val inferred = spark.read.parquet(Paths.get(root, "t", "data", s"snap=$id").toString)
    val read = store.read(spark, "t")
    assert(read.schema == inferred.schema)
    assert(rows(read) == rows(df))
  }

  test("the manifest is JSON with the schema, whatever the table name holds") {
    val (root, store) = newStore()
    val table = "q\"uote"
    val id = store.commit(nested(3), table)
    val m = new ObjectMapper().readTree(Paths.get(root, table, "_manifests", s"$id.json").toFile)
    assert(m.get("table").asText == table)
    assert(m.get("snapshot").asLong == id)
    assert(m.get("schema").get("fields").size == 5)
    assert(rows(store.read(spark, table)) == rows(nested(3)))
  }

  test("a manifest without a schema (older stores) still reads, by inference") {
    val (root, store) = newStore()
    store.commit(nested(5), "t")
    val manifest = Paths.get(root, "t", "_manifests", "1.json")
    Files.writeString(manifest,
      s"""{"snapshot":1,"table":"t","path":"${Paths.get(root, "t", "data", "snap=1")}"}""")
    assert(rows(store.read(spark, "t")) == rows(nested(5)))
  }

  test("a staged snapshot stays invisible until published") {
    val (_, store) = newStore()
    store.commit(nested(4), "t")
    val staged = store.stage(nested(9), "t")
    assert(staged.id == 2 && staged.written.rows == 9)
    assert(staged.df.count() == 9, "the staged frame reads the staged data back")
    assert(store.latestSnapshot("t") == Some(1L))
    assert(rows(store.read(spark, "t")) == rows(nested(4)))
    assert(store.publish(staged) == 2)
    assert(store.latestSnapshot("t") == Some(2L))
    assert(rows(store.read(spark, "t")) == rows(nested(9)))
  }

  test("a redelivered stage overwrites the orphaned snap=<id> of an unpublished attempt") {
    val (_, store) = newStore()
    store.commit(nested(4), "t")
    // the crashed attempt: staged on 6 partitions, never published
    store.stage(nested(50).repartition(6), "t")
    val redo = store.stage(nested(7).coalesce(1), "t")
    assert(redo.id == 2)
    store.publish(redo)
    assert(rows(store.read(spark, "t")) == rows(nested(7)), "orphaned files must not leak in")
  }

  test("publishing over a newer snapshot fails instead of replacing it") {
    val (_, store) = newStore()
    val a = store.stage(nested(2), "t")
    store.commit(nested(3), "t") // a second writer publishes id 1 first
    assertThrows[IllegalStateException](store.publish(a))
    assert(rows(store.read(spark, "t")) == rows(nested(3)))
  }
}
