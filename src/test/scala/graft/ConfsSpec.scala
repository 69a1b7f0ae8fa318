package graft

import graft.util.Confs.withConfs
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** graft.util.Confs: conf windows restore the session however they
  * overlap — nested on one thread, shared across threads, or refused on
  * a cross-thread conflict.
  */
class ConfsSpec extends AnyFunSuite {
  private val mode = "spark.sql.codegen.factoryMode"
  private val parts = "spark.sql.shuffle.partitions"

  /** A session of its own, so no other suite's window is in the way. */
  private def session(): SparkSession = SparkSuite.spark.newSession()

  private def explicit(s: SparkSession, k: String): Option[String] = s.conf.getAll.get(k)

  private def await(l: CountDownLatch): Unit =
    assert(l.await(60, TimeUnit.SECONDS), "the other thread did not get there")

  /** Runs `body` on a thread of its own. */
  private def onThread[T](body: => T): Future[T] = Future(body)(ExecutionContext.global)

  private def result[T](f: Future[T]): T = Await.result(f, 60.seconds)

  test("nested windows on one thread restore like a stack, and unset what was unset") {
    val s = session()
    s.conf.set(parts, "7")
    withConfs(s)(mode -> "NO_CODEGEN", parts -> "3") {
      assert(explicit(s, mode).contains("NO_CODEGEN"))
      withConfs(s)(mode -> "CODEGEN_ONLY") {
        assert(explicit(s, mode).contains("CODEGEN_ONLY"))
        assert(explicit(s, parts).contains("3"))
      }
      assert(explicit(s, mode).contains("NO_CODEGEN"))
    }
    assert(explicit(s, mode).isEmpty, "a key that was not set is unset again")
    assert(explicit(s, parts).contains("7"))
  }

  test("overlapping windows on two threads share a value; the last to close restores") {
    val s = session()
    s.conf.set(parts, "7")
    val (aOpen, bOpen, aClosed) = (new CountDownLatch(1), new CountDownLatch(1),
      new CountDownLatch(1))
    // A opens, B opens, A closes while B is still inside, B closes
    val a = onThread {
      withConfs(s)(mode -> "NO_CODEGEN", parts -> "3") {
        aOpen.countDown()
        await(bOpen)
      }
      aClosed.countDown()
    }
    val b = onThread {
      await(aOpen)
      withConfs(s)(mode -> "NO_CODEGEN", parts -> "3") {
        bOpen.countDown()
        await(aClosed)
        (explicit(s, mode), explicit(s, parts))
      }
    }
    result(a)
    assert(result(b) == (Some("NO_CODEGEN"), Some("3")),
      "A's close must not restore while B's window is open")
    assert(explicit(s, mode).isEmpty, "B's close restores the value from before A opened")
    assert(explicit(s, parts).contains("7"))
  }

  test("a different value from another thread is refused, naming the key") {
    val s = session()
    val partsBefore = explicit(s, parts)
    val (aOpen, bDone) = (new CountDownLatch(1), new CountDownLatch(1))
    val a = onThread {
      withConfs(s)(mode -> "NO_CODEGEN") {
        aOpen.countDown()
        await(bDone)
        explicit(s, mode)
      }
    }
    await(aOpen)
    val other = session()
    val e = try {
      // an isolated session never conflicts
      withConfs(other)(mode -> "CODEGEN_ONLY") {
        assert(explicit(other, mode).contains("CODEGEN_ONLY"))
      }
      intercept[IllegalStateException] {
        withConfs(s)(parts -> "5", mode -> "CODEGEN_ONLY")(fail("the window opened"))
      }
    } finally bDone.countDown()
    assert(e.getMessage.contains(mode))
    assert(result(a).contains("NO_CODEGEN"), "the refused window changed A's value")
    assert(explicit(s, mode).isEmpty)
    assert(explicit(s, parts) == partsBefore, "a refused window sets nothing")
    assert(explicit(other, mode).isEmpty)
  }
}
