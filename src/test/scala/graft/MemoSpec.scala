package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

class MemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val timeout = 10.seconds

  // one thread per caller: several callers block at once, whatever the
  // core count
  private val pool = Executors.newCachedThreadPool()
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(pool)

  override def afterAll(): Unit = pool.shutdownNow()

  test("two racing first gets of one key run the build once") {
    val memo = new Memo[String, Unit, String]
    val builds = new AtomicInteger
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val first = Future(memo.get("k", ()) {
      entered.countDown()
      release.await()
      builds.incrementAndGet()
      "first"
    })
    assert(entered.await(30, TimeUnit.SECONDS))
    val second = Future(memo.get("k", ()) {
      builds.incrementAndGet()
      "second"
    })
    Thread.sleep(200)
    assert(!second.isCompleted, "the second caller must wait for the build")
    release.countDown()
    assert(Await.result(first, timeout) == "first")
    assert(Await.result(second, timeout) == "first")
    assert(builds.get == 1)
  }

  test("a build nests a get of another key; the outer key's callers wait") {
    val memo = new Memo[String, Unit, String]
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val outer = Future(memo.get("outer", ()) {
      val inner = memo.get("inner", ())("i")
      entered.countDown()
      release.await()
      inner + "o"
    })
    assert(entered.await(30, TimeUnit.SECONDS))
    val waiter = Future(memo.get("outer", ())("never"))
    try {
      // callers of other keys do not wait for the outer build
      assert(Await.result(Future(memo.get("inner", ())("rebuilt")),
        timeout) == "i")
      assert(Await.result(Future(memo.get("other", ())("x")), timeout) == "x")
      Thread.sleep(200)
      assert(!waiter.isCompleted, "the outer key's caller must wait")
    } finally release.countDown()
    assert(Await.result(outer, timeout) == "io")
    assert(Await.result(waiter, timeout) == "io")
  }

  test("a changed fingerprint rebuilds and keeps only the new entry") {
    val memo = new Memo[String, Int, String]
    assert(memo.get("k", 1)("a") == "a")
    assert(memo.get("k", 1)("unused") == "a")
    assert(memo.get("k", 2)("b") == "b")
    assert(memo.peek("k", 2).contains("b"))
    assert(memo.peek("k", 1).isEmpty)
    // the old fingerprint's entry is gone, so returning to it rebuilds
    assert(memo.get("k", 1)("c") == "c")
    assert(memo.peek("k", 2).isEmpty)
  }

  test("peek with a stale fingerprint is None; put serves get") {
    val memo = new Memo[String, Int, String]
    assert(memo.peek("k", 1).isEmpty)
    memo.put("k", 1, "v")
    assert(memo.peek("k", 1).contains("v"))
    assert(memo.peek("k", 0).isEmpty)
    assert(memo.get("k", 1)("unused") == "v")
  }

  test("drop and dropWhere remove only the named keys") {
    val memo = new Memo[(String, Int), Unit, Int]
    for (p <- Seq("a", "b"); i <- 0 until 3) memo.put((p, i), (), i)
    memo.dropWhere(_._1 == "a")
    for (i <- 0 until 3) {
      assert(memo.peek(("a", i), ()).isEmpty)
      assert(memo.peek(("b", i), ()).contains(i))
    }
    memo.drop(("b", 1))
    assert(memo.peek(("b", 1), ()).isEmpty)
    assert(memo.peek(("b", 0), ()).contains(0))
    assert(memo.get(("b", 1), ())(9) == 9)
  }
}
