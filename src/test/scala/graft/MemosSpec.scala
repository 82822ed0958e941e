package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

object MemosSpec {
  /** `body`'s result and everything it printed to stderr. */
  def stderrOf[T](body: => T): (T, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try {
      val r = body
      (r, buf.toString("UTF-8"))
    } finally System.setErr(old)
  }
}

class MemosSpec extends AnyFunSuite {
  import MemosSpec.stderrOf

  test("racing getOrBuild: both callers get the winner, the losing build is released once") {
    val released = new ConcurrentLinkedQueue[AnyRef]()
    val memo = new BoundedMemo[String, AnyRef](4, "race-spec", v => released.add(v))
    // each build waits until both are in flight, so both callers missed
    val bothBuilding = new CountDownLatch(2)
    def build(): AnyRef = {
      bothBuilding.countDown()
      assert(bothBuilding.await(30, TimeUnit.SECONDS), "the two builds never overlapped")
      new Object
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = memo.getOrBuild("k")(build())
      }))
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(got(0) eq got(1), "both callers must see the one stored value")
      assert(released.size == 1, s"released: ${released.asScala.toList}")
      assert(!(released.peek eq got(0)), "the winner must not be released")
      assert(memo.getOrBuild("k")(new Object) eq got(0))
    } finally pool.shutdownNow()
  }

  test("clearAll empties independently constructed memos, releasing each value with onClear") {
    val cleared = new ConcurrentLinkedQueue[String]()
    val a = new BoundedMemo[String, String](4, "clear-spec-a", onClear = v => cleared.add(v))
    val b = new BoundedMemo[Int, String](4, "clear-spec-b", onClear = v => cleared.add(v))
    assert(a.getOrBuild("k")("a1") == "a1")
    assert(b.getOrBuild(1)("b1") == "b1")
    BoundedMemo.clearAll()
    assert(cleared.asScala.toSet == Set("a1", "b1"))
    assert(a.getOrBuild("k")("a2") == "a2", "a cleared memo must rebuild")
    assert(b.getOrBuild(1)("b2") == "b2", "a cleared memo must rebuild")
  }

  test("trace lines keep the [memo] <name> hit|miss key= shape; a failing release is reported") {
    val memo = new BoundedMemo[String, Int](1, "trace-spec",
      onEvict = _ => throw new IllegalStateException("boom"))
    val (_, err) = stderrOf {
      memo.getOrBuild("k")(1)
      memo.getOrBuild("k")(2)
      memo.getOrBuild("j")(3) // capacity 1: evicts k, whose hook throws
    }
    val lines = err.linesIterator.filter(_.startsWith("[memo] trace-spec ")).toList
    assert(lines == List(
      "[memo] trace-spec miss key=k",
      "[memo] trace-spec hit key=k",
      "[memo] trace-spec miss key=j",
      "[memo] trace-spec evict key=k",
      "[memo] trace-spec release-failed key=k: java.lang.IllegalStateException: boom"),
      err)
  }
}
