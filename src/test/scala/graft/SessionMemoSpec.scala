package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionMemoSpec extends AnyFunSuite {

  test("nested fill of two keys in one bin returns both values") {
    // 0 and 16 hash to bin 0 of a 16-slot table, where a raw
    // computeIfAbsent nested on the same map throws; the near-dup
    // clusters fill reads the pairs of its own memo in this shape
    val raw = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val e = intercept[IllegalStateException] {
      raw.computeIfAbsent(0, _ => raw.computeIfAbsent(16, _ => "inner") + "+outer")
    }
    assert(e.getMessage == "Recursive update")

    val memo = new SessionMemo[Int, String]
    assert(memo(0)(memo(16)("inner") + "+outer") == "inner+outer")
    assert(memo(16)(fail("must not refill")) == "inner")
    assert(memo(0)(fail("must not refill")) == "inner+outer")
    assert(memo.size == 2)
  }

  test("a fill that throws leaves no entry and the next call refills") {
    val memo = new SessionMemo[String, Int]
    var fills = 0
    intercept[RuntimeException](memo("k") { fills += 1; throw new RuntimeException("boom") })
    assert(memo.size == 0)
    assert(memo("k") { fills += 1; 7 } == 7)
    assert(fills == 2)
    assert(memo("k")(fail("must not refill")) == 7)
  }

  test("releaseSession frees every value once and empties the memo") {
    val freed = scala.collection.mutable.ListBuffer.empty[Int]
    val memo = new SessionMemo[String, Int](v => freed.synchronized { freed += v; () })
    memo("a")(1)
    memo("b")(2)
    intercept[RuntimeException](memo("c")(throw new RuntimeException("boom")))
    CacheScope.releaseSession()
    assert(freed.sorted == Seq(1, 2))
    assert(memo.size == 0)
    CacheScope.releaseSession()
    assert(freed.sorted == Seq(1, 2), "a second release must not free again")
    assert(memo("a")(3) == 3, "a released key refills")
  }
}
