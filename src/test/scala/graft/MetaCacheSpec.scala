package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[MetaCache]]'s contract: one bound over every entry with LRU
  * eviction (a key in use survives any number of one-off loads), and
  * success-only loads (a throwing loader stores nothing).
  */
class MetaCacheSpec extends AnyFunSuite {

  test("bounded: past the bound the coldest entries go, a key in use stays a hit") {
    val hot = ("metacache-spec", "hot")
    MetaCache.put(hot, "h")
    var loads = 0L
    (0L until MetaCache.Bound + 100).foreach { i =>
      assert(MetaCache(("metacache-spec", i)) { loads += 1; i } == i)
      if (i % 1000 == 0) assert(MetaCache.get[String](hot).contains("h"))
    }
    assert(loads == MetaCache.Bound + 100, "every synthetic key loads once")
    assert(MetaCache.size <= MetaCache.Bound)
    val hits = MetaCache.stats.hitCount
    assert(MetaCache.get[String](hot).contains("h"))
    assert(MetaCache.stats.hitCount == hits + 1)
    assert(MetaCache.get[Long](("metacache-spec", 0L)).isEmpty,
      "the first, never re-read key is the one evicted")
    assert(MetaCache(("metacache-spec", MetaCache.Bound + 99))(-1L) ==
      MetaCache.Bound + 99, "the newest key is still cached")
  }

  test("success-only: a failed load stores nothing and the next call loads") {
    val key = ("metacache-spec", "fails-once")
    intercept[IllegalStateException](
      MetaCache[String](key)(throw new IllegalStateException("boom")))
    assert(MetaCache.get[String](key).isEmpty)
    assert(MetaCache(key)("ok") == "ok")
    assert(MetaCache(key)("again") == "ok")
  }
}
