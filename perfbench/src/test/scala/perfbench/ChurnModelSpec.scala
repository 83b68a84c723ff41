package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChurnModelSpec extends AnyFunSuite {

  test("a keyed rewrite as delete plus insert in one version lands the new row") {
    val m = new ChurnModel
    m.put(1L, 10L, 5); m.put(2L, 20L, 5)
    // listed insert-first: the model must still apply the removal first
    m.applyFeed(Seq((1L, 7L, false, 11L), (1L, 7L, true, 10L)))
    assert(m.hashes == Map(1L -> 11L, 2L -> 20L))
  }

  test("versions apply in order whatever order the batch lists them") {
    val m = new ChurnModel
    m.applyFeed(Seq((5L, 3L, true, 0L), (5L, 2L, false, 50L), (6L, 2L, false, 60L)))
    assert(m.hashes == Map(6L -> 60L))
  }

  test("diff names the keys that differ in either direction") {
    val m = new ChurnModel
    m.put(1L, 10L, 3); m.put(2L, 20L, 3)
    assert(m.diff(Map(1L -> 10L, 2L -> 20L)).isEmpty)
    assert(m.diff(Map(1L -> 99L, 3L -> 30L)).toSet == Set(1L, 2L, 3L))
  }

  test("user bytes count live rows only") {
    val m = new ChurnModel
    m.put(1L, 10L, 7); m.put(2L, 20L, 5); m.delete(1L)
    assert(m.size == 1 && m.userBytes == 5L)
  }
}
