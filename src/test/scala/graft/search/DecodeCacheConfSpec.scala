package graft.search

import org.scalatest.funsuite.AnyFunSuite

/** Pure pins for the `spark.graft.decodeCacheMb` parse — no Spark. */
class DecodeCacheConfSpec extends AnyFunSuite {

  test("decodeCacheMb: unset is 128 MB, whole MB values convert to bytes") {
    assert(Kernel.decodeCacheMbBytes(None) == 128L * 1024 * 1024)
    assert(Kernel.decodeCacheMbBytes(Some("64")) == 64L * 1024 * 1024)
    assert(Kernel.decodeCacheMbBytes(Some(" 1 ")) == 1024L * 1024)
    assert(Kernel.decodeCacheMbBytes(Some("0")) == 0L)
  }

  test("decodeCacheMb: non-numeric, negative and overflowing values name key and value") {
    for (bad <- Seq("lots", "1.5", "", "-1", "-128", Long.MaxValue.toString)) {
      val e = intercept[IllegalArgumentException](Kernel.decodeCacheMbBytes(Some(bad)))
      assert(e.getMessage.contains("spark.graft.decodeCacheMb"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
