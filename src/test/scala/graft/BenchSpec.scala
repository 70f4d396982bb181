package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's printed line: the driver keeps only a bounded tail of stdout,
  * so the one JSON line must stay short with a full battery on it. */
class BenchSpec extends AnyFunSuite {

  test("stdout line carries every battery query by number within 3,000 bytes") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size == 175)
    // widest plausible leaves: every query at 999.999 s (6-digit ms), and
    // five failures whose long names also land in battery_failed
    val failed = names.sortBy(-_.length).take(5).toSet
    val times = names.map(n => n -> (if (failed(n)) -1.0 else 999.999))
    val line = Bench.stdoutLine("testdata/sf0.1", times, 999.99,
      1200000L, 4096, 4, 1, 9999.9, 9999.9, 9999.99, 9999.99)
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(bytes <= 3000, s"stdout line is $bytes bytes")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val q = root.get("q")
    assert(q.size() == 175)
    names.foreach { n =>
      val leaf = q.get(n.drop(1).takeWhile(_.isDigit).toInt.toString)
      assert(leaf.asLong() == (if (failed(n)) -1L else 999999L), n)
    }
    assert(root.get("battery_failed").size() == 5)
    assert(root.get("slowest") == null && root.get("queries_file") == null)
  }
}
