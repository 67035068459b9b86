package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's `queries_part` lines: short enough for a line-bounded
  * reader, and together the full line's per-query map. */
class BenchSpec extends AnyFunSuite {

  private val Entry = "\"([^\"]+)\":(-?[0-9.]+)".r

  /** The `"name":value` entries of a `{...}` map, in order. */
  private def entries(map: String): Seq[(String, String)] =
    Entry.findAllMatchIn(map).map(m => m.group(1) -> m.group(2)).toSeq

  test("queries_part lines stay under the bound and join back into the " +
      "full line's per-query map, in order") {
    val rnd = new scala.util.Random(5)
    val medians = (0 until 176).map(i =>
      f"q$i%03d_${"x" * rnd.nextInt(40)}" -> (if (i % 50 == 7) -1.0 else rnd.nextDouble() * 90))
    // the full line's map, built as Bench.main builds it
    val full = medians.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val parts = Bench.queryParts(medians)
    assert(parts.size > 1, parts)
    assert(parts.forall(_.length <= Bench.PartChars), parts.map(_.length))
    parts.zipWithIndex.foreach { case (p, i) =>
      assert(p.startsWith(
        s"""{"metric":"queries_part","part":${i + 1},"parts":${parts.size},"queries":{"""), p)
      assert(p.endsWith("}}"), p)
    }
    val joined = parts.flatMap(p => entries(p.substring(p.indexOf("\"queries\":"))))
    assert(joined == entries(full))
    assert(joined.map(_._1) == medians.map(_._1))
  }

  test("queries_part: no entries give no lines; an entry longer than the " +
      "bound gets a line of its own") {
    assert(Bench.queryParts(Seq.empty).isEmpty)
    val long = "q" * 200
    val parts = Bench.queryParts(Seq("a" -> 1.0, long -> 2.0, "b" -> 3.0), maxChars = 150)
    assert(parts.size == 3, parts)
    assert(parts.map(p => entries(p.substring(p.indexOf("\"queries\":"))).map(_._1)) ==
      Seq(Seq("a"), Seq(long), Seq("b")))
  }
}
