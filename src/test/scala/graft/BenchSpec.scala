package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's result lines: the stdout line the caller captures holds the
  * contract scalars only, the file line keeps both per-query maps. */
class BenchSpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keys.toSeq.sorted
  // full-precision doubles: the longest numbers a run can print
  private val results = names.zipWithIndex.map { case (n, i) =>
    (n, 1234.5678901234567 + i / 7.0, 987.6543210987654 + i / 3.0)
  }

  test("the stdout line is scalars only and at most 1900 bytes over every query") {
    assert(names.size >= 238)
    Seq(Nil, names.take(3)).foreach { failed =>
      val (out, file) = Bench.resultLines(results, 12.345678901234567,
        "/root/testdata/sf0.1", 3, failed)
      assert(out.getBytes("UTF-8").length <= 1900, s"${out.length} bytes")
      assert(out.count(_ == '{') == 1, out)
      Seq("metric", "value", "total_min", "noise_ratio", "calib_sec", "sf", "reps", "failed")
        .foreach(k => assert(out.contains(s""""$k":"""), s"$k missing from $out"))
      failed.foreach(n => assert(out.contains(s""""$n"""")))
      assert(file.startsWith(out.dropRight(1) + ","))
      names.foreach(n => assert(file.split(s""""$n":""", -1).length == 3, n))
    }
  }
}
