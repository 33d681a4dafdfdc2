package graftbench

import org.apache.spark.sql.Row

/** Shows that each output check passes on correct rows and fails when one
  * row is perturbed. Run with `python3 perfbench/run.py --selftest`; exits
  * non-zero if any check misbehaves. */
object SelfTest {
  private var bad = 0

  private def expect(name: String, passes: Seq[String], fails: Seq[String]): Unit = {
    val ok = passes.isEmpty && fails.nonEmpty
    if (!ok) bad += 1
    println(s"selftest $name: ${if (ok) "ok" else "FAILED"}" +
      s" (correct rows: ${if (passes.isEmpty) "pass" else passes.mkString}," +
      s" perturbed row: ${fails.headOption.getOrElse("pass")})")
  }

  /** Change one tab-separated field of one row. */
  private def perturb(rows: Seq[String], row: Int, field: Int, f: String => String): Seq[String] =
    rows.updated(row, {
      val c = rows(row).split("\t", -1)
      c.updated(field, f(c(field))).mkString("\t")
    })

  def main(args: Array[String]): Unit = {
    // fixture rows against the frozen q30 golden values
    val fixture = AudioCheck.fixtureRows.map(_ + "\tmd5")
    expect("fixture rows vs q30Sql", AudioCheck.fixture(fixture),
      AudioCheck.fixture(perturb(fixture, 0, 3, v => (v.toLong + 1).toString)))

    // generated rows against the serial replay digest
    val files = Gen.longform(7L, 4, 20.0).map(_.replay)
    val expected = Replay.rows(files)
    require(expected.nonEmpty, "the small corpus produced no rows")
    expect("generated rows vs serial replay", AudioCheck.diff("rows", expected, expected),
      AudioCheck.diff("rows", perturb(expected, 0, 2, _ + " x"), expected))

    // q372 canonical hash: equal for reordered rows, different for a
    // perturbed cell
    val rows = Seq(Row(0L, "docs_total", 10L, null, null, null, null),
      Row(1L, null, null, 0L, 3L, 2048L, "abc"))
    val h = Curation.canonical(rows)
    println(s"canonical-hash $h")
    def cmp(other: Seq[Row]) = if (Curation.canonical(other) == h) Nil else Seq("hash differs")
    expect("q372 result hash", cmp(rows.reverse),
      cmp(Seq(rows(0), Row(1L, null, null, 0L, 3L, 2047L, "abc"))))

    sys.exit(if (bad == 0) 0 else 1)
  }
}
