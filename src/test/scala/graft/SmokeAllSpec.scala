package graft

/** Executes EVERY gate query end-to-end at the smoke SF. The oracle
  * gate (tools/check.py / the driver) runs at sf0.01; this catches the
  * class of failure a different scale can provoke — empty strata,
  * empty buckets, degenerate bounds — before the driver does. */
class SmokeAllSpec extends SparkSpecBase {

  /** The smoke fixture, sf0.001, beside the oracle's sf0.01 one. */
  private val dir = java.nio.file.Paths.get(Tables.VerifySfDir)
    .resolveSibling("sf0.001").toString

  test("every gate query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        try { fn(spark, dir).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("gates sharing an oracle return the same rows") {
    // Gates whose oracle SQL is the same text answer the same question
    // (a batch gate and its stream twin, or two formulations of one
    // census), so their rows must be equal, not merely each equal to
    // the oracle at the scale the oracle runs at.
    val groups = SparkEntry.oracleSql.toSeq.groupBy(_._2).values
      .map(_.map(_._1).sorted).filter(_.size > 1).toSeq.sortBy(_.head)
    assert(groups.size >= 23, groups.mkString("\n"))
    val mismatches = groups.flatMap { names =>
      val results = names.map { n =>
        val df = SparkEntry.queries(n)(spark, dir)
        n -> (df.columns.toSeq, df.collect().map(_.toSeq).toSeq)
      }
      val (first, want) = results.head
      results.tail.collect { case (n, got) if got != want =>
        s"$n != $first:\n  ${got._1} ${got._2.take(5)}\n" +
          s"  ${want._1} ${want._2.take(5)}"
      }
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }
}
