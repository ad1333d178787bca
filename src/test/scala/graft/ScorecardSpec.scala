package graft

import graft.operators.Scorecard
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** G32 scoreboard specs: the digest fold's algebra (order independence,
  * sensitivity, null canon) and the coverage contract — every stream
  * gate in the registry must have a scoreboard row. */
class ScorecardSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("digest fold is row-order independent and value sensitive") {
    val cols = Seq("k" -> 'l', "s" -> 's', "x" -> 'd')
    val a = Seq((1L, "a", 1.25), (2L, "b", 0.5), (3L, null: String, 2.0))
      .toDF("k", "s", "x")
    val d1 = Scorecard.digestOf("g", a, cols).collect().head
    val d2 = Scorecard.digestOf("g", a.orderBy(col("x").desc), cols)
      .collect().head
    assert(d1 == d2, "digest must not depend on row order")
    assert(d1.getLong(1) == 3L, "n_rows")
    // one changed value moves the fingerprint
    val b = Seq((1L, "a", 1.25), (2L, "b", 0.5), (3L, null: String, 2.0001))
      .toDF("k", "s", "x")
    val d3 = Scorecard.digestOf("g", b, cols).collect().head
    assert(d3.getLong(2) != d1.getLong(2) || d3.getLong(3) != d1.getLong(3),
      "a 1e-4 value change must move the fingerprint")
    // empty frame digests to the (0, 0, 0) identity, not null
    val d0 = Scorecard.digestOf("g", a.limit(0), cols).collect().head
    assert((d0.getLong(1), d0.getLong(2), d0.getLong(3)) == ((0L, 0L, 0L)))
  }

  test("scoreboard covers every stream gate in the registry, one non-degenerate row each") {
    val registryGates = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSet
    val boardGates = Scorecard.gateCols.map(_._1).toSet
    assert(boardGates == registryGates,
      s"scoreboard/registry drift: only-board=${boardGates -- registryGates} " +
        s"only-registry=${registryGates -- boardGates}")
    val rows = Scorecard.streamScorecard(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == boardGates.toSeq.sorted, "one sorted row per gate")
    // every gate's pinned frame is non-empty on the wired corpus, and
    // the fingerprints are populated (an all-zero hash would mean the
    // canonical projection silently collapsed)
    rows.foreach { case (g, n, s, x) =>
      assert(n > 0L, s"$g digests an empty frame")
      assert(s != 0L && x != 0L, s"$g fingerprint degenerate: sum=$s xor=$x")
    }
  }
}
