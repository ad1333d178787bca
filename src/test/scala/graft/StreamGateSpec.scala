package graft

import graft.io.ForklessLocalFs
import graft.streaming.{EventStreams, StreamGate}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Runs one gate of each runner shape twice back to back on one session:
  * a cell fold (`stream_psi`), a memory sink (`stream_hll`) and a ledger
  * (`stream_novelty`). The second run must return the first run's rows,
  * so nothing the first run left (checkpoint, state, fold-cache entry,
  * memory table) leaks into it, and the session confs a gate scopes must
  * come back as found. */
class StreamGateSpec extends AnyFunSuite with SparkTestBase {

  private def confs = Seq("spark.sql.shuffle.partitions", ForklessLocalFs.ConfKey)
    .map(k => k -> spark.conf.getOption(k))

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  Seq("stream_psi", "stream_hll", "stream_novelty").foreach { name =>
    test(s"$name: a second run on the same session returns the first run's rows") {
      val gate = StreamGate.gates(name)
      val before = confs
      val first = rows(gate(spark, sfDir))
      val second = rows(gate(spark, sfDir))
      assert(first.nonEmpty, s"$name returned no rows")
      assert(second == first, s"$name: the second run diverged")
      assert(confs == before, s"$name changed the session confs")
    }
  }

  test("deleting a gate root drops its fold-cache entries") {
    val root = Tables.scratch(spark, "graft_stream/psi")
    def cached = EventStreams.cachedFolds.filter(_.startsWith(root + "/"))
    StreamGate.gates("stream_psi")(spark, sfDir).collect()
    assert(cached.nonEmpty, "the fold gate cached no generation")
    StreamGate.fresh(spark, "psi")
    assert(cached.isEmpty, s"entries survived their deleted root: $cached")
  }
}
