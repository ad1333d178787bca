// Plan dump behind plans/r20: not part of the build (sbt and perfbench
// compile only src/). Compile it against a perfbench build of a checkout and
// run it on perfbench/gen.py inputs:
//
//   java -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main -d OUT \
//     -classpath "CHECKOUT/.bench_build/graft:$SPARK_HOME/jars/*" PlanDump.scala
//   java <the build.sbt --add-opens flags> \
//     -cp "OUT:CHECKOUT/.bench_build/graft:$SPARK_HOME/jars/*" \
//     org.apache.spark.graftplans.PlanDump INPUTS WORK plans.txt OP1,OP2,...
//
// Normalize with
//   sed -E 's/#[0-9]+L?/#N/g; s/plan_id=[0-9]+/plan_id=N/g; s/@[0-9a-f]+/@H/g;
//     s/[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}/UUID/g; s/v_[0-9]+_[0-9]+/v_T_P/g;
//     s/[0-9]{13}/TS/g; s/part-[0-9]+-[0-9a-f]+\.\.\./part-P-X.../g'
// before diffing two checkouts' dumps.
package org.apache.spark.graftplans

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Dumps, for each named op, every query it runs (entry call + noop
  * materialization): the optimized logical and the executed physical plan,
  * in order. args: inputs work out op1,op2,... */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(inputs, work, out, ops) = args
    val spark = SparkSession.builder().master("local[4]").appName("plandump")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("graft.ivf.refine", "0")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.scratch.root", s"$work/scratch")
    val seen = ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.synchronized {
        seen += s"== $f: optimized ==\n${qe.optimizedPlan}\n== $f: executed ==\n${qe.executedPlan}"
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.synchronized {
        seen += s"== $f: FAILED ${e.getClass.getSimpleName} =="
      }
    })
    val sb = new StringBuilder
    for (op <- ops.split(",")) {
      seen.synchronized(seen.clear())
      val df = graft.SparkEntry.queries(op)(spark, inputs)
      df.write.format("noop").mode("overwrite").save()
      spark.sparkContext.listenerBus.waitUntilEmpty()
      sb ++= s"######## $op (${seen.size} queries)\n"
      seen.synchronized(seen.foreach(s => sb ++= s + "\n"))
    }
    Files.writeString(Paths.get(out), sb.toString)
    spark.stop()
  }
}
