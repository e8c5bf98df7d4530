package perfbench

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.{Graft, SparkEntry}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Shows that the benchmark's timed action keeps a query's whole
  * projection and its sort in the executed plan: q27's md5, regexp and
  * concat columns and its `orderBy` must all be in the plan `collect`
  * runs. For contrast it prints what survives under `count()`.
  *
  * Usage: perfbench.PlanCheck <dataDir>; exits 0 when the plan is whole.
  */
object PlanCheck {
  val Required = Seq("md5", "regexp_extract", "concat_ws", "rlike", "lower", "sort")

  def main(args: Array[String]): Unit = {
    val Array(dataDir) = args
    val spark = Graft.session(master = "local[2]", shufflePartitions = 2)
    spark.sparkContext.setLogLevel("ERROR")
    val plans = new LinkedBlockingQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.put(qe.executedPlan.toString.toLowerCase)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    def executed(run: => Any): String = {
      run
      Option(plans.poll(60, TimeUnit.SECONDS)).getOrElse(sys.error("no executed plan reported"))
    }
    val df      = SparkEntry.queries("q27_scalar_funcs")(spark, dataDir)
    val timed   = executed(Bench.timedAction(df))
    val counted = executed(df.count())
    val missing = Required.filterNot(timed.contains)
    println(s"count() keeps: ${Required.filter(counted.contains).mkString(",")}")
    println(if (missing.isEmpty) "plan-check ok" else s"plan-check missing: ${missing.mkString(",")}")
    spark.stop()
    sys.exit(if (missing.isEmpty) 0 else 1)
  }
}
