package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan

/** Session extension of traced runs: a no-op query-stage preparation
  * rule that notes, each time a query is prepared for execution, which
  * program source file called the action. It runs on the calling
  * thread, so it sees the caller's stack even where Spark stamps jobs
  * with another call site (a streaming query stamps every job of every
  * micro-batch with the site that started the stream). */
class TraceExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit =
    e.injectQueryStagePrepRule(_ => CallSiteRule)
}

object CallSiteRule extends Rule[SparkPlan] {
  @volatile var enabled = false
  /** (epoch ms, program files on the stack) per prepared query. */
  val events = new ConcurrentLinkedQueue[(Long, Seq[String])]()

  def apply(plan: SparkPlan): SparkPlan = {
    if (enabled) {
      val files = Trace.sourceFiles(
        Thread.currentThread.getStackTrace.mkString("\n"))
      if (files.nonEmpty) events.add((System.currentTimeMillis, files))
    }
    plan
  }
}
