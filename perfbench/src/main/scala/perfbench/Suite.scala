package perfbench

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** `suite_sf01`: the declared queries (`SparkEntry.queries`) over the
  * sf0.1 fixture, once each, in the order the generator wrote to
  * `order.txt`. Each op builds the query's frame and collects it; every
  * output is dumped for the DuckDB oracle check.
  */
object Suite {
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  /** The graft.Bench warm-up: one query per heavy codegen family. */
  val WarmUp = Seq("q1_flagship", "agg_rollup", "window_rank")

  def run(r: RunCtx): Map[String, Any] = {
    val sf = r.opts.sf
    val queries = graft.SparkEntry.queries
    val order = java.nio.file.Files.readAllLines(r.opts.work.resolve("order.txt"))
      .asScala.toSeq.filter(_.nonEmpty)
    // each set-up: a new session, Graft.init and the first fill of every
    // fixture table's cache; the first one also runs the warm-up, which
    // pays the JVM's class loading and codegen once per run
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) spark = r.setup {
      val s = r.newSession()
      graft.Graft.init(s, sf)
      graft.Tables.names.foreach(t => graft.Tables(s, sf, t).count())
      if (rep == 1) WarmUp.foreach(q => queries(q)(s, sf).write.format("noop").mode("overwrite").save())
      s
    }
    r.timed(order.zipWithIndex.foreach { case (name, i) =>
      r.op("query", name)(queries(name)(spark, sf))(df => (df.columns.toSeq, df.collect())).foreach {
        case (cols, rows0) =>
          val rows = if (r.inject("wrong")) rows0 :+ org.apache.spark.sql.Row.fromSeq(cols.map(_ => null))
                     else rows0
          r.write(s"dumps/q$i.json", r.rowsJson(cols, rows))
          r.attachDump(s"dumps/q$i.json")
      }
    })
    r.endTimed()
    r.write("oracle.json", Json.obj(graft.SparkEntry.oracleSqlFor(Some(order.toSet))))
    Map.empty
  }
}
