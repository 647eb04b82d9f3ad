package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Benchmark harness: one closed-loop client driving one workload
  * through the library's public entry points (`SparkEntry.queries`,
  * `Graft.sql`) at `local[cpus]`.
  *
  *   Main --workload <suite_sf01|ingest_mutate> --work <dir>
  *        --trace <0|1> --sf <fixture dir> [--inject <wrong|throw>]
  *
  * Inputs are the files a seeded generator wrote into `--work`; the
  * harness writes `result.json` there: set-up samples, one record per
  * timed operation (with the exception class and message when it
  * failed), output dumps for the oracle check, and, when traced, the
  * per-layer counters. Outputs are checked outside every timed span.
  */
object Main {
  final case class Opts(workload: String, work: Path, trace: Boolean, sf: String,
                        inject: String)

  final case class Op(round: Int, kind: String, name: String, buildS: Double,
                      execS: Double, error: Option[String], dump: Option[String])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), Paths.get(kv("work")).toAbsolutePath,
      kv.get("trace").contains("1"), kv.getOrElse("sf", ""), kv.getOrElse("inject", ""))
    val run = new RunCtx(opts)
    val extra: Map[String, Any] = opts.workload match {
      case "suite_sf01" => Suite.run(run)
      case "ingest_mutate" => Ingest.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    run.finish(extra)
  }
}

/** State of one benchmark run: the Spark context shared by the set-up
  * sessions, the optional tracer, and the recorded operations.
  */
final class RunCtx(val opts: Main.Opts) {
  import Main._

  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val trace: Option[Trace] = if (opts.trace) Some(new Trace) else None
  val ops = ArrayBuffer[Op]()
  val setups = ArrayBuffer[Double]()
  private val heap = new HeapWatch
  private var timing = false
  private var compiles, lruBuilds = 0L

  /** The round the next timed operations belong to: a workload that
    * repeats its script runs it in rounds 1, 2, …
    */
  var round = 1

  val base: SparkSession = graft.Tuned(SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"perfbench-${opts.workload}")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", opts.work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString))
    .getOrCreate()
  base.sparkContext.setLogLevel("ERROR")
  trace.foreach(base.sparkContext.addSparkListener)

  /** A fresh session on the shared context, with every cached table of
    * the previous set-up dropped so each set-up pays its own fills.
    */
  def newSession(): SparkSession = {
    base.catalog.clearCache()
    base.newSession()
  }

  /** Runs `body` as one set-up repetition and records its wall time. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setups += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Runs `body`, a workload's timed operations, with `op` recording.
    * The listener counts only the timed calls' job groups; the
    * process-wide codegen and cache counters count inside `body` only.
    */
  def timed(body: => Unit): Unit = {
    val (cg0, _) = Trace.codegen()
    val lru0 = Trace.lruBuilds()
    timing = true
    try body finally {
      timing = false
      compiles += Trace.codegen()._1 - cg0
      lruBuilds += Trace.lruBuilds() - lru0
    }
  }

  /** Marks the end of the timed operations and reads the per-layer
    * counters, before the workload's untimed follow-up work.
    */
  def endTimed(): Unit = layers = trace.map { t =>
    t.drain()
    t.snapshot() ++ Map(
      "frontdoor.build_s" -> ops.map(_.buildS).sum,
      "frontdoor.eager_jobs" -> t.jobs(_.startsWith("build|")).toDouble,
      "exec.execute_s" -> ops.map(_.execS).sum,
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_s" -> compiles * Trace.codegen()._2,
      "cache.lru_builds" -> lruBuilds.toDouble,
      "cache.persisted_mb" -> base.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0),
      "setup.first_s" -> setups.headOption.getOrElse(0.0))
  }
  private var layers: Option[Map[String, Double]] = None

  /** Runs one operation: `build` constructs the frame (any job it fires
    * is an eager job of the front door), `exec` runs the action. Inside
    * `timed` the op is recorded and the action's value returned, or None
    * when either step threw, with the exception class and message
    * recorded. Outside it (a warm-up) the op runs unrecorded, returns
    * None, and an exception ends the run.
    */
  def op[D, R](kind: String, name: String)(build: => D)(exec: D => R): Option[R] = {
    if (!timing) { exec(build); return None }
    val sc = base.sparkContext
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      sc.setJobGroup(s"build|$name", name)
      if (inject("throw")) throw new IllegalStateException("injected throwing op")
      val d = build
      t1 = System.nanoTime()
      sc.setJobGroup(s"exec|$name", name)
      val r = exec(d)
      val t2 = System.nanoTime()
      ops += Op(round, kind, name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, None, None)
      println(f"perfbench op $kind/$name ${(t2 - t0) / 1e9}%.3f s")
      Some(r)
    } catch {
      case NonFatal(e) =>
        val t2 = System.nanoTime()
        val cause = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}"
        ops += Op(round, kind, name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, Some(cause), None)
        None
    } finally sc.clearJobGroup()
  }

  /** Attaches an output dump (a file under the work dir) to the last op. */
  def attachDump(rel: String): Unit = ops(ops.size - 1) = ops.last.copy(dump = Some(rel))

  /** True once per run when `--inject <kind>` asks for that fault. */
  private var injected = false
  def inject(kind: String): Boolean =
    if (!injected && opts.inject == kind) { injected = true; true } else false

  def write(rel: String, text: String): Unit = {
    val p = opts.work.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }

  def finish(extra: Map[String, Any]): Unit = {
    val conf = base.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.driver")
    }
    val header = Map[String, Any](
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_confs" -> conf,
      "tuned_defaults" -> graft.Tuned.defaults.toMap)
    val json = Json.obj(Map(
      "workload" -> opts.workload,
      "header" -> header,
      "setup_s" -> setups.toSeq,
      "peak_heap_mb" -> heap.peakMb,
      "ops" -> ops.toSeq.map(o => Map(
        "round" -> o.round, "kind" -> o.kind, "name" -> o.name, "build_s" -> o.buildS, "exec_s" -> o.execS,
        "error" -> o.error, "dump" -> o.dump)),
      "layers" -> layers.getOrElse(Map.empty),
      "extra" -> extra))
    write("result.json", json)
    base.stop()
  }

  /** Canonical JSON of collected rows, for the oracle check. */
  def rowsJson(columns: Seq[String], rows: Array[Row]): String =
    s"""{"columns":${Json.arr(columns.map(Json.str))},"rows":[${rows.map(r => Json.arr(r.toSeq.map(Json.cell))).mkString(",")}]}"""
}

/** Peak heap in use right after a collection, over the whole run: the
  * live-data high-water mark, read from GC notifications.
  */
final class HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${any(v)}" }.mkString("{", ",", "}")

  def any(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => any(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => arr(xs.map(any))
    case other => str(other.toString)
  }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** One result cell, typed so the checker can canonicalize both engines
    * alike: integers stay integers, floats widen to double, dates and
    * timestamps become ISO text (timestamps in UTC, micros when non-zero).
    */
  def cell(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case t: java.sql.Timestamp => ts(t.toInstant)
    case t: java.time.Instant => ts(t)
    case t: java.time.LocalDateTime => ts(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => str(b.map("%02x".format(_)).mkString)
    case s: String => str(s)
    case xs: scala.collection.Seq[_] => arr(xs.map(cell))
    case r: Row => arr(r.toSeq.map(cell))
    case other => str(other.toString)
  }

  private def ts(i: java.time.Instant): String = {
    val ldt = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    val micros = ldt.getNano / 1000
    str(tsFmt.format(ldt) + (if (micros != 0) f".$micros%06d" else ""))
  }
}
