package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Runs one workload in one JVM and writes raw records for run.py.
  *
  * Arguments (all required):
  *   --data DIR      scale-factor directory handed to every query
  *   --orders FILE   one comma-separated query order per line; line 1 is
  *                   the warm-up pass, timed pass p uses line 1 + p
  *                   (cycling over the lines after the first)
  *   --passes N      timed passes after the warm-up pass
  *   --trace 0|1     1: timed passes run in blocks of untagged, tagged,
  *                   tagged, untagged, so the tracing overhead is measured
  *                   without the bias of a JVM that is still warming up;
  *                   N is then a multiple of 4
  *   --out FILE      JSON-lines output
  *
  * Every query is built through `SparkEntry.queries` and materialized
  * through the `noop` sink, which computes every column of every row.
  * The warm-up pass also records each result's fingerprint and the node
  * counts of the query's own optimized plan, for the result check and the
  * plan-pruning check.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val orders = Files.readAllLines(Paths.get(opt("orders"))).asScala
      .map(_.split(",").toSeq).toIndexedSeq
    val (data, passes, trace) = (opt("data"), opt("passes").toInt, opt("trace") == "1")
    val out = Files.newBufferedWriter(Paths.get(opt("out")))
    def emit(line: String): Unit = { out.write(line); out.newLine() }
    import Recorder.{obj, str}

    val rec = new Recorder
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.addSparkListener(rec)
    if (trace) {
      spark.listenerManager.register(rec.planListener)
      spark.streams.addListener(rec.streamListener)
    }
    val queries = SparkEntry.queries
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    def jitMs = jit.getTotalCompilationTime
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
    /** Old-generation occupancy after a full collection: what a pass left
      * live. Run between passes, outside their timing. */
    def oldAfterGc(): Long = {
      System.gc()
      oldGen.map(_.getCollectionUsage.getUsed).sum
    }

    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    var qid = 0
    def runQuery(name: String, pass: Int, tagged: Boolean, check: Boolean): Unit = {
      qid += 1
      def tag(phase: String)(body: => Unit): Unit =
        if (!tagged) body
        else {
          val t = s"pb:$qid:$phase"
          sc.addJobTag(t)
          try body finally sc.removeJobTag(t)
        }
      val (gc0, jit0, w0, t0) = (gcMs, jitMs, System.currentTimeMillis, System.nanoTime)
      var (t1, t2) = (t0, t0)
      var err: Option[String] = None
      var extra = Seq.empty[(String, String)]
      try {
        var df: DataFrame = null
        tag("b") { df = queries(name)(spark, data) }
        t1 = System.nanoTime
        tag("a") { df.write.format("noop").mode("overwrite").save() }
        t2 = System.nanoTime
        if (check) extra = fingerprint(df) :+ ("logical" -> logicalCounts(df.queryExecution.optimizedPlan))
      } catch {
        case e: Throwable => err = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      } finally clearCaches()
      val t3 = System.nanoTime
      emit(obj(Seq("ev" -> str("q"), "qid" -> qid.toString, "name" -> str(name),
        "pass" -> pass.toString, "traced" -> tagged.toString,
        "w0" -> w0.toString, "w1" -> System.currentTimeMillis.toString,
        "build_ns" -> (t1 - t0).toString, "action_ns" -> (t2 - t1).toString,
        "wall_ns" -> (t3 - t0).toString,
        "gc_ms" -> (gcMs - gc0).toString, "jit_ms" -> (jitMs - jit0).toString,
        "err" -> err.map(str).getOrElse("null")) ++ extra: _*))
    }

    def runPass(pass: Int, tagged: Boolean): Unit = {
      val order = if (pass == 0) orders.head else orders(1 + (pass - 1) % (orders.size - 1))
      val (gc0, jit0, w0, t0) = (gcMs, jitMs, System.currentTimeMillis, System.nanoTime)
      order.foreach(runQuery(_, pass, tagged, check = pass == 0))
      val (wall, w1, gc, jitted) = (System.nanoTime - t0, System.currentTimeMillis, gcMs - gc0, jitMs - jit0)
      emit(obj("ev" -> str("pass"), "pass" -> pass.toString, "traced" -> tagged.toString,
        "w0" -> w0.toString, "w1" -> w1.toString, "wall_ns" -> wall.toString,
        "gc_ms" -> gc.toString, "jit_ms" -> jitted.toString,
        "old_after_gc_b" -> oldAfterGc().toString))
    }

    runPass(0, tagged = true)
    val timedStart = System.currentTimeMillis
    emit(obj("ev" -> str("setup"), "timed_start_ms" -> timedStart.toString,
      "cores" -> cores.toString))
    for (pass <- 1 to passes)
      runPass(pass, tagged = trace && (pass % 4 == 2 || pass % 4 == 3))
    spark.stop() // drains the listener bus
    rec.lines.asScala.foreach(emit)
    out.close()
    sys.exit(0)
  }

  /** Row count, schema and an order-insensitive checksum: the exact sum
    * of per-row xxhash64 values, with double columns rounded to 9
    * significant digits so last-bit differences between runs do not show
    * (doubles nested in arrays or structs are hashed as they are). */
  def fingerprint(df: DataFrame): Seq[(String, String)] = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType =>
          val d = c.cast(DoubleType)
          when(d === 0.0, lit("0")).otherwise(format_string("%.8e", d))
        case _ => c
      }
    }
    val hash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(hash.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    Seq("rows" -> r.getLong(0).toString,
      "sum" -> Recorder.str(Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")),
      "schema" -> Recorder.str(df.schema.simpleString))
  }

  def logicalCounts(plan: LogicalPlan): String = {
    def n(p: PartialFunction[LogicalPlan, Unit]) = plan.collectWithSubqueries(p).size.toString
    Recorder.obj("windows" -> n { case _: Window => }, "aggregates" -> n { case _: Aggregate => },
      "joins" -> n { case _: Join => }, "generates" -> n { case _: Generate => })
  }
}
