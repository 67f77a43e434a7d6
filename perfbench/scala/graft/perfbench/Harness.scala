package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, queries}

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  * A closed-loop client: rows run one at a time, each waiting for the
  * previous one to finish. The session is configured as `graft.Bench`
  * configures it (`local[k]`, shuffle partitions = k, UI off). Every query
  * row is timed through a noop-shaped write that also fingerprints the
  * result (see [[Fingerprint]]), so the timed execution is the checked one.
  *
  * Phases, all recorded into one JSON record (`out=` in the plan file):
  *  1. set-up, repeated `setups` times, each on a fresh session: wipe the
  *     staged intermediates, touch every table's parquet footer, build the
  *     stream scaffolding the rows drain (`scaffold=`). The first set-up is
  *     timed from process launch;
  *  2. timed passes, whole ones, until `seconds` have elapsed: the
  *     workload's stage rows first, in `queries.Stages` order, each built
  *     cold, then its query rows in the order given (the seed's). The first
  *     pass runs in a cold JVM: nothing warms codegen or the JIT beforehand,
  *     so a pass costs what one pass of these rows costs a fresh process.
  *     With `trace=1` the listeners of [[Tracer]] record every pass.
  *
  * The plan file is `key=value` lines written by `run.py`.
  */
object Harness {

  private val Tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  final case class Row(name: String, kind: String, pass: Int, traced: Boolean,
                       t0: Double, t1: Double,
                       construct: (Double, Double), action: (Double, Double),
                       analysis: Option[(Double, Double)],
                       error: Option[String], fingerprint: Option[String],
                       absorbedStages: Seq[String],
                       heapMb: Double)

  /** `settleMs`: time spent settling the heap for its row-boundary reading
    * ([[Residue.settledHeapMb]]), a cost of the measurement that pass wall
    * time leaves out. */
  final case class Pass(index: Int, traced: Boolean, t0: Double, t1: Double, cpuS: Double,
                        settleMs: Double)

  /** CPU seconds this JVM has used, all threads: tasks, planning, JIT and
    * GC. Unlike wall time it does not grow while the process waits for a
    * CPU another tenant of the machine holds. */
  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Epoch milliseconds with nanosecond resolution: listener events carry
    * epoch-ms stamps, rows are timed with `nanoTime`, and both land on one
    * axis through this anchor. */
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val plan = scala.io.Source.fromFile(args(0)).getLines()
      .filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    def list(k: String) = plan.getOrElse(k, "").split(',').filter(_.nonEmpty).toSeq
    val sfDir = plan("sf")
    val cores = plan("cores").toInt
    val seconds = plan("seconds").toDouble
    val trace = plan("trace") == "1"
    val stageNames = list("stages")
    val scaffold = list("scaffold")
    val rowNames = list("rows")
    val nSetups = plan("setups").toInt

    val unknown = (stageNames ++ scaffold).filterNot(queries.Stages.all.toMap.contains) ++
      rowNames.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(", ")}")
    val builders = queries.Stages.all.toMap
    val fns = SparkEntry.queries

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", plan("warehouse"))
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---- 1. set-up, repeated, each on a fresh session ---------------------
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until nSetups) {
      val t0 = if (i == 0) plan("launch_ms").toDouble else now()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session()
      queries.wipeStages()
      for (t <- Tables)
        noop(queries.table(spark, sfDir, t).limit(1))
      for (n <- scaffold) builders(n)(spark, sfDir)
      Residue.clear(spark)
      queries.drainStageLog()
      setups += now() - t0
    }

    // ---- 2. timed passes -------------------------------------------------
    val tracer = new Tracer(spark)
    val rows = ArrayBuffer.empty[Row]
    val passes = ArrayBuffer.empty[Pass]
    var stageDirs = Seq.empty[String]
    val deadline = now() + seconds * 1000
    var pass = 0
    if (trace) tracer.attach()
    while (pass == 0 || now() < deadline) {
      // stage rows build cold in every pass: drop what the last pass built
      stageDirs.foreach(queries.wipeStageDir(spark, _))
      val p0 = now()
      val cpu0 = processCpuS()
      val built = ArrayBuffer.empty[String]
      var settleMs = 0.0
      def timeRow(name: String, kind: String)
                 (construct: () => Option[DataFrame]): Unit = {
        queries.drainStageLog()
        if (trace) spark.sparkContext.setJobGroup(Tracer.group(pass, name), name)
        val t0 = now()
        var c1 = t0
        var error: Option[String] = None
        var fingerprint: Option[String] = None
        var analysis: Option[(Double, Double)] = None
        try {
          val df = construct()
          c1 = now()
          // a Dataset is analyzed as it is built, inside the construct
          // span, and no listener sees that phase: take it from the tracker
          analysis = df.flatMap(_.queryExecution.tracker.phases.get("analysis"))
            .map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
          fingerprint = df.map(Fingerprint.of)
        } catch { case e: Throwable =>
          if (c1 == t0) c1 = now()
          error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        val t1 = now()
        if (trace) spark.sparkContext.clearJobGroup()
        val fresh = queries.drainStageLog().collect { case (d, true) => d }.distinct
        if (kind == "stage") built ++= fresh
        Residue.clear(spark)
        val s0 = now()
        val heapMb = Residue.settledHeapMb()
        settleMs += now() - s0
        rows += Row(name, kind, pass, trace, t0, t1, (t0, c1), (c1, t1), analysis, error,
          fingerprint, if (kind == "query") fresh else Nil, heapMb)
      }
      for (n <- stageNames) timeRow(n, "stage") { () => builders(n)(spark, sfDir); None }
      for (n <- rowNames) timeRow(n, "query") { () => Some(fns(n)(spark, sfDir)) }
      passes += Pass(pass, trace, p0, now(), processCpuS() - cpu0, settleMs)
      stageDirs = built.distinct.toSeq
      pass += 1
    }
    tracer.detach()

    val rt = ManagementFactory.getRuntimeMXBean
    val J = Json
    val record = J.obj(
      "env" -> J.obj(
        "nproc" -> J.num(Runtime.getRuntime.availableProcessors()),
        "k" -> J.num(cores),
        "heap_max_mb" -> J.num(Runtime.getRuntime.maxMemory() / 1048576.0),
        "jdk" -> J.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
        "spark" -> J.str(spark.version),
        "scala" -> J.str(scala.util.Properties.versionNumberString),
        "jvm_args" -> J.arr(scala.jdk.CollectionConverters.ListHasAsScala(
          rt.getInputArguments).asScala.filter(_.startsWith("-X")).map(J.str).toSeq)),
      "setups_s" -> J.arr(setups.map(ms => J.num(ms / 1000)).toSeq),
      "passes" -> J.arr(passes.map(p => J.obj("index" -> J.num(p.index), "cpu_s" -> J.num(p.cpuS),
        "traced" -> J.bool(p.traced), "t0" -> J.num(p.t0), "t1" -> J.num(p.t1),
        "settle_ms" -> J.num(p.settleMs))).toSeq),
      "rows" -> J.arr(rows.map(r => J.obj(
        "name" -> J.str(r.name), "kind" -> J.str(r.kind), "pass" -> J.num(r.pass),
        "traced" -> J.bool(r.traced), "t0" -> J.num(r.t0), "t1" -> J.num(r.t1),
        "construct" -> J.arr(Seq(J.num(r.construct._1), J.num(r.construct._2))),
        "action" -> J.arr(Seq(J.num(r.action._1), J.num(r.action._2))),
        "analysis" -> r.analysis.map { case (a, b) => J.arr(Seq(J.num(a), J.num(b))) }
          .getOrElse("null"),
        "error" -> r.error.map(J.str).getOrElse("null"),
        "fingerprint" -> r.fingerprint.map(J.str).getOrElse("null"),
        "absorbed_stages" -> J.arr(r.absorbedStages.map(J.str)),
        "heap_mb" -> J.num(r.heapMb))).toSeq),
      "trace" -> tracer.toJson)
    Files.writeString(Paths.get(plan("out")), record)
    spark.stop()
  }
}

/** Clears what one row leaves behind before the next row is timed, the way
  * `graft.Bench` does between its rows: persisted RDDs (localCheckpoints),
  * active streams, memory-sink views, loaded state stores, then a full GC so
  * the ContextCleaner releases broadcast and shuffle state. */
object Residue {
  def clear(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    graft.streaming.StreamOps.drainSinkLog().foreach(n =>
      try spark.catalog.dropTempView(n) catch { case _: Throwable => () })
    try org.apache.spark.sql.graft.bridge.stopStateStores()
    catch { case _: Throwable => () }
    System.gc()
  }

  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** The live set at a row boundary: heap in use after `clear` and at
    * least two more GCs 50 ms apart, continued while a GC frees more than
    * 0.5 MB (at most five). The GC in `clear` alone is not enough: it lets
    * Spark's ContextCleaner find the row's RDDs, shuffles and broadcasts
    * unreachable, the cleaner then drops their blocks on its own thread,
    * and what those held is freed in two steps, about 30 MB of it by the
    * second GC after `clear` (never later, in probes of six rounds). A
    * reading taken after the first GC flipped between about 80 and
    * 113 MB on the same rows. */
  def settledHeapMb(): Double = {
    var prev = Double.MaxValue
    var used = heapUsedMb()
    var round = 0
    while (round < 2 || (prev - used > 0.5 && round < 5)) {
      Thread.sleep(50)
      System.gc()
      prev = used
      used = heapUsedMb()
      round += 1
    }
    used
  }
}

/** Just enough JSON writing for the record; values are built bottom-up as
  * already-encoded strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
