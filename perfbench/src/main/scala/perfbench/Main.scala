package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import graft.{GraftSession, SparkEntry}
import graft.models.RefFixtures
import graft.queries.ReferenceModelOracles

/** The benchmark's JVM side: one Spark session on `local[cores]`, one
  * client running a closed loop over a workload's ops.
  *
  * 1. Validation pass (untimed; also the warm pass): every op runs once
  *    and writes its full output for the output checks.
  * 2. Measured passes until `--seconds` have elapsed and at least
  *    `--min-passes` passes and `--min-samples` op samples exist. With
  *    `--trace 1` the passes run untraced, traced, traced, untraced, ...
  *    (at least four, so warm-up drift falls on both sides); the traced
  *    ones register the listener pair and record spans.
  *
  * Everything measured is written to `<out>/result.json`; `run.py`
  * turns it into metrics. Usage:
  * {{{
  * perfbench.Main --data DIR --out DIR --cores N --seconds S --trace 0|1
  *   --min-passes N --min-samples N --deadline-s S
  *   (--queries q1,q2,... | --dbt-folds K)
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = args("data")
    val outDir = args("out")
    val cores = args("cores").toInt
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val minPasses = args("min-passes").toInt
    val minSamples = args("min-samples").toInt
    // wall-clock budget for the whole JVM, measured from its start
    val deadlineS = args("deadline-s").toDouble
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tSession = System.nanoTime()
    val spark = GraftSession.local(cores, "perfbench")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val probe = new Probe

    val workload = args.get("queries") match {
      case Some(q) => Workload.queries(q.split(",").toSeq, dataDir)
      case None => Workload.dbt(dataDir, args("dbt-folds").toInt)
    }
    val measureCtx = Ctx(spark, tracer, validate = false, outDir, s"$outDir/tables")
    var opSeq = 0

    val opRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
    def opRecord(id: Int, op: Op, ms: Double, err: Option[String], s: OpStats,
        gcMs: Long): Map[String, Any] = Map(
      "id" -> id, "name" -> op.name, "ms" -> ms, "error" -> err,
      "pins" -> s.pins, "pinned_mb" -> s.pinnedMb, "driver_gc_ms" -> gcMs,
      "batch_bytes" -> s.batchBytes, "files_written" -> s.filesWritten,
      "count_ms" -> s.countMs, "heap_mb" -> s.heapMb, "aside_ms" -> s.asideMs,
      "readback" -> s.readback)

    /** Runs one op; returns (ms, error, stats). Failures are recorded,
      * never thrown, so one broken op cannot hide the others. */
    def runOp(op: Op, c: Ctx): (Double, Option[String], OpStats) = {
      val s = new OpStats
      val id = opSeq
      opSeq += 1
      probe.currentOp = id
      val gc0 = Heap.gcMs
      val t0 = System.nanoTime()
      val err = try { tracer.op(id, op.name)(op.run(c, s)); None }
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6 - s.asideMs
      if (tracer.enabled) org.apache.spark.perfbench.Bus.drain(sc)
      opRecords += opRecord(id, op, ms, err, s, Heap.gcMs - gc0 - s.asideGcMs)
      (ms, err, s)
    }

    // 1. validation + warm pass
    val tWarm = System.nanoTime()
    val validateCtx = Ctx(spark, tracer, validate = true, s"$outDir/validate",
      s"$outDir/validate/tables")
    workload.reset(validateCtx)
    val validation = workload.ops.map { op =>
      val (ms, err, s) = runOp(op, validateCtx)
      Map("op" -> op.name, "ms" -> ms, "error" -> err, "readback" -> s.readback)
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val firstOpS = sinceJvmStart
    opRecords.clear()

    // 2. measured passes
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tMeasure = System.nanoTime()
    var samples = 0
    var lastPassS = 0.0
    def elapsed = (System.nanoTime() - tMeasure) / 1e9
    def more: Boolean = {
      val wanted = elapsed < seconds || passes.size < minPasses || samples < minSamples ||
        (trace && passes.size < 4)
      wanted && sinceJvmStart + lastPassS * 1.2 < deadlineS
    }
    while (passes.isEmpty || more) {
      val traced = trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      workload.reset(measureCtx)
      Heap.settle()
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.addSparkListener(probe)
        spark.listenerManager.register(probe)
        tracer.enabled = true
      }
      val first = opRecords.size
      val t0 = System.nanoTime()
      workload.ops.foreach(runOp(_, measureCtx))
      val ops = opRecords.drop(first).toSeq
      lastPassS = (System.nanoTime() - t0) / 1e9
      // the count and heap readings sit outside the ops' own times
      val asideS = ops.map(_("aside_ms").asInstanceOf[Double]).sum / 1e3
      if (traced) {
        tracer.enabled = false
        org.apache.spark.perfbench.Bus.drain(sc)
        spark.listenerManager.unregister(probe)
        sc.removeSparkListener(probe)
      }
      samples += ops.size
      passes += Map("index" -> passes.size, "traced" -> traced,
        "wall_s" -> (lastPassS - asideS), "ops" -> ops)
    }

    val oracle: Map[String, String] = workload.ops.map(_.name).flatMap { n =>
      if (n == "dag_user_base") Some(n -> fixtureFree(ReferenceModelOracles.qUserBase))
      else SparkEntry.oracleSql.get(n).map(n -> _)
    }.toMap
    val result = Map(
      "host" -> Map("java_version" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"), "spark_version" -> spark.version,
        "cores" -> cores, "available_processors" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0),
      "setup" -> Map("jvm_start_epoch_ms" -> jvmStartMs, "session_s" -> sessionS,
        "warm_s" -> warmS, "first_op_s" -> firstOpS),
      "validation" -> validation, "oracle_sql" -> oracle, "passes" -> passes.toSeq,
      "spans" -> tracer.all) ++ probe.json
    Files.writeString(Paths.get(s"$outDir/result.json"), Json(result))
    spark.stop()
  }

  /** The user_base oracle reads its sources from tables of the same
    * names instead of the fixture `VALUES` lists: drop those CTEs. */
  private def fixtureFree(sql: String): String =
    RefFixtures.duckCtes.values.foldLeft(sql) { (s, cte) =>
      s.replace(cte + ",\n", "").replace(cte + ",", "")
    }
}
