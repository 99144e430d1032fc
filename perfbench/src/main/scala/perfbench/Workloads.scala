package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ext.Checkpoints
import graft.model.{DataChecks, Incremental, Materialization, Model, Runner}
import graft.models.{LocationsClean, RefFixtures, StackedUsersPartners, UserBase}
import graft.queries.ReferenceModelQueries

/** What an op reports besides its wall time. `countMs` is the traced
  * `df.count()` reading, taken after the full materialisation; `heapMb`
  * the driver heap after full collections, taken while the op still
  * holds its pins. Both readings take `asideMs`, which is kept out of
  * the op's own time; the forced collection's `asideGcMs` is kept out
  * of its driver GC time. */
final class OpStats {
  var pins = 0
  var pinnedMb = 0.0
  var batchBytes = 0L
  var filesWritten = 0
  var countMs = 0.0
  var heapMb = 0.0
  var asideMs = 0.0
  var asideGcMs = 0L
  var readback: Seq[Any] = Nil
}

/** Where an op runs: `validate` writes full outputs under `outDir` for
  * the output checks instead of discarding them through the noop sink.
  * `tables` is the root for the tables the dbt workload writes. */
final case class Ctx(spark: SparkSession, tracer: Tracer, validate: Boolean,
    outDir: String, tables: String)

trait Op {
  def name: String
  def run(c: Ctx, s: OpStats): Unit
}

object Op {
  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Pins left by construction, read only when tracing. */
  def recordPins(c: Ctx, s: OpStats): Unit = if (c.tracer.enabled) {
    s.pins = c.spark.sparkContext.getPersistentRDDs.size
    s.pinnedMb = pinnedMb(c.spark)
  }

  /** Heap in use after full collections, read in measured passes once
    * the op's output is complete and before its pins are released: the
    * most the op keeps live. */
  def recordHeap(c: Ctx, s: OpStats): Unit = if (!c.validate) {
    val t0 = System.nanoTime()
    val gc0 = Heap.gcMs
    s.heapMb = c.tracer.span("heap")(Heap.settledMb())
    s.asideGcMs += Heap.gcMs - gc0
    s.asideMs += (System.nanoTime() - t0) / 1e6
  }
}

/** One corpus query: build it through `SparkEntry.queries`, materialise
  * every row and column (noop sink, or parquet when validating), then
  * release its checkpoint pins. */
final class QueryOp(val name: String, dataDir: String) extends Op {
  private val build = SparkEntry.queries(name)

  def run(c: Ctx, s: OpStats): Unit = {
    val t = c.tracer
    val df = t.span("construct")(build(c.spark, dataDir))
    Op.recordPins(c, s)
    try {
      t.span("execute") {
        if (c.validate) df.write.mode("overwrite").parquet(s"${c.outDir}/$name")
        else df.write.format("noop").mode("overwrite").save()
      }
      Op.recordHeap(c, s)
      if (t.enabled) {
        val t0 = System.nanoTime()
        t.span("count")(df.count())
        s.countMs = (System.nanoTime() - t0) / 1e6
        s.asideMs += s.countMs
      }
    } finally t.span("reclaim")(Checkpoints.releaseAll(c.spark))
  }
}

/** The reference dbt DAG over generated sources: locations_clean and
  * stacked_users_partners as views, the user_base mart as a table with
  * its two data checks, run by `Runner`, then read back. */
final class DagOp(refDir: String) extends Op {
  val name = "dag_user_base"

  private def sources(spark: SparkSession): Map[String, DataFrame] =
    RefFixtures.sources(spark).map { case (table, fixture) =>
      // generated parquet carries the fixture columns; cast to the
      // fixture schema so the models see the types they were written for
      val cols = fixture.schema.fields.map(f => col(f.name).cast(f.dataType))
      table -> spark.read.parquet(s"$refDir/$table.parquet").select(cols: _*)
    }

  private val locTables = Seq("location_location",
    "location_location_address_components", "location_location_types")
  private val attributionTables = Seq("educator_classroomlearnermembership",
    "educator_classroom_educators", "educator_classroominvitation",
    "educator_classroominvitecode", "educator_classroom", "user_site",
    "user_partner", "user_partnerinvitecode", "user_user", "action_userjoinsaction")

  private val models = Seq(
    Model("locations_clean", locTables)(env => LocationsClean(env)),
    Model("stacked_users_partners", attributionTables)(env => StackedUsersPartners(env)),
    Model("user_base",
      Seq("user_user", "widget_widgetuserapikey", "locations_clean", "stacked_users_partners"),
      Materialization.Table,
      checks = Seq(
        "not_null_user_id" -> ((df: DataFrame) => DataChecks.notNull(df, "user_id")),
        "unique_user_partner_site" -> ((df: DataFrame) =>
          DataChecks.uniqueCombination(df, Seq("user_id", "partner_id", "site_id")))))(
      env => UserBase(env, asOf = to_date(lit(ReferenceModelQueries.asOfDate)))))

  def run(c: Ctx, s: OpStats): Unit = {
    val t = c.tracer
    val spark = c.spark
    val src = t.span("construct")(sources(spark))
    try {
      val out = t.span("runner")(
        new Runner(spark, src, s"${c.tables}/warehouse", threads = 4).run(models, runChecks = true))
      val mart = out("user_base")
      val row = t.span("readback")(
        mart.agg(count(lit(1)), sum(xxhash64(mart.columns.map(col): _*))).collect().head)
      s.readback = Seq(row.getLong(0), row.get(1))
      Op.recordHeap(c, s)
    } finally t.span("reclaim")(Checkpoints.releaseAll(spark))
  }
}

/** One change batch folded into a keyed table — `Incremental.merge`
  * into the merge table, or `Incremental.applyChangesGuarded` into the
  * CDC table — followed by a read-back aggregate of the live rows. */
final class FoldOp(index: Int, guarded: Boolean, batch: String) extends Op {
  val name = f"fold_$index%02d_${if (guarded) "guarded" else "merge"}"

  def run(c: Ctx, s: OpStats): Unit = {
    val t = c.tracer
    val spark = c.spark
    val path = FoldOp.tablePath(c, guarded)
    s.batchBytes = FoldOp.bytesUnder(batch)
    try {
      val folded = t.span("merge") {
        val b = spark.read.parquet(batch)
        if (guarded) Incremental.applyChangesGuarded(spark, b, path, Seq("id"))
        else Incremental.merge(spark, b, path, Seq("id"))
      }
      if (t.enabled) s.filesWritten = FoldOp.parquetFiles(path)
      val live = if (guarded) Incremental.readCdcTable(spark, path) else folded
      val row = t.span("readback")(
        live.agg(count(lit(1)), sum("amount"), sum("version")).collect().head)
      s.readback = Seq(row.getLong(0), row.getDouble(1), row.getLong(2))
      Op.recordHeap(c, s)
    } finally t.span("reclaim")(Checkpoints.releaseAll(spark))
  }
}

object FoldOp {
  def tablePath(c: Ctx, guarded: Boolean): String =
    s"${c.tables}/${if (guarded) "cdc" else "merged"}"

  private def files(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles.toSeq.flatMap(g => files(g.getPath)) else Seq(f)
  }

  def bytesUnder(path: String): Long = files(path).map(_.length).sum

  def parquetFiles(path: String): Int = files(path).count(_.getName.endsWith(".parquet"))
}

/** A workload: its op list and the untimed reset that runs before each
  * pass (the dbt workload restores both keyed tables to their base). */
final case class Workload(ops: Seq[Op], reset: Ctx => Unit)

object Workload {
  def queries(names: Seq[String], dataDir: String): Workload =
    Workload(names.map(n => new QueryOp(n, dataDir)), _ => ())

  def dbt(dataDir: String, folds: Int): Workload = {
    val ops = new DagOp(s"$dataDir/ref") +: (0 until folds).map { i =>
      val guarded = i % 2 == 1
      new FoldOp(i, guarded, s"$dataDir/changes/${if (guarded) "cdc" else "merge"}_b${i / 2}.parquet")
    }
    def reset(c: Ctx): Unit = {
      val spark = c.spark
      for (guarded <- Seq(false, true)) {
        val path = FoldOp.tablePath(c, guarded)
        deleteTree(new java.io.File(path))
        if (guarded) Incremental.applyChangesGuarded(spark,
          spark.read.parquet(s"$dataDir/changes/cdc_base.parquet"), path, Seq("id"))
        else Incremental.merge(spark,
          spark.read.parquet(s"$dataDir/changes/merge_base.parquet"), path, Seq("id"))
      }
      Checkpoints.releaseAll(spark)
    }
    Workload(ops, reset)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteTree)
    f.delete()
  }
}
