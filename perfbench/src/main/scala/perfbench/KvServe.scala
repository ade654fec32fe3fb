package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.CdcFunctions
import graft.operators.KvMerge
import graft.sources.cdc.Cdc
import graft.sources.kv.{KvBloom, KvIndex, KvInputPartition, KvSidecar}
import Inputs._

/** `kv_serve`: a multi-file `kv` table with Bloom and zone-map sidecars,
  * served to one client issuing a seeded mix of Zipf point lookups (some
  * keys absent), range aggregates with pushdown, and, every k-th
  * operation, an upsert: a CDC change batch appended to the changelog and
  * merged into the table with `KvMerge.merge`. Each answer is checked
  * against the generator's model of the table; at the end the table must
  * equal `Cdc.applyChanges` over the whole changelog.
  */
final class KvServe(ctx: Ctx, kvShape: KvShape) extends Workload {
  import ctx.spark

  private var input: KvInput = _
  private var ops: KvOps = _
  private var table: String = _
  private var changelog: String = _

  def shape: Seq[(String, Any)] = Seq(
    "files" -> kvShape.files, "rows" -> kvShape.files * kvShape.rowsPerFile,
    "key_space" -> kvShape.files * kvShape.rowsPerFile * 2, "zipf_s" -> kvShape.zipfS,
    "cycle_ops" -> kvShape.cycleOps, "scans_per_cycle" -> kvShape.scansPerCycle,
    "absent_lookups_per_cycle" -> kvShape.absentPerCycle, "upserts_per_cycle" -> 1,
    "max_scan_rows" -> kvShape.maxScanRows, "changes_per_upsert" -> kvShape.changesPerUpsert,
    "input_digest" -> input.digest)

  private val rowSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("n", LongType, nullable = true)))

  private val changeSchema = StructType(Seq(
    StructField(CdcFunctions.RecordTypeCol, StringType, nullable = false),
    StructField(CdcFunctions.RecordTimestampCol, LongType, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("n", LongType, nullable = true),
    StructField(CdcFunctions.columnTypeCol("v"), StringType, nullable = true),
    StructField(CdcFunctions.columnTypeCol("n"), StringType, nullable = true)))

  private def changesDf(ts: Long, cs: Seq[Change]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(cs.map { c =>
      val colOp = if (c.kind == "DELETE") null else "PUT"
      Row(c.kind, ts, c.k, c.v, if (c.kind == "DELETE") null else c.n, colOp, colOp)
    }: _*), changeSchema)

  private def build(in: KvInput, dir: Path): Unit = {
    table = dir.resolve("table").toString
    changelog = dir.resolve("changelog").toString
    // one job, one file per partition
    val files = in.files.map(_.map(r => Row(r.k, r.v, r.n)))
    spark.createDataFrame(spark.sparkContext.parallelize(files, files.length).flatMap(identity), rowSchema)
      .write.format("kv").option("path", table).mode("append").save()
    // the initial load is the changelog's first batch, so the final table
    // can be recomputed from the changelog alone
    Cdc.appendBatch(changesDf(0L, in.files.flatten.map(r => Change("PUT", r.k, r.v, r.n))), changelog)
    indexTable()
  }

  private def indexTable(): Unit = {
    KvBloom.build(spark, table, Seq("k"))
    KvIndex.build(table, Seq("k"))
  }

  /** The operation stream's first cycle: lookups, scans and an upsert.
    * Their answers are checked like any other.
    */
  def warmUp(scratch: Path): Unit =
    (1 to kvShape.cycleOps).foreach(_ => serve(ops.next(), ctx.rec))

  def prepare(dir: Path): Unit = {
    input = Inputs.kv(ctx.seed, kvShape)
    build(input, dir)
    ops = new KvOps(ctx.seed, input)
  }

  private def read(): DataFrame = spark.read.format("kv").option("path", table).load()

  /** Plans `df` (timed apart from execution) and collects it. */
  private def planAndRun(df: DataFrame, kind: String): Array[Row] = {
    val plan = ctx.span(s"kv.${kind}_plan") { df.queryExecution.executedPlan }
    val rows = ctx.span(s"kv.${kind}_exec") { df.collect() }
    if (ctx.tracer.enabled) {
      ctx.tracer.count(s"kv.${kind}_files_scanned", filesScanned(plan).toDouble)
      ctx.tracer.count(s"kv.${kind}_rows_returned", rows.length.toDouble)
    }
    rows
  }

  private def filesScanned(plan: SparkPlan): Int = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(leaves)
    }
    leaves(plan).collect { case b: BatchScanExec => b.inputPartitions }.flatten.flatMap {
      case k: KvInputPartition => k.chunks.map(_.file)
      case _ => Nil
    }.distinct.length
  }

  private def serve(op: KvOp, r: Recorder): Unit = op match {
    case Lookup(k) =>
      ctx.op("lookup", r) {
        val got = planAndRun(read().filter(col("k") === k).select("v", "n"), "lookup")
          .map(x => (x.getString(0), x.getLong(1))).toSeq
        val want = ops.expectLookup(k).toSeq
        if (got != want) throw new AssertionError(s"lookup $k returned $got, model has $want")
      }
    case Scan(lo, hi) =>
      ctx.op("scan", r) {
        val got = planAndRun(read().filter(col("k") >= lo && col("k") < hi)
          .agg(count(lit(1)), coalesce(sum(col("n")), lit(0L))), "scan").head
        val want = ops.expectScan(lo, hi)
        if ((got.getLong(0), got.getLong(1)) != want)
          throw new AssertionError(s"scan [$lo, $hi) returned $got, model has $want")
      }
    case u: Upsert => upsert(u, r)
  }

  private def upsert(u: Upsert, r: Recorder): Unit = ctx.op("upsert", r) {
    val changes = changesDf(u.seq.toLong, u.changes)
    ctx.span("cdc.append") { Cdc.appendBatch(changes, changelog) }
    val mergeOps = changes.select(col("k"),
      when(col(CdcFunctions.RecordTypeCol) === "DELETE", "DELETE").otherwise("UPSERT").as("__op"),
      col("v"), col("n"))
    val before = if (ctx.tracer.enabled) LocalFiles.dataFiles(java.nio.file.Paths.get(table)) else Nil
    ctx.span("merge") { KvMerge.merge(spark, table, mergeOps, "__op", Seq("k")) }
    if (ctx.tracer.enabled) {
      ctx.tracer.count("merge.files_rewritten", before.length)
      ctx.tracer.count("merge.bytes_rewritten",
        LocalFiles.dataFiles(java.nio.file.Paths.get(table)).map(f => java.nio.file.Files.size(f)).sum.toDouble)
      ctx.tracer.count("merge.changed_rows", u.changes.length)
    }
    // the merge rewrites the table, sidecars included
    ctx.span("kv.sidecar_build") { indexTable() }
  }

  def measure(seconds: Double): Window = {
    val cycles = math.max(1, math.round(seconds / KvServe.NominalCycleS)).toInt
    val rec = ctx.rec
    val t0 = System.nanoTime()
    val attempted0 = rec.attempted
    val parses0 = KvSidecar.parseCount.get()
    val kinds = Seq("lookup", "scan", "upsert")
    val n0 = (kinds ++ kinds.map(_ + ".net")).map(k => k -> rec.values(k).length).toMap
    val steal = Steal.start()
    (1 to cycles * kvShape.cycleOps).foreach(_ => serve(ops.next(), rec))
    val secs = (System.nanoTime() - t0) / 1e9
    val s = steal.share
    val n = (rec.attempted - attempted0).toDouble
    def fresh(name: String) = rec.values(name).drop(n0(name))
    val look = fresh("lookup")
    val e2e = Map(
      "op_ms_p50" -> (Stats.median(kinds.flatMap(k => fresh(k + ".net"))), "ms"),
      "ops_per_s" -> (n / (secs * (1 - s)), "1/s"),
      "steal_share" -> (s, "ratio"),
      "kv_ops_per_s" -> (n / secs, "ops/s"),
      "lookup_ms_p50" -> (Stats.medianOr(look, Double.PositiveInfinity), "ms"),
      "lookup_ms_p95" -> (if (look.isEmpty) Double.PositiveInfinity else Stats.pct(look, 95), "ms"),
      "lookup_samples" -> (look.length.toDouble, "count"),
      "scan_ms_p50" -> (Stats.medianOr(fresh("scan"), Double.PositiveInfinity), "ms"),
      "upsert_ms_p50" -> (Stats.medianOr(fresh("upsert"), Double.PositiveInfinity), "ms"))
    val t = ctx.tracer
    val layers = if (!t.enabled) Map.empty[String, (Double, String)] else {
      val tasks = ctx.runtime.taskRecs("traced")
      val lookTasks = tasks.filter(_.span == "kv.lookup_exec")
      val nLook = math.max(1.0, t.durationsMs("kv.lookup_exec").length.toDouble)
      val changed = math.max(1.0, t.counter("merge.changed_rows"))
      Map(
        "kv.plan_ms" -> (Stats.layerMedian(t.durationsMs("kv.lookup_plan")), "ms"),
        "kv.exec_ms" -> (Stats.layerMedian(t.durationsMs("kv.lookup_exec")), "ms"),
        "kv.scan_plan_ms" -> (Stats.layerMedian(t.durationsMs("kv.scan_plan")), "ms"),
        "kv.scan_exec_ms" -> (Stats.layerMedian(t.durationsMs("kv.scan_exec")), "ms"),
        "kv.files_scanned_per_lookup" -> (t.counter("kv.lookup_files_scanned") / nLook, "files"),
        "kv.rows_read_per_row_returned" -> (lookTasks.map(_.recordsRead).sum /
          math.max(1.0, t.counter("kv.lookup_rows_returned")), "ratio"),
        "kv.bytes_read_per_lookup" -> (lookTasks.map(_.bytesRead).sum / nLook, "bytes"),
        "kv.sidecar_parses" -> ((KvSidecar.parseCount.get() - parses0).toDouble, "count"),
        "kv.sidecar_build_ms" -> (Stats.layerMedian(t.durationsMs("kv.sidecar_build")), "ms"),
        "cdc.append_ms" -> (Stats.layerMedian(t.durationsMs("cdc.append")), "ms"),
        "merge.ms" -> (Stats.layerMedian(t.durationsMs("merge")), "ms"),
        "merge.files_rewritten" -> (t.counter("merge.files_rewritten"), "count"),
        "merge.bytes_rewritten_per_changed_row" -> (t.counter("merge.bytes_rewritten") / changed, "bytes"))
    }
    Window(e2e, layers)
  }

  private def finalCheck(r: Recorder): Unit =
    r.check("kv_serve final table equals Cdc.applyChanges over the changelog") {
      def rows(df: DataFrame) = df.select("k", "v", "n").collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2))).sortBy(_._1).toSeq
      val replayed = rows(Cdc.applyChanges(
        spark.read.format("cdc").option("path", changelog).load(), Seq("k")))
      val model = ops.model.toSeq.map { case (k, (v, n)) => (k, v, n) }.sortBy(_._1)
      rows(read()) == replayed && replayed == model
    }

  def finish(): Window = { finalCheck(ctx.rec); Window(Map.empty, Map.empty) }
}

object KvServe {
  /** About how long one cycle (`cycleOps` operations, the last an
    * upsert) takes; sizes the window.
    */
  val NominalCycleS = 2.5
}
