package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.catalog.Catalog
import graft.core.{Extent, LayoutDefinition, TileLayout}
import graft.raster.{CellOp, Distance, Hydrology, Neighborhood, RasterLayer, ZonalOps}

/** Closed-loop benchmark driver: one client thread runs a workload's
  * operations back to back on a `local[cores]` session configured like
  * `graft.Bench`, and writes every timing and trace event to one JSON
  * record for `run.py` to reduce.
  *
  * Arguments are `key=value` pairs: `workload`, `data` (the generated
  * tables), `out` (records, query outputs, catalog and spill files),
  * `seed`, `seconds` (timed budget), `trace` (0|1) and `setups`.
  */
object Harness {
  /** One timed operation. `run` returns its named phases as
    * (name, startNs, endNs); the op's wall time spans all of them. */
  final case class Op(name: String, run: () => Seq[(String, Long, Long)])

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private val Clock0Ms = System.currentTimeMillis()
  private val Clock0Ns = System.nanoTime()
  /** Nanotime on the epoch-millisecond axis Spark's listener events use. */
  def epochMs(ns: Long): Double = Clock0Ms + (ns - Clock0Ns) / 1e6

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = args("workload")
    val dataDir = args("data")
    val outDir = args("out")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val setups = args("setups").toInt
    // row counts of the generated tables, as "rows.<table>=N"
    val rows = args.collect { case (k, v) if k.startsWith("rows.") => k.drop(5) -> v.toLong }
    val cores = Runtime.getRuntime.availableProcessors()
    val spill = s"$outDir/spark-local"
    new java.io.File(spill).mkdirs()

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", spill)
        .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
        .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // ---- set-up: session start + the untimed warm-up pass, repeated
    // so run.py can report a median. The first set-up also writes each
    // query's output for the DuckDB oracle check.
    val setupRecs = ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    var wl: Workload = null
    val warmFailures = ArrayBuffer.empty[Map[String, Any]]
    for (k <- 0 until setups) {
      if (spark != null) spark.stop()
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      spark = newSession()
      wl = Workload(workload, spark, dataDir, outDir, seed, rows)
      val t1 = System.nanoTime()
      for (op <- wl.ops) {
        val r = timeOp(if (k == 0) wl.checkedOp(op) else op)
        if (!r.ok) warmFailures += Map("setup" -> k, "op" -> op.name, "error" -> r.error)
        if (wl.isolatePerOp) wl.clearSessionState()
      }
      if (!wl.isolatePerOp) wl.clearSessionState()
      val t2 = System.nanoTime()
      setupRecs += Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "cpu_s" -> (processCpuNs() - c0) / 1e9)
    }

    // ---- timed passes. The trace listeners are attached only while a
    // traced pass runs; a traced run interleaves untraced passes so the
    // record carries the tracing overhead.
    val probe = new Probe(spark)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val budgetNs = (seconds * 1e9).toLong
    val start = System.nanoTime()
    var p = 0
    while (p < 2 || System.nanoTime() - start < budgetNs) {
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) probe.attach()
      val order = wl.order(new Random(seed * 1000003L + p))
      val memoBefore = SparkEntry.sharedRddIds.size
      val opRecs = ArrayBuffer.empty[Map[String, Any]]
      var heapMax = 0.0
      for ((op, i) <- order.zipWithIndex) {
        spark.sparkContext.setLocalProperty(Probe.OpKey, s"$p:$i")
        probe.codegenMark(s"$p:$i")
        val r = timeOp(op)
        probe.codegenMark(s"$p:$i")
        spark.sparkContext.setLocalProperty(Probe.OpKey, null)
        if (wl.isolatePerOp) { wl.clearSessionState(); heapMax = math.max(heapMax, heapMb()) }
        opRecs += r.toMap(i)
      }
      val checks = wl.passChecks()
      if (!wl.isolatePerOp) {
        // the checks' shuffles and broadcasts are freed by Spark's
        // ContextCleaner after a GC; give it a moment before the reading
        System.gc(); Thread.sleep(200); System.gc()
        heapMax = heapMb()
        wl.clearSessionState()
      }
      if (tracedPass) probe.detach()
      passes += Map("index" -> p, "traced" -> tracedPass, "ops" -> opRecs.toSeq,
        "memo_before" -> memoBefore, "memo_after" -> SparkEntry.sharedRddIds.size,
        "heap_retained_mb" -> heapMax, "checks" -> checks)
      p += 1
    }
    probe.drain()
    val rec = Map(
      "workload" -> workload, "cores" -> cores, "seed" -> seed, "traced" -> traced,
      "input_rows" -> wl.inputRows, "setups" -> setupRecs.toSeq,
      "warm_failures" -> warmFailures.toSeq, "setup_checks" -> wl.setupChecks,
      "passes" -> passes.toSeq, "events" -> probe.events)
    json.writeValue(new java.io.File(s"$outDir/record.json"), rec)
    spark.stop()
  }

  final case class OpResult(name: String, ok: Boolean, error: String, t0: Long, t1: Long,
                            cpuNs: Long, jitMs: Long, phases: Seq[(String, Long, Long)]) {
    def toMap(i: Int): Map[String, Any] = Map(
      "name" -> name, "seq" -> i, "ok" -> ok, "error" -> error,
      "wall_s" -> (t1 - t0) / 1e9, "cpu_s" -> cpuNs / 1e9, "jit_s" -> jitMs / 1e3,
      "start_ms" -> epochMs(t0), "end_ms" -> epochMs(t1),
      "phases" -> phases.map { case (n, a, b) =>
        Map("name" -> n, "s" -> (b - a) / 1e9, "start_ms" -> epochMs(a), "end_ms" -> epochMs(b)) })
  }

  /** Times one op in wall-clock and process CPU time;
    * a throw is recorded, never rethrown. */
  def timeOp(op: Op): OpResult = {
    val (c0, j0) = (processCpuNs(), jitMs())
    val t0 = System.nanoTime()
    try {
      val phases = op.run()
      val t1 = System.nanoTime()
      OpResult(op.name, ok = true, null, t0, t1, processCpuNs() - c0, jitMs() - j0, phases)
    } catch { case e: Throwable =>
      val t1 = System.nanoTime()
      System.err.println(s"[perfbench] ${op.name} FAILED: $e")
      OpResult(op.name, ok = false, String.valueOf(e), t0, t1, processCpuNs() - c0,
        jitMs() - j0, Seq.empty)
    }
  }

  /** Time the JIT compiler threads have spent compiling, in ms. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM (tasks, driver, GC, JIT). */
  def processCpuNs(): Long = os.getProcessCpuTime

  def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def phase[T](name: String, acc: ArrayBuffer[(String, Long, Long)])(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    acc += ((name, t0, System.nanoTime()))
    r
  }
}

/** A workload: its op list, per-pass isolation and correctness probes. */
abstract class Workload(val spark: SparkSession) {
  def ops: Seq[Harness.Op]
  /** Rows of input one pass consumes (numerator of rows_per_cpu_s). */
  def inputRows: Long
  /** The op as run in the first set-up, when outputs are kept for checking. */
  def checkedOp(op: Harness.Op): Harness.Op = op
  def order(rng: Random): Seq[Harness.Op]
  /** Queries clear session state after every op; grid-scale ops feed
    * each other, so it clears once per pass. */
  def isolatePerOp: Boolean
  def passChecks(): Map[String, Any] = Map.empty
  def setupChecks: Map[String, Any] = Map.empty
  /** Checkpointed inputs the workload builds once per session. */
  def ownRddIds: Set[Int] = Set.empty

  /** graft.Bench's per-query isolation: drop the SQL cache and every
    * persisted RDD except the sharedMemo checkpoints, then one GC. The
    * unpersist blocks so the heap reading that follows sees the freed
    * blocks. */
  def clearSessionState(): Unit = {
    spark.catalog.clearCache()
    val keep = SparkEntry.sharedRddIds ++ ownRddIds
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep(r.id))
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

object Workload {
  /** A distributed Pregel loop and a consumer of the shared MinHash
    * pair-graph memo (filled during set-up). */
  val SfQueries = Seq("q_watershed_dist", "q_dup_source_matrix")

  def apply(name: String, spark: SparkSession, dir: String, out: String, seed: Long,
            rows: Map[String, Long]): Workload =
    name match {
      case "sf-queries" => new QueryWorkload(spark, dir, out, SfQueries, rows("lineitem"))
      case "grid-scale" => new GridScale(spark, dir, out, seed, rows("lineitem"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** A list of SparkEntry queries, each built and then drained into the
  * noop sink (a bare count would let Catalyst prune computed columns). */
final class QueryWorkload(spark: SparkSession, dir: String, out: String,
                          names: Seq[String], primaryRows: Long) extends Workload(spark) {
  val ops: Seq[Harness.Op] = names.map { n =>
    Harness.Op(n, () => {
      val ph = ArrayBuffer.empty[(String, Long, Long)]
      val df = Harness.phase("build", ph)(SparkEntry.queries(n)(spark, dir))
      Harness.phase("sink", ph)(df.write.format("noop").mode("overwrite").save())
      ph.toSeq
    })
  }
  val inputRows: Long = names.size * primaryRows
  Harness.json.writeValue(new java.io.File(s"$out/oracle_sql.json"),
    names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
  override def checkedOp(op: Harness.Op): Harness.Op = Harness.Op(op.name, () => {
    SparkEntry.queries(op.name)(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(s"$out/results/${op.name}")
    Seq.empty
  })
  def order(rng: Random): Seq[Harness.Op] = rng.shuffle(ops)
  val isolatePerOp = true
}

/** lineitem replicated in-process with seeded key mixing, tiled onto a
  * G x G grid, then pushed through one call of each raster layer. */
final class GridScale(spark: SparkSession, dir: String, out: String, seed: Long,
                      lineitemRows: Long)
    extends Workload(spark) {
  val Replicas = 4
  val G = 256
  val T = 64
  val layout = LayoutDefinition(Extent(0, 0, G, G), TileLayout(G / T, G / T, T, T))
  private val catalogUri = s"$out/catalog"

  // seeded odd multipliers: replica r of row (o, p) lands on
  // ((o*a + r*b) mod G, (p*c + r*d) mod G), so replicas do not pile up
  // on the cells of the original rows
  private val mix = {
    val rng = new Random(seed)
    Seq.fill(4)(2L * rng.nextInt(1 << 20) + 1)
  }
  private val cells: DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
    .crossJoin(spark.range(Replicas).toDF("r"))
    .select(
      pmod(col("l_orderkey") * mix(0) + col("r") * mix(1), lit(G.toLong)).as("x"),
      pmod(col("l_partkey") * mix(2) + col("r") * mix(3), lit(G.toLong)).as("y"),
      col("l_quantity").as("v"))
  val inputRows: Long = Replicas * lineitemRows

  // zones: 16 square blocks; sources: 8 seeded cells
  private val zones = pin(RasterLayer.fromCells(
    spark.range(G.toLong * G).select((col("id") % G).as("x"), floor(col("id") / G).as("y"))
      .withColumn("v", (floor(col("x") / (G / 4)) + floor(col("y") / (G / 4)) * 4).cast("double")),
    layout))
  private val sources = {
    val rng = new Random(seed + 1)
    import spark.implicits._
    Seq.fill(8)((rng.nextInt(G) + 0.5, rng.nextInt(G) + 0.5)).toDF("px", "py")
  }

  private def pin(l: RasterLayer): RasterLayer = l.copy(df = l.df.localCheckpoint())

  private var tiles: RasterLayer = _
  private var terrain: RasterLayer = _
  private var friction: RasterLayer = _
  private var cost: RasterLayer = _
  private var flow: DataFrame = _
  private var readBack: RasterLayer = _

  private def one(name: String)(f: => Unit) = Harness.Op(name, () => {
    val t0 = System.nanoTime(); f; Seq(("call", t0, System.nanoTime()))
  })

  val ops: Seq[Harness.Op] = Seq(
    one("raster.tile_build") { tiles = pin(RasterLayer.fromCells(cells, layout)) },
    one("raster.focal") { terrain = pin(tiles.focal(Neighborhood.Square(1), "Mean").slope()) },
    one("raster.normalize") { friction = pin(terrain.normalize(1.0, 10.0)) },
    one("distance.cost") {
      cost = pin(Distance.costDistanceTiled(friction, sources, maxCost = 400.0))
    },
    one("hydrology.flow_accum") {
      flow = Hydrology.flowAccumulation(tiles.toCells, G, G).localCheckpoint()
    },
    one("catalog.write") { Catalog.write(catalogUri, "grid", tiles) },
    one("catalog.read") { readBack = pin(Catalog.read(spark, catalogUri, "grid")) },
    one("zonal.stats") { ZonalOps.zonalStats(tiles, zones).collect() })

  def order(rng: Random): Seq[Harness.Op] = ops
  val isolatePerOp = false

  /** Exact invariants of one pass, computed outside the timed region. */
  override def passChecks(): Map[String, Any] = {
    // a failed call leaves its layer null: its check records the error
    def safe(f: => Any): Any = try f catch { case e: Throwable => s"error: $e" }
    Map(
      "cell_sum" -> safe(tiles.toCells.agg(sum("v")).head().getDouble(0)),
      "catalog_mismatch" -> safe(
        tiles.df.select(col("col"), col("row"), col("tile").as("a"))
          .join(readBack.df.select(col("col"), col("row"), col("tile").as("b")),
            Seq("col", "row"), "full")
          .where(not(col("a") <=> col("b"))).count()),
      "cost_checksum" -> safe(cost.toCells.where(!isnan(col("v")))
        .agg(count(lit(1)), sum(round(col("v") * 1000).cast("long"))).head().toSeq.mkString(":")),
      "flow_checksum" -> safe(flow.agg(count(lit(1)), sum(flow.columns.last)).head().toSeq.mkString(":")),
      "catalog_bytes" -> safe(dirBytes(new java.io.File(s"$catalogUri/grid/tiles"))),
      "cells" -> G.toLong * G)
  }
  override def setupChecks: Map[String, Any] = Map("replicas" -> Replicas, "grid" -> G)
  override val ownRddIds: Set[Int] = zones.df.queryExecution.analyzed.collect {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
  }.toSet

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}
