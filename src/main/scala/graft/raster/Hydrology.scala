package graft.raster

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hydrology operators over elevation grids — the geotrellis
  * `raster.hydrology` surface (FlowDirection / Accumulation, public
  * ESRI D8 semantics) re-expressed declaratively.
  *
  * D8 flow direction: each cell drains toward the neighbor with the
  * steepest positive drop (z_c - z_n, diagonals divided by sqrt 2);
  * codes are the ESRI powers of two (E=1, SE=2, S=4, SW=8, W=16,
  * NW=32, N=64, NE=128, y-down grid), 0 for pits/flats. Ties break to
  * the smallest code via an explicit CASE cascade — the same cascade
  * the oracle states, so the choice is engine-identical (drops are
  * exact-integer differences with at most one IEEE division each).
  *
  * Scale shape: ONE shuffle. Every cell explodes to itself plus its
  * eight neighbor targets (the IDW disk pattern at radius 1), and a
  * single groupBy rebuilds each cell's 3x3 neighborhood as nine
  * conditional aggregates — map-side combine, no self-joins, no halo
  * machinery needed for a radius-1 stencil. Missing neighbors (grid
  * edge or NoData holes) coalesce to a -inf sentinel and can never
  * win the cascade.
  */
// Serializable: the tile-walk closures call the shared d8Code/walkTile
// helpers, so executor lambdas capture this (stateless) singleton
object Hydrology extends Serializable {

  /** (dx, dy, ESRI code) in ascending code order — the tie cascade. */
  val Dirs: Seq[(Int, Int, Int)] = Seq(
    (1, 0, 1), (1, 1, 2), (0, 1, 4), (-1, 1, 8),
    (-1, 0, 16), (-1, -1, 32), (0, -1, 64), (1, -1, 128))

  private val Sentinel = -1e300

  /** D8 over a TILED layer (r13, the §4 discipline): each tile
    * computes its cells' steepest-descent codes from the radius-1
    * padded window ([[Focal.gatherPartials]]) — per-cell rows are
    * emitted after the tile exchange, never shuffled (the previous
    * shape exploded 9 rows per cell into a grid-keyed groupBy, a 9x
    * per-cell exchange). NaN beyond the grid / in holes = missing
    * neighbor = the old Sentinel drop; tie cascade and arithmetic
    * identical (same (zc−nz)/dist IEEE ops, first code in ascending
    * order wins the tie).
    * @return (x, y, dir) — dir 0 for pits/flats */
  def flowDirectionLayer(layer: RasterLayer): DataFrame = {
    val spark = layer.spark
    import spark.implicits._
    val tl = layer.meta.layout.tileLayout
    val (tc, tr) = (tl.tileCols, tl.tileRows)
    Focal.gatherPartials[(Long, Long, Long)](layer, 1) { (c0, r0, padded, w) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var j = 0
      while (j < tr) {
        var i = 0
        while (i < tc) {
          val p = (j + 1) * w + (i + 1)
          if (!padded(p).isNaN)
            out += ((c0.toLong * tc + i, r0.toLong * tr + j, d8Code(padded, w, p).toLong))
          i += 1
        }
        j += 1
      }
      out.iterator
    }.toDF("x", "y", "dir")
  }

  private val DirDx = Dirs.map(_._1).toArray
  private val DirDy = Dirs.map(_._2).toArray
  private val DirCode = Dirs.map(_._3).toArray

  /** The D8 cascade for the non-NaN cell at index `p` of a radius-1
    * padded window of width `w`: steepest (zc−nz)/dist drop, first
    * code in ascending order on ties, 0 without a positive drop. NaN
    * neighbors take the Sentinel drop. The one copy behind
    * [[flowDirectionLayer]] and the tile walk of [[resolveTiled]]. */
  private def d8Code(padded: Array[Double], w: Int, p: Int): Int = {
    val zc = padded(p)
    val drops = new Array[Double](8)
    var k = 0
    var best = Double.NegativeInfinity
    while (k < 8) {
      val dx = DirDx(k); val dy = DirDy(k)
      val nz = padded(p + dy * w + dx)
      val d =
        if (nz.isNaN) Sentinel
        else (zc - nz) / (if (dx != 0 && dy != 0) math.sqrt(2.0) else 1.0)
      drops(k) = d
      if (d > best) best = d
      k += 1
    }
    var code = 0
    if (best > 0) {
      k = 0
      while (k < 8 && code == 0) {
        if (drops(k) == best) code = DirCode(k)
        k += 1
      }
    }
    code
  }

  /** @param cells (x, y, v) elevation grid; absent cells are NoData
    * @return (x, y, dir) — dir 0 for pits/flats.
    * Delegates to [[flowDirectionLayer]]: the cells tile into 64-px
    * tiles first, so the D8 scan runs tile-local with a halo instead
    * of exploding 9 rows per cell into a grid-keyed exchange. */
  def flowDirection(cells: DataFrame, gridCols: Long, gridRows: Long): DataFrame =
    flowDirectionLayer(demLayer(cells, gridCols, gridRows))

  /** The in-grid cells of an (x, y, v) elevation grid in 64-px tiles
    * (duplicate cells keep the max) — the tiling every D8 operator
    * here scans. */
  private def demLayer(cells: DataFrame, gridCols: Long, gridRows: Long): RasterLayer = {
    val T = 64
    val layout = graft.core.LayoutDefinition(
      graft.core.Extent(0, 0, gridCols.toDouble, gridRows.toDouble),
      graft.core.TileLayout(((gridCols + T - 1) / T).toInt, ((gridRows + T - 1) / T).toInt, T, T))
    val inGrid = cells.where(col("x") >= 0 && col("x") < gridCols &&
      col("y") >= 0 && col("y") < gridRows)
    RasterLayer.fromCells(inGrid, layout, CellOp.Max)
  }

  /** Pit fill (geotrellis raster.hydrology Fill semantics, single
    * pass): a sink — a cell strictly lower than all eight neighbors —
    * rises to the neighbor minimum so D8 flow has an out-edge there;
    * everything else (including edge cells with partial windows)
    * passes through unchanged. Exact: min/select over integral cells
    * introduces no floating error. One halo exchange via the terrain
    * window machinery. */
  def fill(layer: RasterLayer): RasterLayer = Focal.terrain(layer, "fill")

  /** Flow accumulation: for each cell, how many other cells' D8 flow
    * paths pass through it (the upstream drainage count; ESRI
    * Accumulation semantics with unit cell weight) — equivalently the
    * cell's in-tree descendant count over the single-out-edge flow
    * forest.
    *
    * Scale shape (r19): BINARY-LIFTING ancestor counts — each round
    * folds "descendants within 2^k hops" one doubling step up the
    * exact 2^k-jump table (see the inline derivation), so a depth-D
    * drainage channel resolves in ceil(log2 D) rounds of two keyed
    * equi-joins each, not D rounds (the watershed/flowLength
    * pointer-doubling discipline, carrying partial COUNTS; this was
    * the repo's last O(depth) loop). Each round localCheckpoints
    * (CLAUDE.md iterative rule); `maxSteps` fails loudly rather than
    * looping — at POWER-OF-TWO granularity on the distributed path: a
    * longest path in (maxSteps, 2^ceil(log2 maxSteps+1)) succeeds
    * silently (the result is still exact; only the bound is coarse),
    * whereas the guarded driver walk below enforces the exact bound.
    * Callers needing the strict contract at scale should pass the
    * next power of two. Small grids
    * take a guarded driver walk instead (one collect of the <=
    * `maxDriverEdges` out-edges beats per-round job overhead; the
    * connectedComponents fast path is the precedent).
    */
  def flowAccumulation(cells: DataFrame, gridCols: Long, gridRows: Long,
                       maxSteps: Int = 0,
                       maxDriverEdges: Long = 1L << 22): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    // default bound: strict-descent D8 never revisits a cell, so no
    // path exceeds the cell count — real DEMs with long drainage
    // channels must not fail on an arbitrary small default (64 did)
    val maxSteps0 = if (maxSteps > 0) maxSteps
      else math.min(gridCols * gridRows, Int.MaxValue.toLong).toInt
    val dirs = flowDirection(cells, gridCols, gridRows).localCheckpoint()
    // (from, to) one edge per non-pit cell
    val edge = dirs.where(col("dir") =!= 0)
      .select((col("y") * gridCols + col("x")).as("from"),
        Dirs.map { case (dx, dy, code) =>
          when(col("dir") === code,
            (col("y") + dy) * gridCols + (col("x") + dx))
        }.reduce(coalesce(_, _)).as("to"))
      .localCheckpoint()
    if (edge.count() <= maxDriverEdges) {
      val next = new scala.collection.mutable.HashMap[Long, Long]()
      edge.as[(Long, Long)].collect().foreach { case (f, t) => next(f) = t }
      val acc = new scala.collection.mutable.HashMap[Long, Long]()
      next.keysIterator.foreach { start =>
        var cur = next.get(start)
        var hops = 0
        while (cur.isDefined) {
          require(hops <= maxSteps0, s"flowAccumulation: path longer than " +
            s"$maxSteps0 steps — raise maxSteps")
          val c = cur.get
          acc(c) = acc.getOrElse(c, 0L) + 1
          cur = next.get(c)
          hops += 1
        }
      }
      val lab = broadcast(acc.toSeq.toDF("id", "cnt"))
      return dirs.join(lab, (col("y") * gridCols + col("x")) === lab("id"), "left")
        .select(col("x"), col("y"), coalesce(col("cnt"), lit(0L)).cast("long").as("acc"))
    }
    // Binary-lifting ancestor counts (r19 — log-depth, replacing the
    // O(longest-channel) per-hop frontier walk): J_k holds the EXACT
    // 2^k-step ancestor pairs (v, a) — v must have a full 2^k path —
    // and C_k(c) counts c's descendants within 2^k hops. Round update:
    //   C_{k+1}(c) = C_k(c) + Σ_{v : J_k(v) = c} C_k(v)
    // (a descendant u at distance d ∈ (2^k, 2^{k+1}] factors UNIQUELY
    // through v = u's ancestor at distance d − 2^k, which sits exactly
    // 2^k below c; u within 2^k is already in C_k(c) and cannot also
    // appear via some v, since that would put it past 2^k — so no
    // double counting), and J_{k+1} = J_k ∘ J_k (undefined once the
    // remaining path is shorter — saturation simply drops the pair).
    // J empties after ceil(log2(maxDepth+1)) rounds and C is then the
    // full accumulation: a continental 10^5-cell drainage channel
    // resolves in ~17 rounds, not 10^5 (the watershed/flowLength
    // pointer-doubling discipline, carrying partial COUNTS). maxSteps
    // keeps its loud-failure contract at power-of-two granularity: J
    // still nonempty once the span passed maxSteps0 means some path
    // is longer than maxSteps0.
    // cnt state is kept as UNMERGED checkpointed parts (C_0, up_1,
    // up_2, …): the up-join consumes their union and its reduce sums
    // across parts, which is algebraically the merged C_k — so the
    // full n-row count table never re-groups per round (only the
    // shrinking per-round contributions checkpoint; ≤ ceil(log2 D)
    // parts ever exist). One final reduceByKey merges everything.
    // Row counts ride each checkpoint's own materialization pass as
    // accumulators (r20): emptiness via accumulator is EXACT — an
    // empty frame counts 0 under any retry, a nonempty one counts > 0.
    //
    // r21 (guide §8 — the Pregel shape, see streamOrder): the loop
    // runs on KEYED RDDs under one sticky HashPartitioner — the
    // up-join and the compose side of the squaring are NARROW
    // co-partitioned joins, the cnt parts union partitioner-aware, and
    // BOTH per-round checkpoints materialize in ONE count job (their
    // partitioner-aware union), with no per-round SQL planning.
    val part = new org.apache.spark.HashPartitioner(math.max(1,
      math.min(spark.sparkContext.defaultParallelism.toLong,
        gridCols * gridRows / 65536L + 1L)).toInt)
    val jumpAcc0 = spark.sparkContext.longAccumulator("graft_fa_jump0")
    var jump: org.apache.spark.rdd.RDD[(Long, Long)] =
      edge.as[(Long, Long)].rdd.partitionBy(part)
        .mapValues { a => jumpAcc0.add(1); a }
    jump.localCheckpoint()
    jump.count()
    var jumpEmpty = jumpAcc0.value == 0
    val cnt0 = jump.map { case (_, a) => (a, 1L) }.reduceByKey(part, _ + _)
    cnt0.localCheckpoint()
    val cntParts =
      scala.collection.mutable.ListBuffer[org.apache.spark.rdd.RDD[(Long, Long)]](cnt0)
    var span = 1L
    var round = 0
    while (!jumpEmpty) {
      require(round < 64 && span <= maxSteps0,
        s"flowAccumulation: paths longer than $maxSteps0 steps — raise maxSteps " +
        "(or the flow graph has a cycle, which strict-descent D8 cannot produce)")
      val accU = spark.sparkContext.longAccumulator(s"graft_fa_up_$round")
      val accJ = spark.sparkContext.longAccumulator(s"graft_fa_jump_${round + 1}")
      val cntU = cntParts.reduce(_ union _) // partitioner-aware: narrow
      val up = jump.join(cntU, part) // narrow: co-partitioned
        .map { case (_, (a, cnt)) => (a, cnt) }
        .reduceByKey(part, _ + _) // map-side combine (the old groupBy sum)
        .mapValues { v => accU.add(1); v }
      up.localCheckpoint()
      val j2 = jump.map { case (v, a) => (a, v) }
        .partitionBy(part)
        .join(jump, part) // narrow: co-partitioned
        .map { case (_, (v, a2)) => (v, a2) }
        .partitionBy(part)
        .mapValues { a => accJ.add(1); a }
      j2.localCheckpoint()
      up.union(j2).count() // ONE job materializes both checkpoints
      if (accU.value != 0) cntParts += up
      jump = j2
      jumpEmpty = accJ.value == 0
      span *= 2
      round += 1
    }
    val acc = cntParts.reduce(_ union _).reduceByKey(part, _ + _)
      .toDF("id", "cnt")
    dirs.join(acc, (col("y") * gridCols + col("x")) === acc("id"), "left")
      .select(col("x"), col("y"), coalesce(col("cnt"), lit(0L)).cast("long").as("acc"))
  }

  /** (from, to, extra…) linear-id out-edges of the D8 graph — one per
    * non-pit cell (shared by watershed / flow length / stream order). */
  private def d8Edges(dirs: DataFrame, gridCols: Long, extra: Column*): DataFrame =
    dirs.where(col("dir") =!= 0)
      .select(Seq((col("y") * gridCols + col("x")).as("from"),
        Dirs.map { case (dx, dy, code) =>
          when(col("dir") === code,
            (col("y") + dy) * gridCols + (col("x") + dx))
        }.reduce(coalesce(_, _)).as("to")) ++ extra: _*)

  /** Watershed labeling (ESRI Basin semantics): every cell takes the
    * linear id of the PIT its D8 flow path terminates in; pits label
    * themselves. Basins partition the grid into drainage areas.
    *
    * Scale shape: [[resolveTiled]] — each 64-px tile walks its cells'
    * flow paths to an in-tile pit or to the first cell past the tile
    * edge, and only the tile-border cells pointer-double across
    * tiles (a basin label only needs the path's endpoint, which is
    * exactly what doubling shortcuts). Graphs of at most
    * `maxDriverEdges` out-edges take the guarded driver walk with
    * path memoization (flowAccumulation precedent).
    */
  def watershed(cells: DataFrame, gridCols: Long, gridRows: Long,
                maxDriverEdges: Long = 1L << 22): DataFrame =
    resolveTiled(cells, gridCols, gridRows, maxDriverEdges, "ws", "basin",
        withDistance = false).getOrElse {
      val spark = cells.sparkSession
      import spark.implicits._
      val dirs = flowDirection(cells, gridCols, gridRows).localCheckpoint()
      val id = col("y") * gridCols + col("x")
      val next = new mutable.HashMap[Long, Long]()
      d8Edges(dirs, gridCols).as[(Long, Long)].collect().foreach { case (f, t) => next(f) = t }
      // iterative memoized walk (recursion could deepen past the JVM
      // stack on long channels): unwind each path onto a list first
      val term = new mutable.HashMap[Long, Long]()
      next.keysIterator.foreach { start =>
        var path = List.empty[Long]
        var cur = start
        while (!term.contains(cur) && next.contains(cur)) {
          path = cur :: path
          cur = next(cur)
        }
        val basin = term.getOrElse(cur, cur)
        path.foreach(c => term(c) = basin)
      }
      val lab = broadcast(term.toSeq.toDF("id", "basin"))
      dirs.join(lab, id === lab("id"), "left")
        .select(col("x"), col("y"),
          coalesce(col("basin"), id).cast("long").as("basin"))
    }

  /** Downstream flow length (ESRI FlowLength, downstream direction):
    * per cell, the total path length along D8 flow directions to its
    * terminal pit — cardinal steps count 1, diagonals √2. Pits are 0.
    *
    * Determinism: steps micro-quantize (1e6 and round(√2·1e6) =
    * 1414214) so every path sum is an EXACT integer — the output is
    * `dist_q` in micro-cells and the oracle's recursive CTE sums the
    * same integers (no floats anywhere).
    *
    * Scale shape: [[resolveTiled]] carrying a sum — each tile walk
    * keeps the distance up to its path's tile exit, and the border
    * doubling adds the exact integer distances of the hops it
    * shortcuts (the [[watershed]] discipline). Guarded driver walk
    * with suffix-sum memoization below `maxDriverEdges`. */
  def flowLength(cells: DataFrame, gridCols: Long, gridRows: Long,
                 maxDriverEdges: Long = 1L << 22): DataFrame =
    resolveTiled(cells, gridCols, gridRows, maxDriverEdges, "fl", "dist_q",
        withDistance = true).getOrElse {
      val spark = cells.sparkSession
      import spark.implicits._
      val dirs = flowDirection(cells, gridCols, gridRows).localCheckpoint()
      val id = col("y") * gridCols + col("x")
      val wq = Dirs.map { case (dx, dy, code) =>
        when(col("dir") === code, lit(if (dx != 0 && dy != 0) DiagQ else StepQ))
      }.reduce(coalesce(_, _))
      val next = new mutable.HashMap[Long, (Long, Long)]() // from -> (to, wq)
      d8Edges(dirs, gridCols, wq.as("wq"))
        .as[(Long, Long, Long)].collect().foreach { case (f, t, w) => next(f) = (t, w) }
      val dist = new mutable.HashMap[Long, Long]()
      next.keysIterator.foreach { start =>
        var path = List.empty[Long] // head = deepest unresolved node
        var cur = start
        while (!dist.contains(cur) && next.contains(cur)) {
          path = cur :: path
          cur = next(cur)._1
        }
        var d = dist.getOrElse(cur, 0L)
        path.foreach { c => d += next(c)._2; dist(c) = d }
      }
      val lab = broadcast(dist.toSeq.toDF("id", "dq"))
      dirs.join(lab, id === lab("id"), "left")
        .select(col("x"), col("y"), coalesce(col("dq"), lit(0L)).cast("long").as("dist_q"))
    }

  /** Micro-cell step lengths of [[flowLength]]: 1e6 cardinal,
    * round(√2 · 1e6) diagonal. */
  private val StepQ = 1000000L
  private val DiagQ = 1414214L

  // tile-walk cell states: no cell (NoData or beyond the grid), and a
  // path that ends at an in-tile pit; any other exit is a cell id
  private val NoCell = -2L
  private val Terminal = -1L

  /** Distributed resolution of a single-out-edge D8 path problem —
    * every cell's value is the sum of its path's step weights plus the
    * value of the pit the path ends in ([[watershed]]: weights 0, pit
    * value = pit id; [[flowLength]]: micro-cell steps, pit value 0).
    * Returns None when the graph has at most `maxDriverEdges` out-edges
    * (the caller's driver walk then runs): edges never outnumber grid
    * cells, so a grid of at most that many cells needs no count.
    *
    * Scale shape (the Barnes 2017 tile-local + boundary-graph scheme,
    * iterated in the Pregel shape):
    *  1. One radius-1 halo pass ([[Focal.gatherPartials]] over the
    *     64-px tiling of [[flowDirection]]): each tile runs the
    *     [[d8Code]] cascade and walks every cell's path, iteratively
    *     and memoized, until an in-tile pit (terminal: final value) or
    *     the first cell past the tile edge (exit: that cell's id and
    *     the weight so far). Exits always land on a neighbor tile's
    *     border ring. The tile states (16 B per cell) are pinned: both
    *     steps below read them, and their exact edge count feeds the
    *     guard.
    *  2. Pointer doubling over the tile-border cells only (~6% of the
    *     cells at 64 px): keyed RDDs under one sticky HashPartitioner,
    *     open rows re-key by their exit, compose through a narrow
    *     co-partitioned join and re-key back. A checkpoint per round;
    *     the count of rows still open rides its materialization as a
    *     `graft_<tag>_open_<round>` accumulator (retries only inflate:
    *     a spurious nonzero costs one idempotent round, zero is the
    *     fixpoint); the previous round unpersists; 64 rounds are the
    *     cycle backstop.
    *  3. One halo exchange back: each resolved border value ships to
    *     the (at most three) tiles whose radius-1 ring holds it, and
    *     every tile relabels its exits locally. Per-cell rows never
    *     cross an exchange.
    * @return (x, y, `valueCol`) — one row per in-grid data cell */
  private def resolveTiled(cells: DataFrame, gridCols: Long, gridRows: Long,
                           maxDriverEdges: Long, tag: String, valueCol: String,
                           withDistance: Boolean): Option[DataFrame] = {
    if (gridCols * gridRows <= maxDriverEdges) return None
    val spark = cells.sparkSession
    import spark.implicits._
    val dem = demLayer(cells, gridCols, gridRows)
    val tl = dem.meta.layout.tileLayout
    val (tc, tr, lc, lr) = (tl.tileCols, tl.tileRows, tl.layoutCols, tl.layoutRows)
    val part = new org.apache.spark.HashPartitioner(math.max(1,
      math.min(spark.sparkContext.defaultParallelism.toLong,
        gridCols * gridRows / 65536L + 1L)).toInt)
    // 1. tile walks, keyed by tile index r0 * lc + c0 (tiles without a
    // data cell — halo-only neighbors of present tiles — emit nothing)
    val tiles = Focal.gatherPartials[(Long, Array[Long], Array[Long], Long)](dem, 1) {
        (c0, r0, padded, w) =>
          val (exit, acc, edges) = walkTile(c0, r0, padded, w, tc, tr, gridCols, withDistance)
          if (exit.forall(_ == NoCell)) Iterator.empty
          else Iterator((r0.toLong * lc + c0, exit, acc, edges))
      }.rdd.map { case (t, exit, acc, edges) => (t, (exit, acc, edges)) }.partitionBy(part)
    tiles.localCheckpoint()
    val edges = tiles.map(_._2._3).fold(0L)(_ + _) // exact; materializes the pin
    if (edges <= maxDriverEdges) {
      tiles.unpersist(blocking = false)
      return None
    }
    // 2. border doubling: (id, (exit or Terminal, value so far))
    var st: org.apache.spark.rdd.RDD[(Long, (Long, Long))] =
      tiles.flatMap { case (t, (exit, acc, _)) =>
        val (c0, r0) = ((t % lc).toInt, (t / lc).toInt)
        (0 until tc * tr).iterator.filter { k =>
          val (i, j) = (k % tc, k / tc)
          exit(k) != NoCell && (i == 0 || j == 0 || i == tc - 1 || j == tr - 1)
        }.map { k =>
          ((r0.toLong * tr + k / tc) * gridCols + c0.toLong * tc + k % tc, (exit(k), acc(k)))
        }
      }.partitionBy(part)
    st.localCheckpoint()
    var round = 0
    var open = true
    while (open) {
      require(round < 64, s"$tag: border pointer doubling exceeded 64 rounds — " +
        "the flow graph has a cycle, which strict-descent D8 cannot produce")
      val openAcc = spark.sparkContext.longAccumulator(s"graft_${tag}_open_$round")
      val cur = st
      val hop = cur.filter(_._2._1 >= 0)
        .map { case (i, (e, a)) => (e, (i, a)) }
        .partitionBy(part)
        .join(cur, part) // narrow: co-partitioned
        .map { case (_, ((i, a), (e2, a2))) => if (e2 >= 0) openAcc.add(1); (i, (e2, a + a2)) }
        .partitionBy(part)
      val next = cur.filter(_._2._1 < 0).union(hop) // partitioner-aware: narrow
      next.localCheckpoint()
      next.count() // eager: runs the round and fills the accumulator
      st = next
      cur.unpersist(blocking = false)
      open = openAcc.value != 0
      round += 1
    }
    // 3. resolved border values back to the tiles whose halo holds them
    val halo = st.flatMap { case (id, (_, v)) =>
      val (x, y) = (id % gridCols, id / gridCols)
      val (tx, ty, i, j) = (x / tc, y / tr, (x % tc).toInt, (y % tr).toInt)
      for {
        dy <- (if (j == 0) -1 else 0) to (if (j == tr - 1) 1 else 0)
        dx <- (if (i == 0) -1 else 0) to (if (i == tc - 1) 1 else 0)
        if (dx != 0 || dy != 0) && tx + dx >= 0 && tx + dx < lc && ty + dy >= 0 && ty + dy < lr
      } yield ((ty + dy) * lc + tx + dx, (id, v))
    }
    val out = tiles.cogroup(halo, part).flatMap { case (t, (states, ring)) =>
      val (c0, r0) = ((t % lc).toInt, (t / lc).toInt)
      val resolved = new mutable.LongMap[Long]()
      ring.foreach { case (id, v) => resolved(id) = v }
      states.iterator.flatMap { case (exit, acc, _) =>
        (0 until tc * tr).iterator.filter(exit(_) != NoCell).map { k =>
          val v = if (exit(k) == Terminal) acc(k)
            else acc(k) + resolved.getOrElse(exit(k),
              throw new IllegalStateException(s"$tag: exit ${exit(k)} of tile $t never resolved"))
          (c0.toLong * tc + k % tc, r0.toLong * tr + k / tc, v)
        }
      }
    }
    Some(out.toDF("x", "y", valueCol))
  }

  /** Step 1 of [[resolveTiled]] for tile (c0, r0): the [[d8Code]] of
    * every cell of its radius-1 padded window, then each cell's path
    * walked until an in-tile pit or the tile edge. The walk is
    * iterative with an explicit stack and memoized: a path stops at
    * the first already-resolved cell and unwinds onto it.
    * @return per cell (row-major) the exit — NoCell, Terminal, or the
    *         id of the first cell past the tile edge — and the value so
    *         far (the final value when Terminal); plus the tile's
    *         out-edge (non-pit cell) count */
  private def walkTile(c0: Int, r0: Int, padded: Array[Double], w: Int, tc: Int, tr: Int,
                       gridCols: Long, withDistance: Boolean): (Array[Long], Array[Long], Long) = {
    val n = tc * tr
    val code = new Array[Int](n)
    val exit = new Array[Long](n)
    val acc = new Array[Long](n)
    val done = new Array[Boolean](n)
    def id(i: Int, j: Int): Long = (r0.toLong * tr + j) * gridCols + c0.toLong * tc + i
    def weight(c: Int): Long =
      if (!withDistance) 0L
      else if ((c & (2 | 8 | 32 | 128)) != 0) DiagQ else StepQ
    var edges = 0L
    var k = 0
    while (k < n) {
      val p = (k / tc + 1) * w + (k % tc + 1)
      if (padded(p).isNaN) { exit(k) = NoCell; done(k) = true }
      else {
        code(k) = d8Code(padded, w, p)
        if (code(k) != 0) edges += 1
      }
      k += 1
    }
    val stack = new Array[Int](n)
    k = 0
    while (k < n) {
      var top = 0
      var cur = k
      var base = -1 // the resolved cell the stacked path unwinds onto
      while (base < 0) {
        if (done(cur)) base = cur
        else if (code(cur) == 0) {
          exit(cur) = Terminal
          acc(cur) = if (withDistance) 0L else id(cur % tc, cur / tc)
          done(cur) = true
          base = cur
        } else {
          val d = Integer.numberOfTrailingZeros(code(cur))
          val i = cur % tc + DirDx(d)
          val j = cur / tc + DirDy(d)
          if (i >= 0 && i < tc && j >= 0 && j < tr) {
            require(top < n, "flow path revisits a cell — strict-descent D8 has no cycles")
            stack(top) = cur
            top += 1
            cur = j * tc + i
          } else {
            exit(cur) = id(i, j)
            acc(cur) = weight(code(cur))
            done(cur) = true
            base = cur
          }
        }
      }
      while (top > 0) {
        top -= 1
        val q = stack(top)
        exit(q) = exit(base)
        acc(q) = weight(code(q)) + acc(base)
        done(q) = true
        base = q
      }
      k += 1
    }
    (exit, acc, edges)
  }

  /** Strahler stream order over the full D8 drainage forest (Strahler
    * 1957; the geotrellis/ESRI StreamOrder operation with every cell
    * treated as stream): cells with no upstream contributor are order
    * 1; a cell whose upstream max order k is contributed by >= 2
    * neighbors gets k + 1, otherwise k.
    *
    * Scale shape: monotone fixpoint — each round joins current orders
    * onto the out-edges and rebuilds per-cell (max order, count at
    * max) with a two-level aggregate (groupBy (cell, ord) count, then
    * max-struct per cell — both map-side combine). Orders only grow
    * and are bounded by log2(cells), so round count = drainage-tree
    * DEPTH, with per-round convergence read off sum(ord) (monotone).
    * The guarded driver fast path computes the same fixpoint in one
    * topological pass (flowAccumulation precedent).
    */
  def streamOrder(cells: DataFrame, gridCols: Long, gridRows: Long,
                  maxRounds: Int = 0,
                  maxDriverEdges: Long = 1L << 22): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val dirs = flowDirection(cells, gridCols, gridRows).localCheckpoint()
    val edge = d8Edges(dirs, gridCols).localCheckpoint()
    val id = col("y") * gridCols + col("x")
    if (edge.count() <= maxDriverEdges) {
      val next = new mutable.HashMap[Long, Long]()
      val indeg = new mutable.HashMap[Long, Int]()
      edge.as[(Long, Long)].collect().foreach { case (f, t) =>
        next(f) = t
        indeg(t) = indeg.getOrElse(t, 0) + 1
      }
      val ord = new mutable.HashMap[Long, Int]()
      val best = new mutable.HashMap[Long, Int]()   // max child order seen
      val bestK = new mutable.HashMap[Long, Int]()  // children at that max
      val remaining = new mutable.HashMap[Long, Int]() ++= indeg
      // Kahn topological pass: leaves first, each settles its target
      var queue = next.keysIterator.filter(c => !indeg.contains(c)).toList ++
        dirs.where(col("dir") === 0).select(id.cast("long")).as[Long].collect()
          .filter(c => !indeg.contains(c)).toList
      while (queue.nonEmpty) {
        val c = queue.head; queue = queue.tail
        val m = best.getOrElse(c, 0)
        val o = if (m == 0) 1 else if (bestK(c) >= 2) m + 1 else m
        ord(c) = o
        next.get(c).foreach { t =>
          val bm = best.getOrElse(t, 0)
          if (o > bm) { best(t) = o; bestK(t) = 1 }
          else if (o == bm) bestK(t) = bestK(t) + 1
          remaining(t) -= 1
          if (remaining(t) == 0) queue = t :: queue
        }
      }
      val lab = broadcast(ord.toSeq.toDF("id", "ord"))
      return dirs.join(lab, id === lab("id"), "left")
        .select(col("x"), col("y"),
          coalesce(col("ord"), lit(1)).cast("long").as("ord"))
    }
    // depth bound: strict descent never revisits, so cells is safe
    val maxRounds0 = if (maxRounds > 0) maxRounds
      else math.min(gridCols * gridRows, Int.MaxValue.toLong).toInt
    // r21 (guide §8 — the Pregel shape, the costDistanceTiled
    // discipline): the fixpoint runs on KEYED RDDs under one sticky
    // HashPartitioner — edge(from) and ord(id) are co-partitioned, so
    // the per-round upstream join is NARROW, the (max ord, count at
    // max) rebuild is ONE aggregateByKey shuffle with map-side combine
    // (algebraically the old two-level groupBy: max ord, then the
    // contributor count at that max), and the update join is narrow
    // again. One job per round, no per-round SQL planning/codegen.
    // Convergence rides the materialization as an accumulator exactly
    // as before (retries only inflate: spurious nonzero = one extra
    // idempotent round, zero = real fixpoint).
    val part = new org.apache.spark.HashPartitioner(math.max(1,
      math.min(spark.sparkContext.defaultParallelism.toLong,
        gridCols * gridRows / 65536L + 1L)).toInt)
    val edgeRdd = edge.as[(Long, Long)].rdd.partitionBy(part)
    edgeRdd.localCheckpoint()
    var ord: org.apache.spark.rdd.RDD[(Long, Long)] =
      dirs.select(id.as("id")).as[Long].rdd.map((_, 1L)).partitionBy(part)
    ord.localCheckpoint()
    // one fixpoint round: rebuild (max order, contributors at max) per
    // target — same result as the old groupBy(id, ord).count +
    // max(struct(ord, k)) pair (max of (ord, k) with k unique per ord
    // IS the (max ord, its k)) — then apply the Strahler update
    def soRound(cur: org.apache.spark.rdd.RDD[(Long, Long)],
                chgAcc: org.apache.spark.util.LongAccumulator) = {
      val up = edgeRdd.join(cur, part) // narrow: co-partitioned
        .map { case (_, (to, o)) => (to, o) }
      val mk = up.aggregateByKey((0L, 0L), part)(
        { case ((m, k), o) =>
          if (o > m) (o, 1L) else if (o == m) (m, k + 1L) else (m, k) },
        { case ((m1, k1), (m2, k2)) =>
          if (m1 > m2) (m1, k1) else if (m2 > m1) (m2, k2) else (m1, k1 + k2) })
      cur.leftOuterJoin(mk, part) // narrow: co-partitioned
        .mapValues { case (o, mkOpt) =>
          val n = mkOpt.map { case (m, k) => if (k >= 2L) m + 1L else m }
            .getOrElse(1L)
          if (n != o) chgAcc.add(1)
          n
        }
    }
    var round = 0
    var done = false
    while (!done) {
      require(round <= maxRounds0,
        s"streamOrder: fixpoint not reached in $maxRounds0 rounds — raise maxRounds")
      val chgAcc = spark.sparkContext.longAccumulator(s"graft_so_chg_$round")
      val next = soRound(ord, chgAcc)
      next.localCheckpoint()
      next.count() // eager: runs the round and fills the accumulator
      val prev = ord
      ord = next
      prev.unpersist(blocking = false)
      done = chgAcc.value == 0
      round += 1
    }
    dirs.join(ord.toDF("id", "ord"), id === col("id"))
      .select(col("x"), col("y"), col("ord").cast("long").as("ord"))
  }

  /** ArcGIS SnapPourPoint: move each pour point to the cell with the
    * highest flow accumulation within `radius` cells (Chebyshev) of
    * the point's own cell — the standard pre-watershed fix for
    * outlets digitized slightly off the stream channel. Ties break
    * north-then-west ((acc DESC, y ASC, x ASC)). Pour points are the
    * bounded dimension side: broadcast range-join against the
    * accumulation cells, then one map-side-combinable struct-argmax
    * per pid — no window, no per-cell shuffle.
    *
    * `points` carries (pid, px, py) in cell units (the supplierPoints
    * contract); `accum` is flowAccumulation's (x, y, acc). */
  def snapPourPoints(points: DataFrame, accum: DataFrame, radius: Int): DataFrame = {
    val pts = broadcast(points.select(col("pid"),
      floor(col("px")).cast("long").as("cx"),
      floor(col("py")).cast("long").as("cy")))
    accum.join(pts,
        accum("x").between(pts("cx") - radius, pts("cx") + radius) &&
        accum("y").between(pts("cy") - radius, pts("cy") + radius))
      .groupBy(col("pid"))
      .agg(max(struct(col("acc"),
        (-col("y")).as("ny"), (-col("x")).as("nx"))).as("b"))
      .select(col("pid"), (-col("b.nx")).as("x"), (-col("b.ny")).as("y"),
        col("b.acc").as("acc"))
  }
}
