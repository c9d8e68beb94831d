package graft.raster

import graft.SparkSpec

class HydrologySpec extends SparkSpec {
  import spark.implicits._

  def dirs(cells: Seq[(Long, Long, Double)], gc: Long = 4, gr: Long = 4): Map[(Long, Long), Long] =
    Hydrology.flowDirection(cells.toDF("x", "y", "v"), gc, gr)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap

  test("d8 direction: steepest drop wins, diagonals pay sqrt(2), pits code 0") {
    // inclined plane z = 9 - x - y with a deep pit at (3,3)
    val plane = for (x <- 0L to 3L; y <- 0L to 3L)
      yield (x, y, if (x == 3 && y == 3) 0.0 else 9.0 - x - y)
    val m = dirs(plane)
    // interior: SE diagonal drop 2/sqrt(2) ~ 1.414 beats E/S drop 1
    assert(m((0L, 0L)) == 2L && m((1L, 1L)) == 2L)
    // (2,2) -> pit: drop 5/sqrt(2); (3,2)/(2,3) fall straight into it
    assert(m((2L, 2L)) == 2L)
    assert(m((3L, 2L)) == 4L) // S drop 4 beats SW drop 0
    assert(m((2L, 3L)) == 1L) // E drop 4
    // the pit itself: every neighbor is higher
    assert(m((3L, 3L)) == 0L)
  }

  test("d8 direction: equal drops tie to the smallest ESRI code") {
    // E and S both drop 1, SE missing -> cascade picks E (code 1)
    val m = dirs(Seq((0L, 0L, 5.0), (1L, 0L, 4.0), (0L, 1L, 4.0)))
    assert(m((0L, 0L)) == 1L)
    // straight drop 2 beats diagonal drop 2/sqrt(2)
    val m2 = dirs(Seq((0L, 0L, 5.0), (1L, 0L, 3.0), (1L, 1L, 3.0)))
    assert(m2((0L, 0L)) == 1L)
  }

  test("d8 direction: flat neighborhood (no positive drop) codes 0") {
    val m = dirs(Seq((0L, 0L, 2.0), (1L, 0L, 2.0), (0L, 1L, 2.0)))
    assert(m.values.forall(_ == 0L))
  }

  test("fill raises strict pits to the neighbor minimum, passes everything else") {
    import graft.core.{Extent, LayoutDefinition, TileLayout}
    val layout = LayoutDefinition(Extent(0, 0, 8, 8), TileLayout(2, 2, 4, 4))
    // flat z=5 plain with a pit at (3,3) (tile-corner: halo check) and
    // a shallow bowl at (5,5) that is NOT strict (equal neighbor)
    val cells = for { x <- 0L until 8L; y <- 0L until 8L } yield
      (x, y, if (x == 3 && y == 3) 1.0 else if (x == 5 && y == 5) 5.0 else 5.0)
    val l = RasterLayer.fromCells(cells.toDF("x", "y", "v"), layout)
    val got = Hydrology.fill(l).toCells.as[(Long, Long, Double)]
      .collect().map(c => ((c._1, c._2), c._3)).toMap
    assert(got((3L, 3L)) == 5.0)       // pit rose to min neighbor
    assert(got((5L, 5L)) == 5.0)       // non-strict: unchanged
    assert(got((0L, 0L)) == 5.0)       // edge partial window: passthrough
    assert(got.size == 64)             // extent preserved
    // a pit ON the edge is not filled (partial window passthrough)
    val edge = cells.map { case (x, y, v) => if (x == 0 && y == 4) (x, y, 1.0) else (x, y, v) }
    val got2 = Hydrology.fill(RasterLayer.fromCells(edge.toDF("x", "y", "v"), layout))
      .toCells.as[(Long, Long, Double)].collect().map(c => ((c._1, c._2), c._3)).toMap
    assert(got2((0L, 4L)) == 1.0)
  }

  test("flow accumulation: chain drains cumulatively into the pit") {
    val chain = Seq((0L, 0L, 3.0), (1L, 0L, 2.0), (2L, 0L, 1.0), (3L, 0L, 0.0))
    val acc = Hydrology.flowAccumulation(chain.toDF("x", "y", "v"), 4, 1)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(acc == Map((0L, 0L) -> 0L, (1L, 0L) -> 1L, (2L, 0L) -> 2L, (3L, 0L) -> 3L))
  }

  test("flow accumulation: distributed loop (guard forced off) matches the driver walk") {
    val chain = Seq((0L, 0L, 3.0), (1L, 0L, 2.0), (2L, 0L, 1.0), (3L, 0L, 0.0))
    val loop = Hydrology.flowAccumulation(chain.toDF("x", "y", "v"), 4, 1,
        maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(loop == Map((0L, 0L) -> 0L, (1L, 0L) -> 1L, (2L, 0L) -> 2L, (3L, 0L) -> 3L))
  }

  test("flow accumulation: log-depth lifting equals the driver walk on a long single channel (r19)") {
    // 512-cell monotone channel in a 512x1 grid: path length 511 >>
    // the ~9 doubling rounds the distributed path now takes (the old
    // per-hop loop ran 511 rounds). Driver walk and forced-distributed
    // twin must agree exactly: acc(i) = i along the channel. A
    // confluence branch joins mid-channel to exercise the count merge.
    val n = 512
    val channel = (0 until n).map(i => (i.toLong, 0L, (n - i).toDouble))
    // branch cell above the channel draining S into x=100
    val all = channel :+ ((100L, 1L, 500.0))
    val df = all.toDF("x", "y", "v")
    val expectDriver = Hydrology.flowAccumulation(df, n.toLong, 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val dist = Hydrology.flowAccumulation(df, n.toLong, 2, maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(dist == expectDriver)
    // independent closed form: upstream of channel cell i is i cells
    // plus the branch for i > 100
    assert(dist((0L, 0L)) == 0L && dist((100L, 1L)) == 0L)
    assert(dist((50L, 0L)) == 50L)
    assert(dist((100L, 0L)) == 101L)  // 100 upstream + the branch
    assert(dist((511L, 0L)) == 512L)
    // maxSteps keeps its loud contract on the lifting path
    val e = intercept[Exception] {
      Hydrology.flowAccumulation(df, n.toLong, 2, maxSteps = 16,
        maxDriverEdges = 0).collect()
    }
    assert(e.getMessage.contains("longer than 16"))
  }

  test("flow accumulation: confluence sums both branches") {
    // Y-shape: two heads at (0,0) and (0,2) drain diagonally into
    // (1,1), which drains E into the (2,1) pit
    val y = Seq((0L, 0L, 6.0), (0L, 2L, 6.0), (1L, 1L, 4.0), (2L, 1L, 0.0))
    val acc = Hydrology.flowAccumulation(y.toDF("x", "y", "v"), 3, 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // (0,0): SE into (1,1); (0,2): NE into (1,1); (1,1): E into (2,1)
    assert(acc == Map((0L, 0L) -> 0L, (0L, 2L) -> 0L, (1L, 1L) -> 2L, (2L, 1L) -> 3L))
  }

  /** Two-pit valley: column x<2 drains to the (1,2) pit, x>=2 to the
    * (3,0) pit (gridCols = 4 -> pit ids 9 and 3). */
  private val twoBasins = Seq(
    (0L, 0L, 5.0), (1L, 1L, 3.0), (1L, 2L, 1.0),
    (2L, 0L, 5.0), (3L, 0L, 0.5))

  test("watershed: every cell labels with its terminal pit; pits label themselves") {
    val w = Hydrology.watershed(twoBasins.toDF("x", "y", "v"), 4, 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // (0,0) -> SE (1,1) -> S (1,2) pit id 2*4+1 = 9
    assert(w((0L, 0L)) == 9L && w((1L, 1L)) == 9L && w((1L, 2L)) == 9L)
    // (2,0) -> E (3,0) pit id 3
    assert(w((2L, 0L)) == 3L && w((3L, 0L)) == 3L)
  }

  test("watershed: pointer doubling (guard forced off) matches the driver walk") {
    val byDriver = Hydrology.watershed(twoBasins.toDF("x", "y", "v"), 4, 4)
      .as[(Long, Long, Long)].collect().toSet
    val byDoubling = Hydrology.watershed(twoBasins.toDF("x", "y", "v"), 4, 4,
        maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(byDoubling == byDriver && byDriver.nonEmpty)
    // 16 grid cells > 5 but 3 out-edges <= 5: the tile pass's exact
    // edge count hands the graph back to the driver walk
    val byGuard = Hydrology.watershed(twoBasins.toDF("x", "y", "v"), 4, 4,
        maxDriverEdges = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(byGuard == byDriver)
  }

  test("flow length: cardinal + diagonal micro-cell sums, pits zero, doubling == driver") {
    // (0,0) -> SE diag -> (1,1) -> S -> (1,2) pit: dist(0,0) =
    // 1414214 + 1000000; (2,0) -> E -> (3,0) pit: 1000000
    val fl = Hydrology.flowLength(twoBasins.toDF("x", "y", "v"), 4, 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(fl((0L, 0L)) == 2414214L)
    assert(fl((1L, 1L)) == 1000000L)
    assert(fl((1L, 2L)) == 0L && fl((3L, 0L)) == 0L) // pits
    assert(fl((2L, 0L)) == 1000000L)
    val byDoubling = Hydrology.flowLength(twoBasins.toDF("x", "y", "v"), 4, 4,
        maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(byDoubling == fl)
  }

  /** 200x200 grid = 4x4 tiles of 64 px (the last tile column/row is 8
    * cells wide). Base terrain: a NW-facing ramp with hash noise (long
    * cross-tile paths to the grid edge, plus scattered pits). Carved
    * in, strictly descending 10 per step and far below the terrain:
    *  - a serpentine channel crossing tile borders 8 times;
    *  - a diagonal channel through the tile corner (127,127)->(128,128)
    *    that then runs down x = 128, the first column of its tiles;
    *  - a zigzag alternating x = 127 / 128, crossing a border per step;
    * with hash-scattered NoData cells, a rectangular hole and the whole
    * tile (1, 2) missing. */
  private lazy val multiTile: (Seq[(Long, Long, Double)], Seq[(Long, Long)]) = {
    def run(x0: Int, y0: Int, x1: Int, y1: Int) =
      if (y0 == y1) (x0 to x1 by (if (x1 >= x0) 1 else -1)).map(x => (x, y0))
      else (y0 to y1 by (if (y1 >= y0) 1 else -1)).map(y => (x0, y))
    val serpentine = (run(5, 20, 195, 20) ++ run(195, 21, 195, 90) ++
      run(194, 90, 5, 90) ++ run(5, 91, 5, 170) ++ run(6, 170, 60, 170))
      .map { case (x, y) => (x.toLong, y.toLong) }
    val cornerEdge = ((0 to 28).map(t => (100 + t, 100 + t)) ++ run(128, 129, 128, 185))
      .map { case (x, y) => (x.toLong, y.toLong) }
    val zigzag = (0 to 30).map(k => ((127 + k % 2).toLong, (30 + k).toLong))
    val channels = Seq(serpentine, cornerEdge, zigzag)
    val carved = channels.flatMap(ch => ch.zipWithIndex.map { case (c, k) => c -> (-100.0 - 10.0 * k) }).toMap
    val cells = for {
      x <- 0L until 200L; y <- 0L until 200L
      if carved.contains((x, y)) || !(
        (x * 31 + y * 17) % 41 == 0 ||                   // scattered NoData
          (x >= 150 && x <= 160 && y >= 140 && y <= 150) || // hole
          (x / 64 == 1 && y / 64 == 2))                    // missing tile
    } yield (x, y, carved.getOrElse((x, y),
      1000.0 + 3.0 * (x + y) + ((x * 7919 + y * 104729 + 13) % 7)))
    (cells, serpentine)
  }

  test("watershed + flow length: multi-tile distributed path equals the driver walk") {
    val (cells, serpentine) = multiTile
    val df = cells.toDF("x", "y", "v")
    // the serpentine really crosses >= 8 tile borders, so its border
    // chain needs >= 3 doubling rounds
    val dir = dirs(cells, 200, 200)
    val step = Hydrology.Dirs.map { case (dx, dy, c) => c.toLong -> (dx, dy) }.toMap
    var cur = serpentine.head
    var crossings = 0
    while (dir(cur) != 0L) {
      val (dx, dy) = step(dir(cur))
      val nxt = (cur._1 + dx, cur._2 + dy)
      if (nxt._1 / 64 != cur._1 / 64 || nxt._2 / 64 != cur._2 / 64) crossings += 1
      cur = nxt
    }
    assert(crossings >= 8)
    assert(cur == serpentine.last)
    val keys = cells.map(c => (c._1, c._2))
    def run(f: (org.apache.spark.sql.DataFrame, Long) => org.apache.spark.sql.DataFrame) = {
      val rows = f(df, 0L).as[(Long, Long, Long)].collect()
      assert(rows.length == keys.length && rows.map(r => (r._1, r._2)).toSet == keys.toSet)
      val driver = f(df, 1L << 22).as[(Long, Long, Long)].collect().toSet
      assert(rows.toSet == driver)
      rows.map(r => (r._1, r._2) -> r._3).toMap
    }
    val basin = run((d, g) => Hydrology.watershed(d, 200, 200, maxDriverEdges = g))
    val (px, py) = serpentine.last
    assert(serpentine.forall(basin(_) == py * 200 + px))
    val fl = run((d, g) => Hydrology.flowLength(d, 200, 200, maxDriverEdges = g))
    assert(fl(serpentine.last) == 0L && fl(serpentine.head) > 8 * 64 * 1000000L)
  }

  test("strahler: two order-1 heads make an order-2 junction; single chains keep order") {
    // (0,0) and (2,0) drain diagonally into (1,1), which drains S into
    // the (1,2) pit: heads 1, junction 2, pit stays 2 (one child at max)
    val v = Seq((0L, 0L, 5.0), (2L, 0L, 5.0), (1L, 1L, 3.0), (1L, 2L, 1.0))
    val o = Hydrology.streamOrder(v.toDF("x", "y", "v"), 4, 4)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(o == Map((0L, 0L) -> 1L, (2L, 0L) -> 1L, (1L, 1L) -> 2L, (1L, 2L) -> 2L))
  }

  test("strahler: distributed fixpoint (guard forced off) matches the driver pass") {
    // deterministic hash-noise terrain, 12x12: junction-rich forest
    val noise = for (x <- 0L until 12L; y <- 0L until 12L)
      yield (x, y, ((x * 73 + y * 151 + 7) % 97).toDouble)
    val byDriver = Hydrology.streamOrder(noise.toDF("x", "y", "v"), 12, 12)
      .as[(Long, Long, Long)].collect().toSet
    val byLoop = Hydrology.streamOrder(noise.toDF("x", "y", "v"), 12, 12,
        maxDriverEdges = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(byLoop == byDriver && byDriver.size == 144)
    // a junction-bearing forest must contain an order >= 2 somewhere
    assert(byDriver.exists(_._3 >= 2L))
  }

  test("snapPourPoint: outlet moves to the max-accumulation cell in range; ties north-west") {
    // plane draining SE into a pit at (3,3): accumulation concentrates
    // on the diagonal; a point at (1,1) with radius 1 must snap to
    // (2,2) (the highest acc in its 3x3 window, short of the pit)
    val plane = for (x <- 0L to 3L; y <- 0L to 3L)
      yield (x, y, if (x == 3 && y == 3) 0.0 else 9.0 - x - y)
    val acc = Hydrology.flowAccumulation(plane.toDF("x", "y", "v"), 4, 4)
    val accMap = acc.as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val pts = Seq((7L, 1.5, 1.5)).toDF("pid", "px", "py")
    val out = Hydrology.snapPourPoints(pts, acc, radius = 1)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 1)
    val (pid, sx, sy, sacc) = out.head
    assert(pid == 7L && sx == 2L && sy == 2L)
    assert(sacc == accMap((2L, 2L)))
    // and the snapped cell really is the window argmax
    val win = for (x <- 0L to 2L; y <- 0L to 2L) yield accMap((x, y))
    assert(win.max == sacc)
  }
}
