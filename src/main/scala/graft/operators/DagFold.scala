package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A slot-fold row gathered into one task: a cell (`j` = -1, with its
  * `init` and source attributes `sa`, `sb`) or the edge from (r, c)
  * into slot `j` of (tr, tc), with weight `w` and `flag`. */
case class SlotRow(r: Long, c: Long, tr: Long, tc: Long, j: Int,
                   w: Double, flag: Boolean, init: Double, sa: Double,
                   sb: Double)

/** A successor-fold row gathered into one task: a cell (`edge` false,
  * `x` its load) or the edge (r, c) -> (tr, tc) of length `x`. */
case class SuccRow(r: Long, c: Long, tr: Long, tc: Long, x: Long,
                   edge: Boolean)

/**
 * Topological folds over flow DAGs, the one mechanism behind the
 * accumulation tools (FlowAccumD8/Dinf/FD8/MDInf, MassFluxD8/Dinf,
 * StreamHeadsMDInf, the upslope-flowpath family, CostPathway and the
 * upstream-channel lengths). A fold computes each cell from the FINAL
 * values of its upstream neighbours, so it has one exact answer on any
 * DAG, however long its flowpaths.
 *
 * Two arms, switched on [[Terrain.localFixpointMaxRows]]:
 *  - one task: cells and edges gathered into primitive arrays and
 *    visited once in Kahn order ([[kahnOrder]]);
 *  - distributed: synchronous Jacobi rounds, a join and an
 *    aggregation each, run until a round changes no cell
 *    ([[untilStationary]]).
 * Both fail, naming the operator, when the graph has a cycle.
 */
object DagFold {

  /** Send along one slot-fold edge: (final value of the source, edge
    * weight, edge flag, source attributes sa and sb) -> load added to
    * the target. */
  type Transfer = (Double, Double, Boolean, Double, Double) => Double

  /** Kahn topological order of `n` cells under the edges
    * src(e) -> dst(e); fails naming `op` when they contain a cycle. */
  def kahnOrder(op: String, n: Int, src: Array[Int],
                dst: Array[Int]): Array[Int] = {
    val indeg = new Array[Int](n)
    dst.foreach(t => indeg(t) += 1)
    // successor lists in CSR form: succ(start(i) until start(i + 1))
    val start = new Array[Int](n + 1)
    src.foreach(s => start(s + 1) += 1)
    for (i <- 0 until n) start(i + 1) += start(i)
    val succ = new Array[Int](src.length)
    val fill = start.clone()
    for (e <- src.indices) { succ(fill(src(e))) = dst(e); fill(src(e)) += 1 }
    // `order` doubles as the FIFO queue: [head, seen) are ready cells
    val order = new Array[Int](n)
    var seen = 0
    for (i <- 0 until n) if (indeg(i) == 0) { order(seen) = i; seen += 1 }
    var head = 0
    while (head < seen) {
      val i = order(head); head += 1
      for (k <- start(i) until start(i + 1)) {
        val t = succ(k)
        indeg(t) -= 1
        if (indeg(t) == 0) { order(seen) = t; seen += 1 }
      }
    }
    require(seen == n,
      s"$op: the flow graph has a cycle (${n - seen} of $n cells unordered)")
    order
  }

  /** Distributed arm: applies the synchronous round `step` to `init`
    * until a round changes no row. On a DAG of `n` cells that happens
    * within n rounds, so a change in a later round means a cycle, and
    * the loop fails naming `op`. Every round is materialized: the
    * stationarity test reads it anyway, and the truncated lineage
    * keeps nested join+pivot rounds from blowing up the optimizer's
    * constraint propagation. */
  def untilStationary(op: String, n: Long, init: DataFrame)
                     (step: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var round = 0L
    var changed = true
    while (changed) {
      round += 1
      val next = step(cur).localCheckpoint(true)
      changed = !next.except(cur).isEmpty
      require(!changed || round <= n,
        s"$op: still changing after $round rounds on $n cells, " +
          "so the flow graph has a cycle")
      cur = next
    }
    cur
  }

  /**
   * Slot fold: acc = init + Σ_{j=0..7} transfer(slot j) per cell, from
   * `cells` (r, c, init, sa, sb) and `edges` (r, c, tr, tc, j, w, flag),
   * each edge feeding slot j of its target (at most one per slot).
   * Slots add in ascending j onto init, the order of the unrolled SQL
   * oracles, and empty slots add 0.0 as the oracles' COALESCE does, so
   * both arms are bit-equal to each other and to an oracle run past the
   * longest flowpath. Output (r, c, acc).
   */
  def slotFold(op: String, cells: DataFrame, edges: DataFrame)
              (transfer: Transfer): DataFrame = {
    val cs = cells.select(col("r") +: col("c") +: Seq("init", "sa", "sb")
      .map(k => col(k).cast("double").as(k)): _*).localCheckpoint(true)
    val es = edges.select(col("r"), col("c"), col("tr"), col("tc"),
      col("j").cast("int").as("j"), col("w").cast("double").as("w"),
      col("flag")).localCheckpoint(true)
    val n = cs.count()
    if (n <= Terrain.localFixpointMaxRows)
      return slotFoldLocal(op, cs, es, transfer)
    val send = udf(transfer).apply(col("__a"), col("w"), col("flag"),
      col("sa"), col("sb"))
    val slots =
      (0 until 8).map(j => sum(when(col("j") === j, send)).as(s"d$j"))
    untilStationary(op, n, cs.withColumn("acc", col("init"))) { st =>
      val contrib = es
        .join(st.select(col("r"), col("c"), col("acc").as("__a"),
          col("sa"), col("sb")), Seq("r", "c"))
        .groupBy(col("tr").as("r"), col("tc").as("c"))
        .agg(slots.head, slots.tail: _*)
      st.join(contrib, Seq("r", "c"), "left")
        .select(col("r"), col("c"), col("init"), col("sa"), col("sb"),
          (0 until 8).foldLeft(col("init")) { (s, j) =>
            s + coalesce(col(s"d$j"), lit(0.0))
          }.as("acc"))
    }.select("r", "c", "acc")
  }

  /** One-task arm of [[slotFold]]: pull-style, a cell is summed once
    * all its sources are final. */
  private def slotFoldLocal(op: String, cells: DataFrame, edges: DataFrame,
                            transfer: Transfer): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val tagged = cells
      .select(col("r"), col("c"), lit(0L).as("tr"), lit(0L).as("tc"),
        lit(-1).as("j"), lit(0.0).as("w"), lit(false).as("flag"),
        col("init"), col("sa"), col("sb"))
      .unionByName(edges.select(col("*"), lit(0.0).as("init"),
        lit(0.0).as("sa"), lit(0.0).as("sb")))
      .as[SlotRow]
    tagged.coalesce(1).mapPartitions { it =>
      val (cs, es) = it.toArray.partition(_.j < 0)
      val idx = cs.iterator.map(x => (x.r, x.c)).zipWithIndex.toMap
      val n = cs.length
      val inSrc = Array.fill(n * 8)(-1)
      val inW = new Array[Double](n * 8)
      val inFlag = new Array[Boolean](n * 8)
      val src = new Array[Int](es.length)
      val dst = new Array[Int](es.length)
      for (e <- es.indices) {
        val x = es(e)
        src(e) = idx((x.r, x.c)); dst(e) = idx((x.tr, x.tc))
        val k = dst(e) * 8 + x.j
        require(inSrc(k) == -1,
          s"$op: duplicate edge slot (${x.tr},${x.tc},${x.j})")
        inSrc(k) = src(e); inW(k) = x.w; inFlag(k) = x.flag
      }
      val acc = new Array[Double](n)
      for (i <- kahnOrder(op, n, src, dst)) {
        var s = cs(i).init
        for (k <- i * 8 until i * 8 + 8) {
          val si = inSrc(k)
          s += (if (si >= 0)
                  transfer(acc(si), inW(k), inFlag(k), cs(si).sa, cs(si).sb)
                else 0.0)
        }
        acc(i) = s
      }
      cs.indices.iterator.map(i => (cs(i).r, cs(i).c, acc(i)))
    }.toDF("r", "c", "acc")
  }

  /** A single-successor DAG gathered into one task: per cell its load
    * `x`, successor `next` (-1 at outlets) and out-edge length `d`. */
  final class SuccessorDag(val n: Int, val x: Array[Long],
                           next: Array[Int], val d: Array[Long],
                           order: Array[Int]) {
    /** Applies `update(i, t)` to every edge i -> t in Kahn order, so
      * each runs after all of i's in-edges. */
    def forEachEdge(update: (Int, Int) => Unit): Unit =
      order.foreach(i => if (next(i) >= 0) update(i, next(i)))
  }

  /** One-task successor fold over `cells` (r, c, x) and `edges`
    * (r, c, tr, tc, d), at most one edge per source; `fold` returns one
    * Long column per name in `outCols`. Output (r, c, outCols...). */
  def successorFoldLocal(op: String, cells: DataFrame, edges: DataFrame,
                         outCols: Seq[String])
                        (fold: SuccessorDag => Seq[Array[Long]]): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val tagged = cells
      .select(col("r"), col("c"), lit(0L).as("tr"), lit(0L).as("tc"),
        col("x"), lit(false).as("edge"))
      .unionByName(edges.select(col("r"), col("c"), col("tr"), col("tc"),
        col("d").as("x"), lit(true).as("edge")))
      .as[SuccRow]
    tagged.coalesce(1).mapPartitions { it =>
      val (es, cs) = it.toArray.partition(_.edge)
      val idx = cs.iterator.map(x => (x.r, x.c)).zipWithIndex.toMap
      val n = cs.length
      val next = Array.fill(n)(-1)
      val d = new Array[Long](n)
      for (e <- es) {
        val s = idx((e.r, e.c))
        require(next(s) < 0, s"$op: cell (${e.r},${e.c}) has two successors")
        next(s) = idx((e.tr, e.tc)); d(s) = e.x
      }
      val srcs = (0 until n).filter(next(_) >= 0).toArray
      val order = kahnOrder(op, n, srcs, srcs.map(next))
      val outs = fold(new SuccessorDag(n, cs.map(_.x), next, d, order))
      cs.indices.iterator.map(i =>
        (cs(i).r, cs(i).c, outs.map(_(i)).toArray))
    }.toDF("r", "c", "__v")
      .select(col("r") +: col("c") +:
        outCols.zipWithIndex.map { case (nm, k) => col("__v")(k).as(nm) }: _*)
  }
}
