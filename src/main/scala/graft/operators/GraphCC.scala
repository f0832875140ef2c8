package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Undirected connected components over Long node ids — hash-min label
 * propagation with pointer jumping, the same merge machinery as the
 * cross-tile label graph in Raster.clump (SURVEY §2.10): rounds scale
 * with log(component diameter), each round a shuffle of the EDGE
 * list (not a cell grid), so it stays cheap when the graph is the
 * small derived structure (contour segments, line-cell adjacency)
 * rather than the raster itself.
 */
object GraphCC {

  /** edges: (a, b) Long pairs. Returns (node, comp) with comp = the
    * component's minimum node id. Isolated nodes can be added by
    * passing self-loops (a = b). Up to
    * [[Terrain.localFixpointMaxRows]] edges run one-task union-find,
    * more run distributed label propagation (identical output — comp
    * ids are integers with no ordering freedom). */
  def label(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("a"), col("b")).localCheckpoint(true)
    if (e0.count() <= Terrain.localFixpointMaxRows) {
      val spark = e0.sparkSession
      import spark.implicits._
      return e0.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val es = it.toArray
        val parent = new scala.collection.mutable.HashMap[Long, Long]
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrElse(x, x) != x) x = parent(x)
          var y = x0 // path compression
          while (parent.getOrElse(y, y) != y) {
            val ny = parent(y); parent(y) = x; y = ny
          }
          x
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2))
          .toArray.distinct
        nodes.iterator.map(nd => (nd, find(nd)))
      }.toDF("node", "comp")
    }
    val sym = e0.where(col("a") =!= col("b")).unionByName(
        e0.where(col("a") =!= col("b"))
          .select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint(true)
    var m = e0.select(col("a").as("node"))
      .unionByName(e0.select(col("b").as("node")))
      .distinct()
      .select(col("node"), col("node").as("root")).localCheckpoint(true)
    var changed = sym.limit(1).count() > 0
    while (changed) {
      val viaNbr = sym
        .join(m.select(col("node").as("b"), col("root").as("rb")),
          Seq("b"))
        .groupBy(col("a").as("node")).agg(min(col("rb")).as("nm"))
      val step = m.join(viaNbr, Seq("node"), "left")
        .select(col("node"),
          least(col("root"), coalesce(col("nm"), col("root"))).as("root"))
      val jump = step
        .join(step.select(col("node").as("r2"), col("root").as("rr")),
          col("root") === col("r2"), "left")
        .select(col("node"), coalesce(col("rr"), col("root")).as("root"))
        .localCheckpoint(true)
      changed = jump
        .join(m.withColumnRenamed("root", "old"), Seq("node"))
        .where(col("root") =!= col("old")).limit(1).count() > 0
      m = jump
    }
    m.select(col("node"), col("root").as("comp"))
  }
}
