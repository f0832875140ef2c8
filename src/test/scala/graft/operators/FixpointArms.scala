package graft.operators

import org.scalatest.Assertions

/** Runs an operator on both arms of the size-adaptive fixpoints: the
  * one-task kernel (`localFixpointMaxRows` unlimited) and the
  * distributed rounds (forced with 0). Asserts the two results are
  * bit-identical and returns them. Memoized operators must be handed
  * a fresh input in each call (e.g. `grid.localCheckpoint()`), or the
  * second arm returns the first arm's cached frame. */
object FixpointArms extends Assertions {
  def both[K, V](run: () => Map[K, V]): Map[K, V] = {
    val saved = Terrain.localFixpointMaxRows
    try {
      Terrain.localFixpointMaxRows = Long.MaxValue
      val local = run()
      Terrain.localFixpointMaxRows = 0L
      val dist = run()
      assert(local.keySet == dist.keySet)
      local.foreach { case (k, v) =>
        assert(v == dist(k), s"key $k: local=$v dist=${dist(k)}")
      }
      local
    } finally Terrain.localFixpointMaxRows = saved
  }
}
