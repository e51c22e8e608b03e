package graft

import java.util.Random

/** Deterministic paper-shaped blob points (FIXTURES.md §1: sklearn
  * `make_blobs(centers = 8, cluster_std = 0.6)`): `centres` centres
  * uniform in [-10, 10]², each point a Gaussian draw with σ = `sigma`
  * around a uniformly chosen centre. Same seed, same points. */
object Blobs {
  def points(n: Int, seed: Long, centres: Int = 8,
      sigma: Double = 0.6): IndexedSeq[(Double, Double)] = {
    val rnd = new Random(seed)
    val cs = IndexedSeq.fill(centres)(
      (rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10))
    IndexedSeq.fill(n) {
      val (cx, cy) = cs(rnd.nextInt(centres))
      (cx + sigma * rnd.nextGaussian(), cy + sigma * rnd.nextGaussian())
    }
  }
}
