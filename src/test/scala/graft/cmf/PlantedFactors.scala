package graft.cmf

/** Deterministic ground-truth factors for the synthetic low-rank rating
  * fixtures the fit specs build. */
object PlantedFactors {

  /** Signed Gaussian factor scaled by 1/√rank — well-conditioned
    * synthetic ground truth, drawn from the library's Gaussian stream. */
  def signedFactor(seed: Long, id: Long, rank: Int): Array[Float] = {
    var state = CollectiveALS.splitmix64(seed ^ CollectiveALS.splitmix64(id))
    Array.fill(rank) {
      val (next, z) = CollectiveALS.gaussian(state)
      state = next
      (z / math.sqrt(rank.toDouble)).toFloat
    }
  }
}
