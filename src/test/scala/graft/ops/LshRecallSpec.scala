package graft.ops

import graft.{SparkSpec, Tables}

/** CI gate for the similarity-graph pair source: the production LSH
  * design point (planes=256, bands=64 — the exact parameters of
  * `DedupSimQueries.bandedCosinePairs`) must find EVERY pair the exact
  * all-pairs enumerator finds at both graph thresholds. The graph
  * queries' DuckDB oracles enumerate exact pairs, so a single missed
  * pair silently changes triangle counts / PageRank mass / BFS
  * distances; this spec turns that silent corruption into a loud test
  * failure. The analytic bound is per-pair miss ≤ (1−p⁴)⁶⁴ ≈ 6·10⁻⁵ at
  * θ = 0.35 (see the recall argument at the bandedCosinePairs
  * declaration). sf0.1 — the scale point the per-round bench actually
  * runs — is gated here too (round-15 verdict item; before that only a
  * one-off recall probe measured it): its corpus is 2,000
  * vectors, so the exact enumerator is ~4M candidate pairs and stays
  * test-budget cheap. */
class LshRecallSpec extends SparkSpec {
  private val designs = Seq(0.35, 0.4)

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); th <- designs)
    test(s"banded LSH pairs cover the exact pair set at $sf th=$th") {
      val e = Tables.embeddings(spark, s"/root/testdata/$sf")
      val exact = Dedup.embeddingCosine(e, "embedding", "vec_id", th)
        .select("vec_id_a", "vec_id_b")
      val lsh = Dedup
        .embeddingCosineLsh(e, "embedding", "vec_id", th,
          planes = 256, bands = 64)
        .select("vec_id_a", "vec_id_b")
      val missed = exact.exceptAll(lsh).count()
      assert(missed === 0L,
        s"LSH banding missed $missed exact pairs at $sf th=$th — " +
          "recall regression in the similarity-graph pair source")
    }
}
