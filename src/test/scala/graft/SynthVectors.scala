package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic CLUSTERLESS vector corpora for the ANN recall specs
  * (NearDupSpec; VERDICT r14 #1/#5): iid unit Gaussians have no structure a coarse
  * quantizer can exploit — IVF's adversarial case, where routed recall
  * is bounded by the scanned fraction for arbitrary neighbors — plus
  * PLANTED near-duplicates at a controlled cosine, the recoverable
  * signal a dedup/similarity workload actually cares about.
  *
  * Generation is seeded PER ROW (splitmix-style mix of the id), so the
  * corpus is reproducible at any parallelism, needs no driver-side RNG
  * or data movement, and scales to any n as a single mapPartitions over
  * `spark.range` — the same discipline as the testdata generators.
  */
object SynthVectors {

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def unitGaussian(rng: java.util.Random, dim: Int): Array[Float] = {
    val v = Array.fill(dim)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** n clusterless unit vectors (vec_id ∈ [0, n)), plus `planted`
    * near-duplicates of vectors 0..planted-1 at vec_ids n..n+planted-1
    * with cosine ≈ `cosTarget` to their source. */
  def corpus(spark: SparkSession, n: Long, dim: Int = 64,
      planted: Int = 0, cosTarget: Double = 0.95): DataFrame = {
    import spark.implicits._
    require(planted <= n, s"planted=$planted exceeds n=$n")
    // cos(v, normalize(v + ε·g⊥)) = 1/√(1+ε²) for unit v ⊥ unit g
    val eps = math.sqrt(1.0 / (cosTarget * cosTarget) - 1.0)
    spark.range(n + planted).map { id =>
      if (id < n) (id, unitGaussian(new java.util.Random(mix(id)), dim))
      else {
        val src = id - n
        val v = unitGaussian(new java.util.Random(mix(src)), dim)
        val rng = new java.util.Random(mix(id * 31 + 7))
        val g = Array.fill(dim)(rng.nextGaussian())
        // project out the v-component, unit-normalize the residual
        val dot = v.zip(g).map { case (a, b) => a * b }.sum
        val gp = g.zipWithIndex.map { case (x, i) => x - dot * v(i) }
        val gn = math.sqrt(gp.map(x => x * x).sum)
        val out = v.zipWithIndex
          .map { case (x, i) => (x + eps * gp(i) / gn).toFloat }
        val on = math.sqrt(out.map(x => x.toDouble * x).sum)
        (id, out.map(x => (x / on).toFloat))
      }
    }.toDF("vec_id", "embedding")
  }
}
