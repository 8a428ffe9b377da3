package graft.functions

/** Embedding-vector helpers. The vector kernels themselves (cosine,
  * euclidean) are the native [[graft.plans.NativeExpressions]] forms.
  */
object VectorFunctions {

  /** Deterministic seeded Gaussian hyperplanes (random-hyperplane LSH):
    * the same seed gives the same planes in every run. */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }
}
