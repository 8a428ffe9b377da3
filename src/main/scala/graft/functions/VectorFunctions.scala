package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column expressions (`Array[Float]`/`Array[Double]`
  * columns), built on `zip_with`/`aggregate` so the dot product stays in
  * whole-stage codegen — no UDF, no vector-type conversion.
  *
  * All math is done in double precision with a sequential left-fold in
  * index order, which makes results bit-deterministic (needed for the
  * oracle compare) and engine-portable.
  */
object VectorFunctions {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def normSq(a: Column): Column =
    aggregate(toDouble(a), lit(0.0d), (acc, x) => acc + x * x)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0.0d, 0.0d).otherwise(dot(a, b) / denom)
  }

  def euclidean(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x))

  /** Deterministic seeded Gaussian hyperplanes (random-hyperplane LSH):
    * the same seed gives the same planes in every run. */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }
}
