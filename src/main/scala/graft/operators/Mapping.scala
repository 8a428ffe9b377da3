package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ID-mapping rewrite — the join-based endpoint resolution of
  * graph_etl/pipeline.py:48-122, as ordinary DataFrame transforms so
  * Catalyst plans them (broadcast-hash for the small mapping side).
  *
  * Reference semantics (pipeline.py:54-67): join edges on
  * `prop == old_value`, `new_value = coalesce(new_value, prop)`, rename the
  * old column to `mapped_from` and `new_value` to `prop`.
  *
  * Quirk policy (SURVEY §2.12.1): the reference uses a FULL outer join, so
  * mapping rows that match no edge survive as ghost edges with null
  * payloads. Default here is the intended left-outer; `strictCompat = true`
  * reproduces the ghosts bug-for-bug.
  *
  * Scale: mappings are dimension-sized — `broadcast()` keeps the rewrite
  * shuffle-free over arbitrarily large edge tables.
  */
object Mapping {

  /** Rewrite column `prop` of `edges` through `mapping(old_value,new_value)`. */
  def applyMapping(
      edges: DataFrame,
      mapping: DataFrame,
      prop: String,
      strictCompat: Boolean = false): DataFrame = {
    val joinType = if (strictCompat) "full_outer" else "left_outer"
    // fresh attributes per call: one mapping frame may be joined twice into
    // one plan (both endpoints of a self-typed edge), and its own
    // attributes would then be ambiguous in the second join
    val m0 = mapping.select(col("old_value").as("__old_value"), col("new_value").as("__new_value"))
    val m = if (strictCompat) m0 else broadcast(m0)
    // When old and new types differ the merged column becomes a string —
    // the reference records the post-mapping dtype as Utf8 (pipeline.py:69);
    // without the explicit cast Spark's ANSI coercion would pick the
    // numeric side and throw on unmapped string values.
    val pType = edges.schema(prop).dataType
    val mType = mapping.schema("new_value").dataType
    val oType = mapping.schema("old_value").dataType
    val (newSide, oldSide) =
      if (pType == mType) (col("__new_value"), edges(prop))
      else (col("__new_value").cast("string"), edges(prop).cast("string"))
    // join keys likewise compare as strings when types differ — ANSI mode
    // would otherwise coerce the string side numerically and throw on
    // non-numeric ids instead of just not matching
    val joinCond =
      if (pType == oType) edges(prop) === col("__old_value")
      else edges(prop).cast("string") === col("__old_value").cast("string")
    edges
      .join(m, joinCond, joinType)
      .withColumn("__mapped", coalesce(newSide, oldSide))
      .withColumnRenamed(prop, "mapped_from")
      .drop("__old_value", "__new_value")
      .withColumnRenamed("__mapped", prop)
  }

  /** Build the automatic `{prop -> primary key}` mapping from a node table
    * (pipeline.py:93-96: project (pk, prop), drop nulls). */
  def autoMapping(nodes: DataFrame, primaryKey: String, prop: String): DataFrame =
    nodes
      .select(col(prop).as("old_value"), col(primaryKey).as("new_value"))
      .na.drop()

  /** Post-mapping dedup on endpoints (pipeline.py:71,113). */
  def dedupEndpoints(edges: DataFrame): DataFrame =
    edges.dropDuplicates("start", "end")
}
