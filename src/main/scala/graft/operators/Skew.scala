package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys at cluster scale.
  *
  * AQE's skew-join split handles most runtime skew (enabled in
  * GraftSession); explicit salting remains the tool of choice when a
  * single key dwarfs everything else (the classic "null key" or
  * "default tenant" hot spot): the big side scatters each row into
  * one of `salts` sub-keys, the small side replicates `salts`-fold,
  * and the join key becomes (key, salt) — shuffle load spreads
  * evenly, results are identical to the plain join.
  */
object Skew {

  /** Inner equi-join of `big` ⋈ `small` on `key`, salted. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts >= 1)
    val b = big.withColumn("__salt", pmod(hash(monotonically_increasing_id()), lit(salts)))
    val s = small.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    val joinCols = Seq(key, "__salt")
    b.join(s, joinCols, "inner").drop("__salt")
  }
}
