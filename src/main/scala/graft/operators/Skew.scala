package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY §5): the two standard shapes for
  * hot keys at 100 TB, kept semantics-identical to their naive forms
  * (specs assert equality).
  *
  * AQE's skew-join handling covers sort-merge joins after the fact;
  * these are the *declarative* fixes for when the skew is known — a hot
  * LSH band bucket, a null-heavy foreign key, a celebrity user — and
  * for aggregation (which AQE's skew handling does not split).
  */
object Skew {

  /** Two-phase salted aggregation: partial-aggregate on (key, salt) —
    * spreading a hot key over `salts` reducers — then final-aggregate on
    * key. Identical result to a direct groupBy-sum/count for any
    * decomposable aggregate.
    */
  def saltedSumCount(df: DataFrame, keyCols: Seq[String], valueCol: String,
                     salts: Int = 16): DataFrame = {
    val salt = pmod(hash(col(valueCol), monotonically_increasing_id()), lit(salts))
    df.withColumn("_salt", salt)
      .groupBy((keyCols.map(col) :+ col("_salt")): _*)
      .agg(sum(valueCol).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum("_psum").as("value_sum"), sum("_pcnt").as("n"))
  }

  /** Salted join for a skewed LEFT side: the left's hot keys are spread
    * by a random salt; the (small) right side is replicated once per
    * salt value so every (key, salt) partition finds its match. Join
    * cardinality and columns identical to the unsalted equi-join.
    */
  def saltedJoin(bigLeft: DataFrame, smallRight: DataFrame,
                 leftKey: String, rightKey: String, salts: Int = 16): DataFrame = {
    val saltedL = bigLeft.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val saltedR = smallRight.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedL.join(saltedR,
        saltedL(leftKey) === saltedR(rightKey) && saltedL("_salt") === saltedR("_salt"))
      .drop("_salt")
  }
}
