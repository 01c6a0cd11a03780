package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Per-group row sampling — the reference's `sample(cols..., N rows)` /
  * `sample(..., K percent)` operator with per-group reservoir semantics
  * inside GROUP BY (`pkg/sql/colexec/sample/types.go:31-32`,
  * `samplePool.go`; SQL `test/distributed/cases/sample/sample.sql:16`).
  *
  * Two flavors:
  *  - [[deterministicSample]]: pseudo-random but REPRODUCIBLE — ranks rows
  *    by md5(id) within each group. Same result on any engine/cluster/
  *    partitioning, which is what a training-data pipeline usually wants
  *    (and what an oracle can verify).
  *  - [[randomSample]]: seeded `rand()` ranking — statistically a uniform
  *    per-group sample like the reference's reservoir pool; partitioning-
  *    dependent, so only aggregate properties are testable.
  *
  * Both are one window pass over the shuffled group — no driver collect,
  * no per-group state outside Spark's own agg machinery.
  */
object Sampling {

  def deterministicSample(df: DataFrame, keys: Seq[Column], n: Int,
      idCol: Column): DataFrame = {
    val w = Window.partitionBy(keys: _*)
      .orderBy(md5(idCol.cast("string")), idCol)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }

  def randomSample(df: DataFrame, keys: Seq[Column], n: Int,
      seed: Long = 42L): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(rand(seed))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }
}
