package graft.score

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Model-weight checkpointing (S3): the reference saves a state_dict per
  * best validation metric and reloads each for the test pass
  * (main_my.py:304-320 save, 351-370 reload; tensor export surface at
  * model_my.py:111-145). The engine's state_dict is a RELATION —
  * long-form `(layer, i, j, w)` rows — persisted as parquet, so a
  * checkpoint is queryable/diffable like any other table and survives any
  * DFS. Doubles round-trip parquet bit-exactly, so reloaded-weight scores
  * are identical to in-memory scores (q_checkpoint_score proves it
  * against the q_dense_score oracle).
  *
  * 100 TB: weights are model-sized (k×k), not data-sized — a checkpoint
  * is a tiny parquet written once per selection event ([[graft.Lifecycle]]
  * bestEpochs); loading is a driver collect of k² rows, then broadcast by
  * the scorer. The data-scale axis never touches this path.
  */
object Checkpoint {

  /** Long-form state_dict: one row per weight. */
  def toDF(spark: SparkSession,
      weights: Map[String, Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    weights.toSeq.sortBy(_._1).flatMap { case (layer, m) =>
      for (i <- m.indices; j <- m(i).indices) yield (layer, i, j, m(i)(j))
    }.toDF("layer", "i", "j", "w")
  }

  /** The state_dict's schema, passed on reload so no footer-inference
    * job runs.
    */
  val Schema: StructType = StructType(Seq(
    StructField("layer", StringType), StructField("i", IntegerType),
    StructField("j", IntegerType), StructField("w", DoubleType)))

  /** One file per checkpoint: `coalesce(1)` is one narrow write job
    * (`load` rebuilds by (i, j), so row order in the file is free).
    */
  def save(spark: SparkSession, path: String,
      weights: Map[String, Array[Array[Double]]]): Unit =
    toDF(spark, weights).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Reload a state_dict: k² driver rows per layer, rebuilt dense. */
  def load(spark: SparkSession, path: String): Map[String, Array[Array[Double]]] = {
    import spark.implicits._
    spark.read.schema(Schema).parquet(path).as[(String, Int, Int, Double)].collect()
      .groupBy(_._1)
      .map { case (layer, rows) =>
        val nI = rows.map(_._2).max + 1
        val nJ = rows.map(_._3).max + 1
        val m = Array.ofDim[Double](nI, nJ)
        rows.foreach { case (_, i, j, w) => m(i)(j) = w }
        layer -> m
      }
  }
}
