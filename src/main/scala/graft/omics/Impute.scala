package graft.omics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** KNN imputation over a long-form (entity, sample, value) matrix —
  * impute.knn semantics (MethylMix/Download_Preprocess.R:791-819: drop
  * rows/cols with > maxMissing fraction missing, then fill each missing
  * cell with the mean of the k nearest rows by Euclidean distance over
  * shared columns).
  *
  * Spark-first shape: rows *with* missing cells are typically a small
  * minority, so the distance computation is an equi-join on sample between
  * that minority and the full table — shuffle on sample, aggregate to
  * (needy, donor) distances, window top-k, mean. Nothing quadratic in the
  * full row count.
  */
object Impute {

  /** Distances between entities-with-missing-cells ("needy") and every
    * donor entity over their shared present samples — the SQL-expressible
    * (oracle-checkable) half of the imputation. Input must be the long
    * form with `entity`/`sample`/`value` columns; nulls mark missing. */
  def neighborDistances(kept: DataFrame): DataFrame = {
    val missing = kept.where(col("value").isNull).select("entity", "sample")
    val present = kept.where(col("value").isNotNull)
    val needy = missing.select(col("entity").as("needy")).distinct()
    val needyVals = present.join(needy, col("entity") === col("needy"))
      .select(col("needy"), col("sample"), col("value").as("nv"))
    needyVals
      .join(present.select(col("entity").as("donor"), col("sample"),
        col("value").as("dv")), "sample")
      .where(col("needy") =!= col("donor"))
      .groupBy("needy", "donor")
      .agg(sqrt(avg(pow(col("nv") - col("dv"), 2))).as("dist"),
        count(lit(1)).as("shared"))
      .where(col("shared") >= 2)
  }

  def knnImpute(df: DataFrame, entityCol: String, sampleCol: String,
                valueCol: String, k: Int = 15,
                maxMissingRow: Double = 0.2, maxMissingCol: Double = 0.2): DataFrame = {
    val d = df.select(col(entityCol).as("entity"), col(sampleCol).as("sample"),
      col(valueCol).cast("double").as("value"))

    // drop heavily-missing rows and columns (Download_Preprocess.R:795-807)
    val rowOk = d.groupBy("entity")
      .agg((sum(when(col("value").isNull, 1).otherwise(0)).cast("double") /
        count(lit(1))).as("miss"))
      .where(col("miss") <= maxMissingRow).select("entity")
    val colOk = d.groupBy("sample")
      .agg((sum(when(col("value").isNull, 1).otherwise(0)).cast("double") /
        count(lit(1))).as("miss"))
      .where(col("miss") <= maxMissingCol).select("sample")
    val kept = d.join(rowOk, "entity").join(colOk, "sample")

    // kept feeds the missing/present splits AND the final join; present is
    // scanned three times (needy values, donor distances, donor values) —
    // materialize it rather than recompute the row/col-filter joins each time
    val keptP = barrier(kept, "impute.kept")
    val missing = keptP.where(col("value").isNull).select("entity", "sample")
    val present = keptP.where(col("value").isNotNull)
    val dists = neighborDistances(keptP)

    // per missing cell: k nearest donors that HAVE that sample's value.
    // The selection orders by round(dist, 6) (ties broken by donor), not
    // the raw double: the raw distances differ across engines in the last
    // ulp (summation order inside avg), so a raw-ordered top-k would be
    // luck-dependent under the DuckDB oracle — rounding first makes the
    // neighbor set deterministic for any data.
    val cand = missing
      .join(dists, missing("entity") === dists("needy"))
      .join(present.select(col("entity").as("donor"), col("sample"),
        col("value").as("dv")), Seq("donor", "sample"))
    val w = Window.partitionBy("entity", "sample")
      .orderBy(round(col("dist"), 6), col("donor"))
    val filled = cand
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .groupBy("entity", "sample")
      .agg(round(avg(col("dv")), 6).as("imputed"), count(lit(1)).as("n_donors"))

    keptP.join(filled, Seq("entity", "sample"), "left")
      .withColumn("value_imputed",
        when(col("value").isNotNull, col("value")).otherwise(col("imputed")))
      .select("entity", "sample", "value", "value_imputed")
  }
}
