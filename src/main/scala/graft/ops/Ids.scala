package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Seedable `VM_#######` id generation WITH collision checking — the full
  * gizmos.py:330-336 semantics (generate, test against the existing id
  * set, regenerate on collision). The draw is md5-derived from
  * (seed, key, attempt): deterministic across runs, replayable by an
  * oracle, and the collision retry is a short driver loop of anti-joins —
  * never a driver-side id set. */
object Ids {

  def candidate(keyCol: String, seed: Long, attempt: Int) =
    concat(lit("VM_"), substring(md5(concat(
      lit(s"$seed:$attempt:"), col(keyCol).cast("string"))), 1, 7))

  /** @param rows     rows needing ids (keyCol must be unique per row)
    * @param existing one-column DataFrame of ids already taken
    * @return rows + `vm_id`, collision-free vs `existing` AND within the
    *         batch. Rows still colliding after maxAttempts get a null id
    *         (callers decide; with 16^7 id space this needs adversarial
    *         collisions). */
  def assignNewIds(rows: DataFrame, keyCol: String, existing: DataFrame,
                   seed: Long = 42L, maxAttempts: Int = 5): DataFrame = {
    val taken0 = existing.toDF("vm_id").distinct()
    var pending = rows
    var taken = taken0
    var done: DataFrame = null
    var attempt = 0
    while (attempt < maxAttempts) {
      val cand = pending.withColumn("vm_id", candidate(keyCol, seed, attempt))
      // a candidate survives if it collides with neither the taken set nor
      // another candidate in this batch (keep-min-key wins the batch tie).
      // Batch-dup detection is a window over vm_id, not groupBy+self-join:
      // one exchange computes both aggregates AND leaves the stream
      // partitioned by vm_id, which the taken anti-check join then reuses.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("vm_id")
      // `checked` feeds ok, pending AND (via taken) the next attempt, so
      // without a barrier the plan both doubles per attempt and RECOMPUTES
      // the whole join chain once per consuming branch
      val checked = barrier(cand
        .withColumn("__c", count(lit(1)).over(w))
        .withColumn("__winner", min(col(keyCol)).over(w))
        .withColumn("__ok", col("__c") === 1 || col(keyCol) === col("__winner"))
        .join(taken.withColumn("__taken", lit(true)), Seq("vm_id"), "left")
        .withColumn("__ok", col("__ok") && col("__taken").isNull)
        .drop("__c", "__winner", "__taken"), "ids.checked")
      val ok = checked.where(col("__ok")).drop("__ok")
      done = if (done == null) ok else done.union(ok)
      taken = taken.union(ok.select("vm_id"))
      pending = checked.where(!col("__ok")).drop("__ok", "vm_id")
      attempt += 1
      // early-exit probe only past the common resolution depth (a re-drawn
      // id collides at ~n/16^7, so virtually everything settles within two
      // attempts); earlier probes would spend a job to learn nothing
      if (attempt < maxAttempts && attempt >= 2 && pending.isEmpty)
        attempt = maxAttempts
    }
    val leftover = pending.withColumn("vm_id", lit(null).cast("string"))
    if (done == null) leftover
    else done.unionByName(leftover.select(done.columns.map(col): _*))
  }
}
