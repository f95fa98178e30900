package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Catalog queries run 90-at-a-time in one session (Verify, the catalog
  * specs), so a query body that persists an intermediate must release it
  * before the next query runs, or cached blocks accumulate for the whole
  * catalog pass.
  *
  * `drop` cuts the result's lineage with an eager `localCheckpoint`: the
  * plan runs once and its output is stored as RDD blocks ON THE EXECUTORS
  * (spilling to executor disk if large), after which the upstream caches
  * can be released. Nothing passes through the driver — an O(corpus)
  * near-dup pair list or cluster-label table stays distributed, so the
  * pattern survives adversarial corpora at 100 TB where a collect()-based
  * cut would OOM the driver.
 *
 * Below [[graft.plans.SingleStage.gateBytes]] (32 MB) the small-input
 * gate overrides the distribution: `drop` notes the input bytes of
 * `result` for the checkpoint, so a plan over it is gated like a plan
 * over the files it was computed from and reads its one partition with
 * no exchange. */
private[graft] object Materialize {
  def drop(result: DataFrame, caches: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(eager = true)
    graft.plans.SingleStage.noteCheckpoint(out, result)
    caches.foreach(_.unpersist())
    out
  }
}
