package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointIds

/** Deterministic arrival-order staging for file-stream feeds.
  *
  * `FileStreamSource` with `latestFirst=false` (the default) admits
  * files oldest-modification-time first, so a feed's intended batch
  * order is exactly its files' mtime order. The operators that depend
  * on arrival order (E31's timer sessionization; the throughput
  * harness's time-ordered feed) previously enforced it with
  * `Thread.sleep(1100)` between writes — wall-clock luck that a
  * coarse-mtime filesystem or a straggling write commit can break
  * nondeterministically. Here the order is SET, not waited for: write
  * every batch, then stamp strictly increasing `setLastModified`
  * times (2 s apart, ending in the past) over the part-files in
  * write order. No sleeps, no filesystem-granularity assumptions.
  */
object StreamStage {

  private def partFiles(out: String): Set[java.io.File] =
    Option(new java.io.File(out).listFiles()).fold(Set.empty[java.io.File])(
      _.filter(_.getName.startsWith("part-")).toSet)

  /** Stage `batches` under `out` (one parquet part-file each, in
    * order) such that a file stream over `out` observes them as
    * distinct, ordered arrivals. Empty batches are skipped.
    */
  private[graft] def stageOrderedBatches(out: String, batches: Seq[DataFrame]): Unit = {
    var seen = partFiles(out)
    val ordered = batches.flatMap { b =>
      b.coalesce(1).write.mode("append").parquet(out)
      val now = partFiles(out)
      val fresh = (now -- seen).toSeq
      seen = now
      fresh // 0 files if the batch was empty, else exactly 1
    }
    // strictly increasing, all in the past: a future mtime could fall
    // inside the source's maxFileAge window arithmetic unpredictably
    val t0 = System.currentTimeMillis() - 2000L * (ordered.size + 1)
    ordered.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(t0 + 2000L * i),
        s"setLastModified failed for $f — cannot guarantee arrival order")
    }
  }

  /** Append `batch` under `out` as one part-file stamped strictly
    * AFTER every file already staged there (and still in the past) —
    * the between-runs feed drop of a resume test (E26), with the
    * arrival separation SET instead of slept for: a coarse-mtime
    * filesystem cannot blur the second drop into the first listing.
    */
  private[graft] def appendAfter(out: String, batch: DataFrame): Unit = {
    val before = partFiles(out)
    // first drop lands one minute in the past so later drops can be
    // stamped after it without ever reaching a future mtime
    val prevMax = before.map(_.lastModified()).maxOption
      .getOrElse(System.currentTimeMillis() - 60000L)
    val stamp = prevMax + 2000L
    // the contract is "after every staged file AND still in the past";
    // both are only satisfiable over a feed whose files were stamped by
    // this object's stagers — an unstamped (wall-clock-fresh) feed must
    // fail loudly, not get a future mtime that maxFileAge arithmetic
    // handles unpredictably
    require(stamp < System.currentTimeMillis(),
      s"feed $out has files stamped too close to now ($prevMax) — " +
        "stage it via StreamStage so arrival order is set, not inherited")
    batch.coalesce(1).write.mode("append").parquet(out)
    (partFiles(out) -- before).foreach { f =>
      require(f.setLastModified(stamp),
        s"setLastModified failed for $f — cannot guarantee arrival order")
    }
  }

  /** Stage `df` as `nFiles` time-range-ordered arrivals (ntile over
    * `tsCol`): batch k holds the k-th quantile slice, so a
    * micro-batched stream's watermark advances BEHIND the data and
    * nothing is dropped late — the approximately-time-ordered regime
    * real feeds have. The global ntile sort is a one-partition window
    * over the staging data only (never a timed path).
    */
  private[graft] def stageTimeOrdered(df: DataFrame, tsCol: String,
                                      out: String, nFiles: Int): Unit =
    // the scope frees the staging checkpoint once every batch is written
    CheckpointIds.scoped(df.sparkSession) { cp =>
      val bucketed = cp(df.withColumn("_b", ntile(nFiles).over(Window.orderBy(col(tsCol)))))
      stageOrderedBatches(out,
        (1 to nFiles).map(b => bucketed.filter(col("_b") === b).drop("_b")))
    }
}
