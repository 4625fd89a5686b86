package org.apache.spark.sql.graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** The persistent RDD ids BACKING a `localCheckpoint`'ed Dataset,
  * read from the frame's own plan (its `LogicalRDD` leaves) rather
  * than diffing `getPersistentRDDs` around the build — the set-diff
  * attributes any RDD persisted CONCURRENTLY in the window to the
  * wrong owner, and a blocking unpersist of a mis-attributed
  * localCheckpoint'ed RDD frees that other query's ONLY block copy
  * (lineage is truncated, so it fails with "checkpoint block not
  * found" instead of recomputing). Reading the ids off the Dataset
  * makes cache accounting correct under concurrent sessions/suites.
  *
  * `Dataset.localCheckpoint()` persists the internal row RDD and
  * wraps exactly that RDD in the returned frame's `LogicalRDD`, so
  * these ids are the ones `localCheckpoint` persisted.
  *
  * Every checkpoint in graft is taken and freed here, through one of
  * two entry points. [[scoped]] owns the checkpoints one call takes:
  * when the call returns, it frees each one that the returned value
  * does not read (and, within [[Scope.iterate]], each round's once the
  * next round has run); what the result reads is left to the
  * ContextCleaner, with the result. [[shared]] holds what one build
  * checkpoints across calls, under a key and a version: a call with the
  * held version gets the held value, a new version frees the replaced
  * checkpoints, and [[release]] frees every hold of the application,
  * blocking. Nothing else in graft frees a checkpoint.
  */
object CheckpointIds {
  def of(frames: Dataset[_]*): Seq[Int] =
    frames.flatMap(_.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd.id
    }).distinct.sorted

  /** Run `body` with a [[Scope]] that owns every checkpoint the body
    * takes through it. On exit — normal or by an exception — the scope
    * frees each of its checkpoints that the returned value does not
    * read; frames created outside the scope are never touched. The
    * returned value's frames are found through tuples, case classes,
    * collections and options (the same walk [[Scope.iterate]] applies
    * to loop state).
    */
  def scoped[T](spark: SparkSession)(body: Scope => T): T = within(spark)(body)._1

  // [[scoped]], also returning the scope's checkpoints that the value reads
  private def within[T](spark: SparkSession)(body: Scope => T): (T, Seq[Int]) = {
    val scope = new Scope(spark.sparkContext)
    val result = try body(scope) catch {
      case e: Throwable =>
        // the body's exception is the one that propagates
        try scope.freeAllBut(Set.empty) catch { case NonFatal(f) => e.addSuppressed(f) }
        throw e
    }
    (result, scope.freeAllBut(idsIn(result)))
  }

  /** A checkpoint scope (see [[scoped]]).
    *
    * A checkpoint taken here states its size: one job materializes it
    * and counts its rows and their bytes, and the frame's leaf carries
    * them as exact `Statistics(sizeInBytes, rowCount)` beside the
    * constraints Spark derived. Without them the leaf reports the
    * optimizer's estimate for the plan it replaced (a join's is the
    * product of its inputs' sizes), so static planning shuffles both
    * sides of every loop join, the whole edge list included, and AQE
    * demotes the join to a broadcast only at run time. With them a
    * round's node-sized state (ranks, labels) broadcasts at plan time
    * and the edge side is never re-shuffled. The same job can count a
    * boolean column's true rows, or all of them ([[counting]]), so a
    * loop reads its convergence count without a job of its own. The
    * leaf keeps the partitioning Spark gave it, which under AQE is
    * unknown.
    *
    * The freed blocks are UNRECOVERABLE: `localCheckpoint` truncates
    * lineage, so a lazy plan that still reads a freed checkpoint fails
    * with "checkpoint block not found" instead of recomputing. The
    * scope frees one only after its successor has materialized (every
    * checkpoint here is materialized before it is returned) and when
    * no frame it hands on reads it: within [[iterate]] that is the
    * loop state, on exit the returned value. So a checkpoint a plan
    * still needs must be reachable from one of them — a frame kept
    * only in a local variable across rounds is not protected.
    */
  final class Scope private[CheckpointIds] (sc: SparkContext) {
    private val taken = mutable.ArrayBuffer.empty[Int]

    /** Materialized `localCheckpoint` of `ds` that states its size,
      * owned by this scope.
      */
    def apply[T](ds: Dataset[T]): Dataset[T] = take(ds, None)._1

    /** [[apply]], also returning its row count, counted by the same job. */
    def counting[T](ds: Dataset[T]): (Dataset[T], Long) = {
      val (c, rows, _) = take(ds, None)
      (c, rows)
    }

    /** [[apply]], also returning the number of rows where the boolean
      * column `flag` is true, counted by the same job.
      */
    def counting[T](ds: Dataset[T], flag: String): (Dataset[T], Long) = {
      val (c, _, flagged) = take(ds, Some(flag))
      (c, flagged)
    }

    private def take[T](ds: Dataset[T], flag: Option[String]): (Dataset[T], Long, Long) = {
      val m = measured(ds, flag)
      taken ++= of(m._1)
      m
    }

    /** Run `step` from `init` until `done(state)` holds (checked before
      * every round, `init` included) or `maxRounds` rounds have run;
      * returns the final state and the number of rounds run. `done`
      * should read what the step already measured (a count carried in
      * the state) so that the loop runs no action of its own.
      *
      * Round boundary: a checkpoint taken by round r (or by `init`'s
      * frames, for r = 0) is freed once round r+1 has returned — its
      * checkpoints are then materialized — unless the new state still
      * reads it. Checkpoints the step reads but the state does not
      * (a loop-invariant edge frame taken before the loop) stay until
      * the scope exits.
      */
    def iterate[S](init: S, maxRounds: Int)(step: S => S)(done: S => Boolean): (S, Int) = {
      var state = init
      var live = idsIn(init).filter(taken.contains)
      var rounds = 0
      while (rounds < maxRounds && !done(state)) {
        val mark = taken.length
        state = step(state)
        rounds += 1
        val reads = idsIn(state)
        freeIds(sc, (live -- reads).toSeq)
        live = (live & reads) ++ taken.drop(mark)
      }
      (state, rounds)
    }

    // frees the checkpoints not in `keep`; returns the ones kept
    private[CheckpointIds] def freeAllBut(keep: Set[Int]): Seq[Int] = {
      val (kept, freed) = taken.toSeq.partition(keep)
      freeIds(sc, freed)
      kept
    }
  }

  /** The checkpoint ids a value's frames read — through tuples, case
    * classes, collections and options.
    */
  private def idsIn(x: Any): Set[Int] = {
    def frames(v: Any): Iterator[Dataset[_]] = v match {
      case d: Dataset[_] => Iterator(d)
      case it: Iterable[_] => it.iterator.flatMap(frames)
      case p: Product => p.productIterator.flatMap(frames)
      case _ => Iterator.empty
    }
    of(frames(x).toSeq: _*).toSet
  }

  /** A lazy `localCheckpoint` of `ds` materialized by one job over its
    * leaf's RDD, which returns each partition's rows, their summed
    * bytes and the rows where `flag` is true. The job still truncates
    * the lineage (`runJob` ends with `doCheckpoint`, which finds every
    * block cached). The leaf is restated with the rows and bytes as
    * its statistics (see [[Scope]]); returns the frame, its row count
    * and the flagged row count (0 without a flag).
    */
  private def measured[T](ds: Dataset[T], flag: Option[String]): (Dataset[T], Long, Long) = {
    val c = ds.localCheckpoint(eager = false).asInstanceOf[classic.Dataset[T]]
    val leaf = c.logicalPlan.asInstanceOf[LogicalRDD]
    val at = flag.fold(-1)(c.schema.fieldIndex)
    // the estimate Spark plans with, for a row that is not an UnsafeRow
    val rowSize = EstimationUtils.getSizePerRow(leaf.output).toLong
    val parts = c.sparkSession.sparkContext.runJob(leaf.rdd, (rows: Iterator[InternalRow]) => {
      var (n, bytes, flagged) = (0L, 0L, 0L)
      rows.foreach { r =>
        n += 1
        bytes += (r match {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => rowSize
        })
        if (at >= 0 && !r.isNullAt(at) && r.getBoolean(at)) flagged += 1
      }
      (n, bytes, flagged)
    })
    val rows = parts.map(_._1).sum
    val stats = Statistics(sizeInBytes = BigInt(parts.map(_._2).sum), rowCount = Some(BigInt(rows)))
    val stated = LogicalRDD(leaf.output, leaf.rdd, leaf.outputPartitioning,
      leaf.outputOrdering, leaf.isStreaming, leaf.stream)(
      c.sparkSession, Some(stats), Some(leaf.constraints))
    (classic.Dataset(c.sparkSession, stated)(c.encoder), rows, parts.map(_._3).sum)
  }

  // (application, key) -> the version [[shared]] holds, its value and
  // its checkpoint ids; the map's monitor orders the calls
  private val holds = mutable.Map.empty[(String, String), (Any, Any, Seq[Int])]

  /** The value `build` makes in a [[Scope]], held with its checkpoints
    * under `key` in this application. A later call with the same key and
    * an equal `version` returns the held value and checkpoints nothing;
    * one with another version first frees the held checkpoints, blocking,
    * then builds. Calls run one at a time, so concurrent calls with the
    * same key and version share one build. For a value that calls reuse
    * while their input is unchanged (a table's snapshot in the version):
    * a long-lived JVM keeps one build per key, not one per call. The
    * blocks are unrecoverable (see [[Scope]]): what reads the held
    * frames must be materialized before a new version or [[release]]
    * frees them.
    */
  def shared[T](spark: SparkSession, key: String, version: Any)(build: Scope => T): T =
    holds.synchronized {
      val sc = spark.sparkContext
      val at = (sc.applicationId, key)
      holds.get(at) match {
        case Some((`version`, value, _)) => value.asInstanceOf[T]
        case stale =>
          stale.foreach(h => freeIds(sc, h._3, blocking = true))
          holds -= at
          val (value, ids) = within(spark)(build)
          holds(at) = (version, value, ids)
          value
      }
    }

  /** Frees every checkpoint [[shared]] holds in this application,
    * blocking, so the blocks are gone when it returns, and forgets every
    * hold (a stopped application's ids alias this context's RDDs, so
    * they are not freed).
    */
  def release(spark: SparkSession): Unit = holds.synchronized {
    freeIds(spark.sparkContext, held(spark), blocking = true)
    holds.clear()
  }

  /** The checkpoint ids [[shared]] holds in this application. */
  def held(spark: SparkSession): Seq[Int] = holds.synchronized {
    val app = spark.sparkContext.applicationId
    holds.toSeq.collect { case ((`app`, _), (_, _, ids)) => ids }.flatten.sorted
  }

  /** Unpersist by raw RDD id. */
  private def freeIds(sc: SparkContext, ids: Seq[Int], blocking: Boolean = false): Unit = {
    val persisted = sc.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking)))
  }
}
