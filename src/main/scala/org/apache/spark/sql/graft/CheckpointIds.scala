package org.apache.spark.sql.graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, SparkSession}
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
  * Iterative operators take their checkpoints through [[scoped]], the
  * one owner of a loop's checkpoint lifetimes; a per-call checkpoint
  * outside a loop takes [[latest]].
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
  def scoped[T](spark: SparkSession)(body: Scope => T): T = {
    val scope = new Scope(spark.sparkContext)
    val result = try body(scope) catch {
      case e: Throwable =>
        // the body's exception is the one that propagates
        try scope.freeAllBut(Set.empty) catch { case NonFatal(f) => e.addSuppressed(f) }
        throw e
    }
    scope.freeAllBut(idsIn(result))
    result
  }

  /** A checkpoint scope (see [[scoped]]).
    *
    * The freed blocks are UNRECOVERABLE: `localCheckpoint` truncates
    * lineage, so a lazy plan that still reads a freed checkpoint fails
    * with "checkpoint block not found" instead of recomputing. The
    * scope frees one only after its successor has materialized (every
    * checkpoint here is eager) and when no frame it hands on reads it:
    * within [[iterate]] that is the loop state, on exit the returned
    * value. So a checkpoint a plan still needs must be reachable from
    * one of them — a frame kept only in a local variable across rounds
    * is not protected.
    */
  final class Scope private[CheckpointIds] (sc: SparkContext) {
    private val taken = mutable.ArrayBuffer.empty[Int]

    /** Eager `localCheckpoint` of `ds`, owned by this scope. */
    def apply[T](ds: Dataset[T]): Dataset[T] = {
      val c = ds.localCheckpoint()
      taken ++= of(c)
      c
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

    private[CheckpointIds] def freeAllBut(keep: Set[Int]): Unit =
      freeIds(sc, taken.filterNot(keep).toSeq)
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

  // the checkpoint ids [[latest]] holds, per (application, key)
  private val held = new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[Int]]()

  /** Eager `localCheckpoint` of `ds`, held as the latest under `key`
    * in this application: the next call with the same key frees it.
    * For an operator that checkpoints per call outside any loop, so
    * that a long-lived JVM keeps one call's blocks, not one per call.
    * The blocks are unrecoverable (see [[Scope]]): the caller must
    * materialize what reads the frame before the next call with the
    * key replaces it.
    */
  def latest[T](spark: SparkSession, key: String)(ds: Dataset[T]): Dataset[T] = {
    val c = ds.localCheckpoint()
    val sc = spark.sparkContext
    Option(held.put((sc.applicationId, key), of(c))).foreach(freeIds(sc, _))
    c
  }

  /** Non-blocking unpersist by raw RDD id. */
  private def freeIds(sc: SparkContext, ids: Seq[Int]): Unit = {
    val persisted = sc.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking = false)))
  }
}
