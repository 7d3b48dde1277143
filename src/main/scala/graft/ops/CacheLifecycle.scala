package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one lifetime of the frames operators pin between calls. A lazy
  * result cannot unpersist its intermediates before the caller's action
  * runs, so pins live in one process-wide GENERATION: opening a
  * [[generation]] bracket while none is open retires the previous
  * generation (its pins and its memo) and starts a new one. A
  * long-lived session (Bench warm-up and timed draws, Verify, the specs,
  * a user's driver) therefore holds one generation of blocks instead of
  * one set per call.
  *
  * The bracket is refcounted. One opened inside an open one joins it,
  * so a composite that chains operators (the curation stage build runs
  * the LSH chain and the decontamination) keeps every operator's pins
  * until its own action runs, and a concurrent caller (two facade
  * encoders on two threads) never unpersists another's in-flight pins —
  * which would be a silent full recompute, correct but uncached.
  * `SparkEntry.queries` opens one bracket per registry call; the direct
  * entries (the curation builds, the daily verdict, the facade encoders)
  * open their own. Pins made outside any bracket join the current
  * generation and retire with it.
  *
  * Call-scoped pins that die before their call returns (an index build's
  * training frames, the propagation loop's rolling frames) do not belong
  * here: they persist and unpersist in a try/finally of their own.
  *
  * Retirement tolerates frames bound to a STOPPED or replaced
  * SparkSession: `unpersist` on a stopped context throws
  * IllegalStateException from the block-manager RPC, and a generation
  * pinned by session 1 must not fail session 2's first query. A dead
  * session's blocks died with its executors, so skipping them leaks
  * nothing.
  */
private[graft] object CacheLifecycle {

  private val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val memos = scala.collection.mutable.Map.empty[Any, DataFrame]
  private var open = 0

  /** Run `body` inside the generation bracket: the outermost open
    * retires the previous generation first. */
  def generation[T](body: => T): T = {
    synchronized { if (open == 0) retire(); open += 1 }
    try body finally synchronized { open -= 1 }
  }

  /** LAZY persist, registered with the current generation: the caller's
    * one action materializes it. Lazy deliberately (r6 A/B): an eager
    * count per pin, tried to close the multi-consumer double-compute
    * race, made the composites WORSE (curation_pipeline 5.7 s → 18.2 s
    * same-window A/B) — one small job per pinned frame costs more than
    * the race, because a single big action materializes every pinned
    * branch with full cluster parallelism. A frame already persisted (a
    * loop's last rolling frame) is registered as it is. */
  def pin(df: DataFrame): DataFrame = {
    synchronized { pins += df }
    if (df.storageLevel == StorageLevel.NONE) df.persist() else df
  }

  /** [[pin]] plus a count, for a frame many later plans reference (the
    * Lloyd folds, a recall harness's truth set). The count runs outside
    * the lock, so it blocks no other caller. */
  def pinEager(df: DataFrame): DataFrame = { pin(df).count(); df }

  /** The frame `build` returns, once per generation and `key`. A key
    * holding the session keeps a replacement session from getting a
    * frame bound to the old one. */
  def memo(key: Any)(build: => DataFrame): DataFrame =
    synchronized(memos.getOrElseUpdate(key, build))

  private def retire(): Unit = {
    pins.foreach(f => scala.util.Try(f.unpersist(false)))
    pins.clear()
    memos.clear()
  }
}
