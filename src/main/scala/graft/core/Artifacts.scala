package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of session-pinned intermediates: per-data-dir scalars,
  * persisted campaign artifacts (shingle and signature tables, pair sets,
  * cluster assignments, index dirs), stream-source fixtures, scratch dirs,
  * and the operator-internal `localCheckpoint`s that must outlive the call
  * that made them.
  *
  * Entries are keyed by `(applicationId, dir, name)`: a value built under a
  * stopped test session never leaks into a fresh one, and two data dirs in
  * one session never share an entry. Builders nest (the cluster assignment
  * reads the capped pair set, which reads the shingle table), so a builder
  * never runs inside a `ConcurrentHashMap` update, where a nested update of
  * the same map can throw `IllegalStateException: Recursive update`: the map
  * holds a per-key lazy cell, and the build runs when that cell is first
  * read, outside any map call. Concurrent readers of one key wait on its
  * cell and see one build; a build that throws is retried by the next read.
  */
object Artifacts {

  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }

  private val cells = new ConcurrentHashMap[(String, String, String), Cell]()

  /** `build`'s value, computed once per `(session application, dir, name)`. */
  def memo[A](s: SparkSession, dir: String, name: String)(build: => A): A = {
    val fresh = new Cell(() => build)
    val cell = cells.putIfAbsent((s.sparkContext.applicationId, dir, name), fresh)
    (if (cell == null) fresh else cell).value.asInstanceOf[A]
  }

  /** `memo` for a frame: persisted `MEMORY_AND_DISK` and materialized with
    * `count()`, so its first reader pays the build once and every later
    * reader scans the cached blocks.
    */
  def pinned(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    memo(s, dir, name) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  /** Per-invocation scratch dirs (parquet stores, checkpoints, stream
    * sources) are registered here and recursively deleted when the JVM
    * exits, so repeated bench/verify loops don't accumulate unbounded /tmp
    * disk. `File.deleteOnExit` alone can't do this — it only removes empty
    * directories.
    */
  private val scratchDirs = ConcurrentHashMap.newKeySet[Path]()
  private lazy val scratchHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { p =>
        try
          Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(q => Files.deleteIfExists(q))
        catch { case _: Throwable => () }
      }))

  /** A fresh temp dir named `prefix…`, deleted with its contents at JVM exit. */
  def scratchDir(prefix: String): String = {
    scratchHookInstalled
    val p = Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }

  /** Drop the cached blocks behind a `localCheckpoint`ed frame. The blocks
    * belong to the checkpointed RDD inside the frame's `LogicalRDD`, not to
    * the Dataset cache, so `Dataset.unpersist` cannot reach them.
    *
    * WARNING: the freed blocks are the ONLY copy of the checkpointed data —
    * `localCheckpoint` truncates lineage, so there is no recompute path.
    * Call this only when the frame is provably dead (every action on it has
    * completed and nothing will reference it again); a use-after-free fails
    * at RUNTIME with "checkpoint block not found", not at compile time. In
    * [[graft.llm.Dedup.components]] the free sits immediately before the
    * `e = next` reassignment for exactly this reason — keep it there.
    */
  private[graft] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }

  /** Bound an operator-internal `localCheckpoint` to ONE live copy per
    * (session, operator): registering a new checkpoint frees the previous
    * call's blocks. Operators whose RESULT must stay a lazy plan over the
    * checkpoint (the multi-consumer fan-out shapes:
    * [[graft.llm.Ann.semanticDedup]], [[graft.llm.Dedup.sourceOverlap]])
    * cannot free inside the call, and without this every invocation leaked
    * a corpus-sized block set for the session lifetime — a full bench sweep
    * accumulated four+ copies per operator. CONTRACT (same
    * sequential-harness assumption the suite's memory sinks document): a
    * caller must consume the previous invocation's result before invoking
    * the operator again — the swap frees the blocks that result reads.
    */
  private val liveCkpts = new ConcurrentHashMap[String, DataFrame]()
  private[graft] def swapLiveCheckpoint(op: String, df: DataFrame): DataFrame = {
    val key = s"${System.identityHashCode(df.sparkSession)}:$op"
    Option(liveCkpts.put(key, df)).foreach(freeLocalCheckpoint)
    df
  }
}
