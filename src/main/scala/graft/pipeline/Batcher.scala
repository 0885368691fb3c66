package graft.pipeline

import graft.CopyConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable.ArrayBuffer

/** Row batcher with the reference's exact flush semantics
  * (`/root/reference/write.go:225-251` writeBatcher.next):
  * flush when rows ≥ chunkSize OR accumulated size ≥ maxBatchSize, where
  * size is the sum of raw cell string lengths integer-divided by 1000
  * (the `/1000` quirk at `write.go:238-240` — 19,999 summed bytes is
  * "19 kB" < 20, 20,000 is "20 kB" ≥ 20).
  *
  * Unlike the reference, [[flushRemaining]] exists and callers use it —
  * the final partial batch is NOT dropped (reference bug #1, SURVEY.md
  * §3.4).
  */
final class Batcher[T](chunkSize: Int, maxBatchSizeKb: Int, sizeOf: T => Long) {
  private val buf = ArrayBuffer.empty[T]
  private var bytes = 0L

  /** Add a row; returns the flushed batch if a threshold tripped, else None. */
  def next(row: T): Option[Seq[T]] = {
    buf += row
    bytes += sizeOf(row)
    if (buf.length >= chunkSize || bytes / 1000 >= maxBatchSizeKb) {
      val out = buf.toSeq
      buf.clear(); bytes = 0L
      Some(out)
    } else None
  }

  /** The tail batch (possibly empty). */
  def flushRemaining(): Seq[T] = {
    val out = buf.toSeq
    buf.clear(); bytes = 0L
    out
  }
}

/** Commit a batch with the reference's retry loop
  * (`write.go:253-265`): up to maxAttempts tries (0 = infinite), fixed
  * backoff sleep between tries. Returns true on success. */
object RetryCommit {
  def apply[T](batch: Seq[T], maxAttempts: Int, backoffMs: Long,
      commit: Seq[T] => Unit): Boolean = {
    var i = 0
    while (maxAttempts == 0 || i < maxAttempts) {
      try { commit(batch); return true }
      catch { case _: Exception => if (backoffMs > 0) Thread.sleep(backoffMs) }
      i += 1
    }
    false
  }
}

/** Generic batched sink: foreachPartition → Batcher → RetryCommit, with
  * the insert-error budget enforced so the job actually aborts (fixing
  * reference bug #4 where "Aborting" only logged, `write.go:243-248`).
  * This is the drop-in shape for row-protocol sinks (the role Cassandra
  * batches play in the reference); columnar sinks should use
  * `df.write` instead (CopyWrite.sink).
  */
object BatchingSink {
  /** `open` once per partition (a connection / prepared statement /
    * codec context — the expensive part of a row-protocol sink),
    * `commit(resource, batch)` per flushed batch
    * inside the retry loop, `close` in a finally. A failed attempt
    * recycles the resource (close + reopen on the next attempt) so a
    * broken connection can't poison the rest of the partition, while a
    * healthy one is reused across every batch the task writes. */
  def runWith[R](df: DataFrame, cfg: CopyConfig,
      open: () => R,
      commit: (R, Seq[org.apache.spark.sql.Row]) => Unit,
      close: R => Unit,
      failedBatches: LongAccumulator): Unit = {
    val chunk = cfg.chunkSize
    val maxKb = cfg.maxBatchSizeKb
    val attempts = cfg.maxAttempts
    val backoff = cfg.backoffMs
    val maxInsertErrors = cfg.maxInsertErrors
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      var held: Option[R] = None
      def resource(): R = held.getOrElse { val r = open(); held = Some(r); r }
      def recycle(): Unit = {
        held.foreach(r => try close(r) catch { case _: Exception => () })
        held = None
      }
      val b = new Batcher[org.apache.spark.sql.Row](chunk, maxKb,
        r => (0 until r.length).map(i => String.valueOf(r.get(i)).length.toLong).sum)
      def commitBatch(batch: Seq[org.apache.spark.sql.Row]): Unit =
        if (batch.nonEmpty && !RetryCommit(batch, attempts, backoff, { b2: Seq[org.apache.spark.sql.Row] =>
              try commit(resource(), b2)
              catch { case e: Exception => recycle(); throw e }
            }))
          failedBatches.add(1L)
      try {
        rows.foreach(r => b.next(r).foreach(commitBatch))
        commitBatch(b.flushRemaining())
      } finally recycle()
    }
    if (maxInsertErrors >= 0 && failedBatches.value > maxInsertErrors)
      throw new IllegalStateException(
        s"insert-error budget exceeded: ${failedBatches.value} > $maxInsertErrors")
  }
}
