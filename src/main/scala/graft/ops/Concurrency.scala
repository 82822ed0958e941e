package graft.ops

import org.apache.spark.sql.SparkSession

/** Driver-paced overlap for INDEPENDENT store/section chains (guide
  * §2.6 "overlap independent jobs"; the r17 `ivfIndexSharded` pool
  * discipline, generalized): a sequential loop over chains whose cost
  * is blocking driver actions — parquet writes, meta collects,
  * model-training collects — leaves the executor cores idle between
  * one chain's jobs. Submitting the chains from a small pool overlaps
  * those driver phases; Spark's scheduler interleaves the jobs (FIFO
  * back-fill).
  *
  * Contract (the caller owns it): chains must be independent — no
  * shared mutable state, disjoint store roots, no chain reading
  * another's output. Each pool thread gets the shared job group so
  * the failure path can CANCEL sibling jobs (interrupting a pool
  * thread alone does not stop an already-submitted Spark job — the
  * r17 review); on any failure the group is cancelled, the pool
  * drained with a bounded wait, and the first error rethrown. A run
  * with no failure cancels nothing: its group has no job left.
  * Results return in chain order — callers that union them keep
  * their original deterministic shape.
  *
  * At most `MaxConcurrency` (4) chains run at once: each in-flight
  * chain may hold driver-resident state — a trained model, a
  * collected meta row — and the cap bounds that regardless of chain
  * count. */
object Concurrency {

  private val MaxConcurrency = 4

  def awaitAll[T](spark: SparkSession, label: String)(
      chains: Seq[() => T]): Seq[T] = {
    require(chains.nonEmpty, "awaitAll needs at least one chain")
    if (chains.length == 1) return Seq(chains.head())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(chains.length, MaxConcurrency))
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val sc = spark.sparkContext
    val group = s"graft-$label-${System.nanoTime()}"
    try {
      val futures = chains.zipWithIndex.map { case (chain, i) =>
        scala.concurrent.Future {
          sc.setJobGroup(group, s"$label chain $i",
            interruptOnCancel = true)
          try chain() finally sc.clearJobGroup()
        }(ec)
      }
      // combine on the completing thread: after a failure the pool is
      // shut down and would reject the combinator's callbacks
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures)(implicitly,
          scala.concurrent.ExecutionContext.parasitic),
        scala.concurrent.duration.Duration.Inf)
      catch { case t: Throwable =>
        // stop sibling chains' jobs before their half-written state
        // can confuse anything downstream
        sc.cancelJobGroup(group)
        throw t
      }
    } finally {
      pool.shutdownNow()
      val drained = pool.awaitTermination(
        120, java.util.concurrent.TimeUnit.SECONDS)
      if (!drained)
        System.err.println(s"[concurrency] WARNING: $label pool did " +
          "not drain within 120s after cancellation — a straggler " +
          "chain may still be running")
    }
  }
}
