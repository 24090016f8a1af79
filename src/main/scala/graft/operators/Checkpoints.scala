package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-truncation strategy for iterative operators (connected
  * components, Lloyd's k-means): every round must cut the plan or it
  * doubles per iteration (measured in BENCH_r02: 80.8 s -> < 2 s).
  *
  * `localCheckpoint` stores blocks on executors only — fine on local[32]
  * and fast, but on a real cluster a lost executor invalidates its blocks
  * and kills a multi-hour run mid-iteration. When the session has a
  * RELIABLE checkpoint directory configured
  * (`spark.sparkContext.setCheckpointDir(...)`, typically HDFS/S3 on a
  * cluster), iterative operators should use `checkpoint()` instead: the
  * round's result is persisted to fault-tolerant storage and recomputation
  * after executor loss restarts from the last round, not from round zero.
  *
  * This helper picks the strategy from the session: reliable `checkpoint`
  * when a checkpoint dir is set, `localCheckpoint` otherwise. Both are
  * eager, so callers may `unpersist` upstream caches immediately after.
  * The fault-tolerance claim rests on one measured run, not a gate: an
  * executor SIGKILLed mid-iteration on a local-cluster master was
  * relaunched by its worker and components completed correctly
  * (PERF.md). No automated check exercises executor loss.
  *
  * Storage discipline: Spark never deletes reliable checkpoint data on its
  * own (the ContextCleaner only does so under
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, off by
  * default). Iterative callers therefore run their rounds through a
  * [[CheckpointCycle]], which deletes each round's data as soon as the
  * next round supersedes it. One-shot `truncate` call sites (the
  * prefix/inverted similarity joins' shared candidate index, whose
  * checkpoint is consumed lazily inside the returned plan and so cannot be
  * deleted eagerly) REGISTER their directory instead: a runner that knows
  * the consuming action has completed calls [[releaseOneShots]] — the
  * `Verify` registry runner does after every query — so directories
  * never accumulate across invocations. Streaming
  * sinks must NOT use the global sweep (their micro-batch may run
  * concurrently with a query whose one-shots are still live); they wrap
  * each batch in [[releasingScoped]], which deletes exactly the
  * checkpoints that batch registered.
  */
object Checkpoints {

  // one-shot reliable-checkpoint directories awaiting release; keyed by
  // path (Hadoop conf + registering thread ride along). Thread-safe:
  // concurrent queries may truncate while a runner releases. The thread
  // id lets [[releasingScoped]] claim ONLY its own registrations — five
  // co-resident streaming sinks (the composed automatic mode) otherwise
  // steal and delete each other's in-flight checkpoints.
  private val oneShots =
    new java.util.concurrent.ConcurrentHashMap[
      String, (org.apache.hadoop.conf.Configuration, Long)]()

  /** Eagerly materialize `df` and truncate its lineage, using reliable
    * storage when the SparkContext has a checkpoint dir configured. On
    * the reliable path the directory is registered for deferred release
    * (see [[releaseOneShots]]); [[CheckpointCycle.truncate]] manages its
    * own rounds and deregisters them. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val out = df.checkpoint()
      checkpointFileOf(out).foreach(p => oneShots.put(p,
        (out.sparkSession.sparkContext.hadoopConfiguration,
          Thread.currentThread().getId)))
      out
    } else
      df.localCheckpoint()

  /** Delete every one-shot checkpoint directory [[truncate]] has
    * registered since the last release. Call ONLY after all actions
    * consuming the returned plans have completed — a plan holding a
    * released checkpoint cannot be re-executed. The `Verify` registry
    * runner calls this after each query's action; long-running
    * deployments should call it at their own unit-of-work boundaries
    * (after a sink commits, after a report materializes). */
  def releaseOneShots(): Unit = {
    val it = oneShots.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      it.remove()
      try deleteCheckpointDir(e.getValue._1, e.getKey)
      catch { case _: Throwable => () } // best effort — sweep again later
    }
  }

  /** Run `body`, then delete exactly the one-shot checkpoints it
    * registered — a SCOPED [[releaseOneShots]] for unit-of-work callers
    * (streaming micro-batches) that must not sweep globally: the global
    * sweep would delete a CONCURRENT query's still-live checkpoints.
    * Call only when every action consuming plans built inside `body`
    * completes inside `body` (the sink's writes do). The claim is
    * registration-window AND same-thread: in a COMPOSED session several
    * sinks' micro-batches overlap (the automatic mode and the index
    * sinks may share one SparkSession), and a window-only claim would
    * steal a concurrent sink's just-registered checkpoint and delete
    * storage its still-running writes read. Each foreachBatch body runs
    * driver-side on its own microbatch thread, so thread identity is
    * exactly per-sink ownership. */
  private[graft] def releasingScoped[T](body: => T): T = {
    val before = snapshotOneShots()
    try body
    finally claimOneShots(before, sameThreadOnly = true)
      .foreach { case (c, p) =>
        try deleteCheckpointDir(c, p)
        catch { case _: Throwable => () } // best effort, as releaseOneShots
      }
  }

  private[graft] def deregisterOneShot(path: String): Unit = {
    oneShots.remove(path)
    ()
  }

  /** Current one-shot registrations (paths) — see [[claimOneShots]]. */
  private[graft] def snapshotOneShots(): Set[String] = {
    val out = Set.newBuilder[String]
    oneShots.keySet().forEach(k => out += k)
    out.result()
  }

  /** Transfer ownership of every one-shot registered since `before` to
    * the caller: they are DEREGISTERED here (so [[releaseOneShots]]
    * won't delete them) and returned for the caller to delete when its
    * own lifetime ends. Used by [[SharedRelations]]: a persisted
    * relation's LINEAGE may reference these checkpoints (recompute on
    * block loss), so they must live exactly as long as the cache
    * entry. `sameThreadOnly` restricts the claim to registrations made
    * by the CALLING thread — the composed-session ownership rule
    * [[releasingScoped]] needs (a registration window alone cannot
    * distinguish this sink's checkpoints from a concurrent sink's). */
  private[graft] def claimOneShots(before: Set[String],
                                   sameThreadOnly: Boolean = false)
  : Seq[(org.apache.hadoop.conf.Configuration, String)] = {
    val tid = Thread.currentThread().getId
    val out = Seq.newBuilder[(org.apache.hadoop.conf.Configuration, String)]
    snapshotOneShots().diff(before).foreach { p =>
      val e = oneShots.get(p)
      if (e != null && (!sameThreadOnly || e._2 == tid))
        Option(oneShots.remove(p)).foreach(c => out += ((c._1, p)))
    }
    out.result()
  }

  /** The reliable-checkpoint data directory backing `df`, when `df` came
    * out of [[truncate]] on the reliable path (truncate is eager, so the
    * file exists by the time this is called). None on the
    * `localCheckpoint` fallback — local blocks live in the BlockManager
    * and are freed by the ContextCleaner when the RDD is collected. */
  private[graft] def checkpointFileOf(df: DataFrame): Option[String] =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getCheckpointFile
      case _ => None
    }

  private[graft] def deleteCheckpointDir(conf: org.apache.hadoop.conf.Configuration,
                                         path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).delete(p, true)
    ()
  }

  /** A fresh [[CheckpointCycle]] for one iterative job. */
  def cycle(): CheckpointCycle = new CheckpointCycle
}

/** Bounds reliable-checkpoint storage for ITERATIVE operators: a k-round
  * job through plain [[Checkpoints.truncate]] accumulates k checkpoint
  * directories that nothing ever deletes, and a long-running caller (a
  * streaming sink checkpointing every micro-batch) leaks storage without
  * bound. A cycle tracks the directory each of its truncates creates;
  * every subsequent truncate — eager, so the NEW round's data is durable
  * before anything is removed — deletes the superseded one, leaving at
  * most one live directory per cycle at any time.
  *
  * Contract: each `truncate` call supersedes every earlier one in the same
  * cycle — nothing may read an earlier round's DataFrame after a later
  * round materializes. Linear iteration chains (connected components)
  * satisfy this trivially; the k-means cents/assigned interleave does too
  * (each var is last read while materializing the next truncate's input).
  *
  * `release()` deletes the final directory as well — call it once the
  * result has been durably consumed (e.g. after a sink's overwrite
  * commits). Operators that RETURN their last checkpoint (components,
  * k-means assignment) must leave it live for the caller; they retire one
  * directory per job instead of one per round. */
final class CheckpointCycle {

  // path + Hadoop conf only — holding the superseded DataFrame itself
  // would pin its plan and RDD for the whole inter-round lifetime
  private var tracked: Option[(org.apache.hadoop.conf.Configuration, String)] = None

  /** [[Checkpoints.truncate]], then delete the directory of this cycle's
    * previous round (reliable path only; the localCheckpoint fallback has
    * nothing to delete). */
  def truncate(df: DataFrame): DataFrame = {
    val out = Checkpoints.truncate(df)
    val fresh = Checkpoints.checkpointFileOf(out)
    // this cycle owns its rounds' lifetimes — don't let a runner's
    // releaseOneShots() delete a live round mid-iteration
    fresh.foreach(Checkpoints.deregisterOneShot)
    release()
    tracked = fresh.map(p =>
      (out.sparkSession.sparkContext.hadoopConfiguration, p))
    out
  }

  /** Delete the last live checkpoint directory of this cycle. Only safe
    * once the final result is durably consumed. */
  def release(): Unit = {
    tracked.foreach { case (c, p) => Checkpoints.deleteCheckpointDir(c, p) }
    tracked = None
  }
}
