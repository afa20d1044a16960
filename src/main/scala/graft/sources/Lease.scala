package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Single-writer LEASE for persisted state directories (VERDICT r17
  * item 4). Every mutating entry point of the persisted indexes
  * ([[graft.operators.TokenIndex]], [[graft.operators.VectorIndex]]),
  * the signature states, and [[Compaction.rewriteParquetDir]] documents
  * a single-writer contract; until now nothing ENFORCED it — two
  * concurrent ingests interleave their parquet appends and corrupt the
  * state silently. This makes the contract fail-fast:
  *
  *   - acquisition creates the sibling `<dir>__lease` file exclusively
  *     (`FileSystem.create`
  *     with overwrite=false — atomic on HDFS-like stores, exists-then-
  *     create on the local FS, backstopped by a token read-back);
  *   - while the writer works, a daemon HEARTBEAT re-touches the lease
  *     mtime every `staleMs / 4`, so a live writer of ANY duration
  *     never looks dead;
  *   - a second writer finding a lease with a fresh heartbeat throws
  *     [[Lease.LeaseHeldException]] immediately — fail-fast, never
  *     queue (the caller decides whether to retry);
  *   - a CRASHED writer stops heartbeating, and once the mtime is older
  *     than `staleMs` the next writer takes the lease over (ATOMIC
  *     rename-away + re-create + token read-back — rename wins exactly
  *     once, so two simultaneous takers cannot both win, and a taker
  *     can never delete a rival's fresh lease);
  *   - stores whose `setTimes` is a no-op cannot heartbeat: there every
  *     writer longer than `staleMs` looks stale — raise `staleMs` past
  *     the longest expected operation on such stores;
  *   - release deletes the lease only if the token still matches — a
  *     writer that lost its lease to a (mis-tuned) takeover surfaces
  *     that loudly rather than deleting the new owner's lease.
  *
  * STORE-CLASS CONTRACT (which primitive is load-bearing where; the
  * token READ-BACK after create is the universal arbiter — whoever's
  * token is on disk owns the lease, so a non-atomic create or rename
  * degrades to "one winner, losers fail fast", never to two owners):
  *
  *   | primitive               | HDFS-like     | local FS        | S3-shaped object store |
  *   |--------------------------|---------------|-----------------|------------------------|
  *   | create(overwrite=false)  | atomic        | exists-then-create race — read-back decides | HEAD-then-PUT race — read-back decides (S3 is read-after-write consistent since 2020; on an eventually-consistent store this module is unsafe, full stop) |
  *   | rename (stale takeover)  | atomic, one winner | atomic, one winner | copy+delete, NOT atomic: two takers can both "succeed" — both then fall through to tryCreate + read-back, one winner |
  *   | setTimes (heartbeat)     | works         | works           | NO-OP: a live writer stops looking alive after staleMs |
  *   | practical posture        | defaults fine | defaults fine   | raise `staleMs` past the longest expected write/compact (heartbeats buy nothing); expect a crashed writer to block that long |
  *
  * The no-op-`setTimes` consequence, concretely (LeaseSpec simulates
  * such a store): a writer running longer than `staleMs` WILL be taken
  * over mid-flight, both writers' output interleaves in the state dir,
  * and the first writer's release then throws
  * [[Lease.LeaseHeldException]] — loud, after the fact. The guidance
  * is therefore load-bearing on such stores, not advisory: `staleMs`
  * must exceed the longest operation, at the price of a crashed
  * writer blocking successors for that long. (Closing the hole
  * properly means a conditional-write primitive — S3 If-None-Match
  * PUTs or a DynamoDB-style lock table — which is a different storage
  * contract than Hadoop `FileSystem` exposes; out of scope by design.)
  *
  * Reentrant per thread and state dir: `upsert` (= delete + append) or
  * a compact that rewrites a nested dir holds ONE lease across its
  * steps, so composed operations are protected end-to-end, not
  * step-by-step. The steps must run on the thread that took the lease:
  * a body that hands a step to another thread is a second writer there
  * and is refused, so every writer issues its steps in sequence on its
  * own thread. Readers never touch the lease — probes stay lock-free
  * (snapshot isolation comes from parquet immutability + the swap
  * protocol in [[Compaction]]).
  */
object Lease {

  /** Suffix appended to the state dir's own path: the lease is a
    * SIBLING file, never inside the dir, because compaction swaps the
    * whole dir out from under a live writer (rename → tmp-into-place →
    * delete) and must not carry the lease away with it. */
  val Suffix = "__lease"

  final class LeaseHeldException(msg: String) extends IllegalStateException(msg)

  /** Heartbeats every staleMs/4; 10 min of silence means dead. Long
    * enough that a GC pause or driver hiccup cannot cause a spurious
    * takeover, short enough that a crashed ingest does not block the
    * next one for hours. */
  val DefaultStaleMs: Long = 10L * 60 * 1000

  private val held = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty
  }

  /** Run `body` holding the state dir's writer lease. */
  def withLease[T](spark: SparkSession, stateDir: String,
      staleMs: Long = DefaultStaleMs)(body: => T): T = {
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p).toString
    if (held.get.contains(key)) return body // reentrant: outermost owns it
    val lease = new Path(key + Suffix)
    val token = s"${java.util.UUID.randomUUID()} ${ownerInfo()}"
    acquire(fs, lease, staleMs, token)
    held.get += key
    val hb = startHeartbeat(fs, lease, staleMs)
    var primary: Throwable = null
    try body
    catch { case t: Throwable => primary = t; throw t }
    finally {
      hb.shutdown()
      held.get -= key
      // A release failure must never REPLACE the body's outcome: a
      // successful ingest whose lease read hiccups would otherwise
      // surface as a failure, and a body exception would be masked by
      // the finally's. Suppress onto the body's exception when there is
      // one; only throw when the body itself succeeded (ControlThrowable
      // — a non-local return — cannot carry suppressed exceptions, so a
      // genuine takeover still surfaces loudly there).
      try release(fs, lease, token)
      catch {
        case rel: Throwable =>
          if (primary == null ||
              primary.isInstanceOf[scala.util.control.ControlThrowable]) throw rel
          else primary.addSuppressed(rel)
      }
    }
  }

  private def ownerInfo(): String =
    s"${ProcessHandle.current().pid()}@${java.net.InetAddress.getLocalHost.getHostName}"

  private def acquire(fs: FileSystem, lease: Path, staleMs: Long,
      token: String): Unit = {
    fs.mkdirs(lease.getParent)
    if (!tryCreate(fs, lease, token)) {
      val age = try System.currentTimeMillis() -
        fs.getFileStatus(lease).getModificationTime
      catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (age <= staleMs)
        throw new LeaseHeldException(
          s"$lease is held by ${readToken(fs, lease)} (heartbeat ${age} ms ago; " +
            s"stale after $staleMs ms) — a concurrent writer on this state dir")
      // stale: the owner stopped heartbeating — take over via an
      // ATOMIC rename, never a delete: two simultaneous takers would
      // both see the lease stale, and the loser's delete would remove
      // the WINNER's freshly created lease (both then write — the
      // corruption this module exists to prevent). rename succeeds for
      // exactly one taker; the loser (and any rival who got in
      // between) falls through to tryCreate and fails fast there.
      val grave = new Path(s"$lease.stale-${java.util.UUID.randomUUID()}")
      val renamed = try fs.rename(lease, grave) catch { case _: IOException => false }
      if (renamed) fs.delete(grave, false)
      if (!tryCreate(fs, lease, token))
        throw new LeaseHeldException(
          s"$lease: lost the stale-takeover race to ${readToken(fs, lease)}")
    }
    // read-back closes the local-FS exists/create window: whoever's
    // token is on disk owns the lease
    val back = readToken(fs, lease)
    if (back != token)
      throw new LeaseHeldException(s"$lease: acquisition race lost to $back")
  }

  private def tryCreate(fs: FileSystem, lease: Path, token: String): Boolean =
    try {
      val out = fs.create(lease, false)
      out.write(token.getBytes("UTF-8")); out.close()
      true
    } catch {
      case e: IOException => if (fs.exists(lease)) false else throw e
    }

  private def readToken(fs: FileSystem, lease: Path): String =
    try {
      val in = fs.open(lease)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } catch { case _: IOException => "<unreadable lease>" }

  /** Only a GENUINE token mismatch (the read succeeded and someone
    * else's token is on disk) is a takeover and throws. A missing lease
    * file means there is nothing to delete (a mid-release takeover
    * rename, or external cleanup) — returning is correct either way,
    * because if a taker DID rename us away its own tryCreate+read-back
    * already made it the owner. A lease still unreadable after retries
    * is LEFT IN PLACE: we cannot prove it is ours, and deleting a
    * rival's fresh lease would license the interleaved-writer
    * corruption this module exists to prevent — an orphaned own lease
    * merely blocks successors until the stale takeover reclaims it
    * (safety over liveness; the body's success is still reported). */
  private def release(fs: FileSystem, lease: Path, token: String): Unit = {
    var attempt = 0
    while (true) {
      val back: Option[String] =
        try {
          val in = fs.open(lease)
          try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
        } catch {
          case _: java.io.FileNotFoundException => return
          case _: IOException =>
            attempt += 1
            if (attempt >= 3) return // unreadable: leave it (see above)
            Thread.sleep(50L * attempt)
            None
        }
      back match {
        case Some(b) if b == token => fs.delete(lease, false); return
        case Some(b) => throw new LeaseHeldException(
          s"$lease: lease was taken over by $b while this writer ran — " +
            "the state dir may hold interleaved writes; raise staleMs or fix the clock")
        case None => // transient read failure: retry
      }
    }
  }

  private final class Heartbeat(fs: FileSystem, lease: Path, staleMs: Long)
      extends Thread {
    setDaemon(true)
    setName(s"graft-lease-heartbeat-$lease")
    @volatile private var stopped = false
    def shutdown(): Unit = { stopped = true; interrupt() }
    override def run(): Unit =
      while (!stopped) {
        // a TRANSIENT touch failure must not kill the heartbeat — a
        // dead heartbeat turns a live multi-hour writer into a
        // stale-takeover victim; retry every beat, and if the lease is
        // truly gone (taken over), release() reports it loudly
        try {
          Thread.sleep(math.max(1000L, staleMs / 4))
          if (!stopped)
            fs.setTimes(lease, System.currentTimeMillis(), -1)
        } catch {
          case _: InterruptedException => // shutdown (stopped re-checked)
          case _: IOException => // transient or lease gone: keep beating
        }
      }
  }

  private def startHeartbeat(fs: FileSystem, lease: Path,
      staleMs: Long): Heartbeat = {
    val hb = new Heartbeat(fs, lease, staleMs)
    hb.start()
    hb
  }
}
