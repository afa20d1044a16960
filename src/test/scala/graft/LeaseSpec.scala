package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Lease
import graft.operators.{IndexStore, TokenIndex, VectorIndex}

/** Concurrent-writer lease (round 18, VERDICT r17 item 4): the
  * single-writer contract on persisted state dirs is enforced, not just
  * documented — a second live writer fails FAST, a crashed writer's
  * stale lease is taken over, and composed operations hold one lease
  * end-to-end. */
class LeaseSpec extends SparkSpec {
  import spark.implicits._

  private def leaseFile(dir: String) = new java.io.File(dir + Lease.Suffix)

  test("a second concurrent writer fails fast; the lease releases on exit AND on failure") {
    val dir = s"${Files.createTempDirectory("lease")}/state"
    Lease.withLease(spark, dir) {
      assert(leaseFile(dir).exists(), "lease marker must exist while held")
      // a DIFFERENT thread is a different writer (reentrancy is
      // per-thread): it must be refused immediately
      @volatile var got: Throwable = null
      val t = new Thread(() =>
        try Lease.withLease(spark, dir) { fail("second writer must not enter") }
        catch { case e: Throwable => got = e })
      t.start(); t.join(30000)
      assert(got != null && got.isInstanceOf[Lease.LeaseHeldException],
        s"expected LeaseHeldException, got $got")
    }
    assert(!leaseFile(dir).exists(), "lease must release on clean exit")
    // release on failure too
    intercept[RuntimeException] {
      Lease.withLease(spark, dir) { throw new RuntimeException("writer died") }
    }
    assert(!leaseFile(dir).exists(), "lease must release when the body throws")
    // and the dir is writable again
    Lease.withLease(spark, dir) { assert(leaseFile(dir).exists()) }
  }

  test("a crashed writer's stale lease is taken over; a FRESH foreign lease is not") {
    val dir = s"${Files.createTempDirectory("lease_stale")}/state"
    new java.io.File(dir).mkdirs()
    val f = leaseFile(dir)
    // a foreign lease with a live heartbeat: refused
    java.nio.file.Files.write(f.toPath, "someone-else".getBytes("UTF-8"))
    val e = intercept[Lease.LeaseHeldException] {
      Lease.withLease(spark, dir) { fail("must not enter over a live lease") }
    }
    assert(e.getMessage.contains("someone-else"), e.getMessage)
    // the same lease gone silent past the staleness horizon: taken over
    assert(f.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
    var entered = false
    Lease.withLease(spark, dir) { entered = true }
    assert(entered, "stale lease must be taken over")
    assert(!f.exists(), "the takeover's own lease must release on exit")
  }

  test("index mutators are guarded end-to-end; probes stay lock-free under a foreign lease") {
    val base = Files.createTempDirectory("lease_idx")
    val idxDir = s"$base/idx"
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("id", "text")
    TokenIndex.append(corpus, "id", "text", idxDir, 0L)
    assert(!leaseFile(idxDir).exists(), "append must release its lease")
    // a concurrent writer (simulated by a fresh foreign lease) blocks
    // every mutator fast...
    java.nio.file.Files.write(leaseFile(idxDir).toPath, "other-ingest".getBytes("UTF-8"))
    intercept[Lease.LeaseHeldException] {
      TokenIndex.append(corpus, "id", "text", idxDir, 1L)
    }
    intercept[Lease.LeaseHeldException] {
      TokenIndex.delete(Seq(1L).toDF("id"), "id", idxDir)
    }
    intercept[Lease.LeaseHeldException] { TokenIndex.compact(spark, idxDir) }
    // ...but READS never touch the lease
    val pairs = TokenIndex.containmentJoinIndexed(spark,
      Seq((10L, "beta gamma")).toDF("pid", "ptext"), "pid", "ptext", idxDir, 1.0)
      .select(col("corpus_id").cast("long")).as[Long].collect().sorted.toSeq
    assert(pairs == Seq(1L, 2L), "probes must stay lock-free")
    assert(leaseFile(idxDir).delete())
    // upsert = delete + append under ONE lease (reentrant), and the
    // vector mutators share the same guard
    IndexStore.upsert(corpus, "id", "corpus_id", TokenIndex.ReservedPostingCols, idxDir, 2L, Nil)(
      TokenIndex.append(corpus, "id", "text", idxDir, 2L, Nil))
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val vecDir = s"$base/vec"
    VectorIndex.build(emb, "vec_id", "embedding", vecDir, k = 4, maxIter = 3)
    java.nio.file.Files.write(leaseFile(vecDir).toPath, "other-ingest".getBytes("UTF-8"))
    intercept[Lease.LeaseHeldException] {
      VectorIndex.delete(Seq(1L).toDF("vec_id"), "vec_id", vecDir)
    }
    intercept[Lease.LeaseHeldException] { VectorIndex.compact(spark, vecDir) }
    assert(leaseFile(vecDir).delete())
    VectorIndex.compact(spark, vecDir) // and compacts again once free
  }

  test("rewriteParquetDir leases its dir; the swap never carries the lease away") {
    val dir = s"${Files.createTempDirectory("lease_rw")}/tbl"
    Seq((1L, "a"), (2L, "b"), (1L, "a")).toDF("k", "v")
      .repartition(3).write.parquet(dir)
    val (b, a) = graft.sources.Compaction.rewriteParquetDir(spark, dir)(_.distinct())
    assert(b == 3L && a == 2L)
    assert(!leaseFile(dir).exists(), "lease must release after the swap")
    assert(spark.read.parquet(dir).count() == 2L)
  }

  test("object-store posture: on a no-op-setTimes store the staleMs guidance is load-bearing, not advisory") {
    // Simulated S3-shaped store (the Lease scaladoc's contract table):
    // setTimes is a no-op, so the heartbeat buys nothing and a live
    // writer stops LOOKING alive staleMs after acquisition.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nosettimes.impl", classOf[NoSetTimesFileSystem].getName)
    val local = Files.createTempDirectory("lease_s3").toString
    val dir = s"nosettimes://$local/state"
    // sanity: the simulation really ignores setTimes
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val probe = new org.apache.hadoop.fs.Path(s"nosettimes://$local/probe")
    fs.create(probe, false).close()
    val mt0 = fs.getFileStatus(probe).getModificationTime
    fs.setTimes(probe, mt0 - 1000000L, -1)
    assert(fs.getFileStatus(probe).getModificationTime == mt0,
      "the simulated store must ignore setTimes")

    // 1) MIS-TUNED staleMs (shorter than the operation): the live
    // writer is taken over mid-flight, and its release reports the
    // takeover loudly after the fact — the documented failure mode
    val shortStale = 2000L
    val victimDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var victimOutcome: Throwable = null
    val victim = new Thread(() =>
      try {
        Lease.withLease(spark, dir, staleMs = shortStale) {
          // hold WELL past staleMs, and don't release until the taker
          // has had its turn — pure synchronization, no timing guess
          victimDone.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
        }
        victimOutcome = new AssertionError("victim finished cleanly — takeover undetected")
      } catch { case e: Throwable => victimOutcome = e })
    victim.start()
    // poll (never a fixed sleep — CI pauses flip fixed-sleep races):
    // wait until the lease exists and LOOKS stale (mtime never advances
    // on this store), with a generous deadline
    val localLease = new java.io.File(s"$local/state" + Lease.Suffix)
    val deadline = System.currentTimeMillis() + 30000
    while ((!localLease.exists() ||
        System.currentTimeMillis() - localLease.lastModified() <= shortStale + 200) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(localLease.exists(), "victim never acquired within the deadline")
    var entered = false
    Lease.withLease(spark, dir, staleMs = shortStale) {
      entered = true
      victimDone.countDown() // let the victim release while we hold
      victim.join(30000)
    }
    assert(entered, "the stale-looking live writer must be taken over")
    assert(victimOutcome.isInstanceOf[Lease.LeaseHeldException],
      s"the victim must report the takeover loudly: $victimOutcome")

    // 2) THE GUIDANCE (staleMs past the longest operation): the same
    // long writer is never taken over — a second writer fails fast the
    // whole way through, and the writer completes cleanly
    @volatile var longOk = false
    val longStale = 60L * 1000
    val writerRelease = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() =>
      Lease.withLease(spark, dir, staleMs = longStale) {
        writerRelease.await(60, java.util.concurrent.TimeUnit.SECONDS)
        longOk = true
      })
    writer.start()
    val deadline2 = System.currentTimeMillis() + 30000
    while (!localLease.exists() && System.currentTimeMillis() < deadline2)
      Thread.sleep(100)
    assert(localLease.exists(), "long writer never acquired within the deadline")
    intercept[Lease.LeaseHeldException] {
      Lease.withLease(spark, dir, staleMs = longStale) {
        fail("must not enter over a live writer when staleMs is tuned right")
      }
    }
    writerRelease.countDown()
    writer.join(30000)
    assert(longOk, "the long writer must complete cleanly under tuned staleMs")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + Lease.Suffix)),
      "the lease must release cleanly on the simulated store")
  }
}

/** LeaseSpec's simulated S3-shaped store: a local FS whose `setTimes`
  * is a NO-OP — the property that makes the heartbeat ineffective on
  * object stores (see the contract table in [[graft.sources.Lease]]). */
class NoSetTimesFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "nosettimes"
  override def getUri: java.net.URI = java.net.URI.create("nosettimes:///")
  override def setTimes(p: org.apache.hadoop.fs.Path, mtime: Long, atime: Long): Unit = ()
}
