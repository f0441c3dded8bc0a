package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import graft.sources.KvSnapshots
import graft.sources.KvSnapshots.KvFileStat

/** Optimistic concurrency control on the snapshot commit
  * (KvSnapshots.commitWith): the conditional-put publish detects a
  * concurrent committer and the loser REBASES — deterministic
  * collision forced with a barrier inside the membership function, so
  * both writers provably compute against the same base before one of
  * them loses the CAS. Proves: no lost update, linear version
  * history, rebase sees the winner's files, and the spark-level race
  * (two concurrent INSERT INTO jobs) lands both row sets.
  */
class KvOccSpec extends SparkTestBase {

  private def stat(name: String) =
    KvFileStat(name, 1L, Some(1L), Some(1L), keysKnown = true)

  test("forced CAS collision: loser rebases, nothing lost") {
    val d = SparkTestBase.tempDir("graft_occ").toString
    KvSnapshots.commit(d, Seq(stat("base.jsonl"))) // v1
    // Both writers snapshot base INSIDE the membership fn and meet at
    // the barrier before either can publish — guaranteeing both
    // computed against v1. One wins v2; the loser's second call sees
    // base 2 (the winner's commit) and must rebase on top of it.
    val barrier = new CyclicBarrier(2)
    val basesSeen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val pool = Executors.newFixedThreadPool(2)
    def committer(mine: String) = pool.submit(
      new java.util.concurrent.Callable[Int] {
        override def call(): Int =
          KvSnapshots.commitWith(d) { base =>
            basesSeen.add(base)
            val prev =
              if (base == 0) Seq.empty
              else KvSnapshots.membersWithStats(d, base)
            // Only rendezvous on the FIRST attempt (barrier arity 2);
            // a retry must not deadlock waiting for the finished
            // winner.
            if (basesSeen.size <= 2)
              barrier.await(10, TimeUnit.SECONDS)
            prev :+ stat(mine)
          }
      })
    val fa = committer("a.jsonl")
    val fb = committer("b.jsonl")
    val va = fa.get(30, TimeUnit.SECONDS)
    val vb = fb.get(30, TimeUnit.SECONDS)
    pool.shutdown()
    // Linear history, both commits landed at distinct versions.
    assert(Set(va, vb) === Set(2, 3))
    assert(KvSnapshots.versions(d) === Seq(1, 2, 3))
    // Both writers computed against base 1 at least once (the forced
    // collision actually happened), and someone later saw base 2.
    val bases = basesSeen.toArray(Array.empty[Integer]).map(_.toInt)
    assert(bases.count(_ == 1) === 2,
      s"collision not forced: bases seen = ${bases.toSeq}")
    assert(bases.contains(2))
    // No lost update: the final membership carries BOTH files plus
    // the base.
    assert(KvSnapshots.members(d, 3).toSet ===
      Set("base.jsonl", "a.jsonl", "b.jsonl"))
  }

  test("conflict budget: a hopeless herd fails loud") {
    val d = SparkTestBase.tempDir("graft_occ2").toString
    // A membership function that sabotages itself by committing a
    // NEWER version before returning — every CAS attempt loses.
    val e = intercept[KvSnapshots.CommitConflictException] {
      KvSnapshots.commitWith(d) { base =>
        KvSnapshots.commit(d, Seq(stat(s"racer$base.jsonl")))
        Seq(stat("mine.jsonl"))
      }
    }
    assert(e.getMessage.contains("races"))
  }

  test("two concurrent spark INSERTs both land (append rebase)") {
    graft.sources.KvGate.register(spark)
    val t = "graft_kv.default.occ_race"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true')")
    val ready = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    def insert(lo: Int, hi: Int) = pool.submit(new Runnable {
      override def run(): Unit = {
        ready.countDown()
        ready.await(10, TimeUnit.SECONDS)
        spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) " +
          s"FROM range($lo, $hi)")
      }
    })
    val fa = insert(0, 500)
    val fb = insert(500, 1000)
    fa.get(60, TimeUnit.SECONDS)
    fb.get(60, TimeUnit.SECONDS)
    pool.shutdown()
    // Whatever the interleaving — including a genuine CAS loss and
    // rebase — both row sets are present and history is linear.
    assert(spark.sql(s"SELECT count(*) c FROM $t")
      .head().getLong(0) === 1000L)
    assert(spark.sql(s"SELECT count(DISTINCT key) c FROM $t")
      .head().getLong(0) === 1000L)
    val d = graft.sources.KvGateTable("occ_race").dir
    assert(KvSnapshots.versions(d) === Seq(1, 2))
  }

  test("MoR commit aborts on a conflicting concurrent delete") {
    graft.sources.KvGate.register(spark)
    val t = "graft_kv.default.occ_mor"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (key BIGINT, value STRING) " +
      "TBLPROPERTIES ('snapshots'='true', 'dml'='mor')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) FROM range(20)")
    val d = graft.sources.KvGateTable("occ_mor").dir
    // Simulate a concurrent DELETE landing between this DML's scan
    // and its commit: hand-commit a tombstone manifest under the
    // operation's feet. The delta commit must then REFUSE — its
    // (file, pos) ids were computed against vanished liveness.
    val v1 = KvSnapshots.latest(d).get
    val op = new graft.sources.KvMorRowLevelOperation(
      d, org.apache.spark.sql.connector.write.RowLevelOperation
        .Command.DELETE, None)
    val prev = KvSnapshots.membersWithStats(d, v1)
    val dataName = prev.head.name
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "delete-intruder-00000.del"),
      s"$dataName\t0".getBytes("UTF-8"))
    KvSnapshots.commit(d, prev :+ KvFileStat(
      "delete-intruder-00000.del", 1L, None, None, keysKnown = false))
    // Drive the operation's write directly with one tombstone.
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "occtest"
      override def schema(): org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()
      override def options()
          : org.apache.spark.sql.util.CaseInsensitiveStringMap =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
    }
    val bw = op.newWriteBuilder(info).build().toBatch
    val w = bw.createBatchWriterFactory(null).createWriter(0, 0L)
    w.delete(null, org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        java.nio.file.Paths.get(d, dataName).toString),
      1L))
    val msg = w.commit()
    val e = intercept[KvSnapshots.CommitConflictException] {
      bw.commit(Array(msg))
    }
    assert(e.getMessage.contains("conflicting"))
  }
}
