package graft

import graft.ops.StoreDirs
import org.scalatest.funsuite.AnyFunSuite

/** Crash-recovery contract of [[StoreDirs.fold]]'s two-rename swap
  * (ADVICE r10): every crash window leaves at least one COMPLETE copy on
  * disk, and the next fold must restore it before it reads — NEVER treat
  * a missing live dir as an empty store while sibling copies exist, and
  * never let the next overwrite's staging/old cleanup delete the sole
  * survivors. Each test fabricates the exact on-disk state a crash at one
  * point of the swap leaves behind, then asserts what the next fold's
  * merge is handed and what the store holds after it. */
class StoreRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("recov").toString + "/store"

  private def write(dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def readIds(dir: String): Set[Long] =
    spark.read.parquet(dir).collect().map(_.getLong(0)).toSet

  /** Fold into `dir` and return the ids the merge was handed (`None` when
    * the store was absent). The merge writes `next`, or keeps the prior
    * rows when `next` is empty. */
  private def fold(dir: String, next: Seq[Long] = Nil): Option[Set[Long]] = {
    import spark.implicits._
    var seen: Option[Set[Long]] = None
    StoreDirs.fold(spark, dir) { prior =>
      seen = prior.map(_.collect().map(_.getLong(0)).toSet)
      if (next.isEmpty) prior.get else next.toDF("id")
    }
    seen
  }

  test("crash between the two renames: .old (last committed) is restored, " +
      "in-flight .staging discarded") {
    val dir = tmp()
    write(dir + ".old", Seq(1L, 2L))     // live → .old rename happened
    write(dir + ".staging", Seq(3L, 4L)) // commit rename never ran
    // .old is the last COMMITTED state; preferring .staging would
    // double-apply the in-flight batch when the caller replays it
    assert(fold(dir) === Some(Set(1L, 2L)))
    assert(readIds(dir) === Set(1L, 2L))
    assert(!new java.io.File(dir + ".staging").exists())
    assert(!new java.io.File(dir + ".old").exists())
  }

  test("first-ever build crash after the parquet job: complete .staging " +
      "(_SUCCESS present) is promoted") {
    val dir = tmp()
    write(dir + ".staging", Seq(7L))
    assert(new java.io.File(dir + ".staging", "_SUCCESS").exists(),
      "precondition: Spark's committer writes _SUCCESS")
    assert(fold(dir) === Some(Set(7L)))
    assert(readIds(dir) === Set(7L))
  }

  test("partial .staging without _SUCCESS is deleted; store is genuinely " +
      "absent") {
    val dir = tmp()
    write(dir + ".staging", Seq(9L))
    assert(new java.io.File(dir + ".staging", "_SUCCESS").delete())
    assert(fold(dir, Seq(10L)) === None)
    assert(readIds(dir) === Set(10L))
    assert(!new java.io.File(dir + ".staging").exists())
  }

  test("live dir present: recovery is a no-op and the next " +
      "durableOverwrite swaps cleanly") {
    val dir = tmp()
    assert(fold(dir, Seq(1L)) === None)
    assert(readIds(dir) === Set(1L))
    assert(fold(dir, Seq(2L)) === Some(Set(1L)))
    assert(readIds(dir) === Set(2L))
    assert(!new java.io.File(dir + ".staging").exists())
    assert(!new java.io.File(dir + ".old").exists())
  }

  test("durableOverwrite after a mid-swap crash recovers FIRST — the " +
      "survivor is never deleted as stale staging/old debris") {
    val dir = tmp()
    write(dir + ".old", Seq(1L))      // crash state: live missing
    write(dir + ".staging", Seq(2L))
    // the merge ignores the store it is handed ({1}, restored from .old)
    // and writes {5}: recovery must restore live before the staging/old
    // cleanup deletes the only copies
    assert(fold(dir, Seq(5L)) === Some(Set(1L)))
    assert(readIds(dir) === Set(5L))
  }

  test("CorpusStore.state fails loudly on a committed marker whose batch " +
      "dir is missing (corruption), instead of serving a partial manifest") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("corpus").toString
    val batch = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta", "s1"))
      .toDF("doc_id", "text", "source")
    graft.ops.CorpusStore.refreshBatch(spark, base, 0L, batch)
    // fold committed: the surface reads fine (count value irrelevant —
    // the quality gate may drop the toy doc; the DIR must exist)
    assert(graft.ops.CorpusStore.state(spark, base, "surv").count() >= 0)
    // externally delete a committed surface dir — corruption, not a
    // partial fold (those have no marker and are invisible)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(s"$base/surv/batch=0"))
    val e = intercept[IllegalArgumentException] {
      graft.ops.CorpusStore.state(spark, base, "surv").count()
    }
    assert(e.getMessage.contains("corrupt"))
  }
}
