package graft

import graft.ops.{Scd2Store, StoreDirs}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[StoreDirs.store]], the one build memo every store goes through: a
  * store is built once per (tag, input fingerprint) however many threads
  * ask for it first, and a build may open another store. */
class StoreMemoSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def storeDirs(tag: String): Seq[String] =
    Option(new java.io.File(StoreDirs.rootDir).list()).toSeq.flatten
      .filter(_.startsWith(tag + "_"))

  test("two threads' first access to one store build it once") {
    val d = TestSession.freshSf()
    val runs = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val access = (1 to 2).map(_ => pool.submit(() => {
        go.await()
        StoreDirs.store(spark, "memoprobe", d) { base =>
          runs.incrementAndGet()
          Thread.sleep(300) // hold the build while the other thread asks
          new java.io.File(base).mkdirs(): Unit
        }
      }))
      go.countDown()
      val dirs = access.map(_.get(60, TimeUnit.SECONDS))
      assert(runs.get === 1)
      assert(dirs.distinct.size === 1)
      assert(storeDirs("memoprobe") === Seq(new java.io.File(dirs.head).getName))
    } finally pool.shutdown()
  }

  test("Scd2Store.hist on a fresh input builds dwd inside the scd2h build") {
    val d = TestSession.freshSf()
    assert(Scd2Store.hist(spark, d).count() > 0)
    // scd2h's build reads DwdStore.wide: both stores are complete
    val key = StoreDirs.freshKey(spark, d)
    for (tag <- Seq("dwd", "scd2h"))
      assert(new java.io.File(StoreDirs.dirFor(tag, key), "_GRAFT_DONE")
        .exists(), tag)
  }
}
