package graft

import org.apache.spark.sql.functions._

/** Stage profiler for q_near_dup_pipeline (VERDICT r10 #2: 0.66 s →
  * 1.50 s adjudicated drift across two rounds with the composition
  * unchanged — find where it goes). Every stage calls the SHIPPED
  * pipeline code ([[ops.TextOps.minhashSignaturesOf]] /
  * [[ops.TextOps.lshCandidates]] / [[ops.TextOps.verifySimPairs]]) with
  * barriers between stages. A dev tool, not a Verify or Bench surface;
  * run via
  * `sbt "runMain graft.ProfileNdp /root/testdata/sf0.1"`. */
object ProfileNdp {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.get()
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label%-38s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    (1 to 3).foreach { i =>
      t(s"full run $i") {
        ops.TextOps.nearDupPipeline(s, d).collect().length
      }
    }
    // staged re-run with barriers — shipped code only
    val docs = t("docs read+repartition (count)") {
      val x = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      println(s"[prof]   docs: ${x.count()}")
      x
    }
    val sig = t("minhashSignaturesOf (checkpoint)") {
      ops.TextOps.minhashSignaturesOf(s, docs).localCheckpoint()
    }
    val cand = t("lshCandidates (checkpoint)") {
      val c = ops.TextOps.lshCandidates(sig).localCheckpoint()
      println(s"[prof]   candidates: ${c.count()}")
      c
    }
    val candIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    val survivors = t("survivor shingle sets (checkpoint)") {
      val x = docs.select(col("doc_id"), ops.TextOps.shsetCol.as("shset"))
        .join(candIds, Seq("doc_id"), "left_semi").localCheckpoint()
      println(s"[prof]   survivors: ${x.count()}")
      x
    }
    t("verifySimPairs") {
      val n = ops.TextOps.verifySimPairs(cand, survivors).count()
      println(s"[prof]   final pairs: $n")
    }
    s.stop()
  }
}
