package warebench

import org.apache.spark.sql.SparkSession

/** The `Tables` layer, timed the same way by every workload. Which
  * per-layer metrics a run prints is `BENCHMARK.json`'s list; a workload
  * reports what it measured, and `run.py` fills 0 only for the layers the
  * workload does not run. */
object Layers {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One timed `Tables` read per table (`events` only through
    * `Tables.events`), each a child of a `tables` span, whose id it
    * returns. The jobs launched inside are schema inference. */
  def timeTables(s: SparkSession, d: String, spans: Spans): Int =
    spans.timed(-1, "tables") { root =>
      tables.foreach { t =>
        spans.timed(root, s"tables.load.$t") { _ =>
          if (t == "events") graft.Tables.events(s, d) else graft.Tables.load(s, d, t)
        }
      }
      root
    }
}
