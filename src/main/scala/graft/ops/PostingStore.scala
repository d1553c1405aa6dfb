package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized inverted-index artifacts — the retrieval layer's
  * "built once at ingest" store, executed rather than described (the
  * [[TextIndexStore]] pattern applied to [[RetrievalOps]]).
  *
  * A search system never rebuilds its index per query: posting lists are
  * written when documents enter the corpus and every query PROBES the
  * stored index. Here the store is parquet written once per (JVM, sfDir)
  * via the [[StoreDirs]] memo (PID-scoped, removed on exit, rebuilt on
  * first access); in production it is a term-bucketed lakehouse table
  * maintained incrementally by [[RetrievalOps.mergePostings]] (merge ≡
  * rebuild proven in RetrievalSpec). All three retrieval queries
  * (`q_inverted_search`, `q_bm25_rank`, `q_rag_pack`) keep their oracle
  * SQL — which recomputes the index from raw text — verbatim, so the
  * hash gate proves store-probing ≡ fresh-build for free. The memo is
  * keyed on [[StoreDirs.freshKey]] (path + input-file fingerprint), so a
  * mid-round regeneration of the input parquet rebuilds the store instead
  * of probing stale postings against fresh oracles.
  *
  *   - `postings` — (term, doc_id, tf): the index proper.
  *   - `doclen`   — (doc_id, dl): per-document token counts (BM25's
  *                  length normalization + the packer's budget costs).
  */
object PostingStore {

  private def ensure(s: SparkSession, d: String): String =
    StoreDirs.store(s, "postings", d) { base =>
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      RetrievalOps.postingsOf(docs)
        .write.mode("overwrite").parquet(s"$base/postings")
      docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(s"$base/doclen")
    }

  /** The materialized (term, doc_id, tf) posting lists. */
  def postings(s: SparkSession, d: String): DataFrame =
    Tables.read(s, s"${ensure(s, d)}/postings")

  /** The materialized (doc_id, dl) document lengths. */
  def doclen(s: SparkSession, d: String): DataFrame =
    Tables.read(s, s"${ensure(s, d)}/doclen")

  /** The STREAMING face of the store: merge one ingest batch of
    * (doc_id, text) rows into the index rooted at `base` — the
    * `foreachBatch` read → merge → overwrite refresh
    * ([[RetrievalOps.mergePostings]] applied to the store's actual
    * parquet dirs, the IncrAggSpec pattern). Both artifacts refresh:
    * posting lists via the `max(tf)` merge (idempotent under
    * at-least-once replay — a re-delivered document re-derives identical
    * (term, doc_id, tf) rows) and doclen via the same max-collapse on
    * (doc_id, dl), each through [[StoreDirs.fold]].
    *
    * Scale: the merge SHUFFLES only store ∪ batch partials keyed by
    * (term, doc_id); here the overwrite then rewrites the whole store
    * because plain parquet has no MERGE — in production the store is a
    * term-bucketed lakehouse table and only buckets containing the
    * batch's touched terms rewrite, so per-batch cost ∝ touched terms,
    * never corpus size (the [[CdcOps]] touched-buckets device).
    * PostingStreamSpec proves the maintained on-disk store ≡ the fresh
    * whole-corpus build under uneven batch boundaries + a replayed
    * batch. */
  def refresh(s: SparkSession, base: String, batch: DataFrame): Unit = {
    val freshP = RetrievalOps.postingsOf(batch)
    val freshD = batch.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    StoreDirs.fold(s, s"$base/postings")(
      _.fold(freshP)(RetrievalOps.mergePostings(_, freshP)))
    StoreDirs.fold(s, s"$base/doclen")(_.fold(freshD)(
      _.unionByName(freshD).groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))))
  }
}
