package graft.ops

import graft.Tables
import graft.functions.Aggregators
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over the `documents` table — the
  * training-data-pipeline extension (language-ID, quality scoring, token
  * counting, fingerprinting, exact dedup, n-gram Jaccard near-dup,
  * MinHash+LSH, SimHash).
  *
  * Scale design (100 TB of documents):
  *   - exact dedup: hash-groupBy on a 128-bit content fingerprint — one
  *     shuffle keyed by fingerprint, partial-agg combines duplicates
  *     map-side; never shuffles raw text (only the 32-char hash + id).
  *   - near-dup: MinHash+LSH is the scale path — O(docs × bands) explode
  *     and a self-join keyed on (band, bandKey), so only colliding docs
  *     meet; the exact n-gram Jaccard join (shingle-keyed self-join) is the
  *     verifier stage, run on LSH candidates only in production.
  *   - per-doc scoring (language, quality, fingerprints) is embarrassingly
  *     parallel — no shuffle at all, pure map stage inside whole-stage
  *     codegen.
  */
object TextOps extends QueryModule {

  /** The documents table arrives as ONE small parquet file = one scan
    * partition; the hash-heavy ops (md5 per shingle × hash functions,
    * interpreted HOF lambdas) would run on a single core. A cheap
    * repartition of the 500–5000 tiny rows buys full-core parallelism for
    * the compute stage. At 100 TB the input is already many splits and this
    * becomes a no-op knob. */
  private[ops] def docsParallel(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism)

  // ---- DuckDB oracle SQL fragments (kept adjacent to the Column builders
  //      they mirror; md5 is the cross-engine hash) ----
  private def dHash32(seed: Int, s: String): String =
    s"('0x'||substr(md5('$seed|'||($s)),1,8))::BIGINT"
  private val dToks = "string_split(text, ' ')"
  /** n-token shingle list over `t` — mirrors [[TextFunctions.shingles]]. */
  private def dShinglesN(n: Int): String = {
    val parts = (0 until n).map(k => s"t[CAST(i+$k AS INT)]")
      .mkString(" || ' ' || ")
    s"CASE WHEN len(t) < $n THEN [] ELSE " +
      s"list_transform(range(1, len(t)-${n - 2}), i -> $parts) END"
  }
  private val dShingles3 = dShinglesN(3)
  private def dIn(words: Seq[String]) = words.map(w => s"'$w'").mkString("(", ",", ")")

  /** Planted-copy id offset (corpus-filter / decontamination / multimodal
    * honesty devices). A HIGH BIT, not a small additive constant: a real
    * doc_id can never reach 2^62, so a planted id can never collide with a
    * live one at any scale factor — a collision would corrupt planted-copy
    * semantics identically in both engines, which the hash gate cannot
    * catch. Still BIGINT-safe: 2^62 + doc_id < 2^63 for any id < 2^62. */
  private[ops] val PlantOffset: Long = 1L << 62

  /** Second plant-id region (2^62 + 2^61) for operators that plant TWO
    * independent copy families: by CRT one doc can satisfy both plant
    * moduli, and a single shared offset would then mint two plants with
    * the SAME id — an id collision both engines would agree on, so the
    * hash gate could never see it. Disjoint high regions keep every plant
    * id unique at any scale factor. */
  private[ops] val PlantOffset2: Long = (1L << 62) + (1L << 61)

  /** Token statistics — whitespace + regex "BPE-ish" counts.
    * char_sum uses the codegen-friendly identity
    * `Σ len(tok) = len(text) - (n_tok - 1)` (single-space corpus, verified)
    * instead of an interpreted HOF fold. */
  def docStats(s: SparkSession, d: String): DataFrame =
    docsParallel(s, d).select(
      col("doc_id"),
      length(col("text")).as("len_chars"),
      size(tokens(col("text"))).as("n_tok"),
      size(regexTokens(col("text"))).as("n_re_tok"),
      (length(col("text")) - (size(tokens(col("text"))) - 1))
        .cast("long").as("char_sum"))

  /** Quality scoring: length band, stopword ratio, mean token length. */
  def docQuality(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    docsParallel(s, d).select(
        col("doc_id"),
        size(t).as("n_tok"),
        stopwordCount(t, EnMarkers).as("stop_ct"),
        (length(col("text")) - (size(t) - 1)).cast("long").as("char_sum"))
      .withColumn("stop_ratio", col("stop_ct").cast("double") / col("n_tok"))
      .withColumn("avg_tok_len", col("char_sum").cast("double") / col("n_tok"))
      .withColumn("quality",
        when(col("n_tok").between(30, 500), 1).otherwise(0) +
        when(col("stop_ratio") >= 0.02 && col("stop_ratio") <= 0.6, 1).otherwise(0) +
        when(col("avg_tok_len").between(3.0, 10.0), 1).otherwise(0))
  }

  /** Per-source DATASET CARD — the one-row-per-source profile a pipeline
    * exports before training (Datasheets-for-Datasets class): volume
    * (docs/tokens/chars), quality mix (full-quality count + mean score),
    * language mix (predicted-en count via the [[langId]] heuristic),
    * lexical concentration (micro type-token ratio — Σtypes/Σtokens, ONE
    * division of exact longs, never an average of per-doc doubles, which
    * would reassociate and break the bit-exact gate), and the exact-dup
    * profile (distinct content fingerprints). Every column is an exact
    * integer aggregate or a single IEEE division of two — the
    * determinism discipline for doubles under the strict gate.
    *
    * Scale: one scan, all signals are per-row map stages (codegen'd
    * collection functions, no lambda HOFs), one source-keyed
    * partial-aggregable rollup; output is sources-sized. */
  /** Relative-threshold corpus gate — "drop each source's shortest 10 %"
    * rather than an absolute cutoff (the per-source quality gates real
    * pipelines use, because sources have wildly different length
    * distributions and one absolute bound over- or under-prunes them).
    * The per-source P10 is EXACT via the histogram-cumulate device
    * (`q_value_quantiles`' shape): value-grain counts, one cumulative
    * window per source over the value histogram — never a row sort —
    * and `threshold = min v where cum ≥ ceil(n/10)`. A doc is kept iff
    * `n_chars ≥ threshold` (the P10 tie rule keeps the boundary value,
    * so kept fraction ≥ 90 % exactly). Output is the per-source audit:
    * threshold, kept/dropped counts, and the kept-chars share as the one
    * sanctioned IEEE division.
    *
    * Scale: the histogram is (source × distinct lengths)-sized; the gate
    * itself is a broadcast of the sources-sized threshold table back
    * onto the doc scan — one pass, no doc shuffle. */
  def lengthPercentileGate(s: SparkSession, d: String): DataFrame = {
    val docs = docsParallel(s, d)
      .select(col("source"), length(col("text")).cast("long").as("len"))
    val hist = docs.groupBy(col("source"), col("len"))
      .agg(count(lit(1)).as("cnt"))
    val tot = hist.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("len").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist.withColumn("cum", sum(col("cnt")).over(w))
      .join(tot, Seq("source"))
      .filter(col("cum") * 10 >= col("n"))
      .groupBy(col("source")).agg(min(col("len")).as("threshold"))
    docs.join(broadcast(thr), Seq("source"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("threshold")).as("threshold"),
        sum(when(col("len") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("len") < col("threshold"), 1L).otherwise(0L))
          .as("n_dropped"),
        (sum(when(col("len") >= col("threshold"), col("len"))
          .otherwise(0L)).cast("double") /
          sum(col("len")).cast("double")).as("chars_kept_ratio"))
  }

  def sourceDatasheet(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    val perDoc = docsParallel(s, d).select(
        col("source"),
        md5(col("text")).as("fp"),
        size(t).as("n_tok"),
        size(array_distinct(t)).as("n_types"),
        length(col("text")).cast("long").as("n_chars"),
        stopwordCount(t, EnMarkers).as("stop_ct"),
        (length(col("text")) - (size(t) - 1)).cast("long").as("char_sum"),
        langId(t).as("pred_lang"))
      .withColumn("stop_ratio", col("stop_ct").cast("double") / col("n_tok"))
      .withColumn("avg_tok_len", col("char_sum").cast("double") / col("n_tok"))
      .withColumn("quality",
        when(col("n_tok").between(30, 500), 1).otherwise(0) +
        when(col("stop_ratio") >= 0.02 && col("stop_ratio") <= 0.6, 1)
          .otherwise(0) +
        when(col("avg_tok_len").between(3.0, 10.0), 1).otherwise(0))
    perDoc.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(when(col("quality") === 3, 1).otherwise(0)).cast("long")
        .as("n_quality3"),
      (sum(col("quality")).cast("double") / count(lit(1)).cast("double"))
        .as("avg_quality"),
      sum(when(col("pred_lang") === "en", 1).otherwise(0)).cast("long")
        .as("n_en"),
      sum(col("n_types")).as("sum_types"),
      (sum(col("n_types")).cast("double") / sum(col("n_tok")).cast("double"))
        .as("ttr_micro"),
      countDistinct(col("fp")).as("n_distinct_fp"))
  }

  /** Language-ID heuristic vs the labeled `lang` column (confusion matrix). */
  def langIdConfusion(s: SparkSession, d: String): DataFrame =
    docsParallel(s, d)
      .select(col("lang"), langId(tokens(col("text"))).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Lexical DIVERSITY per document — the distributional quality signal
    * the ratio heuristics ([[docQuality]]) and the repetition ratio
    * miss: a doc that loops one phrase scores low diversity even when
    * its length and stopword ratios look healthy (boilerplate/spam
    * detection, Gopher-class filtering). Two measures over the token
    * histogram: type-token ratio, and the Simpson index Σ c(c−1)/(n(n−1))
    * — the probability two random tokens coincide (its inverse is the
    * "effective vocabulary size").
    *
    * Determinism stance — why Simpson and NOT Shannon entropy: the gate
    * serializes doubles bit-exactly, and ln() differs between engines at
    * the ulp level (measured: 3.1389342457020373 vs …64), so any
    * transcendental-bearing column can never be hash-stable. Simpson and
    * TTR are single IEEE divisions of exact integer aggregates — the
    * same mathematical family of concentration signals, bit-deterministic
    * in both engines. Scale: explode → two partial-aggregable groupBys
    * keyed by doc; the shuffle carries (doc, token, count) rows, never
    * text. */
  def lexicalDiversity(s: SparkSession, d: String): DataFrame =
    docsParallel(s, d)
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_types"),
        (count(lit(1)).cast("double") / sum(col("c")).cast("double"))
          .as("ttr"),
        (sum(col("c") * (col("c") - 1)).cast("double") /
          nullif(sum(col("c")) * (sum(col("c")) - 1), lit(0L))
            .cast("double"))
          .as("simpson"))

  /** Content fingerprints: 128-bit hex + 60-bit numeric. */
  def docFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"),
      fingerprint60(col("text")).as("fp60"))

  /** Exact dedup groups: hash-groupBy on the content fingerprint. */
  def exactDedupGroups(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("min_doc"))

  /** Exact dedup keep-first: one survivor per fingerprint (window
    * row_number, the canonical Spark dedup-at-scale shape), then per-source
    * surviving counts. */
  def dedupKeepFirst(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(fingerprint(col("text"))).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
  }

  /** Segment width of [[segmentDedup]] — the "line" analog for this
    * newline-free corpus (fixed 16-token passages). */
  private final val SegW = 16

  /** Passage-level exact dedup with byte-exact document REASSEMBLY — the
    * C4 / RefinedWeb line-dedup class, where the unit of deduplication is
    * a passage inside a document, the first global occurrence survives,
    * and every document is rebuilt from its surviving passages. This
    * corpus has no newlines, so "lines" are fixed [[SegW]]-token windows;
    * the keep-first rule is the global lexicographic minimum (doc_id,
    * seg_id) per segment md5 (128-bit: a collision cannot occur, unlike
    * fp60 where both engines would agree on a silently-corrupting merge).
    *
    * Plant discipline (the corpus is dup-free): family 1 (`doc_id % 41 =
    * 3`, id + [[PlantOffset]], docs with ≥ SegW tokens) re-ingests the
    * host's first 16 tokens followed by 16 doc-unique `zz_uni_*` tokens —
    * PARTIAL removal, so reassembly must stitch a strict subset. Family 2
    * (`doc_id % 43 = 7`, id + [[PlantOffset2]] — disjoint id region, see
    * that constant's CRT note) re-ingests full byte-identical copies —
    * TOTAL removal, the empty-reassembly edge (out_fp = md5('')). Short
    * final segments (n_tok % 16 small) also collide naturally across base
    * docs — a live base-side dedup leg the gate checks too (31 base docs
    * at sf0.001), exactly the short-boilerplate-tail behavior line-dedup
    * shows on real corpora.
    *
    * 100 TB plan: document TEXT NEVER SHUFFLES BY CONTENT. The
    * content-keyed exchange carries only (md5, doc_id, seg_id) triples;
    * the keep-first winner per fingerprint is a map-side-combinable
    * `min(struct(doc_id, seg_id))` partial aggregate (not a window over
    * text rows — no corpus-sized sort); the verdict flows BACK doc-keyed
    * as per-doc drop-lists over only the docs that lost a segment
    * (hit-set-sized, broadcast here; beyond broadcast it degrades to one
    * doc_id-keyed shuffle — the key reassembly needs anyway). Reassembly
    * itself is a per-row filter of the doc's own segment array: zero
    * extra exchanges. Compare [[dedupKeepFirst]] (whole-doc granularity,
    * window device) and [[dupSpanProfile]] (span *profiling* without
    * removal) — this operator is the removal+rebuild member of that
    * family. */
  /** Shared plant construction for the removal-dedup pair
    * ([[segmentDedup]], [[spanDedup]]): partial host-prefix copies
    * (%41, [[PlantOffset]]) and full byte-identical copies (%43,
    * [[PlantOffset2]]). The zz tail is computed in its OWN projection,
    * before the id is re-aliased: inside one select Spark resolved the
    * lambda's col("doc_id") against the post-offset alias (observed:
    * 28-char zz_uni_<2^62+id>_k tokens), silently diverging from the
    * SQL-scoped oracle. Two-step projection pins the original id. */
  private def plantedAug(src: DataFrame): DataFrame = {
    val partial = src
      .filter(col("doc_id") % 41 === 3 && size(tokens(col("text"))) >= SegW)
      .withColumn("ztail", concat_ws(" ", transform(sequence(lit(1), lit(SegW)),
        k => concat(lit("zz_uni_"), col("doc_id").cast("string"),
          lit("_"), k.cast("string")))))
      .select(
        (col("doc_id") + PlantOffset).as("doc_id"),
        col("source"),
        concat_ws(" ",
          concat_ws(" ", slice(tokens(col("text")), 1, SegW)),
          col("ztail")).as("text"))
    val fullCopy = src
      .filter(col("doc_id") % 43 === 7)
      .select((col("doc_id") + PlantOffset2).as("doc_id"), col("source"),
        col("text"))
    src.unionByName(partial).unionByName(fullCopy)
  }

  def segmentDedup(s: SparkSession, d: String): DataFrame = {
    val src = docsParallel(s, d).select(col("doc_id"), col("source"), col("text"))
    val aug = plantedAug(src)

    val withSegs = aug
      .withColumn("toks", tokens(col("text")))
      .withColumn("nseg", expr(s"(size(toks) + ${SegW - 1}) div $SegW").cast("int"))
      .withColumn("sarr", expr(
        s"transform(sequence(0, nseg - 1), g -> concat_ws(' ', slice(toks, g * $SegW + 1, $SegW)))"))

    val light = withSegs
      .select(col("doc_id"), posexplode(col("sarr")))
      .select(md5(col("col")).as("fp"), col("doc_id"), col("pos").as("seg_id"))
    // winner AND losers from ONE fp-keyed aggregation (r15, guide §2.4):
    // the winners-then-join shape computed the segment explosion twice
    // (once under the groupBy, once as the join's probe side) and paid a
    // second content-keyed exchange to re-key it. Carrying the occurrence
    // list through the same aggregate costs nothing extra in shuffle
    // bytes (the rows move once either way), partial collect_list keeps
    // it map-side-combinable, and the per-fp list is duplication-sized
    // (1 element for the dup-free bulk). Still no corpus-sized sort, and
    // text still never shuffles by content.
    // SKEW BOUND (ADVICE r15): the per-fp buffer is OCCURRENCE-sized —
    // a boilerplate segment shared by k docs puts k (doc_id, seg_id)
    // structs in one aggregation row (16 B each, so even a
    // million-occurrence fp is ~16 MB — heap-noticeable, not a
    // corpus-sized sort; TextSpec's planted heavy-duplication corpus
    // drives thousands of copies through one fp and pins the output).
    // A corpus whose head fp outgrows task memory takes the two-phase
    // form: count-gate the hot fps first, stream them through the old
    // winners-join shape, one-pass the dup-free bulk.
    val drops = light.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("seg_id"))).as("w"),
        collect_list(struct(col("doc_id"), col("seg_id"))).as("occ"))
      .select(col("w"), explode(col("occ")).as("o"))
      .filter(col("o.doc_id") =!= col("w.doc_id") ||
        col("o.seg_id") =!= col("w.seg_id"))
      .groupBy(col("o.doc_id").as("doc_id"))
      .agg(collect_set(col("o.seg_id")).as("dropped"))

    withSegs.join(broadcast(drops), Seq("doc_id"), "left")
      .withColumn("text_out", expr(
        """concat_ws(' ', transform(
          |  filter(transform(sarr, (x, g) -> named_struct('g', g, 'x', x)),
          |         p -> dropped IS NULL OR NOT array_contains(dropped, p.g)),
          |  p -> p.x))""".stripMargin))
      .select(col("doc_id"), col("source"),
        col("nseg").cast("long").as("n_seg"),
        (col("nseg") - coalesce(size(col("dropped")), lit(0))).cast("long").as("n_kept"),
        coalesce(size(col("dropped")), lit(0)).cast("long").as("n_dropped"),
        md5(col("text_out")).as("out_fp"),
        length(col("text_out")).cast("long").as("chars_out"))
  }

  /** NEAR-duplicate passage detection — the fuzzy sibling of
    * [[segmentDedup]] (MassiveText/RefinedWeb-class boilerplate
    * removal): exact segment dedup misses the cookie banner whose date
    * or session id differs per page; this pairs 16-token segments whose
    * 32-bit SimHashes sit within hamming ≤ 2 (2×16-bit bands — the
    * `q_simhash_dups` geometry applied at PASSAGE grain, the third
    * grain of the near-dup dial after docs and spans). Segments are
    * keyed by the COMPOSITE (doc_id, seg_id) — never packed into one
    * long, since planted ids live at 2⁶² and any arithmetic packing
    * would overflow; the band self-join orders pairs lexicographically
    * on the composite. Intra-doc pairs are kept (they are the
    * [[repetitionRatio]] signal at segment grain). Liveness rides the
    * shared [[plantedAug]] builders: a partial plant's first segment is
    * byte-identical to its host's ⇒ a guaranteed hamming-0 pair; full
    * copies pair on every segment.
    *
    * Scale: text shuffles once, segment-sliced, to the hash pass (the
    * [[segmentDedup]] plan); after that only (doc, seg, sh) triples
    * move, and the self-join cost is band collisions — never segment
    * all-pairs — with the per-band keyspace widening on the hash-width
    * dial exactly as [[simhashDups]] documents. */
  def segmentNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = docsParallel(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    val segs = plantedAug(src)
      .withColumn("toks", tokens(col("text")))
      .withColumn("nseg",
        expr(s"(size(toks) + ${SegW - 1}) div $SegW").cast("int"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, nseg - 1), g -> concat_ws(' ', slice(toks, g * $SegW + 1, $SegW)))")))
      .select(col("doc_id"), col("pos").cast("long").as("seg_id"),
        col("col").as("seg_text"))
    // the [[simhashOf]] loop at (doc_id, seg_id) grain — bit-identical
    // votes (seed "0|", first-4-md5-bytes token hash, >= 0 majority)
    val sh = segs.as[(Long, Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, seg, text) =>
          val toks = text.split(" ", -1)
          val votes = new Array[Int](32)
          var i = 0
          while (i < toks.length) {
            md.reset()
            val dg = md.digest(("0|" + toks(i)).getBytes("UTF-8"))
            var h = 0L
            var k = 0
            while (k < 8) { h = (h << 8) | (dg(k) & 0xffL); k += 1 }
            h = h >>> 32
            var b = 0
            while (b < 32) {
              if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
              b += 1
            }
            i += 1
          }
          var v = 0L
          var b = 0
          while (b < 32) { if (votes(b) >= 0) v |= (1L << b); b += 1 }
          (id, seg, v)
        }
      }.toDF("doc_id", "seg_id", "sh")
    val bands = sh.select(col("doc_id"), col("seg_id"), col("sh"),
      explode(array(
        struct(lit(0).as("band"),
          col("sh").bitwiseAND(lit(65535L)).as("bval")),
        struct(lit(1).as("band"),
          shiftright(col("sh"), 16).as("bval")))).as("bk"))
      .select(col("doc_id"), col("seg_id"), col("sh"),
        col("bk.band").as("band"), col("bk.bval").as("bval"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval")
          && (col("x.doc_id") < col("y.doc_id")
            || (col("x.doc_id") === col("y.doc_id")
              && col("x.seg_id") < col("y.seg_id"))))
      .select(col("x.doc_id").as("d1"), col("x.seg_id").as("s1"),
        col("y.doc_id").as("d2"), col("y.seg_id").as("s2"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 2)
  }

  /** Overlapping-SPAN exact dedup with removal — the Lee et al. (ACL'22)
    * substring-dedup class, completing the removal family at its finest
    * granularity: [[dedupKeepFirst]] removes whole docs, [[segmentDedup]]
    * fixed 16-token passages, this removes every token covered by a
    * duplicated 8-token span whose FIRST occurrence (lexicographic min
    * (doc_id, pos) per gram md5) lives elsewhere — overlapping
    * duplicate spans union into one covered region, exactly how
    * substring dedup behaves on real corpora. [[dupSpanProfile]] is the
    * read-only audit of the same signal; this executes the removal and
    * rebuilds the text.
    *
    * Same no-text-shuffle plan as [[segmentDedup]]: the content-keyed
    * exchange carries (md5, doc_id, pos) triples; the winner is a
    * map-side-combinable min-struct aggregate; non-winner occurrences
    * explode to covered token indices (8 per span, pre-distinct'd) and
    * return doc-keyed as broadcast covered-index lists; removal is a
    * per-row filter of the doc's own token array. Plants (shared
    * [[plantedAug]] builders): full copies lose every token (all their
    * grams' winners are the host's), partial plants lose exactly the
    * copied 16-token prefix — the zz tail's grams straddling the prefix
    * boundary are globally unique, so coverage stops at token 15 and
    * reassembly keeps precisely the tail (TextSpec pins both, plus
    * byte-exact reassembly of untouched docs). */
  def spanDedup(s: SparkSession, d: String): DataFrame = {
    val W = 8
    val src = docsParallel(s, d).select(col("doc_id"), col("source"), col("text"))
    val aug = plantedAug(src)
      .withColumn("toks", tokens(col("text")))

    val light = aug
      // CASE guard, not greatest(): Spark's sequence(0, -1) yields the
      // DESCENDING [0, -1] (CLAUDE.md trap), so sub-W docs must take an
      // explicit empty-array branch
      .select(col("doc_id"), posexplode(expr(
        s"CASE WHEN size(toks) >= $W THEN " +
          s"transform(sequence(0, size(toks) - $W), " +
          s"i -> concat_ws(' ', slice(toks, i + 1, $W))) " +
          "ELSE CAST(array() AS array<string>) END")))
      .select(md5(col("col")).as("fp"), col("doc_id"), col("pos"))
    // winner AND losers from ONE fp-keyed aggregation — see
    // [[segmentDedup]] (r15): halves the gram explosion and drops the
    // second content-keyed exchange. The downstream covered-index
    // distinct is folded into collect_set (it dedupes, and its PARTIAL
    // aggregate dedupes map-side), so the idx rows pay one doc-keyed
    // exchange instead of a (doc, idx)-keyed one plus a doc-keyed one.
    // Same occurrence-sized per-fp skew bound as [[segmentDedup]]
    // (ADVICE r15) — TextSpec's heavy-duplication plant covers this
    // shape too; a Zipf-head gram beyond task memory takes the same
    // two-phase escape.
    val covered = light.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"),
        collect_list(struct(col("doc_id"), col("pos"))).as("occ"))
      .select(col("w"), explode(col("occ")).as("o"))
      .filter(col("o.doc_id") =!= col("w.doc_id") ||
        col("o.pos") =!= col("w.pos"))
      .select(col("o.doc_id").as("doc_id"),
        explode(sequence(col("o.pos"), col("o.pos") + (W - 1))).as("idx"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("idx")).as("covered"))

    aug.join(broadcast(covered), Seq("doc_id"), "left")
      .withColumn("text_out", expr(
        """concat_ws(' ', transform(
          |  filter(transform(toks, (x, i) -> named_struct('i', i, 'x', x)),
          |         p -> covered IS NULL OR NOT array_contains(covered, p.i)),
          |  p -> p.x))""".stripMargin))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tok"),
        coalesce(size(col("covered")), lit(0)).cast("long").as("n_covered"),
        md5(col("text_out")).as("out_fp"),
        length(col("text_out")).cast("long").as("chars_out"))
  }

  /** Frequent-token (heavy-hitter) detection — the boilerplate-shingle /
    * hot-token profile a training-data pipeline runs before dedup and
    * quality filtering, via the mergeable Misra–Gries sketch
    * ([[graft.functions.Aggregators.misraGries]], k = 8).
    *
    * Scale story: the sketch pass is ONE scan with O(k) state per task
    * and an associative merge — no shuffle proportional to vocabulary,
    * so it runs over 100 TB of tokens where an exact groupBy would
    * shuffle billions of distinct keys. The finished summary is O(k) and
    * driver-bounded BY CONSTRUCTION (this `head()` is the gated-collect
    * class the CC hybrid documents — here the bound is the sketch
    * parameter itself, not a gate). The exact count side below exists
    * for the GATE, not the algorithm: the bracket-oracle pattern
    * (see `Relational.distinctUsersApprox`) — deterministic columns are
    * the exact heavy hitters; `found` / `est_ok` are 0/1 flags asserting
    * MG's theorems (no false negative above n/k; estimate in
    * [exact − n/k, exact]), which the DuckDB oracle demands are 1.
    *
    * The corpus's 31-token vocabulary is near-uniform (~1/31 share each,
    * max ≈ 1.9·ndocs ≪ the n/8 threshold), so heaviness is PLANTED per
    * the corpus discipline: three zz_hot_* tokens emitted 80/90/25× per
    * doc on moduli 2/5/25 — identical construction in both engines, and
    * calibrated against the MEASURED base rate (54–56 tokens/doc at
    * every sf; doc counts are 500/500/5000, so a back-of-envelope from
    * assumed doc counts silently degenerates — this one did, caught by
    * a 0-row hash match). Counts scale with doc count nd: 40·nd, 18·nd,
    * 1·nd against a threshold of ≈14.2·nd — zz_hot_a/b heavy at
    * 2.8×/1.27× the threshold, zz_hot_c 14× BELOW it (the sketch must
    * not promote it), naturals 7× below — non-degenerate on both sides
    * of the boundary at every scale factor, asserted live by the
    * TextSpec liveness test. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 8
    val base = docsParallel(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
    def plant(m: Int, reps: Int, name: String) =
      Tables.documents(s, d).filter(col("doc_id") % m === 0)
        .select(explode(array_repeat(lit(name), reps)).as("tok"))
    // consumed twice (sketch pass + exact gate pass) — materialize once
    val items = base
      .unionAll(plant(2, 80, "zz_hot_a"))
      .unionAll(plant(5, 90, "zz_hot_b"))
      .unionAll(plant(25, 25, "zz_hot_c"))
      .localCheckpoint()
    val sketch: Map[String, Long] =
      items.as[String].select(Aggregators.misraGries(k).toColumn).head()
    val est = sketch.toSeq.toDF("tok", "est")
    val exact = items.groupBy(col("tok")).agg(count(lit(1)).as("exact_ct"))
    val tot = exact.agg(sum(col("exact_ct")).as("n_total"))
    exact.crossJoin(broadcast(tot))
      .filter(col("exact_ct") * k > col("n_total"))
      .join(broadcast(est), Seq("tok"), "left")
      .select(col("tok"), col("exact_ct"), col("n_total"),
        when(col("est").isNotNull, 1L).otherwise(0L).as("found"),
        coalesce((col("est") >= col("exact_ct") - col("n_total") / k &&
          col("est") <= col("exact_ct")).cast("long"), lit(0L)).as("est_ok"))
  }

  /** Count–min sketch frequency estimation (Cormode & Muthukrishnan,
    * J. Algorithms 2005) — the third mergeable frequency device next to
    * Misra–Gries ([[heavyHitters]], top-k only) and KMV (distincts):
    * CMS answers "how often does ANY key occur" from O(d·w) counters,
    * with the one-sided guarantee est ≥ exact (a key only ever shares
    * cells, never loses counts) and E[overshoot] ≤ N/w per row, min'd
    * over d independent rows.
    *
    * The build is the LINEAR-SKETCH showcase: per-SOURCE sketches are
    * built in one token scan (the d-way explode combines map-side to
    * ≤ d·w cells per task — never a token-sized shuffle) and the global
    * sketch is their CELL-WISE SUM. The DuckDB oracle builds its sketch
    * DIRECTLY from the raw token stream, so the hash match proves the
    * merge identity merge(sketch(A),sketch(B)) = sketch(A∪B) exactly —
    * the kmv_rollup device, on a linear sketch where the identity is
    * exact rather than bottom-k-stable. Hashes are the module's md5
    * device (seeded per row j), so est is DETERMINISTIC and gated
    * hash-exact — no bracket needed; `over_ok` asserts the structural
    * theorem est ≥ exact on every key. w = 16 is deliberately small for
    * the 31-token generator vocabulary so both accuracy arms stay live
    * at every SF (TextSpec asserts some key collides in all d rows —
    * est > exact — and some key owns a clean cell — est = exact).
    *
    * Scale: the sketch is 64 cells; the probe set here is the exact
    * vocabulary (bounded by the generator's construction — the exact
    * arm exists for the GATE, the [[heavyHitters]] discipline). At
    * 100 TB the sketch build is unchanged (one scan, O(d·w) state,
    * cell-wise merge across shards/streams/days) and probes are
    * request-sized lookups against 64 broadcast cells. */
  /** CMS geometry shared by the batch query, the streaming fold and the
    * oracle (which hard-codes the same 4 × 16 — keep in lockstep). */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 16

  /** One (row, bucket) pair per hash row for a token column — the d-way
    * explode whose partial aggregation IS the sketch build. */
  private def cmsCellCol(t: Column): Column =
    explode(array((0 until CmsDepth).map(j =>
      struct(lit(j.toLong).as("j"),
        (conv(substring(md5(concat(lit(s"cms$j|"), t)), 1, 8), 16, 10)
          .cast("long") % CmsWidth).as("b"))): _*))

  /** The d×w counter table (j, b, n) for a token frame — one scan,
    * map-side combine to ≤ d·w cells per task. */
  private[graft] def cmsCellsOf(items: DataFrame): DataFrame =
    items.select(cmsCellCol(col("tok")).as("c"))
      .groupBy(col("c.j").as("j"), col("c.b").as("b"))
      .agg(count(lit(1)).cast("long").as("n"))

  /** The STREAMING face of the CMS — fold ONE micro-batch of tokens into
    * the sketch store at `dir` (read → cell-wise ADD → durable
    * overwrite, the `foreachBatch` refresh every other store face uses).
    * Because the sketch is LINEAR, the fold needs no contract beyond
    * "each token counted once": merge(sketch(A), sketch(B)) =
    * sketch(A ∪ B) exactly, for ANY slicing — CmsStreamSpec drives
    * uneven slices through this and asserts the maintained store equals
    * the one-shot build bit-for-bit. The store is d·w rows, so each fold
    * costs the batch scan plus a 64-row merge. */
  def cmsRefresh(s: SparkSession, dir: String, batch: DataFrame): Unit = {
    val b = cmsCellsOf(batch)
    StoreDirs.fold(s, dir)(_.fold(b)(
      _.unionByName(b).groupBy(col("j"), col("b")).agg(sum(col("n")).as("n"))))
  }

  def cmsFreq(s: SparkSession, d: String): DataFrame = {
    val items = docsParallel(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val perSource = items
      .select(col("source"), cmsCellCol(col("tok")).as("c"))
      .groupBy(col("source"), col("c.j").as("j"), col("c.b").as("b"))
      .agg(count(lit(1)).as("n"))
    val sketch = perSource.groupBy(col("j"), col("b"))
      .agg(sum(col("n")).as("n"))
    val exact = items.groupBy(col("tok")).agg(count(lit(1)).as("exact_ct"))
    exact
      .select(col("tok"), col("exact_ct"), cmsCellCol(col("tok")).as("c"))
      .select(col("tok"), col("exact_ct"),
        col("c.j").as("j"), col("c.b").as("b"))
      .join(broadcast(sketch), Seq("j", "b"))
      .groupBy(col("tok"), col("exact_ct"))
      .agg(min(col("n")).as("est"))
      .select(col("tok"), col("exact_ct"), col("est"),
        (col("est") >= col("exact_ct")).cast("long").as("over_ok"))
  }

  /** The indexed-corpus split the delta gates probe (every doc whose id is
    * not ≡ 0 mod 5); the [[TextIndexStore]] materializes its probe
    * artifacts once per (JVM, sfDir). */
  private[ops] def deltaIndex(s: SparkSession, d: String): DataFrame =
    docsParallel(s, d)
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 5 =!= 0)

  /** Delta dedup — dedup an INCOMING ingest batch against the
    * already-indexed corpus, the shape continuous ingestion actually
    * runs (the batch dedup stack above dedups a corpus against itself;
    * production appends to a 100 TB index daily and must not rescan-
    * rejoin the whole thing symmetrically).
    *
    * Plan shape, and why it scales: the index's fingerprint column is
    * MATERIALIZED once at ingest ([[TextIndexStore.fp]] — 32 bytes + id
    * per doc, the same (md5, id) discipline as [[exactDedupGroups]]); the
    * probe scans that store, never the index text. The incoming BATCH's
    * distinct fingerprints broadcast (batch-sized at any index size) into
    * a map-stage semi-join probe over the store; the (tiny) hit set
    * broadcasts back to flag the batch. No index-sized shuffle — the one
    * `distinct` after the semi-join is over the HIT SET, bounded by batch
    * size — and two broadcasts, both batch-bounded.
    *
    * Here incoming = every 5th doc; the corpus is dup-free so hits are
    * proven live with planted re-ingests (every 7th INDEX doc re-issued
    * in the batch under doc_id+[[PlantOffset]] — the corpus-filter
    * honesty device; 7 is coprime to the 5-way split, so the planted set
    * is non-empty — a multiple of 5 here would silently degenerate the
    * metric with both engines agreeing). Planted rows take their
    * fingerprint straight from the store — byte-identical text, so the
    * stored md5 IS the replayed row's md5. Streaming complement:
    * `StatefulOps.ingestDedupTws` (one marker per distinct fingerprint,
    * RocksDB-backed). */
  def deltaDedup(s: SparkSession, d: String): DataFrame = {
    val idxFp = TextIndexStore.fp(s, d)
    val incoming = deltaIncomingFp(s, d, idxFp)
    val incFp = incoming.select(col("fp")).distinct()
    val dupFp = idxFp.select(col("fp"))
      .join(broadcast(incFp), Seq("fp"), "left_semi").distinct()
    deltaRollup(incoming, dupFp)
  }

  /** Incoming-batch fingerprints: hashed once per scan for the fresh
    * batch, read from the store for planted re-ingests. The frame is
    * consumed twice (probe build, final rollup) but NOT checkpointed:
    * each scan is one md5 pass over the batch plus a store read — cheaper
    * than the materialization job a checkpoint would add. No docsParallel
    * here: one md5 per batch doc doesn't earn a full-text repartition
    * shuffle (the shingle-hashing ops do; this one is scan-speed). */
  private def deltaIncomingFp(s: SparkSession, d: String,
      idxFp: DataFrame): DataFrame =
    Tables.documents(s, d)
        .filter(col("doc_id") % 5 === 0)
        .select(col("source"), md5(col("text")).as("fp"))
      .unionAll(idxFp.filter(col("doc_id") % 7 === 0)
        .select(col("source"), col("fp")))

  /** Shared rollup tail: flag the batch by the dup fingerprint set. */
  private def deltaRollup(incoming: DataFrame, dupFp: DataFrame): DataFrame =
    incoming
      .join(broadcast(dupFp.withColumn("hit", lit(1))), Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_incoming"),
        sum(when(col("hit").isNotNull, 1).otherwise(0)).cast("long")
          .as("n_dup"),
        sum(when(col("hit").isNull, 1).otherwise(0)).cast("long")
          .as("n_new"))

  /** Exact n-gram (3-token shingle) Jaccard near-dup pairs ≥ 0.6.
    * Shingle-keyed self-join — the *verifier* stage. Its join meets every
    * pair sharing ANY shingle (Σ df² rows, quadratic in the hottest
    * shingles), so past toy scale it runs on MinHash-LSH candidates only
    * (see [[minhashLshPairs]]), or use the exact prefix-filtered
    * [[ngramJaccardHashed]]. */
  def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairsOf(docsParallel(s, d))

  private[graft] def ngramJaccardPairsOf(docs: DataFrame): DataFrame = {
    // materialized once (localCheckpoint, not cache: GC-reclaimed, no
    // unpersist obligation on callers): the exploded shingle table feeds
    // both sides of the self-join and the per-doc sizes — without it the
    // interpreted shingle expressions are evaluated three times
    val sh = shingleTable(docs)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
    jaccardTail(pairs, sizes)
  }

  /** Distinct exploded (doc_id, shingle) rows, materialized once. */
  private def shingleTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh"))
      .localCheckpoint()

  /** Shared verification tail: (d1, d2, common) + per-doc sizes →
    * thresholded Jaccard rows in the q_ngram_jaccard output shape. */
  private def jaccardTail(pairs: DataFrame, sizes: DataFrame): DataFrame =
    jaccardVerifyTail(pairs
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2"))

  /** Per-shingle document frequency over the exploded (doc_id, n, sh)
    * frame — stage 2 of the prefix-filter pipeline of
    * [[ngramJaccardHashed]]. */
  private def dfreqOf(sh: DataFrame): DataFrame =
    sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))

  /** Prefix build — stage 3: rank each doc's shingles in the GLOBAL
    * canonical order (df asc, shingle asc — a total order, identical for
    * every doc; struct ordering is field-major, so array_sort over
    * struct(df, sh) IS that order) and keep the prefix of the p rarest;
    * per-doc arrays are doc-sized, never corpus-sized. floor((3n+4)/5):
    * exact integer-ceil(3n/5) for n < 2^51 (division by the exact
    * constant 5; the quotient's integer part is representable) — a float
    * 0.6·n could round the prefix one short and silently break
    * completeness. Emits (doc_id, sh, n, i) where i is the 1-based
    * position of the shingle in the doc's FULL canonical-sorted set (the
    * prefix is the head, so prefix position = full position) — the
    * positional filter in [[candidatesPpjoinOf]] consumes it. */
  private def prefixOf(sh: DataFrame, dfreq: DataFrame): DataFrame =
    sh.join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("sh")))).as("arr"),
        max(col("n")).as("n"))
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("arr"), lit(1),
          (col("n") - floor((col("n") * 3 + lit(4)) / lit(5)) + 1)
            .cast("int"))).as(Seq("pos0", "p")))
      .select(col("doc_id"), col("p.sh").as("sh"), col("p.df").as("df"),
        col("n"), (col("pos0") + 1).cast("long").as("i"))

  /** Candidate generation with PPJoin POSITIONAL filtering (Xiao, Wang,
    * Lin & Yu, "Efficient Similarity Joins for Near Duplicate Detection",
    * WWW'08 §3.2) — stage 4. A prefix-keyed self-join with the size
    * filter 5·min(n1,n2) ≥ 3·max(n1,n2) (J ≥ 0.6 ⟹ common ≥ 0.6·max,
    * common ≤ min); the prefix collisions are AGGREGATED per pair and an
    * exact overlap upper bound prunes them before any verification:
    *
    * For a pair (a, b), let k = number of shingles shared by both
    * PREFIXES and (i_k, j_k) the positions (1-based, in each doc's full
    * canonical-sorted set) of the LAST such shared shingle in canonical
    * order. Any common shingle smaller than that one sits at a position
    * < i_k ≤ p_a in a (and likewise in b), i.e. inside BOTH prefixes, so
    * it is already counted in k; any other common shingle sits strictly
    * after position i_k in a AND after j_k in b, of which there are at
    * most min(n1 − i_k, n2 − j_k). Hence
    *     overlap(a,b) ≤ k + min(n1 − i_k, n2 − j_k),
    * while J ≥ 0.6 requires overlap ≥ α = ceil(3·(n1+n2)/8) (from
    * 1.6·common ≥ 0.6·(n1+n2)). Pairs failing the bound are pruned with
    * NO false negatives (DedupPropertySpec's brute force holds it), and
    * every pruned pair skips the verify join, the dominant stage. α uses
    * integer-exact floor((3·(n1+n2)+7)/8) = ceil(3s/8) — the
    * prefix-cutoff discipline. */
  private def candidatesPpjoinOf(prefix: DataFrame): DataFrame =
    prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 5 >= col("b.n") * 3 && col("b.n") * 5 >= col("a.n") * 3)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("n1"), col("b.n").as("n2"),
        col("a.df").as("df"), col("a.sh").as("sh"),
        col("a.i").as("ia"), col("b.i").as("ib"))
      .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("k"),
        // the LAST shared prefix shingle in canonical (df, sh) order;
        // (ia, ib) ride along — unique per (pair, sh), so the trailing
        // struct fields never decide the max
        max(struct(col("df"), col("sh"), col("ia"), col("ib"))).as("last"))
      .filter(col("k") +
        least(col("n1") - col("last.ia"), col("n2") - col("last.ib")) >=
        floor((lit(3) * (col("n1") + col("n2")) + lit(7)) / lit(8)))
      .select(col("d1"), col("d2"))

  /** Threshold + shape tail: (d1, d2, common, n1, n2) → the
    * q_ngram_jaccard output rows at J ≥ 0.6. */
  private def jaccardVerifyTail(counted: DataFrame): DataFrame =
    counted
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= 0.6)
      .select(col("d1"), col("d2"), col("common"), col("n1"), col("n2"),
        col("jaccard"))

  /** EXACT all-pairs n-gram Jaccard ≥ 0.6 by prefix filtering + size
    * filtering (the All-Pairs/PPJoin family — Bayardo, Ma & Srikant,
    * "Scaling Up All Pairs Similarity Search", WWW'07; Chaudhuri et al.'s
    * SSJoin prefix filter) with PPJoin positional filtering
    * ([[candidatesPpjoinOf]]), on fp60-HASHED shingles.
    *
    * Prefix filtering joins only on each doc's p = n − ceil(0.6·n) + 1
    * RAREST shingles (global (df, sh) canonical order, df ascending) and
    * is still complete: if J(a,b) ≥ 0.6 then the globally-smallest
    * common shingle is in both prefixes — were it not in a's prefix, all
    * of a∩b would sit in a's suffix of ceil(0.6·n)−1 < ceil(0.6·n) ≤
    * |a∩b| slots. So the join keyspace is the thin rare tail (~0.4·n
    * keys/doc) and the hot-key quadratic term of [[ngramJaccardPairs]] is
    * gone. Verification counts true intersections for candidates only —
    * cost ∝ candidates × doc size, not corpus². DedupPropertySpec proves
    * completeness against a pure-Scala brute force on random dense
    * corpora.
    *
    * Each distinct 3-shingle maps to the 60-bit md5 device (`fp60`) at
    * roll time — the [[containmentPairsOf]] discipline — so every join,
    * array, and exchange carries 8-byte longs, not shingle strings.
    * Registered with its OWN oracle that hashes identically in DuckDB, so
    * both engines operate on the same hashed universe by construction and
    * the gate stays exact even in the astronomically-unlikely collision
    * case (a collision merges the same two shingles on both sides).
    * TextSpec asserts the pair set equals [[ngramJaccardPairs]]'s on the
    * live corpus. Limit: the prefix build collects each doc's full sorted
    * shingle set in one row, so a single huge document is one task. */
  def ngramJaccardHashed(s: SparkSession, d: String): DataFrame =
    ngramJaccardHashedOf(docsParallel(s, d))

  /** One typed pass rolling each doc to its distinct 3-shingle set,
    * each shingle hashed to 60 bits (first 15 md5 hex chars —
    * bit-identical to DuckDB's `('0x'||substr(md5(sh),1,15))::BIGINT`).
    * The declarative explode(array_distinct(shingles(...))) chain is an
    * interpreted lambda-HOF pipeline (CodegenFallback); this loop is a
    * tight per-partition scan. split(" ", -1) keeps trailing empties and
    * docs under 3 tokens roll to an empty set and drop at the explode.
    * Materialized (localCheckpoint): read by the df-count, the prefix
    * build and both verification sides. */
  private def hashedShingleSetsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = text.split(" ", -1)
          val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
          var i = 0
          while (i + 2 < toks.length) {
            md.reset()
            val b = md.digest(
              (toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
                .getBytes("UTF-8"))
            var h = 0L
            var j = 0
            while (j < 8) { h = (h << 8) | (b(j) & 0xffL); j += 1 }
            seen += (h >>> 4)
            i += 1
          }
          (id, seen.toArray)
        }
      }.toDF("doc_id", "shs")
      .withColumn("n", size(col("shs")).cast("long"))
      .localCheckpoint()
  }

  private[graft] def ngramJaccardHashedOf(docs: DataFrame): DataFrame = {
    val byDoc = hashedShingleSetsOf(docs)
    val sh = byDoc.select(col("doc_id"), col("n"),
      explode(col("shs")).as("sh"))
    // the canonical order is (df, hashed-shingle), a total order both
    // engines share since both hash with the same md5 device
    val cand = candidatesPpjoinOf(prefixOf(sh, dfreqOf(sh)))
    jaccardVerifyTail(sharedCountsLong(cand, byDoc))
  }

  /** Verification core: join candidate (d1, d2) pairs to their two
    * hashed shingle sets and count the true intersection in a typed loop
    * on primitive longs (interpreted array_intersect measured 5.5 s where
    * the loop runs in tenths). Returns (d1, d2, common, n1, n2). */
  private def sharedCountsLong(cand: DataFrame, byDoc: DataFrame): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    cand
      .join(byDoc.select(col("doc_id").as("d1"), col("shs").as("s1"),
        col("n").as("n1")), "d1")
      .join(byDoc.select(col("doc_id").as("d2"), col("shs").as("s2"),
        col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("s1"), col("n1"), col("s2"), col("n2"))
      .as[(Long, Long, Array[Long], Long, Array[Long], Long)]
      .mapPartitions { it =>
        it.map { case (d1, d2, s1, n1, s2, n2) =>
          val set = new java.util.HashSet[Long](s2.length * 2)
          s2.foreach(x => set.add(x): Unit)
          var common = 0L
          s1.foreach(x => if (set.contains(x)) common += 1)
          (d1, d2, common, n1, n2)
        }
      }.toDF("d1", "d2", "common", "n1", "n2")
  }

  /** Intra-corpus duplicated-span profile — how much of each document is
    * made of 8-grams that ALSO occur in some other document. This is the
    * corpus-level audit behind exact-substring dedup (Lee et al., ACL'22:
    * long repeated spans dominate real training corpora and measurably
    * hurt models): before cutting spans, a pipeline measures where the
    * duplication mass sits, per source. Distinct from
    * [[decontaminate]] (which probes an EXTERNAL benchmark's grams) —
    * here the reference set is the corpus itself.
    *
    * Mechanics: one typed pass rolls each doc to its distinct 8-gram set
    * hashed to the 60-bit fp60 device (both engines hash identically, so
    * the gate compares the same universe); gram doc-frequency is one
    * count over the exploded (doc, gram) table; a gram is "duplicated"
    * if ≥ 2 docs carry it. Per-source rollup keeps every aggregate
    * INTEGER (gram totals, dup totals, docs-over-half via 2·dup ≥ total)
    * and emits the ratio as one division of integer-valued operands —
    * the module's float-determinism discipline (a sum of per-doc double
    * ratios would be partition-order-dependent and hash-unstable).
    *
    * Liveness: the corpus is dup-free by construction, so docs with
    * `doc_id % 29 == 0` (29 coprime to every subset modulus in the
    * module) are re-ingested byte-identical under id + [[PlantOffset]]
    * in both engines — every plant and its source profile at ratio 1.0.
    *
    * At 100 TB: gram hashing is an embarrassingly-parallel map; the one
    * shuffle is the gram-df count, keyspace = distinct grams (the same
    * inverted-index scale every dedup pass here already pays); the
    * per-source result is 20 rows. */
  def dupSpanProfile(s: SparkSession, d: String): DataFrame = {
    val ss = s
    import ss.implicits._
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
      col("text"))
    val planted = base.filter(col("doc_id") % 29 === 0)
      .select((col("doc_id") + PlantOffset).as("doc_id"), col("source"),
        col("text"))
    val grams = base.unionAll(planted)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, src, text) =>
          val toks = text.split(" ", -1)
          val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
          var i = 0
          while (i + 7 < toks.length) {
            val sb = new StringBuilder(toks(i))
            var k = 1
            while (k < 8) { sb.append(' ').append(toks(i + k)); k += 1 }
            val b = md.digest(sb.toString.getBytes("UTF-8"))
            var h = 0L
            var j = 0
            while (j < 8) { h = (h << 8) | (b(j) & 0xffL); j += 1 }
            seen += (h >>> 4)
            i += 1
          }
          (id, src, seen.toArray)
        }
      }.toDF("doc_id", "source", "ghs")
      .select(col("doc_id"), col("source"), explode(col("ghs")).as("h"))
      .localCheckpoint()
    val dfreq = grams.groupBy(col("h")).agg(count(lit(1)).as("gdf"))
    grams.join(dfreq, "h")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("grams_total"),
        sum(col("n_dup")).as("grams_dup"),
        sum(when(col("n_dup") * 2 >= col("n_grams"), 1L).otherwise(0L))
          .as("docs_over_half"))
      .withColumn("dup_ratio",
        col("grams_dup").cast("double") / col("grams_total"))
  }

  /** Containment (asymmetric-Jaccard) duplicate pairs — the doc-in-doc
    * class symmetric near-dup machinery is BLIND to: an excerpt quoted
    * inside a 100× larger document has containment ≈ 1 but Jaccard ≈
    * |excerpt|/|doc| ≈ 0.01, far under every symmetric threshold, and its
    * MinHash bands almost never collide with the host's. Training corpora
    * care (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22 — substring duplication is the common mode): the
    * excerpt contributes no new tokens, only a re-weighting of the host's.
    *
    * C(A,B) = |S(A) ∩ S(B)| / |S(A)| over distinct 4-shingle sets
    * (4-grams, not the 3-grams the Jaccard entries use: the asymmetric
    * join probes A's prefix against the FULL inverted index, so the
    * filter's selectivity is everything — on this vocabulary 3-gram
    * prefixes admit 211k candidate pairs at sf0.1, 4-gram prefixes 697;
    * real dedup pipelines go far longer still, e.g. 50-gram substring
    * dedup), flagged at C ≥ 0.8. EXACT via the asymmetric prefix filter
    * (Chaudhuri et
    * al.'s SSJoin argument, one-sided): if C(A,B) ≥ 0.8 then B misses at
    * most floor(|A|/5) of A's shingles, so among the floor(|A|/5)+1 RAREST
    * shingles of A (global (df, sh) canonical order) at least one is in B
    * — joining ONLY A's prefix against the full shingle index is complete.
    * The one-sided size filter 5·|B| ≥ 4·|A| (B must hold the overlap)
    * prunes before the distinct. All cutoffs are integer div — the module's
    * float-prefix trap. Verification intersects candidate pairs only
    * (typed loop, the [[sharedCountsLong]] core); the threshold re-check is
    * integer (5·common ≥ 4·n_small), the emitted ratio a single division.
    *
    * Liveness: the corpus is excerpt-free by construction, so docs with
    * `doc_id % 40 == 0` are re-ingested as PLANTED 30-token prefixes under
    * id + [[PlantOffset]] in both engines — every plant's shingle set is a
    * subset of its source's (containment exactly 1.0), keeping the flagged
    * set provably non-empty at every scale factor.
    *
    * At 100 TB: candidate generation joins ~n/5 rare-tail keys per doc
    * against the inverted shingle index — the same complete-but-thin
    * keyspace as [[ngramJaccardHashed]], no hot-key quadratic term, and
    * the asymmetric direction means ONE pass flags every excerpt
    * regardless of host size. */
  def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val base = docsParallel(s, d).select(col("doc_id"), col("text"))
    val excerpts = Tables.documents(s, d)
      .filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + PlantOffset).as("doc_id"),
        array_join(slice(tokens(col("text")), 1, 30), " ").as("text"))
    containmentPairsOf(base.unionAll(excerpts))
  }

  /** The containment engine runs on HASHED shingles: each distinct
    * 3-shingle maps to the 60-bit md5 device (`fp60`) in BOTH engines, so
    * every join/shuffle/array in the pipeline carries 8-byte longs
    * instead of ~25-byte strings (measured ~4× off the sf0.1 wall), and
    * the oracle — which hashes identically in DuckDB — cannot diverge
    * even in the astronomically-unlikely collision case: both engines
    * operate on the same hashed universe by construction. */
  private[graft] def containmentPairsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // typed roll: distinct 3-shingles per doc, each hashed to 60 bits
    // (first 15 hex chars of md5, the fp60 device) — one tight pass
    val byDoc = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = text.split(" ", -1)
          val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
          var i = 0
          while (i + 3 < toks.length) {
            val b = md.digest(
              (toks(i) + " " + toks(i + 1) + " " + toks(i + 2) + " " +
                toks(i + 3)).getBytes("UTF-8"))
            // first 15 hex chars = top 60 bits of the first 8 bytes
            var h = 0L
            var j = 0
            while (j < 8) { h = (h << 8) | (b(j) & 0xffL); j += 1 }
            seen += (h >>> 4)
            i += 1
          }
          (id, seen.toArray)
        }
      }.toDF("doc_id", "shs")
      .withColumn("n", size(col("shs")).cast("long"))
      .localCheckpoint()
    val sh = byDoc.select(col("doc_id"), col("n"),
      explode(col("shs")).as("h"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("arr"),
        max(col("n")).as("n"))
      .select(col("doc_id"), col("n"),
        explode(slice(col("arr"), lit(1),
          (expr("n div 5") + 1).cast("int"))).as("p"))
      .select(col("doc_id"), col("p.h").as("h"), col("n"))
    val cand = prefix.as("a")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n") * 5 >= col("a.n") * 4)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(byDoc.select(col("doc_id").as("d1"), col("shs").as("s1"),
        col("n").as("n1")), "d1")
      .join(byDoc.select(col("doc_id").as("d2"), col("shs").as("s2"),
        col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("s1"), col("n1"), col("s2"), col("n2"))
      .as[(Long, Long, Array[Long], Long, Array[Long], Long)]
      .mapPartitions { it =>
        it.map { case (d1, d2, s1, n1, s2, n2) =>
          val set = s2.toSet
          var common = 0L
          s1.foreach(x => if (set.contains(x)) common += 1)
          (d1, d2, common, n1, n2)
        }
      }.toDF("d1", "d2", "common", "n1", "n2")
      .filter(col("common") * 5 >= col("n1") * 4)
      .select(col("d1").as("small_id"), col("d2").as("big_id"),
        col("common").as("n_shared"), col("n1").as("n_small"),
        col("n2").as("n_big"),
        (col("common").cast("double") / col("n1")).as("containment"))
  }

  /** One MinHash signature row per doc: mh0..mh7. */
  case class MinhashRow(doc_id: Long,
      mh0: Option[Long], mh1: Option[Long], mh2: Option[Long], mh3: Option[Long],
      mh4: Option[Long], mh5: Option[Long], mh6: Option[Long], mh7: Option[Long])

  /** MinHash signatures (k=8) over 3-token shingles.
    *
    * Implemented as a typed `mapPartitions` (SURVEY §7.3's documented last
    * resort) because Catalyst higher-order functions are CodegenFallback:
    * the interpreted `transform(shingles, md5…)` pipeline measured 270 s at
    * sf0.1 vs sub-second here. Hash family: each md5 of `"<g>|<shingle>"`
    * yields four 32-bit functions (big-endian 4-byte words of the digest) —
    * byte-identical to the DuckDB oracle's
    * `('0x'||substr(md5('g|'||s), 8k+1, 8))::BIGINT`. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    minhashSignaturesOf(s, docsParallel(s, d))

  /** Same signature computation over any (doc_id, text) frame — the
    * composed corpus pipeline runs it on an augmented corpus, and the
    * [[TextIndexStore]] materializes it over the delta index at ingest. */
  private[graft] def minhashSignaturesOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = text.split(" ", -1) // keep trailing empties: Spark split semantics
          val mins = Array.fill(8)(Long.MaxValue)
          var i = 0
          while (i + 2 < toks.length) {
            val sh = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
            var g = 0
            while (g < 2) {
              md.reset()
              val dg = md.digest((g.toString + "|" + sh).getBytes("UTF-8"))
              var k = 0
              while (k < 4) {
                val v = ((dg(4 * k) & 0xffL) << 24) | ((dg(4 * k + 1) & 0xffL) << 16) |
                  ((dg(4 * k + 2) & 0xffL) << 8) | (dg(4 * k + 3) & 0xffL)
                val j = g * 4 + k
                if (v < mins(j)) mins(j) = v
                k += 1
              }
              g += 1
            }
            i += 1
          }
          def m(j: Int): Option[Long] =
            if (mins(j) == Long.MaxValue) None else Some(mins(j))
          MinhashRow(id, m(0), m(1), m(2), m(3), m(4), m(5), m(6), m(7))
        }
      }
      .toDF()
  }

  /** (doc_id, band, bkey) rows from a signature frame (4 bands × 2 rows).
    * concat (NOT concat_ws): a shingle-less doc has NULL minhashes, and
    * concat_ws would silently collapse them to bkey "" — pairing ALL
    * short docs with each other. concat propagates the NULL so the
    * equi-join skips them, exactly like the oracle's `mh0 || '_' || mh1`. */
  private[graft] def bandKeys(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        concat(col(s"mh${2 * b}"), lit("_"), col(s"mh${2 * b + 1}"))
          .as("bkey"))): _*
    )).as("bk")).select(col("doc_id"), col("bk.band"), col("bk.bkey"))

  /** LSH candidate pairs from banded signatures: docs colliding in ≥1
    * band meet in a (band, key)-keyed self-join. */
  private[graft] def lshCandidates(sig: DataFrame): DataFrame = {
    val bands = bandKeys(sig)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** MinHash-LSH candidate pairs with est_sim = matching signature
    * fraction. THE near-dup scale path: cost is O(candidates), not
    * O(docs²). */
  def minhashLshPairs(s: SparkSession, d: String): DataFrame = {
    // the STORED full-corpus signatures (r11, same device as
    // [[nearDupPipeline]]): sig feeds candidate generation and both
    // signature-compare sides off one parquet read, no re-hash per run
    val sig = TextIndexStore.corpusSig(s, d)
    val cand = lshCandidates(sig)
    val a = sig.toDF("d1" +: (0 until 8).map(j => s"a$j"): _*)
    val b = sig.toDF("d2" +: (0 until 8).map(j => s"b$j"): _*)
    cand.join(a, "d1").join(b, "d2")
      .withColumn("n_sig_match",
        (0 until 8).map(j =>
          when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _))
      .select(col("d1"), col("d2"), col("n_sig_match"))
  }

  /** Delta NEAR-dup — the [[deltaDedup]] shape for near-duplicates:
    * LSH-probe an incoming ingest batch against the indexed corpus's
    * MinHash signatures, then verify candidates with exact shingle
    * Jaccard ≥ 0.6 (the same two-stage contract as
    * [[nearDupPipeline]], asymmetric instead of self-joined).
    *
    * Scale shape: the index's signatures are a MATERIALIZED store
    * ([[TextIndexStore.sig]] — 8 longs/doc, computed once at ingest, the
    * signature analog of the exact-fp store); the incoming batch's band
    * keys broadcast (batch × 4 bands rows) into a map-stage probe over
    * that store, so the index is never self-joined, never re-hashed, and
    * never shuffles. Verification reads shingle sets for CANDIDATE ids
    * only (collision-sized semi-joins on both sides). Cost: O(index)
    * probe + O(collisions) verify per batch, independent of
    * index × batch pairing.
    *
    * Liveness: planted re-ingests (every 7th index doc, the
    * [[deltaDedup]] device) are Jaccard-1.0 near-dups by construction;
    * natural cross-split near-dup pairs flag additionally. */
  def deltaNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = docsParallel(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    val index = docs.filter(col("doc_id") % 5 =!= 0)
    // materialized once: feeds signatures, candidate shingle sets, and
    // the final rollup (localCheckpoint: GC-reclaimed, not cache-pinned)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
      .unionAll(index.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id"), col("text"),
          col("source")))
      .localCheckpoint()
    incoming
      .join(broadcast(nearDupFlags(s, incoming, index,
          indexSig = Some(TextIndexStore.sig(s, d)))
        .withColumn("hit", lit(1))), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_incoming"),
        sum(when(col("hit").isNotNull, 1).otherwise(0)).cast("long")
          .as("n_neardup"),
        sum(when(col("hit").isNull, 1).otherwise(0)).cast("long")
          .as("n_clean"))
  }

  /** The [[deltaNearDup]] flag core over arbitrary (doc_id, text) frames:
    * which incoming docs are Jaccard ≥ 0.6 near-dups of the index.
    * Per-doc independent (a doc's flag depends only on itself and the
    * index), so flagging is BATCHING-INVARIANT — running it per streaming
    * micro-batch against the static index yields exactly the whole-batch
    * answer (DeltaStreamSpec proves it). That property is what lets the
    * same gate run at the firehose and in backfill with one code path.
    *
    * `indexSig`: a pre-materialized signature frame for `index` (the
    * [[TextIndexStore.sig]] store) — when absent, signatures are computed
    * in-query (the spec/backfill path over arbitrary frames). */
  private[graft] def nearDupFlags(s: SparkSession, incoming: DataFrame,
                                  index: DataFrame,
                                  indexSig: Option[DataFrame] = None): DataFrame = {
    val cand = bandKeys(indexSig.getOrElse(minhashSignaturesOf(s, index))).as("x")
      .join(broadcast(bandKeys(minhashSignaturesOf(s, incoming)).as("y")),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("y.doc_id").as("inc_id"), col("x.doc_id").as("idx_id"))
      .distinct()
      .localCheckpoint()
    // the candidate-id list is collision-sized by construction — say so:
    // cand is a checkpointed RDD with unknown stats, so without the hint
    // the planner picked SortMergeJoin and EXCHANGED the corpus-sized
    // text side to meet it (measured plan, r15) — exactly the
    // index-never-shuffles contract this operator's scaladoc promises.
    def shs(df: DataFrame, idCol: String): DataFrame = df
      .join(broadcast(cand.select(col(idCol).as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shsetCol.as("shset"))
    cand
      .join(broadcast(shs(incoming, "inc_id").toDF("inc_id", "sa")), "inc_id")
      .join(broadcast(shs(index, "idx_id").toDF("idx_id", "sb")), "idx_id")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("common")))
      .filter(col("jaccard") >= 0.6)
      .select(col("inc_id").as("doc_id")).distinct()
  }

  /** The composed production near-dup pipeline: LSH candidate generation
    * (cheap, O(candidates)) followed by EXACT shingle-Jaccard verification
    * on candidates only — the two-stage shape that scales to 100 TB where
    * the all-pairs q_ngram_jaccard verifier cannot. Output = verified
    * near-dup pairs (Jaccard ≥ 0.6) among LSH candidates. */
  def nearDupPipeline(s: SparkSession, d: String): DataFrame = {
    // probes the STORED full-corpus surfaces (ingest-time columns in
    // production, [[TextIndexStore.corpusSig]]/[[corpusShset]] here)
    // instead of re-hashing and re-shingling the corpus per run — the r11
    // fix for the adjudicated drift: the staged profile showed the cost
    // spread across four sequential jobs each re-deriving per-doc
    // artifacts the store already holds. Same candidates, same verify,
    // same output — the unchanged oracle hash proves it every gated run;
    // [[nearDupPairsOf]] remains the storeless generic path (the composed
    // corpus filter runs it on gated+augmented frames).
    val cand = lshCandidates(TextIndexStore.corpusSig(s, d))
      .localCheckpoint()
    val candIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    val survivors = TextIndexStore.corpusShset(s, d)
      .join(broadcast(candIds), Seq("doc_id"), "left_semi").localCheckpoint()
    verifySimPairs(cand, survivors)
      .select(col("d1"), col("d2"), col("common"), col("jaccard"))
  }

  /** The LSH→verify pipeline over any (doc_id, text) frame.
    * Intermediates are localCheckpointed (never cache()d): each is read by
    * 2+ downstream consumers, and checkpoint blocks are GC-reclaimed with
    * the frame — no unpersist obligation leaks to callers. */
  private[graft] def nearDupPairsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val cand = lshCandidates(minhashSignaturesOf(s, docs).localCheckpoint())
      .localCheckpoint()
    val shingleSets = docs.select(col("doc_id"), shsetCol.as("shset"))
    // Only docs that appear in ≥1 candidate pair need their shingle sets —
    // semi-join first so the broadcast below holds the survivor set (size
    // ∝ LSH collisions), NOT the whole corpus. Materialized: referenced by
    // both sides of the pair join.
    val candIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    val survivors = shingleSets
      .join(broadcast(candIds), Seq("doc_id"), "left_semi").localCheckpoint()
    verifySimPairs(cand, survivors)
      .select(col("d1"), col("d2"), col("common"), col("jaccard"))
  }

  /** Exact shingle-Jaccard verification of (d1, d2) candidate pairs
    * against a (doc_id, shset) frame — THE near-dup decision, shared
    * verbatim by the batch pipeline ([[nearDupPairsOf]]) and the
    * streaming corpus refresh ([[CorpusStore.refreshBatch]]) so the two
    * faces apply a bit-identical threshold. The shset frame is
    * collision-sized (semi-joined to candidate ids by callers), hence
    * broadcast on both sides. */
  private[graft] def verifySimPairs(cand: DataFrame, shsets: DataFrame): DataFrame =
    cand
      .join(broadcast(shsets.toDF("d1", "sa")), "d1")
      .join(broadcast(shsets.toDF("d2", "sb")), "d2")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("common")))
      .filter(col("jaccard") >= 0.6)

  /** The canonical shingle-set column (de-duplicated 3-token shingles)
    * over a `text` column — one definition so stored sets and recomputed
    * sets are byte-identical. */
  private[graft] def shsetCol: Column =
    array_distinct(shingles(tokens(col("text")), 3))

  /** The end-to-end training-corpus filter — the composed pipeline a
    * 100 TB pretraining-data run actually executes, in the canonical stage
    * order (cheap per-doc map stages first, pairwise stages on the
    * survivors):
    *
    *   1. quality gate (length band + stopword ratio + token length) and
    *      language gate (heuristic en) — shuffle-free codegen map;
    *   2. exact dedup keep-first on the content fingerprint — one hash
    *      shuffle keyed by md5, raw text never moves;
    *   3. near-dup removal — MinHash-LSH candidates verified by shingle
    *      Jaccard ≥ 0.6 (cost ∝ collisions), greedy keep-min-doc_id: every
    *      verified pair's d2 is dropped;
    *   4. token accounting per source — the corpus-mix report.
    *
    * The synthetic corpus is exact-dup-free, so the dedup stage is proven
    * live with PLANTED copies (every 40th doc re-issued under
    * doc_id+[[PlantOffset]] — byte-identical text, so both engines agree exactly;
    * the same honesty device as q_embed_neardup's planted near-copies).
    * Stage 2 removes every planted copy (the original has the smaller
    * doc_id); stage 3's pairwise work then runs on the gate+dedup
    * SURVIVORS only — the stage order the 100 TB cost model demands
    * (and near-dup pairs do survive the gates, so stage 3 is live). */
  def corpusFilter(s: SparkSession, d: String): DataFrame =
    filteredCorpus(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("total_tok"),
        sum(col("char_sum")).as("total_chars"))

  /** Stages 1–3 of [[corpusFilter]] (gates → exact dedup → near-dup
    * removal), returning the SURVIVING docs — exposed so downstream
    * compositions (the cleaned-index ANN pipeline in VectorOps, the
    * cleaned-index retrieval pipeline in RetrievalOps) consume the same
    * filtered corpus the rollup reports on. PROBES the materialized
    * [[CorpusStore]] manifest: the gate chain runs once per
    * (JVM, input fingerprint), not once per consuming query — the
    * filter-stage-writes-a-manifest shape a production pipeline has. */
  private[ops] def filteredCorpus(s: SparkSession, d: String): DataFrame =
    CorpusStore.survivors(s, d)

  /** The survivor computation itself — called only by [[CorpusStore]] to
    * build the manifest. */
  private[ops] def filteredCorpusCompute(s: SparkSession, d: String): DataFrame =
    filteredCorpusOf(s, plantAugmented(docsParallel(s, d)
      .select(col("doc_id"), col("text"), col("source"))))

  /** The every-40th-doc planted-copy augmentation (byte-identical text
    * under doc_id + [[PlantOffset]]) — the dedup-liveness device, exposed
    * so CorpusStreamSpec feeds the IDENTICAL augmented corpus through the
    * incremental face. */
  private[graft] def plantAugmented(docs: DataFrame): DataFrame =
    docs.unionAll(
      docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id"), col("text"),
          col("source")))

  /** Stage 1 of the corpus filter — the quality + language gates, a
    * per-doc shuffle-free codegen map over any (doc_id, text, source)
    * frame. Shared VERBATIM by the batch rebuild ([[filteredCorpusOf]])
    * and the streaming refresh ([[CorpusStore.refreshBatch]]) so the two
    * faces can never disagree on what passes. */
  private[graft] def corpusGate(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(
        col("doc_id"), col("source"), col("text"),
        size(t).as("n_tok"),
        stopwordCount(t, EnMarkers).as("stop_ct"),
        (length(col("text")) - (size(t) - 1)).cast("long").as("char_sum"),
        langId(t).as("pred_lang"))
      .withColumn("stop_ratio", col("stop_ct").cast("double") / col("n_tok"))
      .withColumn("avg_tok_len", col("char_sum").cast("double") / col("n_tok"))
      .filter(col("pred_lang") === "en" &&
        (when(col("n_tok").between(30, 500), 1).otherwise(0) +
         when(col("stop_ratio") >= 0.02 && col("stop_ratio") <= 0.6, 1)
           .otherwise(0) +
         when(col("avg_tok_len").between(3.0, 10.0), 1).otherwise(0)) >= 2)
      .select(col("doc_id"), col("source"), col("text"), col("n_tok"),
        col("char_sum"))
  }

  /** Stages 1–3 over an arbitrary (pre-augmented) corpus frame — the
    * one-shot rebuild arm ([[filteredCorpusCompute]] binds it to the real
    * corpus; CorpusStreamSpec compares the maintained incremental store
    * against it). */
  private[graft] def filteredCorpusOf(s: SparkSession, aug: DataFrame): DataFrame = {
    val scored = corpusGate(aug)
    val deduped = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(fingerprint(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    // pairwise stage runs on the gate+dedup SURVIVORS — the documented
    // stage order (cheap per-doc filters first); at 100 TB the survivors
    // are the only rows that may pay MinHash/LSH/Jaccard cost
    val drops = nearDupPairsOf(s, deduped.select(col("doc_id"), col("text")))
      .select(col("d2").as("doc_id")).distinct()
    deduped.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_tok"), col("char_sum"))
  }

  /** Reference-corpus bigram coverage — the CCNet/importance-filtering
    * class of quality signal without its log-space surface: score every
    * document by the fraction of its DISTINCT bigrams that appear in a
    * curated reference corpus's bigram vocabulary (here sources
    * src0–src4 as the "curated" slice — in production, the wiki/books
    * slice a perplexity filter would train its LM on). A doc whose
    * bigram mass is mostly out-of-reference reads as boilerplate, code,
    * or junk — the same ranking a KenLM perplexity gate produces, but
    * every gated column is an exact integer or ONE IEEE division of two
    * (the ln() ban). NULL coverage for sub-bigram docs (nullif-guard
    * class, identical CASE in both engines). Honesty note: on THIS
    * synthetic corpus every source draws from one generator vocabulary,
    * so measured coverage compresses to 0.91–1.0 — the mechanism is
    * gated end-to-end, the discriminative power arrives with a real
    * heterogeneous corpus (where junk sources fall well below the
    * curated reference).
    *
    * Scale: the reference vocabulary is one distinct-shuffle over the
    * CURATED slice only (≪ corpus; at 100 TB it is a broadcast or Bloom
    * dictionary built once and reused per batch); scoring is one
    * doc-keyed explode + a gram-keyed semi-join where only (doc_id,
    * gram) pairs move — raw text never shuffles. */
  def bigramCoverage(s: SparkSession, d: String): DataFrame = {
    val docs = docsParallel(s, d)
    // per-doc DISTINCT bigrams via the typed mapPartitions device —
    // the declarative `shingles` HOF is CodegenFallback (the measured
    // 100×-class trap this module's hot per-row loops all avoid).
    // ONE gram pass (r15, the importanceResample device): the reference
    // vocabulary is the DISTINCT gram set of the curated slice, so it
    // derives from the same checkpointed frame via a curated marker on
    // the pass key (1:1 with doc_id — per-key distinct unchanged, and
    // the trailing .distinct() erases the key grain anyway) instead of
    // re-scanning and re-gramming the slice's text.
    val curated = col("source").isin((0 to 4).map("src" + _): _*)
    val gramsCur = gramRowsBy(s, docs,
        concat(col("doc_id").cast("string"), lit(":"),
          when(curated, lit("1")).otherwise(lit("0"))), 2)
      .select(split(col("k"), ":").getItem(0).cast("long").as("doc_id"),
        (split(col("k"), ":").getItem(1) === "1").as("cur"),
        col("g").as("bg"))
      .localCheckpoint() // consumers: per-doc totals, semi-join, vocab
    val grams = gramsCur.select(col("doc_id"), col("bg"))
    val refVocab = gramsCur.filter(col("cur"))
      .select(col("bg")).distinct()
    val nBg = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"))
    val hits = grams
      // curated-slice vocab is corpus-independent-sized → broadcast the
      // build side so the full-corpus probe stream never exchanges
      // (the Bloom variant takes over when even the vocab outgrows RAM)
      .join(broadcast(refVocab), Seq("bg"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    docs.select(col("doc_id"), col("source"))
      .join(nBg, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(coalesce(col("n_covered"), lit(0L)).cast("double")
            / coalesce(col("n_bigrams"), lit(0L)))
          .as("coverage"))
  }

  /** DSIR-class IMPORTANCE RESAMPLING (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") without the
    * log-likelihood surface the bit-exact gate bans: every document is
    * scored by how much its hashed-bigram feature mass looks like a
    * CURATED target slice (src0–src4, the [[bigramCoverage]] reference)
    * versus the raw corpus, and kept with probability ∝ that importance
    * ratio. DSIR's per-doc weight is Π_g p(g)/q(g) — a log-sum in
    * practice, transcendental, gate-unsafe — so this uses the pooled
    * rational form: num = Σ_g target_count(bucket(g)),
    * den = Σ_g raw_count(bucket(g)), importance ∝ (num·R)/(den·T) with
    * T/R the feature-mass totals. The keep decision is the RNG-free
    * md5-permille device CROSS-MULTIPLIED so it is pure integer
    * arithmetic in both engines: keep ⇔ pct·den·T < 1000·num·R, all
    * factors DECIMAL(38,0) (per-doc moments cross 2⁶³ at web scale — the
    * [[Relational.giniSegment]] enforcement discipline); min(1,·) is
    * implicit (pct < 1000). Features are 256 md5-bucketed DISTINCT
    * per-doc bigrams — the hashed-n-gram feature space the paper uses.
    *
    * Scale: ONE typed gram pass (curated marker on the pass key),
    * collapsed to (doc, bucket) counts before the pin; both bucket-count
    * tables are 256 rows → BROADCAST into that small-grain stream, so
    * scoring never exchanges grams by content — the only corpus-sized
    * shuffle is the (doc, bucket) count combine; totals are 1-row
    * broadcasts; the rollup is sources-sized. Honesty note
    * (the [[bigramCoverage]] caveat): on THIS synthetic corpus all
    * sources share one generator vocabulary, so importance compresses
    * toward 1 and most docs are kept — the mechanism (feature hashing,
    * pooled ratio, integer keep rule) is what is gated; discrimination
    * arrives with a heterogeneous real corpus. */
  def importanceResample(s: SparkSession, d: String): DataFrame = {
    val docs = docsParallel(s, d)
    def bucket(g: Column): Column =
      conv(substring(md5(g), 1, 4), 16, 10).cast("long") % 256
    // ONE typed gram pass (r15, guide §1.2): the curated slice used to be
    // re-scanned and re-grammed separately for the target buckets; riding
    // a curated marker on the pass key (1:1 with doc_id, so the per-key
    // distinct is unchanged) lets the checkpointed frame feed the target
    // table, the raw table AND the scorer — the slice's text is read once.
    val curated = col("source").isin((0 to 4).map("src" + _): _*)
    // r16: the pin is PRE-AGGREGATED to (doc, bucket) grain before the
    // checkpoint. The r15 shape pinned the raw (doc, gram) stream —
    // corpus-sized — and the eager materialization was a serial seam the
    // fold measured as a 32-core wash vs r14's 3-scan shape (1.69 →
    // 1.79 s; the one-pass win only showed at 8 cores where compute
    // dominates). Collapsing to per-doc bucket counts first shrinks the
    // materialized bytes by the grams-per-bucket factor (≤256 rows/doc)
    // while keeping the single gram pass; tb/rb become 256-row sums of
    // the pin and the scorer's doc-grain combine exchanges the small
    // grain. Identical integer algebra: Σ_gram t(b(gram)) ≡ Σ_b c·t(b)
    // (guide §2.3 aggregate-before-you-shuffle; oracle SQL verbatim).
    val grams = gramRowsBy(s, docs,
        concat(col("doc_id").cast("string"), lit(":"),
          when(curated, lit("1")).otherwise(lit("0"))), 2)
      .select(split(col("k"), ":").getItem(0).cast("long").as("doc_id"),
        (split(col("k"), ":").getItem(1) === "1").as("cur"),
        bucket(col("g")).as("b"))
      .groupBy(col("doc_id"), col("cur"), col("b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // consumed by target counts, raw counts, scorer
    val tb = grams.filter(col("cur"))
      .groupBy(col("b")).agg(sum(col("c")).as("t"))
    val rb = grams.groupBy(col("b")).agg(sum(col("c")).as("r"))
    val tTot = tb.agg(sum(col("t")).cast("decimal(38,0)").as("tt"))
    val rTot = rb.agg(sum(col("r")).cast("decimal(38,0)").as("rt"))
    // both 1-row totals ride ONE crossJoin: BroadcastNestedLoopJoin sits
    // outside codegen (the measured CLAUDE.md trap), so each extra 1-row
    // crossJoin re-breaks the doc-grain pipeline — combine them first
    // (1×1 rows) and pay the seam once per grain (r15).
    val tots = broadcast(tTot.crossJoin(rTot))
    val pd = grams
      .join(broadcast(tb), Seq("b"), "left")
      .join(broadcast(rb), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("t"), lit(0L)) * col("c")).as("num"),
        sum(col("r") * col("c")).as("den"))
    val perDoc = docs.select(col("doc_id"), col("source"))
      .join(pd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("num"), lit(0L)).as("num"),
        coalesce(col("den"), lit(0L)).as("den"))
      .crossJoin(tots)
      .withColumn("pct",
        conv(substring(md5(concat(lit("ir|"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
          % 1000)
      .withColumn("keep",
        (col("pct").cast("decimal(38,0)") * col("den") * col("tt"))
          < (lit(1000).cast("decimal(38,0)") * col("num") * col("rt")))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        // exact decimal carriers internally; DOUBLE on the gated
        // boundary (the module's salted-join discipline — exact to 2⁵³)
        sum(col("num").cast("decimal(38,0)")).as("sum_num"),
        sum(col("den").cast("decimal(38,0)")).as("sum_den"))
      .crossJoin(tots)
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs").cast("double"))
          .as("kept_share"),
        col("sum_num").cast("double").as("sum_num"),
        col("sum_den").cast("double").as("sum_den"),
        when((col("sum_den") * col("tt")) === 0,
          lit(null).cast("double"))
          .otherwise((col("sum_num") * col("rt")).cast("double")
            / (col("sum_den") * col("tt")).cast("double"))
          .as("pooled_importance"))
  }

  /** 32-bit SimHash per document (majority vote over token-hash bits).
    *
    * Same typed-mapPartitions shape as [[minhashSignatures]] and for the
    * same reason: Catalyst HOFs (`aggregate`/`transform`) are
    * CodegenFallback, the measured 100×-class bottleneck on this path.
    * Bit-identical to the declarative [[TextFunctions.simhash]] Column
    * (TextSpec asserts parity) and to the DuckDB oracle.
    *
    * 32 bits (not 16) because the banded near-dup join's keyspace is a
    * slice of this hash: hash width is the knob that scales the join-key
    * cardinality with corpus size (see [[simhashDups]]). */
  def simhashDocs(s: SparkSession, d: String): DataFrame =
    simhashOf(s, docsParallel(s, d), bits = 32, colName = "simhash32")

  /** The one SimHash loop, parameterized by hash width — turning the
    * width dial must never mean copy-pasting the loop. Token hash = the
    * first `bits` bits of md5("0|tok") (first 8 digest bytes big-endian,
    * logically right-shifted to width), which for 32 reduces to the first
    * 4 bytes = first 8 hex chars, and for 60 to the first 15 hex chars —
    * both bit-identical to the DuckDB oracles and (at 32) to the
    * declarative [[TextFunctions.simhash]] Column (TextSpec parity). */
  private def simhashOf(s: SparkSession, docs: DataFrame, bits: Int,
      colName: String): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = text.split(" ", -1) // keep trailing empties: Spark split semantics
          val votes = new Array[Int](bits)
          var i = 0
          while (i < toks.length) {
            md.reset()
            val dg = md.digest(("0|" + toks(i)).getBytes("UTF-8"))
            var h = 0L
            var k = 0
            while (k < 8) { h = (h << 8) | (dg(k) & 0xffL); k += 1 }
            h = h >>> (64 - bits)
            var b = 0
            while (b < bits) {
              if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
              b += 1
            }
            i += 1
          }
          var sh = 0L
          var b = 0
          while (b < bits) { if (votes(b) >= 0) sh |= (1L << b); b += 1 }
          (id, sh)
        }
      }
      .toDF("doc_id", colName)
  }

  /** The one banded near-dup self-join, parameterized by band geometry:
    * explode each doc into `nBands` (band, bval) keys of `bandBits` bits,
    * self-join on the key, verify by popcount of the XOR ≤ `maxHamming`.
    * Cost ∝ band collisions, never all-pairs; per-band keyspace =
    * 2^bandBits scales with the hash-width dial. */
  private[ops] def bandedDups(sig: DataFrame, hashCol: String, nBands: Int,
      bandBits: Int, maxHamming: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    val bands = sig.select(col("doc_id"), col(hashCol), explode(array(
        (0 until nBands).map(k => struct(lit(k).as("band"),
          shiftright(col(hashCol), bandBits * k).bitwiseAND(lit(mask))
            .as("bval"))): _*)).as("bk"))
      .select(col("doc_id"), col(hashCol),
        col("bk.band").as("band"), col("bk.bval").as("bval"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col(s"x.$hashCol").bitwiseXOR(col(s"y.$hashCol")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs: 2×16-bit band candidates (a hamming-≤1 pair
    * always shares one band exactly; hamming-2 pairs split 1+1 across
    * bands are deliberately missed — banded recall, the same tradeoff as
    * MinHash-LSH), verified by popcount of the XOR ≤ 2. Cost ∝ band
    * collisions, never all-pairs.
    *
    * Scale: each band key is 16 bits = 65k values PER BAND over a uniform
    * hash, vs the 256 of the round-2 8-bit bands — and the keyspace is not
    * a ceiling but a dial: doubling hash width (simhash64, 4×16-bit bands)
    * squares the per-band keyspace while WIDENING recall to hamming ≤ 3.
    * Pick band width ≈ log2(corpus / target-bucket-size) so the expected
    * bucket stays O(1) and the within-bucket pairing never goes quadratic. */
  def simhashDups(s: SparkSession, d: String): DataFrame =
    simhashDupsOf(s, docsParallel(s, d))

  /** [[simhashDups]] over an explicit docs frame — the same band geometry,
    * reused by [[splitLeakage]] to pair-scan its plant-augmented corpus. */
  private[graft] def simhashDupsOf(s: SparkSession, docs: DataFrame): DataFrame =
    bandedDups(simhashOf(s, docs, bits = 32, colName = "simhash32"),
      "simhash32", nBands = 2, bandBits = 16, maxHamming = 2)

  /** Near-dup-AWARE train/val/test split with a gated LEAKAGE audit — the
    * dup-class upgrade of [[stratifiedSample]]. A per-doc hash split (the
    * standard device, and exactly what [[stratifiedSample]] computes) puts
    * the two halves of a near-duplicate pair in different splits with
    * probability ≈ 2·p·(1−p): eval contamination by construction, invisible
    * until someone measures it. The fix is to split at the DUP-FAMILY
    * grain: connected components over the near-dup pair graph
    * ([[simhashDupsOf]] → [[connectedComponents]], the `q_neardup_components`
    * machinery), every doc inheriting its component's split via the same
    * md5-percent device — whole families move together, so cross-split
    * leakage is structurally zero.
    *
    * The output carries BOTH numbers as gated columns: `leaked_pairs`
    * (component-grain; the oracle independently recomputes components and
    * the hash gate pins it to the true 0) and `naive_leaked_pairs` (what
    * the per-doc split WOULD have leaked on the same pair graph — provably
    * positive on the plant families). Liveness: the synthetic corpus is
    * dup-free (CLAUDE.md), so every %30 doc is re-issued byte-identical at
    * +[[PlantOffset]] — identical text ⇒ identical simhash ⇒ a guaranteed
    * hamming-0 pair per plant; DedupPlantSpec asserts naive > 0 = leaked.
    *
    * Scale: the pair graph and its component labels are collision-sized
    * (≈ dup families), so BOTH leak counters aggregate a tiny frame, the
    * label table broadcasts into the corpus-sized split assignment, and
    * the final rollup is a 3-key agg. Nothing corpus-sized shuffles except
    * the one simhash band join the pair scan already costs. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val aug = base.unionAll(
        Tables.documents(s, d).filter(col("doc_id") % 30 === 0)
          .select((col("doc_id") + PlantOffset).as("doc_id"), col("text"),
            col("n_chars")))
      .repartition(s.sparkContext.defaultParallelism)
    val pairs = simhashDupsOf(s, aug).select(col("d1"), col("d2"))
      .localCheckpoint()
    // (id, comp) for every node of the pair graph — collision-sized
    val labels = connectedComponents(pairs)
    def pct(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    def splitOf(h: Column): Column =
      when(h < 90, "train").when(h < 95, "val").otherwise("test")
    // leak counters live entirely on the label-sized frame
    val labSplits = labels.select(col("id"),
      splitOf(pct(col("comp"))).as("sp"), splitOf(pct(col("id"))).as("ns"))
    val leaks = pairs
      .join(labSplits.select(col("id").as("d1"), col("sp").as("sp1"),
        col("ns").as("ns1")), "d1")
      .join(labSplits.select(col("id").as("d2"), col("sp").as("sp2"),
        col("ns").as("ns2")), "d2")
      .agg(
        coalesce(sum(when(col("sp1") =!= col("sp2"), 1L).otherwise(0L)),
          lit(0L)).as("leaked_pairs"),
        coalesce(sum(when(col("ns1") =!= col("ns2"), 1L).otherwise(0L)),
          lit(0L)).as("naive_leaked_pairs"))
    aug
      .join(broadcast(labels.withColumnRenamed("id", "doc_id")),
        Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
      .withColumn("split", splitOf(pct(col("comp"))))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("comp")).as("n_families"),
        sum(col("n_chars")).as("total_chars"))
      .crossJoin(leaks)
  }

  /** Deterministic stratified train/val/test split — the corpus-assembly
    * primitive every training run needs: assignment is a pure function of
    * the stable doc identity (md5 of doc_id → percent bucket: 90/5/5), so
    * it is reproducible across runs, engines, and cluster sizes — no RNG,
    * no sampling-order dependence — and any doc's split membership can be
    * audited after the fact. Shuffle-free until the final per-(source,
    * split) rollup (a 60-key agg). Hash-exact vs DuckDB because both
    * engines compute the identical md5-prefix integer. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    docsParallel(s, d)
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("h") < 90, "train").when(col("h") < 95, "val")
          .otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))

  /** 60-bit SimHash per document — the WIDE end of the hash-width dial
    * [[simhashDocs]] documents (60 not 64 so the value stays in signed-long
    * range in both engines: 15 md5 hex chars, same device as fp60 in
    * docFingerprint). Token hash = first 8 digest bytes big-endian >>> 4 —
    * bit-identical to DuckDB's `('0x'||substr(md5(...),1,15))::BIGINT`. */
  def simhashWideDocs(s: SparkSession, d: String): DataFrame =
    simhashOf(s, docsParallel(s, d), bits = 60, colName = "simhash60")

  /** Near-dup pairs over the wide hash: 4×15-bit bands (hamming ≤ 3
    * guaranteed to share a band), popcount-verified. This is
    * [[simhashDups]] one notch along the dial: per-band keyspace 32k,
    * total banded keyspace 4×32k, recall widened from hamming ≤ 2 to ≤ 3 —
    * doubling hash width squares the per-band keyspace while WIDENING
    * recall, which is why width (not bucket-capping) is the scale knob. */
  def simhashWideDups(s: SparkSession, d: String): DataFrame =
    bandedDups(simhashWideDocs(s, d), "simhash60",
      nBands = 4, bandBits = 15, maxHamming = 3)

  /** Near-dup CLUSTERS: connected components over the SimHash dup-pair
    * graph, so each duplicate family keeps exactly one representative (the
    * min doc_id) — the step after pair generation in every dedup pipeline
    * (pairs alone over-delete: A~B, B~C must not drop both B and C on A's
    * account unless they're one family).
    *
    * Pregel-style min-label propagation: every node adopts the min
    * component id among itself and its neighbors until fixpoint. The loop
    * is a driver loop but the DATA never leaves the cluster — each round
    * is one join + one agg over the PAIR graph, which is collision-sized
    * (≈ dup families), orders of magnitude smaller than the corpus;
    * rounds ≈ graph diameter (near-dup families are dense, so 2–4).
    * Each round localCheckpoints to cut lineage growth. Deterministic:
    * min-label is order-free. Oracle: DuckDB recursive-CTE reachability
    * with MIN over the reachable set. */
  def neardupComponents(s: SparkSession, d: String): DataFrame =
    connectedComponents(simhashDups(s, d).select(col("d1"), col("d2")))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))

  /** CANONICAL-REPRESENTATIVE selection per near-dup family — the step a
    * real dedup pipeline runs AFTER clustering ([[neardupComponents]]
    * answers "what merges"; this answers "which copy survives"): per
    * component keep the doc with the MOST CONTENT (max `n_chars`, ties →
    * smaller doc_id — a total order, so the pick is deterministic and
    * engine-free), drop the rest, and account exactly what was kept vs
    * dropped in characters. Keep-longest is the standard canonicalization
    * rule (CCNet/RefinedWeb-class pipelines keep the longest/most-recent
    * member) — cheap, monotone, and auditable, unlike a model-scored
    * pick.
    *
    * Liveness (CLAUDE.md plant discipline — the corpus is dup-free):
    * every %30 doc re-issues byte-identical at +[[PlantOffset]]
    * (identical text ⇒ identical simhash ⇒ a guaranteed hamming-0 pair;
    * the [[splitLeakage]] construction, replayed textually by the
    * oracle). A pure plant pair has IDENTICAL n_chars, so those
    * components exercise the tie-break arm specifically: canonical must
    * be the ORIGINAL id (< PlantOffset) — TextSpec pins that.
    *
    * Scale: everything after the one simhash band join is
    * collision-sized — labels join n_chars at the member grain
    * (≈ dup-family members, not the corpus), one component-keyed agg
    * with a max-struct pick (partial-agg friendly, no window over
    * data). Output: one row per multi-doc family, all exact integers. */
  def neardupCanonical(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val aug = base.unionAll(
        Tables.documents(s, d).filter(col("doc_id") % 30 === 0)
          .select((col("doc_id") + PlantOffset).as("doc_id"), col("text"),
            col("n_chars")))
      .repartition(s.sparkContext.defaultParallelism)
    val pairs = simhashDupsOf(s, aug).select(col("d1"), col("d2"))
      .localCheckpoint()
    val labels = connectedComponents(pairs)
    val members = labels
      .join(aug.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
    members.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        // max over (n_chars, -id): most content, ties to the SMALLER id
        max(struct(col("n_chars").cast("long").as("nc"),
          (lit(0L) - col("id")).as("ni"))).as("best"),
        sum(col("n_chars")).cast("long").as("chars_total"))
      .select(col("comp"),
        (lit(0L) - col("best.ni")).as("canonical_id"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"),
        col("best.nc").as("chars_kept"),
        (col("chars_total") - col("best.nc")).as("chars_dropped"))
  }

  /** Min-label propagation over an undirected `pairs(d1, d2)` graph →
    * `(id, comp)` with comp = min node id of the component. Separated from
    * [[neardupComponents]] so specs can drive synthetic graphs (long
    * chains exercise multi-round convergence) through the exact
    * production loop. */
  private[graft] def connectedComponents(pairs: DataFrame,
                                         maxRounds: Int = 64): DataFrame =
    connectedComponentsCounted(pairs, maxRounds)._1

  /** Default driver-side edge budget for [[connectedComponentsCounted]]:
    * 1M symmetric edges ≈ 16 MB of longs — comfortably driver-sized. */
  private[graft] val CcDriverMaxEdges: Long = 1L << 20

  /** The clustering core, returning (labels, rounds) so specs can assert
    * convergence behavior, not just the fixpoint.
    *
    * SIZE-GATED HYBRID — the same adaptivity Spark itself applies when it
    * broadcasts a small join side. The pair graph is collision-sized
    * (≈ dup families), orders of magnitude smaller than the corpus, so it
    * usually fits the driver: at ≤ `driverMaxEdges` symmetric edges
    * (default [[CcDriverMaxEdges]], ~16 MB) a path-compressed union-find
    * solves it in one collect + milliseconds, reported as rounds = 0.
    * A dup-heavy 100 TB corpus whose pair graph exceeds the budget takes
    * the distributed loop; the count() that decides is over the
    * checkpointed edge set, so the gate costs one cheap action.
    *
    * The distributed loop does TWO label-shrinking steps per round:
    *   1. HOP — adopt the min comp among direct neighbors (classic Pregel
    *      min-label; alone this needs diameter rounds).
    *   2. JUMP — pointer-double through the label table: follow your new
    *      comp (always itself a node id in your component) to THAT node's
    *      comp. Composing the label map with itself doubles the distance
    *      a min label travels per round, the same device as
    *      large-star/small-star — a 2^k chain converges in ~k rounds,
    *      so the driver loop is O(log diameter), not O(diameter).
    *
    * `maxRounds` is a defensive bound: label descent is monotone, so a
    * regression that breaks it (a join-key typo, a schema drift) would
    * otherwise loop the driver forever; 64 rounds covers any graph a
    * 2^64-id space can express with a wide margin. Each round
    * localCheckpoints to cut lineage growth; one count() action per round
    * is the convergence test. Deterministic on BOTH paths: min-label is
    * order-free, and union-by-min keeps each union-find root the
    * component minimum (bit-parity spec: CC drives random graphs through
    * both paths and compares). */
  private[graft] def connectedComponentsCounted(
      pairs: DataFrame, maxRounds: Int = 64,
      driverMaxEdges: Long = CcDriverMaxEdges): (DataFrame, Int) = {
    val edges = pairs
      .unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .localCheckpoint()
    if (edges.count() <= driverMaxEdges) {
      val es = edges.select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) {
          val n = parent.getOrElse(c, c); parent(c) = r; c = n
        }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val s = pairs.sparkSession
      import s.implicits._
      // symmetric edges: every node appears as d1
      val labels = es.map(_._1).distinct.map(x => (x, find(x))).toSeq
        .toDF("id", "comp")
      (labels, 0)
    } else {
      // seed labels with the FIRST hop folded into initialization: comp0 =
      // min(id, min neighbor) comes out of the same agg that enumerates
      // the node set — dense families converge in one fixpoint check
      var labels = edges.groupBy(col("d1").as("id"))
        .agg(min(col("d2")).as("nbr"))
        .select(col("id"), least(col("id"), col("nbr")).as("comp"))
        .localCheckpoint()
      var changed = 1L
      var rounds = 0
      while (changed > 0) {
        rounds += 1
        if (rounds > maxRounds)
          throw new IllegalStateException(
            s"connectedComponents did not converge in $maxRounds rounds — " +
              "monotone label descent is broken")
        val nbrMin = edges.join(labels, edges("d2") === labels("id"))
          .groupBy(edges("d1").as("nid")).agg(min(col("comp")).as("nbr_comp"))
        val hopped = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
          .select(col("id"), col("comp"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
              .as("hop"))
        val jump = hopped.select(col("id").as("jid"), col("hop").as("jcomp"))
        val updated = hopped.join(jump, hopped("hop") === jump("jid"), "left")
          .select(col("id"), col("comp"),
            least(col("hop"), coalesce(col("jcomp"), col("hop"))).as("comp2"))
          .localCheckpoint()
        changed = updated.filter(col("comp2") < col("comp")).count()
        labels = updated.select(col("id"), col("comp2").as("comp"))
      }
      (labels, rounds)
    }
  }

  /** Intra-document repetition ratio — the Gopher/MassiveText-class
    * quality signal the inter-doc dedup stack can't see: the fraction of
    * REPEATED 3-gram shingles inside one document (boilerplate loops, SEO
    * spam, degenerate generations). Pure per-row map — shuffle-free,
    * composes into the corpus-filter gate stage at zero extra passes.
    *
    * Typed hot-loop face (r16, the CLAUDE.md HOF/codegen discipline):
    * the declarative form materialized every 3-gram through
    * `transform`+`concat_ws`+`element_at` — Catalyst higher-order
    * functions are CodegenFallback, so each gram paid an interpreted
    * expression tree plus an array allocation, and `array_distinct`
    * re-walked the materialized array. One mapPartitions pass streams
    * the token array through a HashSet instead (grams joined by the
    * same single-space rule, so distinctness is identical — tokens
    * cannot contain the separator). The ratio stays the ONE IEEE
    * division of two exact ints the oracle computes.
    * TextSpec pins bit-parity against the declarative spelling. */
  def repetitionRatio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docsParallel(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = text.split(" ", -1)
          val total = toks.length - 2
          if (total <= 0) (id, 0, 0, 0.0)
          else {
            val seen = new java.util.HashSet[String](total * 2)
            var i = 0
            while (i < total) {
              seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2)): Unit
              i += 1
            }
            val u = seen.size
            (id, total, u, 1.0 - u.toDouble / total.toDouble)
          }
        }
      }.toDF("doc_id", "n_sh", "n_uniq", "rep_ratio")
  }

  /** The declarative spelling of [[repetitionRatio]] — kept as the
    * bit-parity reference for TextSpec (the simhash discipline: the
    * typed hot loop must never drift from the Column-algebra form). */
  private[graft] def repetitionRatioDeclarative(s: SparkSession,
      d: String): DataFrame = {
    val sh = shingles(tokens(col("text")), 3)
    docsParallel(s, d).select(
        col("doc_id"),
        size(sh).as("n_sh"),
        size(array_distinct(sh)).as("n_uniq"))
      .withColumn("rep_ratio",
        when(col("n_sh") > 0,
          lit(1.0) - col("n_uniq").cast("double") / col("n_sh"))
          .otherwise(lit(0.0)))
  }

  /** Deterministic sequence packing — the pretraining step that
    * concatenates documents into fixed-token-budget training sequences
    * (2048 here): docs pack in doc_id order per source, a doc starts the
    * next sequence when its START offset crosses the budget boundary.
    * Greedy packing is inherently order-defined, so the parallel unit is
    * the PACKING GROUP (source here): one shuffle on the group key, one
    * cumulative window per group. Limit: parallelism is capped at the
    * number of sources — each source's running sum is ONE window task,
    * so a single huge source packs serially. */
  def seqPacking(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsParallel(s, d)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", floor((col("cum") - col("n_tok")) / lit(2048L)))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
  }

  /** TF-IDF top terms per document (keyword extraction over the corpus).
    * Score = tf/df as a single textually-identical division (log-free IDF
    * keeps the ranking cross-engine bit-exact; log changes no ordering
    * for fixed tf since log is monotone in 1/df). Two shuffles — tf by
    * (doc, term), df by term — then a per-doc top-3 window; the df side
    * is a broadcast-sized term dictionary at any corpus size that fits a
    * vocabulary. */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    val terms = docsParallel(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf's rows ARE the distinct (doc, term) pairs — derive df from them
    // instead of re-scanning and re-exploding the corpus
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df), Seq("term"))
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
  }

  /** Content scrubbing with an audit trail — the redaction stage (PII /
    * policy terms) every corpus runs before training, plus the counts
    * compliance wants: per source, how many docs were touched, how many
    * terms dropped, size before/after. Token-level rewrite (the corpus is
    * single-space tokenized) — interpreted HOFs are fine here because
    * scrub runs once per ingest, not in the per-query hot path; a
    * throughput-critical deployment would lower it into the same
    * mapPartitions shape as the SimHash loop. */
  def docScrub(s: SparkSession, d: String): DataFrame = {
    val sensitive = Seq("customer", "order", "user")
    val t = tokens(col("text"))
    val hits = size(filter(t, x => x.isin(sensitive.map(lit): _*)))
    val redacted = array_join(
      transform(t, x =>
        when(x.isin(sensitive.map(lit): _*), lit("<x>")).otherwise(x)), " ")
    docsParallel(s, d)
      .select(col("source"), col("doc_id"), hits.as("n_hits"),
        length(col("text")).as("len_before"),
        length(redacted).as("len_after"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0, 1).otherwise(0)).as("docs_touched"),
        sum(col("n_hits")).as("terms_redacted"),
        sum(col("len_before")).as("chars_before"),
        sum(col("len_after")).as("chars_after"))
  }

  /** Regex PII scrubbing with an audit trail — the pattern-class
    * complement to [[docScrub]]'s fixed-term redaction: emails and phone
    * numbers have unbounded surface forms, so the scrub must be a regex
    * rewrite, not a dictionary lookup. Patterns stay inside the
    * RE2 ∩ java.util.regex common subset (character classes + bounded
    * repetition, no lookaround, `[0-9]` not `\d`) so both engines match
    * identically — the same dialect discipline the tokenizer regex uses.
    *
    * The synthetic corpus carries no natural PII, so the operator proves
    * itself live on PLANTED matches (CLAUDE.md discipline): docs with
    * `doc_id % 23 == 0` (23 coprime to every subset-split modulus in the
    * module) get a deterministic email + phone suffix appended IN BOTH
    * ENGINES before scrubbing; the audit counts are then provably
    * non-zero and hash-checked end-to-end.
    *
    * Scale story: plant, match, rewrite and length audit are all per-row
    * codegen'd string ops — one scan, zero shuffles before the 20-group
    * source rollup; the text column never moves between executors. At
    * 100 TB the scrub is I/O-bound, exactly as it should be. */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val email = "[a-z0-9.]+@[a-z0-9.]+"
    val phone = "555-[0-9]{4}"
    val planted = when(col("doc_id") % 23 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(col("text"))
    val scrubbed = regexp_replace(
      regexp_replace(col("t"), email, "<EMAIL>"), phone, "<PHONE>")
    docsParallel(s, d)
      .select(col("source"), planted.as("t"))
      .select(col("source"),
        size(regexp_extract_all(col("t"), lit(email), lit(0))).as("n_email"),
        size(regexp_extract_all(col("t"), lit(phone), lit(0))).as("n_phone"),
        (length(col("t")) - length(scrubbed)).as("removed"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_email") + col("n_phone") > 0, 1).otherwise(0))
          .as("docs_with_pii"),
        sum(col("n_email")).cast("long").as("emails_redacted"),
        sum(col("n_phone")).cast("long").as("phones_redacted"),
        sum(col("removed")).cast("long").as("chars_removed"))
  }

  /** Document chunking — the doc→chunk explosion every embedding / RAG
    * pipeline runs before encoding: fixed 64-token windows on a 48-token
    * stride (16-token overlap so no span is split across a boundary
    * without context). A trailing grid position whose window is entirely
    * covered by the previous chunk is dropped (`start-stride+size < n`
    * keep-rule); the final partial chunk is kept. Chunk identity =
    * (doc_id, grid position) — content-addressed, reproducible across
    * engines and cluster sizes. Pure per-row explode: shuffle-free,
    * cost linear in corpus tokens, parallelism = input splits. */
  def docChunks(s: SparkSession, d: String): DataFrame = {
    val size_ = 64
    val stride = 48
    docsParallel(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n"), col("toks"))
      .select(col("doc_id"), col("n"), col("toks"),
        explode(sequence(lit(0), greatest(col("n") - 1, lit(0)),
          lit(stride))).as("start"))
      .filter(col("start") === 0 ||
        col("start") - stride + size_ < col("n"))
      .select(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        least(col("n") - col("start"), lit(size_)).cast("long")
          .as("chunk_tok"),
        element_at(col("toks"), col("start") + 1).as("first_tok"))
  }

  /** Distinct (doc_id, gram) rows via a tight typed loop — the
    * CodegenFallback-free form of
    * `explode(array_distinct(shingles(tokens(text), n)))`. The Catalyst
    * HOF chain interprets one lambda call per shingle position (the
    * measured 100×-class bottleneck; the round-6 corpus regeneration grew
    * sf0.1 docs 10× and pushed decontaminate to 10 s on it); this loop
    * produces byte-identical gram strings (split keeps trailing empties
    * like Spark's `split`, `mkString(" ")` ≡ `concat_ws` over non-null
    * tokens, LinkedHashSet ≡ array_distinct's first-occurrence order) —
    * TextSpec pins the parity. */
  private[graft] def gramRows(s: SparkSession, docs: DataFrame,
      n: Int): DataFrame =
    gramRowsBy(s, docs, col("doc_id").cast("string"), n)
      .select(col("k").cast("long").as("doc_id"), col("g"))

  /** Same loop keyed by an arbitrary string expression (e.g. `source`
    * for the cross-source overlap audit). Per-DOC distinct (one flatMap
    * row per input doc), like `array_distinct` — cross-doc dedup stays
    * with the caller. */
  private[graft] def gramRowsBy(s: SparkSession, docs: DataFrame,
      key: Column, n: Int): DataFrame = {
    import s.implicits._
    docs.select(key.as("k"), col("text")).as[(String, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = text.split(" ", -1)
          if (toks.length < n) Iterator.empty
          else {
            val seen = new java.util.LinkedHashSet[String]()
            val sb = new java.lang.StringBuilder
            var i = 0
            while (i + n <= toks.length) {
              sb.setLength(0)
              var k = 0
              while (k < n) {
                if (k > 0) sb.append(' ')
                sb.append(toks(i + k)); k += 1
              }
              seen.add(sb.toString); i += 1
            }
            import scala.jdk.CollectionConverters._
            seen.iterator().asScala.toVector.map(g => (id, g)).iterator
          }
        }
      }.toDF("k", "g")
  }

  /** Eval-set decontamination — the pretraining hygiene step none of the
    * self-dedup stack covers: flag training docs sharing any long n-gram
    * span (8 tokens here) with a held-out BENCHMARK set, so eval answers
    * can't leak into training. Distinct from near-dup: the reference set
    * is external and tiny, the match rule is containment (one shared
    * span), not whole-doc similarity.
    *
    * Scale shape: the eval set's distinct 8-gram dictionary is
    * benchmark-sized (thousands of docs) at ANY corpus scale → broadcast
    * semi-probe; the corpus side is a shuffle-free explode→probe map
    * stage. Cost is O(corpus tokens), independent of corpus×eval pairing.
    *
    * Honesty device: half the eval docs are PLANTED into the corpus under
    * doc_id+[[PlantOffset]] ("leaked" training copies), guaranteeing the flag count
    * is non-degenerate; a handful of natural 8-gram overlaps between
    * corpus and eval docs are flagged too (correctly — containment is the
    * contract), and both engines agree on the full flagged set. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = docsParallel(s, d).select(col("doc_id"), col("text"), col("source"))
    val evalSet = docs.filter(col("doc_id") % 17 === 0)
    // materialized once (eager localCheckpoint): the corpus feeds both the
    // gram-probe branch and the final per-source rollup — without it the
    // scan + repartition + union run twice. localCheckpoint, not cache():
    // its blocks are GC-reclaimed when the plan is dropped, so repeated
    // callers (tests, notebooks, composed pipelines) don't accumulate
    // pinned storage across invocations
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
      .unionAll(evalSet.filter(col("doc_id") % 34 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id"), col("text"),
          col("source")))
      .localCheckpoint()
    // gram explode via the typed loop ([[gramRows]]) — same gram strings,
    // none of the HOF interpreter cost on the corpus-sized side
    val evalGrams = gramRows(s, evalSet, 8).select(col("g")).distinct()
    val hits = gramRows(s, corpus, 8)
      .join(broadcast(evalGrams), Seq("g"))
      .select(col("doc_id")).distinct()
    corpus
      .join(hits.withColumn("hit", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("hit"), lit(0))).as("n_contaminated"))
  }

  /** Corpus mixing — enforce per-source document quotas (the mixture-
    * weights step after filtering, before packing): keep the first
    * `quota(source)` docs per source in md5-hash order. Hash order makes
    * the selection a deterministic uniform subsample (no RNG, stable
    * across engines/cluster sizes) and keeps it consistent under corpus
    * growth: a doc's keep/drop flips only when the quota boundary moves
    * past its hash. Top-N-per-group rides the rank window with
    * WindowGroupLimit pushdown — each task pre-prunes to N before the
    * group shuffle. */
  def corpusMix(s: SparkSession, d: String): DataFrame = {
    val quota = when(col("source") === "web", 60)
      .when(col("source") === "books", 40)
      .when(col("source") === "code", 30)
      .otherwise(20)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("hkey").asc, col("doc_id").asc)
    docsParallel(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("hkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("chars_kept"),
        min(col("hkey")).as("first_hkey"))
  }

  /** Temperature-weighted corpus mixing (α = 0.5) — the multinomial
    * source-reweighting step of large-LM data pipelines (GPT-3 / PaLM
    * style): sampling mass per source ∝ c_s^α flattens the natural source
    * distribution so small high-quality sources are not drowned by the
    * web crawl. Normalized so the SMALLEST source is kept whole, the
    * per-doc keep rate is r_s = sqrt(c_min / c_s) ⇒ expected kept counts
    * ∝ sqrt(c_s) = c_s^α. Deterministic: the keep decision is a 32-bit
    * md5 of the doc id against r_s · 2^32 — RNG-free, engine- and
    * cluster-size-independent, and stable under corpus growth (a doc
    * flips only when its source's rate moves past its hash).
    *
    * Cross-engine determinism of the double math: c_min/c_s is ONE
    * division (BIGINT→DOUBLE then IEEE divide), sqrt is IEEE-exact, and
    * the threshold multiply is a single textually-identical operation in
    * both engines — no reordering surface (BASELINE.md caveat).
    *
    * 100 TB: pass 1 scans only the `source` column (histogram, 4 rows);
    * the 4-row rate table broadcasts; pass 2 is a per-row hash filter
    * feeding a partial-agg rollup — no doc-keyed shuffle anywhere. */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("c_docs"))
    val cMin = counts.agg(min(col("c_docs")).as("c_min"))
    val rates = counts.crossJoin(broadcast(cMin))
      .withColumn("keep_rate",
        sqrt(col("c_min").cast("double") / col("c_docs")))
      .select(col("source"), col("c_docs"), col("keep_rate"))
    docsParallel(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .join(broadcast(rates), Seq("source"))
      .filter(hash32(col("doc_id").cast("string"), 7) <
        col("keep_rate") * lit(4294967296.0))
      .groupBy(col("source"), col("c_docs"), col("keep_rate"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("chars_kept"))
  }

  /** Token budget multiplier for [[epochPlan]]: the plan provisions a
    * run of 4× the corpus's total tokens — the regime where √-temperature
    * mixing forces small sources past 1 epoch (repeats) while capping
    * large ones, i.e. where the planner has real decisions to make. */
  val EpochBudgetX = 4L

  /** EPOCH PLANNER — the training-mix arithmetic every run does after
    * [[temperatureMix]] decides the SHAPE: given per-source token
    * counts, √-temperature target shares, and a total token budget
    * (here [[EpochBudgetX]]× the corpus), how many tokens does each
    * source contribute and how many EPOCHS (repeats) of it does that
    * imply (Muennighoff et al. 2023, "Scaling Data-Constrained LMs" —
    * the repeat-factor table)? The whole plan is INTEGER-exact by
    * construction, the module's answer to float normalization under the
    * bit-exact gate: weights are integer sqrt w_s = ⌊√c_s⌋ (exact
    * cross-engine for c < 2⁵²: √ is IEEE-correctly-rounded and perfect
    * squares are representable, so the floor can never straddle the
    * boundary), the normalizer W = Σw_s is an INTEGER sum — never a
    * float sum of sqrts, which would reassociate — target tokens are
    * the integer floor division B·w_s div W — computed by the long
    * division DECOMPOSITION (B div W)·w + ((B mod W)·w) div W, the
    * exact identity that keeps every intermediate under ~2⁶¹ at any
    * corpus size (the naive B·w product crosses 2⁶³ at ~10¹⁴ tokens,
    * and DuckDB's `//` silently degrades to float division on DECIMAL,
    * so the decimal escape hatch is not available here) — and epochs
    * the integer ceil (target + c_s − 1) div c_s. The one double is the
    * share w_s/W. Scale: one token-count scan (map-side combinable),
    * then a sources-sized frame with a 1-row broadcast normalizer. */
  def epochPlan(s: SparkSession, d: String): DataFrame = {
    val counts = docsParallel(s, d)
      .groupBy(col("source"))
      .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tok"))
      .withColumn("w", floor(sqrt(col("n_tok").cast("double"))).cast("long"))
      .localCheckpoint() // sources-sized; consumed by the normalizer too
    val norm = counts.agg(sum(col("w")).as("big_w"),
      (sum(col("n_tok")) * EpochBudgetX).as("budget"))
    counts.crossJoin(broadcast(norm))
      .withColumn("target_tok", expr(
        "(budget div big_w) * w + ((budget % big_w) * w) div big_w"))
      .select(col("source"), col("n_tok"), col("w"),
        (col("w").cast("double") / col("big_w").cast("double")).as("share"),
        col("target_tok"),
        expr("(target_tok + n_tok - 1) div n_tok").as("epochs"))
  }

  /** Cross-source overlap matrix — which corpus sources share content
    * (the inter-source leg of the duplication audit; [[dupSpanProfile]]
    * is the intra-source leg). For every source pair: distinct shared
    * 8-gram count and the gram-set Jaccard. Grams map to the 60-bit md5
    * device (`fp60`) in BOTH engines before the join, so only 8-byte
    * keys shuffle (never gram text) and the hashed universe is shared —
    * a collision merges the same pair of grams on both sides, keeping
    * the gate collision-proof (same discipline as [[containmentPairs]]).
    *
    * 100 TB: the (gram, source) set is distinct-reduced map-side before
    * one shuffle keyed by gram hash (keyspace = distinct grams, scales
    * with data); the self-join fan-out is bounded by sources-per-gram
    * (≤ #sources, a constant), and the rollup output is #source-pairs
    * rows. The per-source gram totals reuse the same distinct set. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val gs = gramRowsBy(s, docsParallel(s, d), col("source"), 8)
      .select(col("k").as("source"), fingerprint60(col("g")).as("gh"))
      .distinct()
      .localCheckpoint()
    val tot = gs.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val pairs = gs.as("a")
      .join(gs.as("b"),
        col("a.gh") === col("b.gh") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
    pairs
      .join(broadcast(tot).withColumnRenamed("source", "source_a")
        .withColumnRenamed("n_grams", "grams_a"), Seq("source_a"))
      .join(broadcast(tot).withColumnRenamed("source", "source_b")
        .withColumnRenamed("n_grams", "grams_b"), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        col("grams_a"), col("grams_b"),
        (col("shared_grams").cast("double") /
          (col("grams_a") + col("grams_b") - col("shared_grams")))
          .as("jaccard"))
  }

  /** Union-sketch window for the KMV source-similarity matrix: 256 keeps
    * the standard error of the Jaccard estimate near 1/√256 ≈ 6 % while
    * the per-source state stays 256 longs regardless of corpus size. */
  private val SrcKmvK = 256

  /** KMV-sketched source-similarity matrix — the BOUNDED-STATE scale
    * path of [[sourceOverlap]]'s exact pairwise 8-gram Jaccard, with the
    * accuracy audit in the same gated frame. The exact matrix's
    * per-source gram sets grow with the corpus (its pairwise join
    * shuffles every distinct gram); the sketch caps each source at its
    * bottom-k distinct 60-bit gram hashes, so at 100 TB the pairwise
    * stage touches sources² × k longs — kilobytes — however large the
    * text is. The estimator is the classic KMV union trick: for a pair,
    * take the bottom-k of the MERGED sketches and count members present
    * in both sides; because the sketch is an order statistic of the
    * shared md5 hash (the [[graft.ops.Relational.kmvDistinct]] device),
    * the ESTIMATE itself is deterministic and hash-exact cross-engine —
    * full oracle, no bracket — and `jaccard_sample`/`within_010` audit it
    * inside the same result against the exact Jaccard of a DETERMINISTIC
    * 1/16 md5-subsample of the gram universe (pmod(gh,16)=0, the repo's
    * standard sampling device; a uniform hash-sample of the universe
    * estimates the same Jaccard unbiasedly). The r9 audit arm recomputed
    * the FULL exact Jaccard — a corpus-gram self-join, the very cost the
    * sketch exists to avoid; the subsample keeps the audit contract while
    * cutting the audit join 16× and keeping it tunable to any rate (the
    * untouched full-exact matrix remains [[sourceOverlap]], which the
    * spec cross-checks). Sketch extraction is the declarative
    * `dense_rank ≤ k` that Spark compiles to map-side WindowGroupLimit:
    * each task pre-truncates to its local bottom-k before the one
    * exchange. */
  def sourceKmvJaccard(s: SparkSession, d: String): DataFrame = {
    val gs = gramRowsBy(s, docsParallel(s, d), col("source"), 8)
      .select(col("k").as("source"), fingerprint60(col("g")).as("gh"))
      .distinct()
      .localCheckpoint() // reused by the sketch arm AND the exact audit arm
    val w = Window.partitionBy(col("source")).orderBy(col("gh"))
    val sk = gs.withColumn("dr", dense_rank().over(w))
      .filter(col("dr") <= SrcKmvK)
      .select(col("source"), col("gh"))
    val srcs = sk.select(col("source")).distinct()
    val pairs = srcs.as("x")
      .join(srcs.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
    // each sketch row fans out to its pairs: sources² × k rows — sketch-
    // sized, never corpus-sized (the broadcast OR-join is a BNLJ over a
    // pairs table of sources²/2 rows)
    val contrib = sk.join(broadcast(pairs),
        col("source") === col("source_a") || col("source") === col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("gh"))
      .agg(count(lit(1)).as("nsrc"))
    val uW = Window.partitionBy(col("source_a"), col("source_b"))
      .orderBy(col("gh"))
    val est = contrib.withColumn("rk", row_number().over(uW))
      .filter(col("rk") <= SrcKmvK)
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("u_size"),
        sum((col("nsrc") === 2).cast("long")).as("inter_k"))
      .withColumn("jaccard_kmv",
        col("inter_k").cast("double") / col("u_size").cast("double"))
    // audit arm on the 1/16 md5-subsampled universe — every stage below
    // is sample-sized, never corpus-gram-sized
    val gsS = gs.filter(pmod(col("gh"), lit(16L)) === 0)
    val tot = gsS.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val shared = gsS.as("a")
      .join(gsS.as("b"),
        col("a.gh") === col("b.gh") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
    val exact = shared
      .join(broadcast(tot).withColumnRenamed("source", "source_a")
        .withColumnRenamed("n_grams", "grams_a"), Seq("source_a"))
      .join(broadcast(tot).withColumnRenamed("source", "source_b")
        .withColumnRenamed("n_grams", "grams_b"), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        (col("shared_grams").cast("double") /
          (col("grams_a") + col("grams_b") - col("shared_grams")))
          .as("jaccard_sample"))
    // both arms are sources²-sized; the audit arm broadcasts so the
    // final reconcile never exchanges (the SMJ spelling paid 2 exchanges
    // + sorts for a ≤ sources²/2-row join — measured plan, r15)
    est.join(broadcast(exact), Seq("source_a", "source_b"), "left")
      .na.fill(0.0, Seq("jaccard_sample"))
      .withColumn("within_010",
        (abs(col("jaccard_kmv") - col("jaccard_sample")) <= 0.10)
          .cast("long"))
      .select(col("source_a"), col("source_b"), col("u_size"),
        col("inter_k"), col("jaccard_kmv"), col("jaccard_sample"),
        col("within_010"))
  }

  /** Collocation mining — the top-20 bigrams by LIFT (log-free PMI):
    * lift = P(w1w2) / (P(w1)·P(w2)) = n_bg·N² / (B·n_w1·n_w2), the
    * "how much more often than chance do these words co-occur"
    * statistic ("new york"-style phrase discovery, a tokenizer-merge /
    * stopword-phrase curation staple). PMI itself is ln(lift) — banned
    * transcendental — but ln is monotone, so ranking by lift IS ranking
    * by PMI and the gate hashes the lift directly: all four moments are
    * exact integer counts and the lift is the one sanctioned IEEE
    * division (int64 here; at 100 TB the n_bg·N² product promotes to
    * DECIMAL(38,0) before the same single division). The `n_bg ≥ 5`
    * count floor is the classic low-frequency PMI-inflation guard.
    * Scale: two map-side-combinable count passes, two term-keyed hash
    * joins (vocabulary-sized, never corpus-sized), and the final top-20
    * is `orderBy.limit` = TakeOrderedAndProject — every partition keeps
    * 20 rows, no global sort. Ties pinned on the bigram string. */
  def collocations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE typed pass emits BOTH grains (r16): the declarative form
    // scanned the corpus four times (unigram explode ×2 for counts +
    // total, bigram explode ×2 likewise) and built every bigram through
    // the CodegenFallback `transform` HOF. Here each doc streams once
    // through a tight loop emitting (kind, term) rows — kind 0 =
    // unigram, 1 = space-joined bigram, byte-identical to the
    // `concat_ws` spelling since tokens cannot contain the separator —
    // and ONE (kind, term) aggregation (map-side combinable) yields the
    // vocab-grain table every consumer below derives from. The pin is
    // vocabulary-sized (the accepted small-checkpoint class) and feeds
    // four consumers (two unigram-count joins, the gated bigram counts,
    // both totals), so corpus text is read exactly once per run.
    val terms = docsParallel(s, d).select(col("text")).as[String]
      .mapPartitions { it =>
        it.flatMap { text =>
          val toks = text.split(" ", -1)
          val uni = toks.iterator.map(w => (0, w))
          val bi = (0 until toks.length - 1).iterator
            .map(i => (1, toks(i) + " " + toks(i + 1)))
          uni ++ bi
        }
      }.toDF("kind", "term")
    val tc = terms.groupBy(col("kind"), col("term"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val wc = tc.filter(col("kind") === 0)
      .select(col("term").as("w"), col("n").as("n_w"))
    val bgc = tc.filter(col("kind") === 1)
      .select(col("term").as("bg"), col("n").as("n_bg"))
      .filter(col("n_bg") >= 5)
    val tot = tc.filter(col("kind") === 0).agg(sum(col("n")).as("n_tok"))
      .crossJoin(tc.filter(col("kind") === 1)
        .agg(sum(col("n")).as("b_tot")))
    bgc
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(wc.select(col("w").as("w1"), col("n_w").as("n_w1")), Seq("w1"))
      .join(wc.select(col("w").as("w2"), col("n_w").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("lift",
        (col("n_bg") * col("n_tok") * col("n_tok")).cast("double")
          / (col("b_tot") * col("n_w1") * col("n_w2")).cast("double"))
      .select(col("bg"), col("n_bg"), col("n_w1"), col("n_w2"), col("lift"))
      .orderBy(col("lift").desc, col("bg").asc)
      .limit(20)
  }

  /** Length-bucketed batching audit — the padding-efficiency ledger of a
    * training pipeline that batches by length instead of packing: docs
    * group into a power-ladder of max-length buckets (16/24/32/48/64/96/
    * 128 tokens) and each bucket reports its real token mass vs the
    * padded slot mass (n_docs × bucket width) and the waste ratio. The
    * complement of [[seqPacking]]: packing eliminates padding entirely;
    * length bucketing is what pipelines that can't concat documents
    * (e.g. contrastive pairs) use, and this audit is how the ladder is
    * tuned. Boundaries are literal integers in a CASE chain (no log2 —
    * float logs at exact powers are an engine-divergence hazard), all
    * aggregates integral, one final division. Shuffle-free map stage +
    * 7-row rollup at any corpus size. */
  def lengthBuckets(s: SparkSession, d: String): DataFrame = {
    val nTok = size(tokens(col("text")))
    val bucket = when(nTok <= 16, 16).when(nTok <= 24, 24)
      .when(nTok <= 32, 32).when(nTok <= 48, 48).when(nTok <= 64, 64)
      .when(nTok <= 96, 96).otherwise(128)
    docsParallel(s, d)
      .select(bucket.as("bucket"), nTok.as("n_tok"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("real_tokens"))
      .select(col("bucket"), col("n_docs"), col("real_tokens"),
        (col("bucket") * col("n_docs")).as("padded_tokens"),
        (lit(1.0) - col("real_tokens").cast("double") /
          (col("bucket") * col("n_docs"))).as("waste_ratio"))
  }

  /** Trained-subword-vocabulary size (character 2–4-grams kept, by corpus
    * occurrence weight) — the merge-table dial of [[subwordTokenize]]. */
  private final val SubwordVocabSize = 12

  /** Subword vocabulary training — the BPE-class merge table, trained
    * from corpus statistics: character 2–4-grams of every dictionary
    * word, weighted by the word's TOTAL corpus occurrence count, top
    * [[SubwordVocabSize]] by (weight DESC, gram ASC — a total order, so
    * training is hash-exact cross-engine). Emitted as its own gate-checked
    * query (`q_subword_vocab`): the trained artifact is part of the
    * contract, exactly like the PQ codebooks.
    *
    * Scale: gram explosion runs over the DICTIONARY (distinct words),
    * not the corpus — weights arrive pre-aggregated from the one
    * corpus-sized word count in [[wordCounts]]. At web scale the
    * dictionary is ~10^5× smaller than the corpus; the training stage's
    * cost is independent of corpus size given that count. */
  private def subwordVocab(s: SparkSession, wdict: DataFrame): DataFrame = {
    import s.implicits._
    val grams = wdict.as[(String, Long)]
      .flatMap { case (word, w) =>
        for {
          n <- 2 to 4
          i <- 0 to word.length - n
        } yield (word.substring(i, i + n), w)
      }
      .toDF("g", "w")
      .groupBy(col("g")).agg(sum(col("w")).as("wt"))
    grams.orderBy(col("wt").desc, col("g").asc)
      .limit(SubwordVocabSize)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("wt").desc, col("g").asc)).cast("long"))
      .select(col("rank"), col("g"), col("wt"))
  }

  /** The one corpus-sized aggregation of the tokenizer family: per
    * (source, word) occurrence counts. Map-side combinable; the result
    * is dictionary-sized. */
  private def wordCounts(s: SparkSession, d: String): DataFrame =
    docsParallel(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))

  def subwordVocabQuery(s: SparkSession, d: String): DataFrame = {
    val wc = wordCounts(s, d)
    subwordVocab(s, wc.groupBy(col("word")).agg(sum(col("cnt")).as("w")))
  }

  /** Greedy longest-match subword tokenization (the WordPiece inference
    * rule) with a TRAINED vocabulary — token accounting as a training
    * pipeline runs it, not whitespace counting. Vocabulary = the top
    * [[SubwordVocabSize]] trained grams ([[subwordVocab]]) plus every
    * single character of the dictionary (coverage: a match always exists,
    * OOV is structurally impossible). Per word, repeatedly take the
    * LONGEST vocab entry prefixing the remainder (ties impossible: equal
    * length + same position ⇒ same string); fertility = subtokens/word.
    *
    * THE SCALE DEVICE: tokenization is a pure function of the word, so
    * the corpus is never tokenized — the distinct-word DICTIONARY is.
    * One corpus-sized (source, word) count ([[wordCounts]], map-side
    * combinable), then every later stage (gram training, the greedy loop,
    * the count⋈fertility join) is dictionary-sized; per-source subtoken
    * totals are Σ cnt·n_sub over a broadcast word→n_sub map. At 100 TB
    * the greedy loop — the only non-declarative stage — touches ~10^-5
    * of the data volume. The loop itself is a typed mapPartitions with
    * the vocab broadcast (the repo's HOF-trap discipline); the DuckDB
    * oracle re-derives the identical tokenization via a recursive CTE
    * with a correlated longest-prefix probe, so the gate proves training
    * AND inference end-to-end cross-engine. Both driver collects are
    * bounded by construction: the trained vocab is SubwordVocabSize rows,
    * and the alphabet is derived distributively (explode chars → distinct)
    * so only the charset-sized result ever reaches the driver. */
  def subwordTokenize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wc = wordCounts(s, d).localCheckpoint()
    val wdict = wc.groupBy(col("word")).agg(sum(col("cnt")).as("w"))
    val trained = subwordVocab(s, wdict).select(col("g")).as[String].collect()
    // Alphabet derived DISTRIBUTIVELY: explode chars → distinct → collect
    // the CHARSET-sized result (≤ a few thousand strings at web scale),
    // never the dictionary itself. The r9 form collected every distinct
    // corpus word to the driver — 10^8+ strings at 100 TB.
    val alphabet = wdict
      .select(explode(split(col("word"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .distinct()
      .as[String].collect()
    val vocab = s.sparkContext.broadcast((trained ++ alphabet).toSet)

    val fert = wdict.select(col("word")).as[String]
      .mapPartitions { it =>
        val v = vocab.value
        it.map { word =>
          var pos = 0
          var nSub = 0L
          val sb = new java.lang.StringBuilder
          while (pos < word.length) {
            var len = math.min(4, word.length - pos)
            while (len > 1 && !v.contains(word.substring(pos, pos + len)))
              len -= 1
            if (sb.length > 0) sb.append('+')
            sb.append(word, pos, pos + len)
            pos += len
            nSub += 1
          }
          (word, nSub, sb.toString)
        }
      }.toDF("word", "n_sub", "toks")

    wc.join(broadcast(fert), Seq("word"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_distinct_words"),
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_sub")).as("n_subtokens"),
        (sum(col("cnt") * col("n_sub")).cast("double") /
          sum(col("cnt")).cast("double")).as("fertility"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_doc_stats"          -> docStats _,
    "q_length_buckets"     -> lengthBuckets _,
    "q_doc_quality"        -> docQuality _,
    "q_length_gate"        -> lengthPercentileGate _,
    "q_lang_id_confusion"  -> langIdConfusion _,
    "q_lexical_diversity"  -> lexicalDiversity _,
    "q_bigram_coverage"    -> bigramCoverage _,
    "q_source_datasheet"   -> sourceDatasheet _,
    "q_doc_fingerprint"    -> docFingerprint _,
    "q_exact_dedup_groups" -> exactDedupGroups _,
    "q_dedup_keep_first"   -> dedupKeepFirst _,
    "q_segment_dedup"      -> segmentDedup _,
    "q_span_dedup"         -> spanDedup _,
    "q_delta_dedup"        -> deltaDedup _,
    "q_delta_neardup"      -> deltaNearDup _,
    "q_ngram_jaccard"      -> ngramJaccardPairs _,
    "q_ngram_jaccard_hashed" -> ngramJaccardHashed _,
    "q_split_leakage"      -> splitLeakage _,
    "q_importance_resample" -> importanceResample _,
    "q_segment_neardup"    -> segmentNearDup _,
    "q_epoch_plan"         -> epochPlan _,
    "q_heavy_hitters"      -> heavyHitters _,
    "q_cms_freq"           -> cmsFreq _,
    "q_minhash_sig"        -> minhashSignatures _,
    "q_minhash_lsh_pairs"  -> minhashLshPairs _,
    "q_near_dup_pipeline"  -> nearDupPipeline _,
    "q_corpus_filter"      -> corpusFilter _,
    "q_simhash"            -> simhashDocs _,
    "q_simhash_dups"       -> simhashDups _,
    "q_simhash_wide_dups"  -> simhashWideDups _,
    "q_stratified_sample"  -> stratifiedSample _,
    "q_neardup_components" -> neardupComponents _,
    "q_neardup_canonical" -> neardupCanonical _,
    "q_repetition_ratio"   -> repetitionRatio _,
    "q_seq_packing"        -> seqPacking _,
    "q_tfidf_topterms"     -> tfidfTopTerms _,
    "q_subword_vocab"      -> subwordVocabQuery _,
    "q_subword_tokenize"   -> subwordTokenize _,
    "q_corpus_mix"         -> corpusMix _,
    "q_temperature_mix"    -> temperatureMix _,
    "q_source_overlap"     -> sourceOverlap _,
    "q_source_kmv_jaccard" -> sourceKmvJaccard _,
    "q_collocations"       -> collocations _,
    "q_doc_scrub"          -> docScrub _,
    "q_pii_scrub"          -> piiScrub _,
    "q_containment_dedup"  -> containmentPairs _,
    "q_dup_span_profile"   -> dupSpanProfile _,
    "q_decontaminate"      -> decontaminate _,
    "q_doc_chunks"         -> docChunks _,
  )

  /** Shared plant-construction CTE prefix of the removal-dedup pair —
    * mirrors [[plantedAug]]; both oracles must build the identical
    * augmented corpus. */
  private val plantedAugSql: String =
    s"""WITH base AS (SELECT doc_id, source, text FROM documents),
       |tk AS (SELECT doc_id, source, text, $dToks AS toks FROM base),
       |partial AS (
       |  SELECT doc_id + $PlantOffset AS doc_id, source,
       |    array_to_string(toks[1:$SegW], ' ') || ' ' ||
       |    array_to_string(list_transform(range(1, ${SegW + 1}),
       |      k -> 'zz_uni_' || CAST(doc_id AS VARCHAR) || '_' ||
       |           CAST(k AS VARCHAR)), ' ') AS text
       |  FROM tk WHERE doc_id % 41 = 3 AND len(toks) >= $SegW),
       |fullc AS (SELECT doc_id + $PlantOffset2 AS doc_id, source, text
       |  FROM base WHERE doc_id % 43 = 7),
       |aug AS (SELECT * FROM base UNION ALL SELECT * FROM partial
       |        UNION ALL SELECT * FROM fullc)""".stripMargin

  /** Shared training prefix of the subword pair: the corpus word count,
    * the dictionary, and the weighted 2–4-gram table. RECURSIVE is on the
    * WITH because `q_subword_tokenize` extends the chain with the greedy
    * CTE. */
  private val subwordTrainSql: String =
    s"""WITH RECURSIVE
       |wc AS (SELECT source, UNNEST($dToks) AS word FROM documents),
       |wcnt AS (SELECT source, word, COUNT(*) AS cnt FROM wc GROUP BY 1, 2),
       |dict AS (SELECT word, SUM(cnt) AS w FROM wcnt GROUP BY 1),
       |grams AS (
       |  SELECT g, SUM(w) AS wt FROM (
       |    SELECT substr(d.word, CAST(i AS INT), CAST(t.n AS INT)) AS g, d.w
       |    FROM dict d, UNNEST([2, 3, 4]) AS t(n),
       |         LATERAL (SELECT UNNEST(range(1,
       |           length(d.word) - CAST(t.n AS INT) + 2)) AS i) s
       |  ) GROUP BY 1)""".stripMargin

  private val containmentSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset,
       |    array_to_string((string_split(text, ' '))[1:30], ' ')
       |  FROM documents WHERE doc_id % 40 = 0),
       |docs AS (SELECT doc_id, $dToks AS t FROM aug),
       |sh AS (SELECT DISTINCT doc_id,
       |         ('0x'||substr(md5(sh0),1,15))::BIGINT AS h
       |       FROM (SELECT doc_id, UNNEST(${dShinglesN(4)}) AS sh0 FROM docs)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |dfreq AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY 1),
       |ranked AS (
       |  SELECT s.doc_id, s.h, z.n,
       |    row_number() OVER (PARTITION BY s.doc_id ORDER BY f.df, s.h)
       |      AS rk
       |  FROM sh s JOIN dfreq f USING (h) JOIN sizes z USING (doc_id)),
       |prefix AS (SELECT doc_id, h, n FROM ranked WHERE rk <= n // 5 + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS small_id, b.doc_id AS big_id
       |  FROM prefix a
       |  JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
       |  JOIN sizes zb ON b.doc_id = zb.doc_id
       |  WHERE zb.n * 5 >= a.n * 4),
       |shared AS (
       |  SELECT c.small_id, c.big_id, COUNT(*) AS n_shared
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.small_id
       |  JOIN sh y ON y.doc_id = c.big_id AND y.h = x.h
       |  GROUP BY 1, 2)
       |SELECT small_id, big_id, n_shared, za.n AS n_small, zb.n AS n_big,
       |  CAST(n_shared AS DOUBLE) / za.n AS containment
       |FROM shared
       |JOIN sizes za ON small_id = za.doc_id
       |JOIN sizes zb ON big_id = zb.doc_id
       |WHERE n_shared * 5 >= za.n * 4""".stripMargin

  private val mhExprs: String = (0 until 8).map { j =>
    val g = j / 4
    val off = (j % 4) * 8 + 1
    s"list_min(list_transform(sh, s -> ('0x'||substr(md5('$g|'||s),$off,8))::BIGINT)) AS mh$j"
  }.mkString(", ")

  private val simhashExpr: String = (0 until 32).map { b =>
    s"(CASE WHEN list_sum(list_transform(t, x -> CASE WHEN (${dHash32(0, "x")} >> $b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
  }.mkString(" + ")

  private def dHash60(seed: Int, s: String): String =
    s"('0x'||substr(md5('$seed|'||($s)),1,15))::BIGINT"

  /** The simhash32 near-dup GRAPH + component labels (s → b → cand → e →
    * reach → lab), parameterized by the document relation — shared
    * verbatim by `q_neardup_components` (raw corpus) and
    * `q_neardup_canonical` (plant-augmented corpus) so the two oracles'
    * graph machinery cannot drift. The `e` mirror is written DISTINCT-
    * over-UNION-ALL per the CLAUDE.md recursive-WITH rule — its arms are
    * disjoint today (`d1 < d2`), but a bare UNION here would silently
    * lose cross-arm dedup the day an edit makes them overlap, with no
    * gate failure pointing at this shared spine. */
  private def dNeardupLabCtes(docSrc: String): String =
    s"""s AS (SELECT doc_id, $simhashExpr AS sh
       |      FROM (SELECT doc_id, $dToks AS t FROM $docSrc)),
       |b AS (SELECT doc_id, sh, 0 AS band, sh & 65535 AS bval FROM s
       |      UNION ALL
       |      SELECT doc_id, sh, 1 AS band, sh >> 16 AS bval FROM s),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM b x JOIN b y
       |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
       |    AND bit_count(xor(x.sh, y.sh)) <= 2),
       |e AS (SELECT DISTINCT d1, d2 FROM (
       |  SELECT d1, d2 FROM cand UNION ALL SELECT d2, d1 FROM cand)),
       |reach(src, dst) AS (
       |  SELECT d1, d1 FROM e
       |  UNION
       |  SELECT r.src, e.d2 FROM reach r JOIN e ON r.dst = e.d1),
       |lab AS (SELECT src AS id, MIN(dst) AS comp FROM reach GROUP BY src)""".stripMargin

  // per-token hashes materialize ONCE (hs list), then 60 bit-votes fold
  // over the precomputed list — the naive form re-hashes every token 60×
  private val simhashWideExpr: String = "(" + (0 until 60).map { b =>
    s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
  }.mkString(" + ") + ")"

  /** Shared oracle CTE chain for the corpus filter: documents → planted
    * copies → quality/lang gates → keep-first dedup (`ded`) → MinHash
    * bands → LSH candidates → Jaccard drops (survivors only) → the
    * surviving doc set (`surv`). Consumers prepend WITH and append their
    * final SELECT (the cleaned-index ANN oracle in VectorOps builds on
    * this). */
  private[ops] val corpusSurvivorCtes: String =
    s"""docs AS (SELECT doc_id, text, source FROM documents),
       |aug AS (SELECT * FROM docs UNION ALL
       |        SELECT doc_id + $PlantOffset, text, source FROM docs
       |        WHERE doc_id % 40 = 0),
       |feat AS (
       |  SELECT doc_id, source, text, len(t) AS n_tok,
       |    len(list_filter(t, x -> x IN ${dIn(EnMarkers)})) AS stop_ct,
       |    len(list_filter(t, x -> x IN ${dIn(CodeMarkers)})) AS code_ct,
       |    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
       |      AS char_sum
       |  FROM (SELECT doc_id, source, text, $dToks AS t FROM aug)),
       |qd AS (
       |  SELECT *, CAST(stop_ct AS DOUBLE)/n_tok AS stop_ratio,
       |    CAST(char_sum AS DOUBLE)/n_tok AS avg_tok_len,
       |    CASE WHEN stop_ct = 0 AND code_ct = 0 THEN 'und'
       |         WHEN stop_ct >= code_ct THEN 'en' ELSE 'code' END
       |      AS pred_lang
       |  FROM feat),
       |filt AS (
       |  SELECT * FROM qd WHERE pred_lang = 'en' AND
       |    (CASE WHEN n_tok BETWEEN 30 AND 500 THEN 1 ELSE 0 END) +
       |    (CASE WHEN stop_ratio >= 0.02 AND stop_ratio <= 0.6
       |       THEN 1 ELSE 0 END) +
       |    (CASE WHEN avg_tok_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END)
       |    >= 2),
       |ded AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
       |      ORDER BY doc_id) AS rn FROM filt) WHERE rn = 1),
       |sig AS (
       |  SELECT doc_id, $mhExprs
       |  FROM (SELECT doc_id, $dShingles3 AS sh
       |        FROM (SELECT doc_id, $dToks AS t FROM ded))),
       |bands AS (
       |  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS bkey FROM sig
       |  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM sig
       |  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM sig
       |  UNION ALL SELECT doc_id, 3, mh6 || '_' || mh7 FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |sets AS (
       |  SELECT doc_id, list_distinct($dShingles3) AS shset
       |  FROM (SELECT doc_id, $dToks AS t FROM ded)),
       |drops AS (
       |  SELECT DISTINCT d2 AS doc_id FROM cand
       |  JOIN sets a ON d1 = a.doc_id JOIN sets b ON d2 = b.doc_id
       |  WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
       |    (len(a.shset) + len(b.shset) -
       |     len(list_intersect(a.shset, b.shset))) >= 0.6),
       |surv AS (
       |  SELECT doc_id FROM ded
       |  WHERE doc_id NOT IN (SELECT doc_id FROM drops))""".stripMargin

  override val oracles: Map[String, String] = Map(
    "q_doc_stats" ->
      s"""SELECT doc_id, length(text) AS len_chars,
         |  len($dToks) AS n_tok,
         |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_re_tok,
         |  CAST(list_sum(list_transform($dToks, x -> length(x))) AS BIGINT) AS char_sum
         |FROM documents""".stripMargin,
    "q_length_gate" ->
      """WITH d AS (SELECT source, CAST(length(text) AS BIGINT) AS len
        |           FROM documents),
        |h AS (SELECT source, len, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
        |t AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n
        |      FROM h GROUP BY 1),
        |c AS (SELECT h.source, h.len,
        |        SUM(h.cnt) OVER (PARTITION BY h.source ORDER BY h.len
        |          ROWS UNBOUNDED PRECEDING) AS cum, t.n
        |      FROM h JOIN t USING (source)),
        |thr AS (SELECT source, MIN(len) AS threshold
        |        FROM c WHERE cum * 10 >= n GROUP BY 1)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  MIN(thr.threshold) AS threshold,
        |  CAST(SUM(CASE WHEN d.len >= thr.threshold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN d.len < thr.threshold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN d.len >= thr.threshold THEN d.len ELSE 0 END)
        |      AS DOUBLE) /
        |    CAST(SUM(d.len) AS DOUBLE) AS chars_kept_ratio
        |FROM d JOIN thr USING (source) GROUP BY 1""".stripMargin,
    "q_bigram_coverage" ->
      s"""WITH tl AS (SELECT doc_id, source, $dToks AS t FROM documents),
         |bgs AS (SELECT doc_id, source,
         |          list_distinct(${dShinglesN(2)}) AS bgs FROM tl),
         |refv AS (SELECT DISTINCT UNNEST(bgs) AS bg FROM bgs
         |         WHERE source IN ('src0','src1','src2','src3','src4')),
         |ex AS (SELECT doc_id, UNNEST(bgs) AS bg FROM bgs),
         |hits AS (SELECT ex.doc_id AS doc_id, COUNT(*) AS n_covered
         |         FROM ex JOIN refv USING (bg) GROUP BY 1)
         |SELECT bgs.doc_id AS doc_id, source,
         |  CAST(len(bgs) AS BIGINT) AS n_bigrams,
         |  CAST(COALESCE(n_covered, 0) AS BIGINT) AS n_covered,
         |  CASE WHEN len(bgs) = 0 THEN NULL
         |       ELSE CAST(COALESCE(n_covered, 0) AS DOUBLE) / len(bgs)
         |  END AS coverage
         |FROM bgs LEFT JOIN hits ON bgs.doc_id = hits.doc_id""".stripMargin,
    // the keep rule is pure integer arithmetic (pct·den·T < 1000·num·R,
    // DECIMAL(38,0) products) — no float threshold to diverge; the two
    // divisions are the sanctioned single-IEEE-division endgame
    "q_importance_resample" ->
      s"""WITH tl AS (SELECT doc_id, source, $dToks AS t FROM documents),
         |bgs AS (SELECT doc_id, source,
         |          list_distinct(${dShinglesN(2)}) AS bgs FROM tl),
         |ex AS (SELECT doc_id, source,
         |         ('0x'||substr(md5(bg),1,4))::BIGINT % 256 AS b
         |       FROM (SELECT doc_id, source, UNNEST(bgs) AS bg FROM bgs)),
         |tb AS (SELECT b, COUNT(*) AS t FROM ex
         |       WHERE source IN ('src0','src1','src2','src3','src4')
         |       GROUP BY 1),
         |rb AS (SELECT b, COUNT(*) AS r FROM ex GROUP BY 1),
         |tt AS (SELECT CAST(SUM(t) AS DECIMAL(38,0)) AS tt FROM tb),
         |rt AS (SELECT CAST(SUM(r) AS DECIMAL(38,0)) AS rt FROM rb),
         |pd AS (SELECT ex.doc_id AS doc_id,
         |         CAST(SUM(COALESCE(tb.t, 0)) AS BIGINT) AS num,
         |         CAST(SUM(rb.r) AS BIGINT) AS den
         |       FROM ex LEFT JOIN tb USING (b) JOIN rb USING (b)
         |       GROUP BY 1),
         |sc AS (SELECT d.doc_id, d.source,
         |         COALESCE(num, 0) AS num, COALESCE(den, 0) AS den,
         |         ('0x'||substr(md5('ir|'||CAST(d.doc_id AS VARCHAR)),1,8))
         |           ::BIGINT % 1000 AS pct
         |       FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN CAST(pct AS DECIMAL(38,0)) * den * tt
         |                   < CAST(1000 AS DECIMAL(38,0)) * num * rt
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(CAST(SUM(CASE WHEN CAST(pct AS DECIMAL(38,0)) * den * tt
         |                   < CAST(1000 AS DECIMAL(38,0)) * num * rt
         |           THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS kept_share,
         |  CAST(SUM(CAST(num AS DECIMAL(38,0))) AS DOUBLE) AS sum_num,
         |  CAST(SUM(CAST(den AS DECIMAL(38,0))) AS DOUBLE) AS sum_den,
         |  CASE WHEN SUM(CAST(den AS DECIMAL(38,0))) * tt = 0 THEN NULL
         |    ELSE CAST(SUM(CAST(num AS DECIMAL(38,0))) * rt AS DOUBLE)
         |      / CAST(SUM(CAST(den AS DECIMAL(38,0))) * tt AS DOUBLE)
         |  END AS pooled_importance
         |FROM sc CROSS JOIN tt CROSS JOIN rt
         |GROUP BY source, tt, rt""".stripMargin,
    "q_doc_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id, len(t) AS n_tok,
         |    len(list_filter(t, x -> x IN ${dIn(EnMarkers)})) AS stop_ct,
         |    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS char_sum
         |  FROM (SELECT doc_id, $dToks AS t FROM documents)),
         |r AS (SELECT *, CAST(stop_ct AS DOUBLE)/n_tok AS stop_ratio,
         |        CAST(char_sum AS DOUBLE)/n_tok AS avg_tok_len FROM base)
         |SELECT doc_id, n_tok, stop_ct, char_sum, stop_ratio, avg_tok_len,
         |  (CASE WHEN n_tok BETWEEN 30 AND 500 THEN 1 ELSE 0 END) +
         |  (CASE WHEN stop_ratio >= 0.02 AND stop_ratio <= 0.6 THEN 1 ELSE 0 END) +
         |  (CASE WHEN avg_tok_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END) AS quality
         |FROM r""".stripMargin,
    "q_lang_id_confusion" ->
      s"""WITH p AS (
         |  SELECT lang,
         |    CASE WHEN en = 0 AND code = 0 THEN 'und'
         |         WHEN en >= code THEN 'en' ELSE 'code' END AS pred_lang
         |  FROM (SELECT lang,
         |          len(list_filter($dToks, x -> x IN ${dIn(EnMarkers)})) AS en,
         |          len(list_filter($dToks, x -> x IN ${dIn(CodeMarkers)})) AS code
         |        FROM documents))
         |SELECT lang, pred_lang, COUNT(*) AS n_docs FROM p GROUP BY 1, 2""".stripMargin,
    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp,
        |  ('0x'||substr(md5(text),1,15))::BIGINT AS fp60
        |FROM documents""".stripMargin,
    "q_exact_dedup_groups" ->
      """SELECT md5(text) AS fp, COUNT(*) AS n_copies, MIN(doc_id) AS min_doc
        |FROM documents GROUP BY 1""".stripMargin,
    "q_dedup_keep_first" ->
      """SELECT source, COUNT(*) AS n_kept FROM (
        |  SELECT source, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 GROUP BY 1""".stripMargin,
    "q_span_dedup" ->
      s"""$plantedAugSql,
         |tk2 AS (SELECT doc_id, source, text, $dToks AS toks FROM aug),
         |grams AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    md5(array_to_string(
         |      toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')) AS fp
         |  FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks) - 6)) AS i
         |        FROM tk2 WHERE len(toks) >= 8)),
         |w1 AS (SELECT fp, MIN(doc_id) AS wdoc FROM grams GROUP BY 1),
         |w AS (SELECT g.fp, w1.wdoc, MIN(g.pos) AS wpos
         |      FROM grams g JOIN w1 ON g.fp = w1.fp AND g.doc_id = w1.wdoc
         |      GROUP BY 1, 2),
         |nonwin AS (SELECT g.doc_id, g.pos FROM grams g JOIN w ON g.fp = w.fp
         |           WHERE NOT (g.doc_id = w.wdoc AND g.pos = w.wpos)),
         |cov AS (SELECT DISTINCT doc_id, pos + k AS idx
         |        FROM (SELECT doc_id, pos, UNNEST(range(0, 8)) AS k
         |              FROM nonwin)),
         |tokr AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS idx,
         |         UNNEST(toks) AS tok FROM tk2),
         |keptt AS (SELECT t.doc_id, t.idx, t.tok FROM tokr t
         |          WHERE NOT EXISTS (SELECT 1 FROM cov c
         |            WHERE c.doc_id = t.doc_id AND c.idx = t.idx)),
         |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS t
         |       FROM keptt GROUP BY 1)
         |SELECT a.doc_id, a.source, CAST(len(a.toks) AS BIGINT) AS n_tok,
         |  CAST(COALESCE(cc.nc, 0) AS BIGINT) AS n_covered,
         |  md5(COALESCE(k.t, '')) AS out_fp,
         |  CAST(length(COALESCE(k.t, '')) AS BIGINT) AS chars_out
         |FROM tk2 a
         |LEFT JOIN (SELECT doc_id, COUNT(*) AS nc FROM cov GROUP BY 1) cc
         |  USING (doc_id)
         |LEFT JOIN ka k USING (doc_id)""".stripMargin,
    "q_segment_dedup" ->
      s"""$plantedAugSql,
         |seg AS (SELECT doc_id, source, $dToks AS toks,
         |        (len($dToks) + ${SegW - 1}) // $SegW AS nseg FROM aug),
         |sarr AS (SELECT doc_id, source, nseg,
         |  list_transform(range(0, nseg),
         |    g -> array_to_string(
         |      toks[CAST(g*$SegW+1 AS INT):CAST(g*$SegW+$SegW AS INT)],
         |      ' ')) AS sarr
         |  FROM seg),
         |light AS (SELECT doc_id, generate_subscripts(sarr, 1) - 1 AS seg_id,
         |          UNNEST(sarr) AS seg_text FROM sarr),
         |lfp AS (SELECT md5(seg_text) AS fp, doc_id, seg_id FROM light),
         |w1 AS (SELECT fp, MIN(doc_id) AS wdoc FROM lfp GROUP BY fp),
         |w AS (SELECT l.fp, w1.wdoc, MIN(l.seg_id) AS wseg
         |      FROM lfp l JOIN w1 ON l.fp = w1.fp AND l.doc_id = w1.wdoc
         |      GROUP BY 1, 2),
         |drops AS (SELECT l.doc_id, l.seg_id FROM lfp l JOIN w ON l.fp = w.fp
         |          WHERE NOT (l.doc_id = w.wdoc AND l.seg_id = w.wseg)),
         |kept AS (SELECT s.doc_id, s.seg_id, s.seg_text FROM light s
         |         WHERE NOT EXISTS (SELECT 1 FROM drops d
         |           WHERE d.doc_id = s.doc_id AND d.seg_id = s.seg_id)),
         |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
         |       string_agg(seg_text, ' ' ORDER BY seg_id) AS t
         |       FROM kept GROUP BY doc_id)
         |SELECT a.doc_id, a.source, CAST(a.nseg AS BIGINT) AS n_seg,
         |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(a.nseg - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped,
         |  md5(COALESCE(k.t, '')) AS out_fp,
         |  CAST(length(COALESCE(k.t, '')) AS BIGINT) AS chars_out
         |FROM sarr a LEFT JOIN ka k USING (doc_id)""".stripMargin,
    // same plant + slicer CTEs as q_segment_dedup, simhash at segment
    // grain via the shared simhashExpr device, 2×16-bit band pairing
    "q_segment_neardup" ->
      s"""$plantedAugSql,
         |seg AS (SELECT doc_id, $dToks AS toks,
         |        (len($dToks) + ${SegW - 1}) // $SegW AS nseg FROM aug),
         |sarr AS (SELECT doc_id,
         |  list_transform(range(0, nseg),
         |    g -> array_to_string(
         |      toks[CAST(g*$SegW+1 AS INT):CAST(g*$SegW+$SegW AS INT)],
         |      ' ')) AS sarr
         |  FROM seg),
         |light AS (SELECT doc_id,
         |          CAST(generate_subscripts(sarr, 1) - 1 AS BIGINT)
         |            AS seg_id,
         |          UNNEST(sarr) AS seg_text FROM sarr),
         |sh AS (SELECT doc_id, seg_id, $simhashExpr AS sh
         |       FROM (SELECT doc_id, seg_id,
         |               string_split(seg_text, ' ') AS t FROM light)),
         |b AS (SELECT doc_id, seg_id, sh, 0 AS band, sh & 65535 AS bval
         |      FROM sh
         |      UNION ALL
         |      SELECT doc_id, seg_id, sh, 1 AS band, sh >> 16 FROM sh),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, x.seg_id AS s1,
         |    y.doc_id AS d2, y.seg_id AS s2,
         |    CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
         |  FROM b x JOIN b y
         |    ON x.band = y.band AND x.bval = y.bval
         |    AND (x.doc_id < y.doc_id
         |      OR (x.doc_id = y.doc_id AND x.seg_id < y.seg_id)))
         |SELECT d1, s1, d2, s2, hamming FROM cand
         |WHERE hamming <= 2""".stripMargin,
    "q_source_datasheet" ->
      s"""WITH perdoc AS (
         |  SELECT source, md5(text) AS fp, len(t) AS n_tok,
         |    len(list_distinct(t)) AS n_types,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    len(list_filter(t, x -> x IN ${dIn(EnMarkers)})) AS en,
         |    len(list_filter(t, x -> x IN ${dIn(CodeMarkers)})) AS code,
         |    CAST(length(text) - (len(t) - 1) AS BIGINT) AS char_sum
         |  FROM (SELECT source, text, $dToks AS t FROM documents)),
         |q AS (
         |  SELECT *,
         |    CAST(en AS DOUBLE) / n_tok AS stop_ratio,
         |    CAST(char_sum AS DOUBLE) / n_tok AS avg_tok_len,
         |    CASE WHEN en = 0 AND code = 0 THEN 'und'
         |         WHEN en >= code THEN 'en' ELSE 'code' END AS pred_lang
         |  FROM perdoc),
         |q2 AS (
         |  SELECT *,
         |    (CASE WHEN n_tok BETWEEN 30 AND 500 THEN 1 ELSE 0 END) +
         |    (CASE WHEN stop_ratio >= 0.02 AND stop_ratio <= 0.6
         |          THEN 1 ELSE 0 END) +
         |    (CASE WHEN avg_tok_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END)
         |      AS quality
         |  FROM q)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |  CAST(SUM(CASE WHEN quality = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality3,
         |  CAST(SUM(quality) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS avg_quality,
         |  CAST(SUM(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_en,
         |  CAST(SUM(n_types) AS BIGINT) AS sum_types,
         |  CAST(SUM(n_types) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE)
         |    AS ttr_micro,
         |  COUNT(DISTINCT fp) AS n_distinct_fp
         |FROM q2 GROUP BY 1""".stripMargin,
    "q_lexical_diversity" ->
      s"""WITH c AS (
         |  SELECT doc_id, source, tok, COUNT(*) AS c
         |  FROM (SELECT doc_id, source, UNNEST($dToks) AS tok
         |        FROM documents)
         |  GROUP BY 1, 2, 3)
         |SELECT doc_id, source, CAST(SUM(c) AS BIGINT) AS n_tok,
         |  COUNT(*) AS n_types,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
         |  CAST(SUM(c * (c - 1)) AS DOUBLE) /
         |    CAST(NULLIF(SUM(c) * (SUM(c) - 1), 0) AS DOUBLE) AS simpson
         |FROM c GROUP BY 1, 2""".stripMargin,
    "q_subword_vocab" ->
      s"""$subwordTrainSql
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY wt DESC, g) AS BIGINT)
         |    AS rank,
         |  g, CAST(wt AS BIGINT) AS wt
         |FROM grams ORDER BY wt DESC, g LIMIT $SubwordVocabSize""".stripMargin,
    "q_subword_tokenize" ->
      s"""$subwordTrainSql,
         |chars AS (SELECT DISTINCT UNNEST(string_split_regex(word, ''))
         |          AS g FROM dict),
         |topg AS (SELECT g FROM grams
         |         ORDER BY wt DESC, g LIMIT $SubwordVocabSize),
         |vocab AS (SELECT DISTINCT g FROM (
         |  SELECT g FROM topg UNION ALL SELECT g FROM chars)),
         |tok AS (
         |  SELECT word, word AS rem, 0 AS n_sub FROM dict
         |  UNION ALL
         |  SELECT word, substr(rem, length(pick) + 1), n_sub + 1
         |  FROM (SELECT word, rem, n_sub,
         |          (SELECT g FROM vocab WHERE starts_with(rem, g)
         |           ORDER BY length(g) DESC, g LIMIT 1) AS pick
         |        FROM tok WHERE rem <> '') q),
         |done AS (SELECT word, n_sub FROM tok WHERE rem = '')
         |SELECT w.source, COUNT(*) AS n_distinct_words,
         |  CAST(SUM(w.cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(w.cnt * d.n_sub) AS BIGINT) AS n_subtokens,
         |  CAST(SUM(w.cnt * d.n_sub) AS DOUBLE) / SUM(w.cnt) AS fertility
         |FROM wcnt w JOIN done d USING (word) GROUP BY 1""".stripMargin,
    "q_delta_dedup" ->
      s"""WITH docs AS (SELECT doc_id, text, source FROM documents),
         |idx AS (SELECT * FROM docs WHERE doc_id % 5 <> 0),
         |inc AS (SELECT * FROM docs WHERE doc_id % 5 = 0
         |        UNION ALL
         |        SELECT doc_id + $PlantOffset, text, source FROM idx
         |        WHERE doc_id % 7 = 0),
         |ifp AS (SELECT DISTINCT md5(text) AS fp FROM idx)
         |SELECT source, COUNT(*) AS n_incoming,
         |  CAST(SUM(CASE WHEN md5(text) IN (SELECT fp FROM ifp)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(SUM(CASE WHEN md5(text) IN (SELECT fp FROM ifp)
         |           THEN 0 ELSE 1 END) AS BIGINT) AS n_new
         |FROM inc GROUP BY source""".stripMargin,
    "q_delta_neardup" ->
      s"""WITH docs AS (SELECT doc_id, text, source FROM documents),
         |idx AS (SELECT * FROM docs WHERE doc_id % 5 <> 0),
         |inc AS (SELECT * FROM docs WHERE doc_id % 5 = 0
         |        UNION ALL
         |        SELECT doc_id + $PlantOffset, text, source FROM idx
         |        WHERE doc_id % 7 = 0),
         |isig AS (SELECT doc_id, $mhExprs
         |  FROM (SELECT doc_id, $dShingles3 AS sh
         |        FROM (SELECT doc_id, $dToks AS t FROM idx))),
         |nsig AS (SELECT doc_id, $mhExprs
         |  FROM (SELECT doc_id, $dShingles3 AS sh
         |        FROM (SELECT doc_id, $dToks AS t FROM inc))),
         |ib AS (
         |  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS bkey FROM isig
         |  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM isig
         |  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM isig
         |  UNION ALL SELECT doc_id, 3, mh6 || '_' || mh7 FROM isig),
         |nb AS (
         |  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS bkey FROM nsig
         |  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM nsig
         |  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM nsig
         |  UNION ALL SELECT doc_id, 3, mh6 || '_' || mh7 FROM nsig),
         |cand AS (
         |  SELECT DISTINCT y.doc_id AS inc_id, x.doc_id AS idx_id
         |  FROM ib x JOIN nb y ON x.band = y.band AND x.bkey = y.bkey),
         |nsets AS (SELECT doc_id, list_distinct($dShingles3) AS shset
         |  FROM (SELECT doc_id, $dToks AS t FROM inc)),
         |isets AS (SELECT doc_id, list_distinct($dShingles3) AS shset
         |  FROM (SELECT doc_id, $dToks AS t FROM idx)),
         |flagged AS (
         |  SELECT DISTINCT inc_id FROM cand
         |  JOIN nsets a ON inc_id = a.doc_id
         |  JOIN isets b ON idx_id = b.doc_id
         |  WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
         |    (len(a.shset) + len(b.shset) -
         |     len(list_intersect(a.shset, b.shset))) >= 0.6)
         |SELECT source, COUNT(*) AS n_incoming,
         |  CAST(SUM(CASE WHEN doc_id IN (SELECT inc_id FROM flagged)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
         |  CAST(SUM(CASE WHEN doc_id IN (SELECT inc_id FROM flagged)
         |           THEN 0 ELSE 1 END) AS BIGINT) AS n_clean
         |FROM inc GROUP BY source""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, UNNEST($dShingles3) AS sh
         |  FROM (SELECT doc_id, $dToks AS t FROM documents)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, common, sa.n AS n1, sb.n AS n2,
         |  CAST(common AS DOUBLE)/(sa.n + sb.n - common) AS jaccard
         |FROM pairs JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
         |WHERE CAST(common AS DOUBLE)/(sa.n + sb.n - common) >= 0.6""".stripMargin,
    // OWN oracle, hashing identically: both engines roll distinct
    // 3-shingles to the fp60 device before any pair logic, so the gate
    // compares the same hashed universe (collision-proof by construction)
    "q_ngram_jaccard_hashed" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id,
         |    ('0x'||substr(md5(sh0),1,15))::BIGINT AS sh
         |  FROM (SELECT doc_id, UNNEST($dShingles3) AS sh0
         |        FROM (SELECT doc_id, $dToks AS t FROM documents))),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, common, sa.n AS n1, sb.n AS n2,
         |  CAST(common AS DOUBLE)/(sa.n + sb.n - common) AS jaccard
         |FROM pairs JOIN sizes sa ON d1 = sa.doc_id
         |JOIN sizes sb ON d2 = sb.doc_id
         |WHERE CAST(common AS DOUBLE)/(sa.n + sb.n - common) >= 0.6"""
        .stripMargin,
    // recomputes components over the plant-augmented pair graph from
    // scratch (the q_neardup_components reachability device), splits at
    // BOTH grains, and pins leaked_pairs to the true 0 while
    // naive_leaked_pairs counts the per-doc split's crossings — the
    // number the component grain exists to kill
    "q_split_leakage" ->
      s"""WITH RECURSIVE
         |aug AS (SELECT doc_id, text, n_chars FROM documents
         |        UNION ALL
         |        SELECT doc_id + $PlantOffset, text, n_chars
         |        FROM documents WHERE doc_id % 30 = 0),
         |s AS (SELECT doc_id, $simhashExpr AS sh
         |      FROM (SELECT doc_id, $dToks AS t FROM aug)),
         |b AS (SELECT doc_id, sh, 0 AS band, sh & 65535 AS bval FROM s
         |      UNION ALL
         |      SELECT doc_id, sh, 1 AS band, sh >> 16 AS bval FROM s),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM b x JOIN b y
         |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
         |    AND bit_count(xor(x.sh, y.sh)) <= 2),
         |e AS (SELECT DISTINCT d1, d2 FROM (
         |  SELECT d1, d2 FROM cand UNION ALL SELECT d2, d1 FROM cand)),
         |reach(src, dst) AS (
         |  SELECT d1, d1 FROM e
         |  UNION
         |  SELECT r.src, e.d2 FROM reach r JOIN e ON r.dst = e.d1),
         |lab AS (SELECT src AS id, MIN(dst) AS comp FROM reach GROUP BY src),
         |alldocs AS (
         |  SELECT a.doc_id, COALESCE(l.comp, a.doc_id) AS comp, a.n_chars
         |  FROM aug a LEFT JOIN lab l ON a.doc_id = l.id),
         |sp AS (
         |  SELECT doc_id, comp, n_chars,
         |    CASE WHEN ('0x'||substr(md5(CAST(comp AS VARCHAR)),1,8))::BIGINT
         |           % 100 < 90 THEN 'train'
         |         WHEN ('0x'||substr(md5(CAST(comp AS VARCHAR)),1,8))::BIGINT
         |           % 100 < 95 THEN 'val' ELSE 'test' END AS split,
         |    CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
         |           % 100 < 90 THEN 'train'
         |         WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
         |           % 100 < 95 THEN 'val' ELSE 'test' END AS naive_split
         |  FROM alldocs),
         |leaks AS (
         |  SELECT
         |    CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaked_pairs,
         |    CAST(COALESCE(SUM(CASE WHEN sa.naive_split <> sb.naive_split
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS naive_leaked_pairs
         |  FROM cand JOIN sp sa ON cand.d1 = sa.doc_id
         |  JOIN sp sb ON cand.d2 = sb.doc_id)
         |SELECT split, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT comp) AS n_families,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  leaked_pairs, naive_leaked_pairs
         |FROM sp CROSS JOIN leaks
         |GROUP BY 1, 5, 6""".stripMargin,
    "q_containment_dedup" -> containmentSql,
    "q_dup_span_profile" ->
      s"""WITH aug AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $PlantOffset, source, text FROM documents
         |  WHERE doc_id % 29 = 0),
         |docs AS (SELECT doc_id, source, $dToks AS t FROM aug),
         |g AS (SELECT DISTINCT doc_id, source,
         |        ('0x'||substr(md5(g0),1,15))::BIGINT AS h
         |      FROM (SELECT doc_id, source, UNNEST(${dShinglesN(8)}) AS g0
         |            FROM docs)),
         |dfq AS (SELECT h, COUNT(*) AS gdf FROM g GROUP BY 1),
         |per AS (SELECT doc_id, source, COUNT(*) AS n_grams,
         |          SUM(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS n_dup
         |        FROM g JOIN dfq USING (h) GROUP BY 1, 2),
         |roll AS (SELECT source, COUNT(*) AS n_docs,
         |           CAST(SUM(n_grams) AS BIGINT) AS grams_total,
         |           CAST(SUM(n_dup) AS BIGINT) AS grams_dup,
         |           CAST(SUM(CASE WHEN n_dup * 2 >= n_grams THEN 1 ELSE 0
         |                    END) AS BIGINT) AS docs_over_half
         |         FROM per GROUP BY 1)
         |SELECT source, n_docs, grams_total, grams_dup, docs_over_half,
         |  CAST(grams_dup AS DOUBLE) / grams_total AS dup_ratio
         |FROM roll""".stripMargin,
    // bracket oracle (see Relational.distinctUsersApprox): deterministic
    // columns are the EXACT heavy hitters over the identically-planted
    // stream; found/est_ok assert the MG theorems held on the Spark side
    "q_heavy_hitters" ->
      """WITH base AS (
        |  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |pa AS (SELECT 'zz_hot_a' AS tok
        |       FROM documents CROSS JOIN range(80) WHERE doc_id % 2 = 0),
        |pb AS (SELECT 'zz_hot_b' AS tok
        |       FROM documents CROSS JOIN range(90) WHERE doc_id % 5 = 0),
        |pc AS (SELECT 'zz_hot_c' AS tok
        |       FROM documents CROSS JOIN range(25) WHERE doc_id % 25 = 0),
        |items AS (SELECT tok FROM base UNION ALL SELECT tok FROM pa
        |          UNION ALL SELECT tok FROM pb UNION ALL SELECT tok FROM pc),
        |c AS (SELECT tok, COUNT(*) AS exact_ct FROM items GROUP BY 1),
        |t AS (SELECT CAST(SUM(exact_ct) AS BIGINT) AS n_total FROM c)
        |SELECT tok, exact_ct, n_total,
        |  CAST(1 AS BIGINT) AS found, CAST(1 AS BIGINT) AS est_ok
        |FROM c CROSS JOIN t WHERE exact_ct * 8 > n_total""".stripMargin,
    // the oracle builds the CMS DIRECTLY from the raw token stream; the
    // Spark side sums per-source sketches cell-wise, so the hash match
    // proves the linear-sketch merge identity (see [[cmsFreq]])
    "q_cms_freq" ->
      """WITH items AS (
        |  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
        |cells AS (
        |  SELECT j, ('0x'||substr(md5('cms'||CAST(j AS VARCHAR)||'|'||tok),
        |      1, 8))::BIGINT % 16 AS b,
        |    COUNT(*) AS n
        |  FROM items CROSS JOIN range(4) t(j) GROUP BY 1, 2),
        |exact AS (SELECT tok, COUNT(*) AS exact_ct FROM items GROUP BY 1),
        |probe AS (
        |  SELECT tok, exact_ct, j,
        |    ('0x'||substr(md5('cms'||CAST(j AS VARCHAR)||'|'||tok),
        |      1, 8))::BIGINT % 16 AS b
        |  FROM exact CROSS JOIN range(4) t(j))
        |SELECT tok, exact_ct, MIN(n) AS est,
        |  CAST(MIN(n) >= exact_ct AS BIGINT) AS over_ok
        |FROM probe JOIN cells USING (j, b)
        |GROUP BY tok, exact_ct""".stripMargin,
    "q_minhash_sig" ->
      s"""SELECT doc_id, $mhExprs
         |FROM (SELECT doc_id, $dShingles3 AS sh
         |      FROM (SELECT doc_id, $dToks AS t FROM documents))""".stripMargin,
    "q_minhash_lsh_pairs" ->
      s"""WITH sig AS (
         |  SELECT doc_id, $mhExprs
         |  FROM (SELECT doc_id, $dShingles3 AS sh
         |        FROM (SELECT doc_id, $dToks AS t FROM documents))),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS bkey FROM sig
         |  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM sig
         |  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM sig
         |  UNION ALL SELECT doc_id, 3, mh6 || '_' || mh7 FROM sig),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT d1, d2,
         |  (CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END) + (CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END) +
         |  (CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END) + (CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END) +
         |  (CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END) + (CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END) +
         |  (CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END) + (CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END) AS n_sig_match
         |FROM cand JOIN sig a ON d1 = a.doc_id JOIN sig b ON d2 = b.doc_id""".stripMargin,
    "q_near_dup_pipeline" ->
      s"""WITH sig AS (
         |  SELECT doc_id, $mhExprs
         |  FROM (SELECT doc_id, $dShingles3 AS sh
         |        FROM (SELECT doc_id, $dToks AS t FROM documents))),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || '_' || mh1 AS bkey FROM sig
         |  UNION ALL SELECT doc_id, 1, mh2 || '_' || mh3 FROM sig
         |  UNION ALL SELECT doc_id, 2, mh4 || '_' || mh5 FROM sig
         |  UNION ALL SELECT doc_id, 3, mh6 || '_' || mh7 FROM sig),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |sets AS (
         |  SELECT doc_id, list_distinct($dShingles3) AS shset
         |  FROM (SELECT doc_id, $dToks AS t FROM documents)),
         |verified AS (
         |  SELECT d1, d2,
         |    len(list_intersect(a.shset, b.shset)) AS common,
         |    CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
         |      (len(a.shset) + len(b.shset) - len(list_intersect(a.shset, b.shset))) AS jaccard
         |  FROM cand JOIN sets a ON d1 = a.doc_id JOIN sets b ON d2 = b.doc_id)
         |SELECT d1, d2, common, jaccard FROM verified WHERE jaccard >= 0.6""".stripMargin,
    "q_corpus_filter" ->
      s"""WITH $corpusSurvivorCtes
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS total_tok,
         |  CAST(SUM(char_sum) AS BIGINT) AS total_chars
         |FROM ded WHERE doc_id IN (SELECT doc_id FROM surv)
         |GROUP BY 1""".stripMargin,
    "q_simhash" ->
      s"""SELECT doc_id, $simhashExpr AS simhash32
         |FROM (SELECT doc_id, $dToks AS t FROM documents)""".stripMargin,
    "q_simhash_dups" ->
      s"""WITH s AS (SELECT doc_id, $simhashExpr AS sh
         |           FROM (SELECT doc_id, $dToks AS t FROM documents)),
         |b AS (SELECT doc_id, sh, 0 AS band, sh & 65535 AS bval FROM s
         |      UNION ALL
         |      SELECT doc_id, sh, 1 AS band, sh >> 16 AS bval FROM s),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
         |    CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
         |  FROM b x JOIN b y
         |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
         |SELECT d1, d2, hamming FROM cand WHERE hamming <= 2""".stripMargin,
    "q_simhash_wide_dups" ->
      s"""WITH hs AS (SELECT doc_id,
         |              list_transform($dToks, x -> ${dHash60(0, "x")}) AS hs
         |            FROM documents),
         |s AS (SELECT doc_id, $simhashWideExpr AS sh FROM hs),
         |b AS (SELECT doc_id, sh, band, (sh >> (15*band)) & 32767 AS bval
         |      FROM s CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS band)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
         |    CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
         |  FROM b x JOIN b y
         |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
         |SELECT d1, d2, hamming FROM cand WHERE hamming <= 3""".stripMargin,
    "q_neardup_components" ->
      s"""WITH RECURSIVE
         |${dNeardupLabCtes("documents")}
         |SELECT comp, COUNT(*) AS n_docs, MAX(id) AS max_doc
         |FROM lab GROUP BY comp""".stripMargin,
    // same graph machinery over the plant-augmented corpus (the
    // splitLeakage %30 construction), then the keep-longest pick:
    // ROW_NUMBER (n_chars DESC, id ASC) textually mirrors Spark's
    // max(struct(nc, -id))
    "q_neardup_canonical" ->
      s"""WITH RECURSIVE
         |aug AS (
         |  SELECT doc_id, text, n_chars FROM documents
         |  UNION ALL
         |  SELECT doc_id + $PlantOffset AS doc_id, text, n_chars
         |  FROM documents WHERE doc_id % 30 = 0),
         |${dNeardupLabCtes("aug")},
         |mem AS (SELECT lab.comp, lab.id, a.n_chars
         |        FROM lab JOIN aug a ON lab.id = a.doc_id),
         |pick AS (SELECT comp, id, n_chars,
         |           ROW_NUMBER() OVER (PARTITION BY comp
         |             ORDER BY n_chars DESC, id ASC) AS rk
         |         FROM mem),
         |agg AS (SELECT comp, COUNT(*) AS n_members,
         |          CAST(SUM(n_chars) AS BIGINT) AS chars_total
         |        FROM mem GROUP BY comp)
         |SELECT a.comp, p.id AS canonical_id, a.n_members,
         |  a.n_members - 1 AS n_dropped,
         |  CAST(p.n_chars AS BIGINT) AS chars_kept,
         |  a.chars_total - CAST(p.n_chars AS BIGINT) AS chars_dropped
         |FROM agg a JOIN pick p ON a.comp = p.comp AND p.rk = 1""".stripMargin,
    "q_doc_scrub" ->
      s"""WITH b AS (
         |  SELECT source,
         |    len(list_filter(t, x -> x IN ('customer','order','user'))) AS n_hits,
         |    length(text) AS len_before,
         |    length(array_to_string(list_transform(t,
         |      x -> CASE WHEN x IN ('customer','order','user')
         |           THEN '<x>' ELSE x END), ' ')) AS len_after
         |  FROM (SELECT source, text, $dToks AS t FROM documents))
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
         |  CAST(SUM(n_hits) AS BIGINT) AS terms_redacted,
         |  CAST(SUM(len_before) AS BIGINT) AS chars_before,
         |  CAST(SUM(len_after) AS BIGINT) AS chars_after
         |FROM b GROUP BY source""".stripMargin,
    "q_pii_scrub" ->
      """WITH p AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 23 = 0 THEN
        |      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |      '@mail.example call 555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE text END AS t
        |  FROM documents),
        |b AS (
        |  SELECT source,
        |    len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+')) AS n_email,
        |    len(regexp_extract_all(t, '555-[0-9]{4}')) AS n_phone,
        |    length(t) - length(regexp_replace(regexp_replace(t,
        |      '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |      '555-[0-9]{4}', '<PHONE>', 'g')) AS removed
        |  FROM p)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS docs_with_pii,
        |  CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
        |  CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
        |  CAST(SUM(removed) AS BIGINT) AS chars_removed
        |FROM b GROUP BY source""".stripMargin,
    "q_corpus_mix" ->
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |    md5(CAST(doc_id AS VARCHAR)) AS hkey,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents),
        |kept AS (
        |  SELECT * FROM ranked
        |  WHERE rk <= CASE source WHEN 'web' THEN 60 WHEN 'books' THEN 40
        |                          WHEN 'code' THEN 30 ELSE 20 END)
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
        |  MIN(hkey) AS first_hkey
        |FROM kept GROUP BY source""".stripMargin,
    "q_length_buckets" ->
      s"""WITH b AS (
         |  SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 24 THEN 24
         |              WHEN n <= 32 THEN 32 WHEN n <= 48 THEN 48
         |              WHEN n <= 64 THEN 64 WHEN n <= 96 THEN 96
         |              ELSE 128 END AS bucket, n
         |  FROM (SELECT len($dToks) AS n FROM documents))
         |SELECT bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS real_tokens,
         |  bucket * COUNT(*) AS padded_tokens,
         |  1.0 - CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE)
         |    / (bucket * COUNT(*)) AS waste_ratio
         |FROM b GROUP BY bucket""".stripMargin,
    // integer-exact end to end: ⌊√·⌋ weights, integer normalizer, the
    // long-division decomposition for target_tok (see the scaladoc)
    "q_epoch_plan" ->
      s"""WITH c AS (SELECT source, CAST(SUM(len($dToks)) AS BIGINT)
         |             AS n_tok
         |           FROM documents GROUP BY 1),
         |w AS (SELECT source, n_tok,
         |        CAST(FLOOR(SQRT(CAST(n_tok AS DOUBLE))) AS BIGINT) AS w
         |      FROM c),
         |n AS (SELECT CAST(SUM(w) AS BIGINT) AS big_w,
         |        CAST(SUM(n_tok) * $EpochBudgetX AS BIGINT) AS budget
         |      FROM w),
         |t AS (SELECT source, n_tok, w, big_w, budget,
         |        (budget // big_w) * w + ((budget % big_w) * w) // big_w
         |          AS target_tok
         |      FROM w CROSS JOIN n)
         |SELECT source, n_tok, w,
         |  CAST(w AS DOUBLE) / CAST(big_w AS DOUBLE) AS share,
         |  CAST(target_tok AS BIGINT) AS target_tok,
         |  CAST((target_tok + n_tok - 1) // n_tok AS BIGINT) AS epochs
         |FROM t""".stripMargin,
    "q_temperature_mix" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS c_docs
         |           FROM documents GROUP BY source),
         |m AS (SELECT MIN(c_docs) AS c_min FROM c),
         |r AS (SELECT source, c_docs,
         |        sqrt(CAST(c_min AS DOUBLE) / c_docs) AS keep_rate
         |      FROM c, m),
         |k AS (SELECT d.source, d.n_chars, r.c_docs, r.keep_rate
         |      FROM documents d JOIN r ON d.source = r.source
         |      WHERE ${dHash32(7, "CAST(d.doc_id AS VARCHAR)")}
         |            < keep_rate * 4294967296.0)
         |SELECT source, c_docs, keep_rate, COUNT(*) AS n_kept,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept
         |FROM k GROUP BY source, c_docs, keep_rate""".stripMargin,
    "q_source_overlap" ->
      s"""WITH gs AS (
         |  SELECT DISTINCT source, ('0x'||substr(md5(g),1,15))::BIGINT AS gh
         |  FROM (SELECT source, UNNEST(list_distinct(${dShinglesN(8)})) AS g
         |        FROM (SELECT source, $dToks AS t FROM documents))),
         |tot AS (SELECT source, COUNT(*) AS n_grams FROM gs GROUP BY source),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |        COUNT(*) AS shared_grams
         |      FROM gs a JOIN gs b ON a.gh = b.gh AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT source_a, source_b, shared_grams,
         |  ta.n_grams AS grams_a, tb.n_grams AS grams_b,
         |  CAST(shared_grams AS DOUBLE)
         |    / (ta.n_grams + tb.n_grams - shared_grams) AS jaccard
         |FROM p JOIN tot ta ON ta.source = p.source_a
         |       JOIN tot tb ON tb.source = p.source_b""".stripMargin,
    // mirrors the Spark decomposition: per-source bottom-k (dense_rank)
    // of the shared 60-bit gram hash, pair-union bottom-k (row_number),
    // nsrc=2 intersection count, and the exact arm for the in-frame audit
    "q_source_kmv_jaccard" ->
      s"""WITH gs AS (
         |  SELECT DISTINCT source, ('0x'||substr(md5(g),1,15))::BIGINT AS gh
         |  FROM (SELECT source, UNNEST(list_distinct(${dShinglesN(8)})) AS g
         |        FROM (SELECT source, $dToks AS t FROM documents))),
         |sk AS (
         |  SELECT source, gh FROM (
         |    SELECT source, gh,
         |      DENSE_RANK() OVER (PARTITION BY source ORDER BY gh) AS dr
         |    FROM gs) WHERE dr <= 256),
         |srcs AS (SELECT DISTINCT source FROM sk),
         |pairs AS (SELECT x.source AS source_a, y.source AS source_b
         |          FROM srcs x JOIN srcs y ON x.source < y.source),
         |contrib AS (
         |  SELECT source_a, source_b, gh, COUNT(*) AS nsrc
         |  FROM sk JOIN pairs ON source = source_a OR source = source_b
         |  GROUP BY 1, 2, 3),
         |est AS (
         |  SELECT source_a, source_b, COUNT(*) AS u_size,
         |    CAST(SUM(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS inter_k
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source_a,
         |          source_b ORDER BY gh) AS rk FROM contrib)
         |  WHERE rk <= 256 GROUP BY 1, 2),
         |gss AS (SELECT * FROM gs WHERE gh % 16 = 0),
         |tot AS (SELECT source, COUNT(*) AS n_grams FROM gss GROUP BY 1),
         |ex AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    COUNT(*) AS shared
         |  FROM gss a JOIN gss b ON a.gh = b.gh AND a.source < b.source
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT e.source_a, e.source_b, u_size, inter_k,
         |    CAST(inter_k AS DOUBLE) / CAST(u_size AS DOUBLE)
         |      AS jaccard_kmv,
         |    COALESCE(CAST(shared AS DOUBLE)
         |      / (ta.n_grams + tb.n_grams - shared), 0.0) AS jaccard_sample
         |  FROM est e
         |  JOIN tot ta ON ta.source = e.source_a
         |  JOIN tot tb ON tb.source = e.source_b
         |  LEFT JOIN ex ON ex.source_a = e.source_a
         |              AND ex.source_b = e.source_b)
         |SELECT source_a, source_b, u_size, inter_k, jaccard_kmv,
         |  jaccard_sample,
         |  CAST(ABS(jaccard_kmv - jaccard_sample) <= 0.10 AS BIGINT)
         |    AS within_010
         |FROM j""".stripMargin,
    "q_collocations" ->
      s"""WITH d AS (SELECT $dToks AS t FROM documents),
         |toks AS (SELECT UNNEST(t) AS w FROM d),
         |bgs AS (SELECT UNNEST(${dShinglesN(2)}) AS bg FROM d),
         |wc AS (SELECT w, COUNT(*) AS n_w FROM toks GROUP BY 1),
         |bgc AS (SELECT bg, COUNT(*) AS n_bg FROM bgs GROUP BY 1
         |        HAVING COUNT(*) >= 5),
         |tot AS (SELECT (SELECT COUNT(*) FROM toks) AS n_tok,
         |               (SELECT COUNT(*) FROM bgs) AS b_tot)
         |SELECT bg, n_bg, w1.n_w AS n_w1, w2.n_w AS n_w2,
         |  CAST(n_bg * n_tok * n_tok AS DOUBLE)
         |    / CAST(b_tot * w1.n_w * w2.n_w AS DOUBLE) AS lift
         |FROM bgc
         |JOIN wc w1 ON string_split(bg, ' ')[1] = w1.w
         |JOIN wc w2 ON string_split(bg, ' ')[2] = w2.w
         |CROSS JOIN tot
         |ORDER BY lift DESC, bg ASC LIMIT 20""".stripMargin,
    "q_repetition_ratio" ->
      s"""SELECT doc_id, len(sh) AS n_sh, len(list_distinct(sh)) AS n_uniq,
         |  CASE WHEN len(sh) > 0
         |       THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
         |       ELSE 0.0 END AS rep_ratio
         |FROM (SELECT doc_id, $dShingles3 AS sh
         |      FROM (SELECT doc_id, $dToks AS t FROM documents))""".stripMargin,
    "q_seq_packing" ->
      s"""WITH d AS (SELECT source, doc_id,
         |             CAST(len($dToks) AS BIGINT) AS n_tok FROM documents),
         |c AS (SELECT source, doc_id, n_tok,
         |        SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM d)
         |SELECT source, CAST(FLOOR((cum - n_tok) / 2048) AS BIGINT) AS seq_id,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
         |FROM c GROUP BY 1, 2""".stripMargin,
    "q_tfidf_topterms" ->
      s"""WITH terms AS (SELECT doc_id, UNNEST($dToks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(*) AS df
         |       FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
         |j AS (SELECT doc_id, term, tf, df,
         |        CAST(tf AS DOUBLE) / df AS score FROM tf JOIN df USING (term))
         |SELECT doc_id, term, tf, df,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term ASC) AS rank
         |FROM j QUALIFY rank <= 3""".stripMargin,
    "q_doc_chunks" ->
      s"""WITH d AS (SELECT doc_id, $dToks AS t FROM documents),
         |st AS (SELECT doc_id, len(t) AS n, t,
         |         UNNEST(range(0, GREATEST(len(t), 1), 48)) AS start
         |       FROM d)
         |SELECT doc_id, CAST(start / 48 AS BIGINT) AS chunk_id,
         |  CAST(LEAST(n - start, 64) AS BIGINT) AS chunk_tok,
         |  t[CAST(start + 1 AS INT)] AS first_tok
         |FROM st WHERE start = 0 OR start - 48 + 64 < n""".stripMargin,
    "q_decontaminate" ->
      s"""WITH docs AS (SELECT doc_id, text, source FROM documents),
         |ev AS (SELECT * FROM docs WHERE doc_id % 17 = 0),
         |corpus AS (
         |  SELECT doc_id, text, source FROM docs WHERE doc_id % 17 <> 0
         |  UNION ALL
         |  SELECT doc_id + $PlantOffset, text, source FROM ev WHERE doc_id % 34 = 0),
         |eg AS (SELECT DISTINCT UNNEST(${dShinglesN(8)}) AS g
         |       FROM (SELECT $dToks AS t FROM ev)),
         |cg AS (SELECT DISTINCT doc_id, UNNEST(list_distinct(${dShinglesN(8)})) AS g
         |       FROM (SELECT doc_id, $dToks AS t FROM corpus)),
         |hits AS (SELECT DISTINCT doc_id FROM cg JOIN eg USING (g))
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM hits)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
         |FROM corpus GROUP BY source""".stripMargin,
    "q_stratified_sample" ->
      """WITH h AS (
        |  SELECT source, n_chars,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS h
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM h GROUP BY 1, 2""".stripMargin,
  )
}
