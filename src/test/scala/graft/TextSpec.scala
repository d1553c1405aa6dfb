package graft

import graft.functions.TextFunctions
import graft.ops.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("simhash: typed mapPartitions path is bit-identical to the " +
      "declarative Column path") {
    val fast = TextOps.simhashDocs(spark, dir)
    val declarative = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.simhash(TextFunctions.tokens(col("text")), 32)
        .as("simhash32"))
    assert(fast.exceptAll(declarative).isEmpty &&
      declarative.exceptAll(fast).isEmpty)
  }

  test("repetition ratio: typed mapPartitions path is bit-identical to " +
      "the declarative Column path") {
    val fast = TextOps.repetitionRatio(spark, dir)
    val declarative = TextOps.repetitionRatioDeclarative(spark, dir)
    assert(fast.exceptAll(declarative).isEmpty &&
      declarative.exceptAll(fast).isEmpty)
  }

  test("LSH bands: shingle-less docs (NULL minhashes) never pair with " +
      "each other") {
    import spark.implicits._
    // two sub-3-token docs (no shingles → all-NULL signatures) plus two
    // identical long docs; only the long pair may be a candidate
    val tmp = java.nio.file.Files.createTempDirectory("lshshort").toString
    val long = (1 to 40).map(i => s"tok$i").mkString(" ")
    Seq((1L, "a b"), (2L, "c d"), (3L, long), (4L, long))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = TextOps.minhashLshPairs(spark, tmp)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((3L, 4L)))
  }

  test("doc chunking keep-rule at window/stride boundaries") {
    import spark.implicits._
    // chunk=64, stride=48: a trailing grid position whose window is fully
    // inside the previous chunk must be dropped; a window contributing
    // even one new token must be kept
    val tmp = java.nio.file.Files.createTempDirectory("chunkb").toString
    val lens = Seq(1, 47, 48, 49, 64, 65, 112, 113)
    lens.zipWithIndex
      .map { case (n, i) =>
        (i.toLong, (1 to n).map(k => s"t$k").mkString(" ")) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.docChunks(spark, tmp)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n=49: grid pos 48 covers tokens 49..49 ⊂ chunk@0 (1..64) → dropped;
    // n=65: chunk@48 contributes token 65 → kept; n=112: chunk@48 ends at
    // n exactly so grid pos 96 is redundant; n=113: all three kept
    val want = Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 1L, 5L -> 2L, 6L -> 2L, 7L -> 3L)
    assert(got === want)
  }

  test("corpus filter: no planted copy (doc_id >= PlantOffset) survives dedup") {
    val out = TextOps.corpusFilter(spark, dir)
    // the output is per-source aggregates; re-run the pipeline's dedup
    // invariant at the doc level via the exact-dedup keep-first rule:
    // every planted copy shares text with a smaller doc_id, so keep-first
    // can never keep one. Aggregate totals must therefore match a corpus
    // with copies removed — n_docs bounded by the original corpus size.
    val total = out.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0)
    val corpus = Tables.documents(spark, dir).count()
    assert(total > 0 && total <= corpus,
      s"corpus filter kept $total docs out of $corpus originals")
  }

  test("connectedComponents matches a driver-side union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 4).foreach { trial =>
      val n = 12 + rnd.nextInt(12)
      val edges = (1 to n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: plain union-find with min-root normalization
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(x => x -> find(x)).toMap
      // bit-parity across BOTH paths: the driver union-find (default
      // gate) and the distributed loop (forced with a zero edge budget)
      val gotDriver = TextOps.connectedComponentsCounted(
          edges.toDF("d1", "d2"))._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotDist = TextOps.connectedComponentsCounted(
          edges.toDF("d1", "d2"), driverMaxEdges = 0L)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDriver === expected, s"driver path: trial $trial, edges $edges")
      assert(gotDist === expected, s"distributed path: trial $trial, edges $edges")
    }
  }

  test("connectedComponents converges on chains longer than one round " +
      "and keeps disjoint families apart") {
    import spark.implicits._
    // chain 1-2-3-4-5-6-7 (diameter 6 → multi-round), triangle 10-11-12,
    // isolated edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("d1", "d2")
    val got = TextOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = ((1L to 7L).map(_ -> 1L) ++
      (10L to 12L).map(_ -> 10L) ++ Seq(20L -> 20L, 21L -> 20L)).toMap
    assert(got === expected)
  }

  test("connectedComponents converges in O(log diameter) rounds on a " +
      "diameter-127 chain and the max-rounds guard trips when starved") {
    import spark.implicits._
    // chain 1-2-...-128: diameter 127. Pure hop-propagation needs 127
    // rounds; the hop+pointer-jump loop must finish in ~log2 of that.
    val chain = (1L to 127L).map(i => (i, i + 1)).toDF("d1", "d2")
    // driverMaxEdges = 0 forces the distributed loop — the round-count
    // claim under test is about that path (the default gate would solve
    // this tiny graph on the driver with rounds = 0)
    val (labels, rounds) = TextOps.connectedComponentsCounted(chain,
      driverMaxEdges = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 128L).map(_ -> 1L).toMap)
    assert(rounds <= 10, s"expected O(log 127) ~ <=10 rounds, took $rounds")
    // the defensive bound: a budget below the need must throw, not spin
    assertThrows[IllegalStateException] {
      TextOps.connectedComponentsCounted(chain, maxRounds = 2,
        driverMaxEdges = 0L)
    }
  }

  test("CC hybrid gate boundary: at exactly the edge budget the driver " +
      "union-find runs (rounds==0), one past it the distributed loop runs, " +
      "and the labels are identical") {
    import spark.implicits._
    // the gate constant itself is part of the contract — a silent drift
    // (someone "tuning" it without re-sizing the driver-memory assumption
    // documented next to it) must fail a spec, not a production driver
    assert(TextOps.CcDriverMaxEdges === (1L << 20),
      "CcDriverMaxEdges drifted from the documented 2^20 (~16 MB) budget")
    // chain (multi-round diameter) + triangle + isolated edge
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L)))
      .toDF("d1", "d2")
    val e = pairs.count() * 2 // the gate counts SYMMETRIZED edges
    val (atLabels, atRounds) =
      TextOps.connectedComponentsCounted(pairs, driverMaxEdges = e)
    assert(atRounds === 0,
      s"edge count == budget must take the driver path (gate is <=), got $atRounds rounds")
    val (pastLabels, pastRounds) =
      TextOps.connectedComponentsCounted(pairs, driverMaxEdges = e - 1)
    assert(pastRounds > 0,
      "edge count == budget + 1 must take the distributed loop")
    val a = atLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = pastLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "the two paths diverged at the gate boundary")
  }

  test("delta dedup: planted re-ingests are flagged (non-degenerate) and " +
      "the batch splits exactly into dup + new") {
    import org.apache.spark.sql.functions._
    val out = TextOps.deltaDedup(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // every source has incoming docs; dup + new == incoming; and the
    // planted re-ingests make the dup count strictly positive overall
    // (a degenerate zero here means the plant rule collided with the
    // batch split — the failure the 7-coprime-5 choice prevents)
    assert(out.nonEmpty)
    out.foreach { case (src, (inc, dup, nw)) =>
      assert(inc === dup + nw, s"$src: $inc != $dup + $nw")
    }
    assert(out.values.map(_._2).sum > 0, s"no planted dup flagged: $out")
  }

  test("delta near-dup flags a superset of delta exact-dup and stays " +
      "non-degenerate") {
    import org.apache.spark.sql.functions._
    // The superset property below (near >= exact per source) holds only
    // while every duplicate-able doc has >= 3 tokens: a shorter duplicate
    // has an empty 3-shingle set, NULL minhash band keys, and is never an
    // LSH candidate — it would count in n_dup but not n_neardup. Guard it
    // explicitly so a future corpus-generator change fails HERE with a
    // pointed message, not in the opaque superset assertion.
    val shortDocs = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) < 3).count()
    assert(shortDocs === 0L,
      s"$shortDocs docs have < 3 tokens (below the shingle width); the " +
        "near>=exact superset assertion is only valid on a >=3-token corpus")
    val nd = TextOps.deltaNearDup(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val xd = TextOps.deltaDedup(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    nd.foreach { case (src, (inc, near, clean)) =>
      assert(inc === near + clean, s"$src: $inc != $near + $clean")
      // an identical re-ingest is a Jaccard-1.0 near-dup, so per source
      // the near-dup count can never fall below the exact-dup count
      assert(near >= xd(src), s"$src: near $near < exact ${xd(src)}")
    }
    // and the batch split makes the near-dup stage genuinely additive:
    // natural cross-split near-dups exist beyond the planted re-ingests
    assert(nd.values.map(_._2).sum > xd.values.sum,
      s"no natural near-dup found beyond exact dups: $nd vs $xd")
  }

  test("typed gramRows is bit-identical to the declarative shingle explode") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val typed = TextOps.gramRows(spark, docs, 8)
    val declarative = docs.select(col("doc_id"),
      explode(array_distinct(
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 8)))
        .as("g"))
    assert(typed.exceptAll(declarative).count() === 0)
    assert(declarative.exceptAll(typed).count() === 0)
    // keyed variant: same grams grouped by source
    val bySource = TextOps.gramRowsBy(spark,
      graft.Tables.documents(spark, dir), col("source"), 8)
    assert(bySource.count() === typed.count())
  }

  test("heavy hitters: planted boundary is live on BOTH sides and the " +
      "sketch found every true heavy within bound") {
    val rows = TextOps.heavyHitters(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // exactly the two planted heavies — a 0-row result means the plant
    // calibration degenerated against the real token base rate (both
    // engines would agree on empty, so only this liveness spec catches
    // it — it DID happen, at 10 reps); zz_hot_c below threshold proves
    // the non-heavy side is populated too
    assert(rows.keySet === Set("zz_hot_a", "zz_hot_b"),
      s"expected exactly the planted heavies, got ${rows.keySet}")
    rows.foreach { case (tok, (ct, n, found, estOk)) =>
      assert(ct * 8 > n, s"$tok not actually heavy ($ct vs n=$n)")
      assert(found === 1L, s"MG lost true heavy hitter $tok")
      assert(estOk === 1L, s"MG estimate for $tok out of bound")
    }
  }

  test("count-min sketch: est >= exact on every key and BOTH accuracy " +
      "arms are live (some key collides in all rows, some is clean)") {
    val rows = TextOps.cmsFreq(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.length > 10, s"vocabulary collapsed: ${rows.length} keys")
    rows.foreach { case (tok, (exact, est, overOk)) =>
      assert(est >= exact, s"CMS under-counted $tok: $est < $exact")
      assert(overOk === 1L)
    }
    // w=16 over the ~31-token vocabulary is calibrated so both arms
    // fire at every SF: if every key's min cell were clean the sketch
    // would be degenerate-exact (w too wide to test anything), and if
    // none were clean the min-over-rows lever would be dead (w too
    // narrow to ever isolate a key)
    assert(rows.exists { case (_, (exact, est, _)) => est > exact },
      "no key over-estimated — collision arm dead, sketch trivially exact")
    assert(rows.exists { case (_, (exact, est, _)) => est === exact },
      "no key recovered exactly — min-over-rows arm dead")
  }

  test("dup-span profile: planted re-ingests keep docs_over_half provably live") {
    val spark = TestSession.spark
    import spark.implicits._
    val nPlants = Tables.documents(spark, TestSession.sf)
      .filter(col("doc_id") % 29 === 0).count()
    assert(nPlants > 0, "degenerate: no % 29 docs — plant modulus broken")
    val rows = graft.ops.TextOps.dupSpanProfile(spark, TestSession.sf)
      .select(sum(col("docs_over_half")).cast("long"))
      .as[Long].head()
    // every plant AND its byte-identical source profile at ratio 1.0 —
    // both engines would agree on a degenerate zero (empty plant set), so
    // only this liveness floor catches a broken plant construction
    assert(rows >= 2 * nPlants,
      s"docs_over_half total $rows < ${2 * nPlants} (plants not live)")
  }

  test("containment: every planted excerpt is flagged at containment 1.0") {
    val spark = TestSession.spark
    import spark.implicits._
    val nPlants = Tables.documents(spark, TestSession.sf)
      .filter(col("doc_id") % 40 === 0).count()
    assert(nPlants > 0, "degenerate: no % 40 docs — plant modulus broken")
    val plantOffset = 1L << 62 // TextOps.PlantOffset (private[ops])
    val plantRows = graft.ops.TextOps
      .containmentPairs(spark, TestSession.sf)
      .filter(col("small_id") >= plantOffset &&
        col("big_id") === col("small_id") - plantOffset)
      .select(col("containment")).as[Double].collect()
    assert(plantRows.length == nPlants,
      s"${plantRows.length} of $nPlants planted excerpt→host pairs flagged")
    assert(plantRows.forall(_ == 1.0), "excerpt shingles not a host subset")
  }

  test("subword tokenizer: greedy segmentation round-trips every " +
      "dictionary word and the trained merges are actually used") {
    val spark = TestSession.spark
    import spark.implicits._
    val dir = TestSession.sf
    val dict = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .distinct().as[String].collect().toSet
    val vocab = TextOps.subwordVocabQuery(spark, dir)
      .select(col("g")).as[String].collect().toSet
    assert(vocab.size > 0 && vocab.forall(g => g.length >= 2 && g.length <= 4))

    // re-run the greedy rule here (chars ∪ trained) and check round-trip
    val chars = dict.flatMap(_.toCharArray.map(_.toString))
    val v = vocab ++ chars
    var multiUsed = false
    dict.foreach { word =>
      var pos = 0
      val sb = new StringBuilder
      while (pos < word.length) {
        var len = math.min(4, word.length - pos)
        while (len > 1 && !v.contains(word.substring(pos, pos + len)))
          len -= 1
        if (len > 1) multiUsed = true
        sb.append(word.substring(pos, pos + len))
        pos += len
      }
      assert(sb.toString == word, s"greedy segmentation broke '$word'")
    }
    assert(multiUsed, "degenerate: no trained gram ever matched — " +
      "the tokenizer collapsed to character splitting")

    // and the query's accounting is consistent: subtokens >= words,
    // fertility strictly between 1 and the char-split upper bound
    val rows = TextOps.subwordTokenize(spark, dir)
      .select(col("n_words"), col("n_subtokens"), col("fertility"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, ns, f) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(ns >= nw && f >= 1.0 && f < 8.0)
    }
  }

  test("span dedup: full copies empty out, partial plants lose exactly " +
      "the 16-token prefix, untouched docs are byte-exact, and the " +
      "natural boilerplate leg is live") {
    val spark = TestSession.spark
    import spark.implicits._
    val out = TextOps.spanDedup(spark, TestSession.sf).localCheckpoint()
    val po1 = 1L << 62
    val po2 = (1L << 62) + (1L << 61)

    val full = out.filter(col("doc_id") >= po2)
    assert(full.count() > 0)
    assert(full.filter(col("n_covered") =!= col("n_tok") ||
      col("chars_out") =!= 0).count() == 0,
      "a full copy kept a token — some of its spans were not dominated")

    // partial plants: coverage is EXACTLY the copied 16-token prefix
    // (grams straddling into the unique zz tail are their own winners)
    val partial = out.filter(col("doc_id") >= po1 && col("doc_id") < po2)
    assert(partial.count() > 0)
    assert(partial.filter(col("n_covered") =!= 16).count() == 0,
      "partial-plant coverage leaked past the prefix boundary")

    val untouched = out
      .filter(col("doc_id") < po1 && col("n_covered") === 0)
      .join(Tables.documents(spark, TestSession.sf), Seq("doc_id"))
    assert(untouched.count() > 0)
    assert(untouched.filter(col("out_fp") =!= md5(col("text"))).count() == 0)

    // the corpus generator repeats boilerplate phrases across docs —
    // the base-side span removal must be live on them
    assert(out.filter(col("doc_id") < po1 && col("n_covered") > 0)
      .count() > 0, "degenerate: no natural repeated spans removed")
  }

  test("segment dedup: both plant families live (partial keeps its unique " +
      "tail, full copies empty out) and reassembly is byte-exact") {
    val spark = TestSession.spark
    import spark.implicits._
    val out = TextOps.segmentDedup(spark, TestSession.sf).localCheckpoint()
    val po1 = 1L << 62          // TextOps.PlantOffset (private[ops])
    val po2 = (1L << 62) + (1L << 61) // TextOps.PlantOffset2

    // family 1: host-prefix + unique tail → EXACTLY one kept segment of two
    val partial = out.filter(col("doc_id") >= po1 && col("doc_id") < po2)
    val nPartialHosts = Tables.documents(spark, TestSession.sf)
      .filter(col("doc_id") % 41 === 3 &&
        size(split(col("text"), " ")) >= 16).count()
    assert(nPartialHosts > 0, "degenerate: no % 41 hosts with >= 16 tokens")
    assert(partial.count() == nPartialHosts)
    assert(partial.filter(col("n_seg") === 2 && col("n_kept") === 1 &&
      col("n_dropped") === 1).count() == nPartialHosts,
      "partial plants must lose the copied prefix and keep the zz tail")

    // family 2: byte-identical re-ingest → everything dropped, md5('') out
    val full = out.filter(col("doc_id") >= po2)
    val nFull = Tables.documents(spark, TestSession.sf)
      .filter(col("doc_id") % 43 === 7).count()
    assert(nFull > 0, "degenerate: no % 43 docs — plant modulus broken")
    assert(full.count() == nFull)
    assert(full.filter(col("n_kept") === 0 && col("chars_out") === 0 &&
      col("out_fp") === "d41d8cd98f00b204e9800998ecf8427e").count() == nFull,
      "full copies must reassemble to the empty document")

    // untouched docs reassemble to their EXACT original bytes
    val untouched = out.filter(col("doc_id") < po1 && col("n_dropped") === 0)
      .join(Tables.documents(spark, TestSession.sf), Seq("doc_id"))
    assert(untouched.count() > 0, "degenerate: every base doc lost a segment")
    assert(untouched.filter(col("out_fp") =!= md5(col("text"))).count() == 0,
      "reassembly of an untouched doc must be byte-identical")

    // the base-side natural-collision leg is live too (short final
    // segments collide across docs at every measured sf)
    assert(out.filter(col("doc_id") < po1 && col("n_dropped") > 0).count() > 0,
      "degenerate: no base-side segment collisions — base leg untested")
  }

  test("fp60-hashed blocked jaccard is bit-parity with the string-verify " +
      "blocked form on the live corpus") {
    // the prefix-filtered hashed pipeline against the string-shingle
    // self-join: pair set, counts, and jaccard values must all survive
    // the filtering and the hashing
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val naive = key(TextOps.queries("q_ngram_jaccard")(spark, dir))
    val hashed = key(TextOps.queries("q_ngram_jaccard_hashed")(spark, dir))
    assert(hashed === naive)
  }

  test("epoch plan: targets exhaust the budget up to floor slack and " +
      "repeats actually happen") {
    val rows = TextOps.queries("q_epoch_plan")(spark, dir).collect()
    assert(rows.length === 20)
    val totalTok = rows.map(_.getAs[Long]("n_tok")).sum
    val budget = totalTok * TextOps.EpochBudgetX
    val targets = rows.map(_.getAs[Long]("target_tok"))
    assert(targets.sum <= budget)
    assert(targets.sum > budget - budget / 100,
      "floor slack above 1% — the integer plan is leaving budget unused")
    rows.foreach { r =>
      val epochs = r.getAs[Long]("epochs")
      val ceil = (r.getAs[Long]("target_tok") + r.getAs[Long]("n_tok") - 1) /
        r.getAs[Long]("n_tok")
      assert(epochs === ceil)
      assert(epochs >= 1L)
    }
    assert(rows.exists(_.getAs[Long]("epochs") > 1L),
      "degenerate: no source repeats under a 4x budget")
    val shares = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shares - 1.0) < 1e-9)
  }

  test("segment near-dup: every partial plant pairs with its host's " +
      "first segment at hamming 0") {
    val pairs = TextOps.queries("q_segment_neardup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    val po = 1L << 62 // PlantOffset (partial-plant id shift)
    val hosts = Tables.documents(spark, dir)
      .filter(col("doc_id") % 41 === 3 &&
        size(split(col("text"), " ")) >= 16)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(hosts.nonEmpty)
    hosts.foreach { h =>
      assert(pairs.exists(p =>
          p._1 === h && p._2 === 0L && p._3 === h + po && p._4 === 0L &&
            p._5 === 0),
        s"partial plant of doc $h: first-segment hamming-0 pair missing")
    }
    // the detector must also fire beyond its own plants (natural
    // passage-level near-dups under the shared generator vocabulary)
    assert(pairs.exists(p => p._1 < po && p._3 < po),
      "no natural (non-plant) near-dup passage pair — detector only " +
        "sees what it planted")
  }

  test("importance resampling: the keep rule is live (rejects some docs, " +
      "keeps some) and the pooled ratio is positive") {
    val rows = TextOps.queries("q_importance_resample")(spark, dir).collect()
    assert(rows.length === 20) // one row per source
    val kept = rows.map(_.getAs[Long]("n_kept")).sum
    val docs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(kept > 0L, "degenerate: resampler kept nothing")
    assert(kept < docs,
      "degenerate: resampler kept everything — the md5-permille rule " +
        "never fired, the integer keep inequality proves nothing")
    rows.foreach { r =>
      val share = r.getAs[Double]("kept_share")
      assert(share >= 0.0 && share <= 1.0)
      assert(r.getAs[Double]("pooled_importance") > 0.0)
    }
  }

  test("split leakage: component-grain split leaks zero pairs while the " +
      "per-doc split provably leaks on the plant families") {
    val rows = TextOps.queries("q_split_leakage")(spark, dir).collect()
    assert(rows.nonEmpty)
    val leaked = rows.head.getAs[Long]("leaked_pairs")
    val naive = rows.head.getAs[Long]("naive_leaked_pairs")
    assert(leaked === 0L,
      s"component-grain split leaked $leaked near-dup pairs across splits")
    assert(naive > 0L,
      "degenerate: the per-doc split leaked nothing — plants dead or " +
        "pair graph empty, the audit proves nothing")
    // the splits partition the plant-augmented corpus exactly
    val docs = Tables.documents(spark, TestSession.sf).count()
    val plants = Tables.documents(spark, TestSession.sf)
      .filter(col("doc_id") % 30 === 0).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs + plants)
  }

  test("neardup canonical: plants live, accounting reconciles, and pure " +
      "plant-pair components pick the ORIGINAL on the n_chars tie") {
    val rows = TextOps.queries("q_neardup_canonical")(spark, dir).collect()
    assert(rows.nonEmpty, "no near-dup families — plants dead?")
    val plantOffset = 1L << 62 // TextOps.PlantOffset (private[ops])
    val nPlants = Tables.documents(spark, TestSession.sf)
      .filter(col("doc_id") % 30 === 0).count()
    assert(nPlants > 0)
    // every component in the pair graph is multi-doc by construction
    rows.foreach { r =>
      val (members, dropped) =
        (r.getAs[Long]("n_members"), r.getAs[Long]("n_dropped"))
      assert(members >= 2 && dropped === members - 1)
      assert(r.getAs[Long]("chars_kept") >= 0 &&
        r.getAs[Long]("chars_dropped") >= 0)
    }
    // each planted copy has a guaranteed hamming-0 pair with its
    // original, so plants+originals are all members of some family
    assert(rows.map(_.getAs[Long]("n_members")).sum >= nPlants * 2,
      "plant families missing from the component cover")
    // THE TIE-BREAK ARM: a pure plant pair {D, D+2^62} has identical
    // n_chars (chars_dropped == chars_kept at n_members == 2), and the
    // canonical must be the ORIGINAL id, never the plant
    val pure = rows.filter(r => r.getAs[Long]("n_members") == 2 &&
      r.getAs[Long]("chars_kept") == r.getAs[Long]("chars_dropped"))
    assert(pure.nonEmpty, "no pure plant-pair component — tie-break " +
      "arm never exercised")
    pure.foreach { r =>
      assert(r.getAs[Long]("canonical_id") < plantOffset,
        s"tie-break picked the plant: ${r.getAs[Long]("canonical_id")}")
    }
  }

  test("heavy-duplication plant: one fingerprint shared by thousands of " +
      "docs flows through the one-pass dedup aggregations and drops " +
      "exactly the non-winner occurrences (skew-bound liveness, " +
      "ADVICE r15)") {
    val spark = TestSession.spark
    import spark.implicits._
    // K docs, each = the SAME hot 16-token segment + a unique 16-token
    // tail: the hot segment's fp collects K+ occurrences (plus the
    // plantedAug copies the operators add on top) into ONE aggregation
    // buffer row — the adversarial input for the r15 one-pass shape.
    // K is coprime-irrelevant here (plants ride %41/%43 of these ids,
    // which only ADD occurrences); what's pinned is that the hot-fp
    // buffer completes and every non-winner occurrence is dropped.
    val K = 3000
    val tmp = java.nio.file.Files.createTempDirectory("heavyfp").toString
    val hot = (1 to 16).map(i => s"hot$i").mkString(" ")
    (0 until K).map { i =>
      (i.toLong, "webtext",
        hot + " " + (1 to 16).map(k => s"u${i}_$k").mkString(" "))
    }.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val po1 = 1L << 62 // TextOps.PlantOffset

    // segment grain: every base doc is [hot, unique-tail]; the winner
    // (doc 0) keeps both segments, every other base doc drops exactly
    // the hot one and keeps its tail
    val seg = TextOps.segmentDedup(spark, tmp)
      .filter(col("doc_id") < po1).localCheckpoint()
    assert(seg.count() == K)
    assert(seg.filter(col("doc_id") === 0 && col("n_kept") === 2)
      .count() == 1, "the heavy fp's min-(doc,seg) winner lost a segment")
    assert(seg.filter(col("doc_id") > 0).filter(
      col("n_seg") =!= 2 || col("n_kept") =!= 1 || col("n_dropped") =!= 1)
      .count() == 0,
      "a non-winner base doc did not drop exactly the hot segment")

    // span grain: the hot prefix's 9 8-token spans cover tokens 0..15 of
    // every non-winner base doc; straddle spans into the unique tail are
    // their own winners, so coverage is EXACTLY the 16 hot tokens
    val span = TextOps.spanDedup(spark, tmp)
      .filter(col("doc_id") < po1).localCheckpoint()
    assert(span.count() == K)
    assert(span.filter(col("doc_id") === 0 && col("n_covered") === 0)
      .count() == 1, "the span winner doc lost tokens")
    assert(span.filter(col("doc_id") > 0)
      .filter(col("n_covered") =!= 16).count() == 0,
      "non-winner coverage must be exactly the 16 hot-prefix tokens")
  }
}
