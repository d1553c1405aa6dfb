package graft

import graft.streaming.StatefulOps._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the dedup operators: the streaming daily dedup keeps one
  * row per (key, date) under any batching, and each blocked or filtered
  * batch candidate generator equals brute force on random inputs. */
class DedupPropertySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** Property: for ANY arrival pattern split across micro-batches (events
    * in chronological order per key, as a replayed log would be),
    * dailyDedupTws emits exactly one event per (key, date), the first of
    * that day: the invariant the reference's ValueState dedup maintains
    * (DwdTrafficUniqueVisitorDetail.java:69-98). */
  test("dailyDedup emits exactly one row per (key, date) under random batching") {
    val rnd = new scala.util.Random(42)
    val keys = (1 to 20).map(i => s"u$i")
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    // chronological event log: day-major, random per-day activity
    val events = days.zipWithIndex.flatMap { case (day, di) =>
      keys.flatMap { k =>
        val n = rnd.nextInt(4) // 0..3 events for this key this day
        (0 until n).map(j =>
          KeyedEvent(k, di * 86400000L + rnd.nextInt(86400000), day))
      }.sortBy(_.ts)
    }
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedEvent]
    val q = dailyDedupTws(in.toDS()).writeStream
      .format("memory").queryName("ddp").outputMode(OutputMode.Append).start()
    // split the chronological log into random-sized micro-batches;
    // skipping a processAllAvailable lets several slices land in one batch
    var rest = events
    while (rest.nonEmpty) {
      val take = 1 + rnd.nextInt(17)
      in.addData(rest.take(take))
      if (rnd.nextBoolean()) q.processAllAvailable()
      rest = rest.drop(take)
    }
    q.processAllAvailable()
    val got = spark.table("ddp").as[KeyedEvent].collect()
    q.stop()
    val expected = events.map(e => (e.key, e.date)).distinct.toSet
    assert(got.map(e => (e.key, e.date)).toSet === expected)
    assert(got.length === expected.size, "no duplicate emissions")
    // each emitted row is the FIRST of its (key, day)
    val firsts = events.groupBy(e => (e.key, e.date))
      .map { case (_, g) => g.minBy(_.ts) }.toSet
    assert(got.toSet === firsts)
  }

  /** Property: deletion-neighborhood blocking finds EXACTLY the edit-
    * distance ≤ 1 pairs of any dictionary — completeness (no pair at
    * distance ≤ 1 lacks a shared block key) is the mathematical claim the
    * scaladoc makes; random small-alphabet dictionaries force dense near-
    * matches including the insertion/deletion cases, not just
    * substitutions. */
  test("blocked fuzzy matching equals brute-force lev<=1 on random dictionaries") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(
        j => if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val dict = (1 to 60).map(_ =>
        (1 to (2 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(3)).toChar)
          .mkString).distinct
      val expected = (for {
        a <- dict; b <- dict if a < b && lev(a, b) <= 1
      } yield (a, b, lev(a, b))).toSet
      val got = graft.ops.Relational.blockedNearPairs(
          dict.toDF("v"), "v")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        .toSet
      assert(got === expected, s"trial $trial over ${dict.size} strings")
    }
  }

  /** Property: the 2-deletion neighborhood is complete for distance ≤ 2 —
    * the SymSpell maxEditDistance=2 claim behind q_fuzzy_brand2 /
    * q_fuzzy_type2. Small-alphabet random dictionaries make distance-2
    * pairs dense across ALL op mixes (two substitutions, sub+indel,
    * two indels, length-diff-2 pure deletions); the brute-force arm is
    * the plain-Scala DP, so any missed key family diverges here before
    * it could reach the gate. Includes the degenerate bottom of the
    * domain ("", 1-char, 2-char strings: everything within length 2 of
    * each other pairs). */
  test("blocked fuzzy matching equals brute-force lev<=2 on random dictionaries") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(
        j => if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val dict = ((1 to 50).map(_ =>
        (1 to rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(3)).toChar)
          .mkString) ++ Seq("", "a", "ab")).distinct
      val expected = (for {
        a <- dict; b <- dict if a < b && lev(a, b) <= 2
      } yield (a, b, lev(a, b))).toSet
      val got = graft.ops.Relational.blockedNearPairs2(
          dict.toDF("v"), "v")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        .toSet
      assert(got === expected, s"trial $trial over ${dict.size} strings")
      assert(expected.exists(_._3 == 2), s"trial $trial degenerate: no " +
        "distance-2 pair in the dictionary")
    }
  }

  /** Property: prefix filtering is COMPLETE — the prefix-filtered
    * all-pairs Jaccard of q_ngram_jaccard_hashed equals a pure-Scala brute
    * force over every pair, on random dense corpora (4-token alphabet →
    * heavy shingle sharing, i.e. the hot-key regime the prefix filter
    * exists for) with planted copies (exact + one-token-perturbed) so the
    * ≥0.6 set is provably non-empty. The 125 possible 3-shingles over the
    * four tokens plus the perturbation token have no fp60 collision, so
    * hashing cannot mask a missed candidate: any would diverge here. */
  test("prefix-filtered jaccard equals brute force on random dense corpora") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val base = (1 to 40).map { id =>
        val n = 4 + rnd.nextInt(9)
        (id.toLong,
          (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar.toString).mkString(" "))
      }
      // planted near-dups: every 5th doc re-issued verbatim (J = 1.0) and
      // every 7th with its last token perturbed (J just under 1)
      val docs = base ++
        base.filter(_._1 % 5 == 0).map { case (id, t) => (id + 1000, t) } ++
        base.filter(_._1 % 7 == 0).map { case (id, t) =>
          (id + 2000, t.split(" ").init.mkString(" ") + " z") }
      def shset(t: String): Set[String] =
        t.split(" ", -1).sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      val sets = docs.map { case (id, t) => id -> shset(t) }.toMap
      val expected = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a < b && sa.nonEmpty && sb.nonEmpty
        c = (sa & sb).size
        if c.toDouble / (sa.size + sb.size - c) >= 0.6
      } yield (a, b, c.toLong, sa.size.toLong, sb.size.toLong)).toSet
      assert(expected.nonEmpty, s"trial $trial: degenerate corpus (no pairs)")
      val got = graft.ops.TextOps
        .ngramJaccardHashedOf(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSet
      assert(got === expected, s"trial $trial over ${docs.size} docs")
    }
  }

  /** Property: PPJoin POSITIONAL filtering is EXACT — pruning a candidate
    * by `k + min(n1−i_k, n2−j_k) < ceil(3(n1+n2)/8)` can never drop a pair
    * with J ≥ 0.6 (Xiao et al. WWW'08 §3.2 upper bound). Same brute-force
    * contract as the prefix-filter test above, fresh seed, on the dense
    * 4-token-alphabet corpora (no fp60 collision, as above) where prefix
    * collisions (and hence the positional filter's opportunities AND its
    * risk surface) are maximal.
    * Any false negative from the positional bound would diverge here. */
  test("ppjoin positional-filtered jaccard equals brute force on random dense corpora") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val base = (1 to 40).map { id =>
        val n = 4 + rnd.nextInt(9)
        (id.toLong,
          (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar.toString).mkString(" "))
      }
      val docs = base ++
        base.filter(_._1 % 5 == 0).map { case (id, t) => (id + 1000, t) } ++
        base.filter(_._1 % 7 == 0).map { case (id, t) =>
          (id + 2000, t.split(" ").init.mkString(" ") + " z") }
      def shset(t: String): Set[String] =
        t.split(" ", -1).sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      val sets = docs.map { case (id, t) => id -> shset(t) }.toMap
      val expected = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a < b && sa.nonEmpty && sb.nonEmpty
        c = (sa & sb).size
        if c.toDouble / (sa.size + sb.size - c) >= 0.6
      } yield (a, b, c.toLong, sa.size.toLong, sb.size.toLong)).toSet
      assert(expected.nonEmpty, s"trial $trial: degenerate corpus (no pairs)")
      val got = graft.ops.TextOps
        .ngramJaccardHashedOf(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSet
      assert(got === expected, s"trial $trial over ${docs.size} docs")
    }
  }

  /** Property: the asymmetric prefix filter of containmentPairsOf is
    * COMPLETE — the flagged set equals a pure-Scala brute force over every
    * ORDERED pair, on random dense corpora with planted excerpts (strict
    * prefixes of their hosts, containment 1.0) and near-excerpts. A
    * candidate missed by probing only A's floor(n/5)+1 rarest 4-shingles
    * against the full index would diverge here. */
  test("prefix-filtered containment equals brute force on random corpora") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val base = (1 to 30).map { id =>
        val n = 8 + rnd.nextInt(12)
        (id.toLong,
          (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar.toString).mkString(" "))
      }
      // planted excerpts: leading-token prefixes of every 4th doc (their
      // 4-shingle sets are subsets of the host's → containment 1.0), and
      // a perturbed variant whose containment is high but below 1
      val docs = base ++
        base.filter(_._1 % 4 == 0).map { case (id, t) =>
          (id + 1000, t.split(" ").take(6).mkString(" ")) } ++
        base.filter(_._1 % 6 == 0).map { case (id, t) =>
          (id + 2000, t.split(" ").take(7).mkString(" ") + " z") }
      def shset(t: String): Set[String] =
        t.split(" ", -1).sliding(4).filter(_.length == 4)
          .map(_.mkString(" ")).toSet
      val sets = docs.map { case (id, t) => id -> shset(t) }.toMap
      val expected = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b && sa.nonEmpty && sb.nonEmpty
        c = (sa & sb).size
        if c * 5 >= sa.size * 4
      } yield (a, b, c.toLong, sa.size.toLong, sb.size.toLong)).toSet
      assert(expected.nonEmpty, s"trial $trial: degenerate corpus (no pairs)")
      val got = graft.ops.TextOps
        .containmentPairsOf(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSet
      assert(got === expected, s"trial $trial over ${docs.size} docs")
    }
  }
}
