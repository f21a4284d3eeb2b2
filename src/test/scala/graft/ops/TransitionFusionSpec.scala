package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the round-8 additions: per-user event transitions (q49),
  * IVF Lloyd-step drift (s20), reciprocal-rank fusion (s21), and the
  * average-neighbor-degree curve (g13). */
class TransitionFusionSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  test("q49: a known stream yields exact transition counts and floor-div ppm") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // user 1: a→b→a→c ; user 2: a→b. Transitions: a→b ×2, b→a ×1, a→c ×1.
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "c"),
      (2L, 1L, "a"), (2L, 2L, "b")
    ).toDF("user_id", "event_id", "et")
      .select($"user_id", $"event_id", $"et".as("event_type"),
        (to_timestamp(lit("2024-01-01 00:00:00")) +
          expr("make_interval(0, 0, 0, 0, 0, 0, event_id)")).as("ts"))
    val out = Temporal.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // from 'a': 3 transitions total → a→b = 2/3 = 666666 ppm (floor), a→c = 333333
    assert(out(("a", "b")) == ((2L, 666666L)))
    assert(out(("a", "c")) == ((1L, 333333L)))
    assert(out(("b", "a")) == ((1L, 1000000L)))
    assert(!out.contains(("b", "c")) && !out.contains(("c", "a")),
      "streams must not leak across users")
  }

  test("q49: ts ties are broken by event_id, not arrival order") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // same ts for all three events; event_id order is c(3) ← b(2) ← a(1)
    val ev = Seq((9L, 3L, "c"), (9L, 1L, "a"), (9L, 2L, "b"))
      .toDF("user_id", "event_id", "et")
      .select($"user_id", $"event_id", $"et".as("event_type"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
    val out = Temporal.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("a", "b"), ("b", "c")))
  }

  test("s20: cells partition the corpus and drift_cos is a valid cosine") {
    val rows = Similarity.s20(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 100 == 0, "cell ids must be the coarse centroids")
      assert(r.getLong(1) >= 1, "a centroid is always a member of its own cell")
      if (!r.isNullAt(2)) {
        val c = r.getDouble(2)
        assert(c >= -1.000001 && c <= 1.000001, s"cos out of range: $c")
      }
    }
    val total = rows.map(_.getLong(1)).sum
    val n = Tables.t(spark, dir, "embeddings").count()
    assert(total == n, s"cells must partition the corpus: $total != $n")
  }

  test("s21: fused candidates appearing in both lists outrank via summed RRF") {
    val rows = Similarity.s21(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (qid, g) =>
      assert(g.length <= 5)
      val ranked = g.sortBy(_.getInt(1))
      assert(ranked.map(_.getInt(1)).toSeq == (1 to g.length).toSeq)
      val scores = ranked.map(_.getLong(3)).toSeq
      assert(scores == scores.sorted.reverse, s"RRF not descending for $qid")
      g.foreach { r =>
        assert(r.getLong(2) != qid, "query fused as its own neighbor")
        val nLists = r.getLong(4)
        assert(nLists == 1L || nLists == 2L)
        // max per-list contribution is 1000000 div 61 = 16393
        if (nLists == 1L) assert(r.getLong(3) <= 16393L)
        else assert(r.getLong(3) <= 2 * 16393L && r.getLong(3) >= 2 * (1000000 / 70))
      }
    }
  }

  test("g13: a star graph puts leaves at knn = hub degree and the hub at knn = 1") {
    val s = spark
    import s.implicits._
    // star: 0–1, 0–2, 0–3 → hub degree 3, leaves degree 1
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("da", "db")
    val out = GraphOps.knnDegree(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((3L, 3L, 3.0))) // 3 leaves, 3 stubs, each neighbor = hub(3)
    assert(out(3L) == ((1L, 3L, 1.0))) // the hub: 3 stubs, all neighbors degree 1
  }

  test("q50: paths never cross a 30-minute session break") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // u1: a,b,c within minutes → one trigram (a,b,c); then a 30-min gap
    // and d,e,f → one trigram (d,e,f). NO trigram spans the break.
    val ev = Seq(
      (1L, 1L, "a", 0), (2L, 1L, "b", 60), (3L, 1L, "c", 120),
      (4L, 1L, "d", 1920), (5L, 1L, "e", 1980), (6L, 1L, "f", 2040)
    ).toDF("event_id", "user_id", "et", "off")
      .select($"event_id", $"user_id", $"et".as("event_type"),
        (to_timestamp(lit("2024-01-01 00:00:00")) +
          expr("make_interval(0, 0, 0, 0, 0, 0, off)")).as("ts"))
    val out = Temporal.pathTrigrams(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(out == Set(("a", "b", "c", 1L), ("d", "e", "f", 1L)))
  }

  test("t33: identical per-source distributions give tv_ppm 0; disjoint ones near 1e6") {
    val s = spark
    import s.implicits._
    // srcA and srcB have the SAME distribution (each = half the corpus):
    // p_i == q_i for every token → TV = 0 for both.
    val same = Seq(("A", "x y x"), ("B", "x y x")).toDF("source", "text")
    val got = TextAnalysis.sourceDrift(same).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("A" -> 0L, "B" -> 0L))
    // disjoint vocabularies: each source holds half the corpus mass, so
    // TV vs the corpus = 1/2 exactly → 500000 ppm
    val disj = Seq(("A", "x x x x"), ("B", "y y y y")).toDF("source", "text")
    val got2 = TextAnalysis.sourceDrift(disj).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got2 == Map("A" -> 500000L, "B" -> 500000L))
  }

  test("m10: constant, varied, and empty payloads profile correctly") {
    val rows = graft.ops.Multimodal.m10(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val d = r.getLong(2)
      if (n == 0) { assert(d == 0 && r.isNullAt(3)) }
      else {
        val ppm = r.getLong(3)
        assert(d >= 1 && d <= n)
        // mode share is bounded below by the uniform share and above by 1
        assert(ppm <= 1000000L && ppm >= 1000000L / n - 1)
      }
    }
  }

  test("t34: the lowest doc_id survives; removed mass counts every later copy") {
    val s = spark
    import s.implicits._
    // srcA: "a b" twice (4 tokens, one copy removable = 2 tokens) plus a
    // unique 3-token doc; srcB: a third copy of "a b" — removed even
    // though its keeper lives in srcA (cross-source groups attribute the
    // loss to the source holding the copy).
    val docs = Seq(
      (1L, "A", "a b"), (2L, "A", "a b"), (3L, "A", "u v w"),
      (4L, "B", "a b")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.dedupTokenLoss(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // A: 7 tokens, 1 doc removed (id 2), 2 tokens removed → 285714 ppm
    assert(out("A") == ((7L, 1L, 2L, 285714L)))
    // B: 2 tokens, its only doc removed → 1000000 ppm
    assert(out("B") == ((2L, 1L, 2L, 1000000L)))
  }

  test("t47: qiClasses collapses docs to (lang, source, len_bucket) class sizes") {
    val s = spark
    import s.implicits._
    // (en, web, bucket 0) has 3 members; (fr, web, 0) has 1
    val docs = Seq(
      (1L, "en", "web", 50L), (2L, "en", "web", 120L), (3L, "en", "web", 10L),
      (4L, "fr", "web", 30L)).toDF("doc_id", "lang", "source", "n_chars")
    val got = TextAnalysis.qiClasses(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(("en", "web", 0L, 3L), ("fr", "web", 0L, 1L)))
  }

  test("g14: a borderline-glued chain splits; a tight clique is robust") {
    val s = spark
    import s.implicits._
    // cluster 1: a(1)-b(2) at 0.6 (coarse only), b(2)-c(3) at 0.8 →
    // coarse {1,2,3}, fine {1} + {2,3} → n_fine 2, split.
    // cluster 2: d(10)-e(11) at 0.9 → robust, n_fine 1.
    val jac = Seq(
      (1L, 2L, 0.6), (2L, 3L, 0.8), (10L, 11L, 0.9)
    ).toDF("da", "db", "jac")
    val out = GraphOps.thresholdStability(jac).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((3L, 2L, 1L)))
    assert(out(10L) == ((2L, 1L, 0L)))
  }

  test("g15: PPR mass decays from the seed; unreachable components score zero") {
    val s = spark
    import s.implicits._
    // path 1-2-3 with seed 1; disconnected pair 10-11 with no seed
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val seeds = Seq(Tuple1(1L)).toDF("doc_id")
    val out = GraphOps.personalizedPagerank(edges, seeds).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == 1L && out(2L)._1 == 0L)
    // every vertex reachable from the seed carries mass (3 rounds reach
    // 3 hops); on a 2-path mass OSCILLATES between odd/even distances at
    // a fixed round count, so only reachability — not monotone decay —
    // is asserted here
    assert(out(1L)._2 > 0L && out(2L)._2 > 0L && out(3L)._2 > 0L)
    // no teleport, no seed inflow → identically zero
    assert(out(10L)._2 == 0L && out(11L)._2 == 0L)
    // on a star seeded at the hub, mass DOES order by distance: the hub
    // outranks its leaves every round (teleport + all back-flow)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("da", "db")
    val so = GraphOps.personalizedPagerank(star, seeds).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(so(1L) > so(2L) && so(2L) == so(3L) && so(3L) == so(4L) && so(2L) > 0L)
  }

  test("d23: docs sharing a 10-word block pair at the chunk grain; sub-block overlap does not") {
    val s = spark
    import s.implicits._
    val block = (1 to 10).map(i => s"w$i").mkString(" ") // one exact chunk
    val other = (11 to 20).map(i => s"x$i").mkString(" ")
    val third = (21 to 30).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block $other"), // chunks {block, other}
      (2L, s"$block $third"), // chunks {block, third} → J = 1/3 ≥ 0.3
      // shares 9 of block's words but WITHIN a shifted chunk boundary →
      // no chunk coincides, no pair
      (3L, s"pad ${block.split(' ').init.mkString(" ")} tail $third")
    ).toDF("doc_id", "text")
    val out = Dedup.chunkJaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 2L, 1L, 0.333333)))
  }

  test("q51: a dominant user lands alone in the top decile with its exact share") {
    val s = spark
    import s.implicits._
    // 10 users: users 1-9 have 1 event each, user 10 has 91 → total 100.
    // Deciles over 10 users = 1 user per bucket; the heaviest lands in
    // decile 10 with share 910000 ppm, every other decile at 10000.
    val ev = ((1L to 9L).map(u => (u, 1)) :+ (10L, 91))
      .flatMap { case (u, n) => Seq.fill(n)(u) }
      .toDF("user_id")
    val out = Temporal.activityDeciles(ev).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.size == 10)
    assert(out(10) == ((1L, 91L, 910000L)))
    (1 to 9).foreach(d => assert(out(d) == ((1L, 1L, 10000L)), s"decile $d"))
  }

  test("g13: a 4-cycle is regular — one degree class at knn = 2") {
    val s = spark
    import s.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L)).toDF("da", "db")
    val out = GraphOps.knnDegree(edges).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L &&
      r.getLong(2) == 8L && r.getDouble(3) == 2.0)
  }
}
