package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** s10's leave-one-out kNN label audit pinned against a driver-side
  * brute-force reference at sf0.001 — same ranking contract
  * (round(sim, 6) desc, vec_id asc) and the same majority vote with
  * ties broken to the smaller label id. */
class SimilaritySpec extends AnyFunSuite with SparkFixture {

  test("s10 matches a brute-force LOO-kNN vote at sf0.001") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val vecs = Tables.t(s, dir, "embeddings")
      .select($"vec_id", $"label", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.filter(_._1 % 7 == 0).map { case (qid, qlabel, qv) =>
      val top5 = vecs.filter(_._1 != qid)
        .map { case (id, l, v) =>
          (BigDecimal(cos(qv, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP), id, l)
        }
        .sortBy { case (sim, id, _) => (-sim, id) }
        .take(5)
      val (knnLabel, votes) = top5.groupBy(_._3).map { case (l, xs) => (l, xs.length) }
        .toSeq.sortBy { case (l, n) => (-n, l) }.head
      qid -> ((qlabel.toLong, knnLabel.toLong, votes.toLong, knnLabel == qlabel))
    }.toMap
    val got = Similarity.s10(s, dir).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == expected)
    assert(got.values.exists(!_._4), "audit must flag at least one disagreement")
  }

  test("s16 bins land exactly: identical→20, orthogonal→0, opposite→-20") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{sqrt => fsqrt, transform => ftransform, _}
    import org.apache.spark.sql.types.DoubleType
    // e1, e1 again (cos 1 → bin 20), e2 (orthogonal to both → bin 0),
    // −e1 (cos −1 vs ids 1/2 → bin −20; orthogonal to e2 → bin 0),
    // and a zero vector that must be excluded entirely
    val rows = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 2.0f)), (4L, Array(-3.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f)))
    val frame = rows.toDF("vec_id", "embedding")
      .select($"vec_id",
        ftransform($"embedding", x => x.cast(DoubleType)).as("v"))
      .withColumn("norm", fsqrt(Similarity.dot($"v", $"v")))
    val got = Similarity.pairDensity(frame).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 6 pairs among ids 1-4: (1,2)=1, (1,3)=0, (2,3)=0, (3,4)=0, (1,4)=-1, (2,4)=-1
    assert(got == Map(
      20L -> ((1L, 166666L)),
      0L  -> ((3L, 500000L)),
      -20L -> ((2L, 333333L))))
  }

  test("s28 fitCentroids: one fixed-point centroid per label, labels ascending") {
    val s = spark
    import s.implicits._
    // two well-separated label clusters in 3 dims
    val rows = Seq(
      (1L, 0, Seq(1.0f, 0.0f, 0.0f)), (2L, 0, Seq(0.9f, 0.1f, 0.0f)),
      (3L, 1, Seq(0.0f, 1.0f, 0.0f)), (4L, 1, Seq(0.1f, 0.9f, 0.0f)))
    val cents = Similarity.fitCentroids(rows.toDF("vec_id", "label", "embedding"))
    assert(cents.map(_._1) == Seq(0, 1))
    // reference: floor(x · 2^20) per dim, summed, div the label's count
    def q(x: Float): Long = math.floor(x.toDouble * 1048576.0).toLong
    val expect = rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (l, rs) =>
      l -> rs.map(_._3.map(q)).transpose.map(_.sum / rs.size)
    }
    assert(cents == expect)
  }

  test("s22 kernel: greedy maximin picks the farthest-from-set, ties to lowest id") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{sqrt => fsqrt, _}
    // 2-D: id1 east, id2 almost-east (near-dup of 1), id3 north, id4 west
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.995, 0.1)),
      (3L, Array(0.0, 1.0)), (4L, Array(-1.0, 0.0)))
      .toDF("vec_id", "v")
      .withColumn("norm", fsqrt(graft.functions.DotProduct($"v", $"v")))
    val rows = Similarity.kcenter(vecs, 3).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // seed 1 (lowest id); farthest from {1} is 4 (sim -1); farthest from
    // {1,4} is 3 (max-sim 0) — the near-dup 2 is never chosen
    assert(rows == Seq((1, 1L), (2, 4L), (3, 3L)))
  }

  test("s23 MMR: the diverse equally-relevant pick beats the near-duplicate") {
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.functions.{sqrt => fsqrt, _}
    // query (1,0,0); A and C are mirror-symmetric (identical relevance,
    // micro-rounded), B is a near-duplicate of A with the same relevance
    val all = Seq(
      (10L, Array(0.9, 0.43, 0.0)),   // A
      (11L, Array(0.9, 0.4301, 0.0)), // B ~ A, a hair less relevant
      (12L, Array(0.9, -0.43, 0.0)))  // C: A mirrored
      .toDF("vec_id", "v")
      .withColumn("norm", fsqrt(graft.functions.DotProduct($"v", $"v")))
    val q = Seq((0L, Array(1.0, 0.0, 0.0))).toDF("qid", "qv")
      .withColumn("qnorm", fsqrt(graft.functions.DotProduct($"qv", $"qv")))
    val picks = Similarity.mmrPicks(all, q).orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    // p1: rel tie A/C -> lowest id A; p2: C (diverse) beats B (sim~1 to A);
    // p3: the near-dup comes last
    assert(picks == Seq((1, 10L), (2, 12L), (3, 11L)))
  }
}
