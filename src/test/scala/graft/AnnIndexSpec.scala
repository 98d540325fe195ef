package graft

import graft.ops.AnnIndex
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The IVF keys' trained centroids (r14 verdict item 3): one spherical
  * Lloyd round under the q_kmeans discipline, pinned against an
  * independent driver-side recomputation. */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val NLists = 16

  private def emb: DataFrame = Tables.embeddings(s, TestSpark.Sf0001)

  test("trainCentroids == an independent driver-side Lloyd round") {
    val got = AnnIndex.trainCentroids(emb, NLists).collect()
      .map(r => r.getAs[Int]("cid") ->
        r.getAs[scala.collection.Seq[Double]]("carr").toSeq).toMap
    assert(got.keySet == (0 until NLists).toSet)

    // independent recomputation: plain Scala spherical Lloyd — cosine
    // assignment via sequential-order dot products (the cross-engine
    // determinism idiom), ties to the smallest cid, round-6 re-estimated
    // means from exact decimal sums
    val vecs = emb.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray)
      .sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { s0 += a(i) * b(i); i += 1 }
      s0
    }
    val seeds = vecs.take(NLists).map { case (id, v) =>
      id.toInt -> v.map(x => r6(x).toDouble)
    }
    val assigned = vecs.map { case (id, v) =>
      val nrm = math.sqrt(dot(v, v))
      val coss = seeds.map { case (cid, c) =>
        cid -> dot(v, c) / (nrm * math.sqrt(dot(c, c)))
      }
      id -> coss.minBy { case (cid, cs) => (-cs, cid) }._1
    }
    val byId = vecs.toMap
    val expect = assigned.groupBy(_._2).map { case (cid, members) =>
      val vs = members.map(m => byId(m._1))
      cid -> vs.head.indices.map { i =>
        val sum = vs.map(v => BigDecimal(v(i)).setScale(10,
          BigDecimal.RoundingMode.HALF_UP)).foldLeft(BigDecimal(0))(_ + _)
        r6(sum.toDouble / vs.length).toDouble
      }.toSeq
    }
    assert(got.keySet == expect.keySet)
    got.foreach { case (cid, carr) =>
      assert(carr == expect(cid), s"centroid $cid drifted")
    }
  }
}
