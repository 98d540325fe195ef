package graft

import graft.ops.{Lakehouse, PipelineOps, TextOps}
import org.scalatest.funsuite.AnyFunSuite

/** Independent local recomputations for the round-12 corpus-prep /
  * lakehouse keys — the oracle pins cross-engine equality, these pin the
  * ALGORITHM against a sequential reference implementation that shares
  * no code (and no SQL idioms) with the DSL.
  */
class CorpusPrepSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def md5hex(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def fixtureDocs: Seq[(Long, String)] =
    Tables.documents(s, TestSpark.Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("q_dedup_passage matches a sequential chunk-hash reference on the fixture") {
    // Reference: plain Scala chunker — full 10-word windows, global
    // occurrence count per chunk text (not hash — collisions would hide
    // here if md5-ing diverged), removal = every occurrence after the
    // (doc_id, pos)-first.
    val occs = fixtureDocs.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      (0 until ws.length / 10).map { i =>
        (id, i * 10L, ws.slice(i * 10, i * 10 + 10).mkString(" "))
      }
    }
    val byChunk = occs.groupBy(_._3)
    val expected = byChunk.values.flatMap { os =>
      val sorted = os.sortBy(o => (o._1, o._2))
      sorted.drop(1).map(o => (o._1, o._2, md5hex(o._3), os.size.toLong))
    }.toSet
    assert(expected.nonEmpty, "fixture has no duplicated passages — test is vacuous")

    val got = TextOps.queries("q_dedup_passage")(s, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("q_dedup_passage never removes the canonical first occurrence") {
    val rows = TextOps.queries("q_dedup_passage")(s, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    rows.groupBy(_._3).foreach { case (h, os) =>
      assert(os.forall(_._4 >= 2), s"$h scheduled with n_copies < 2")
      // exactly n_copies - 1 removals per duplicate family
      assert(os.length == os.head._4 - 1,
        s"$h removes ${os.length} of ${os.head._4} occurrences")
    }
  }

  test("q_domain_stats extraction matches java.net.URI + suffix reference") {
    // Reference parser: java.net.URI (a genuinely independent authority
    // parser), then the same two-level-suffix reduction re-derived with
    // plain label arithmetic.
    val twoLevel = Set("co.uk", "com.au", "co.jp", "gov.uk", "ac.uk")
    def refDomain(url: String): String = {
      val host = new java.net.URI(url).getHost.toLowerCase
      val labels = host.split("\\.")
      val lastTwo = labels.takeRight(2).mkString(".")
      val keep = if (twoLevel(lastTwo)) 3 else 2
      if (labels.length <= keep) host
      else labels.takeRight(keep).mkString(".")
    }
    def refUrl(id: Long): String = {
      val scheme = if (id % 2 == 0) "https://" else "http://"
      val sub = (id % 3) match { case 0 => "www."; case 1 => "cdn."; case _ => "" }
      val sfx = (id % 5) match {
        case 0 => "com"; case 1 => "org"; case 2 => "co.uk"; case 3 => "io"
        case _ => "com.au"
      }
      val port = if (id % 11 == 0) ":8080" else ""
      s"${scheme}${sub}site${id % 7}.$sfx$port/p/$id"
    }
    val expected = fixtureDocs
      .map { case (id, text) => (refDomain(refUrl(id)), id, text.split(" ", -1).length.toLong) }
      .groupBy(_._1)
      .map { case (dom, rs) =>
        (dom, rs.size.toLong, rs.map(r => new java.net.URI(refUrl(r._2)).getHost.toLowerCase).distinct.size.toLong,
         rs.map(_._3).sum)
      }.toSet

    val got = PipelineOps.queries("q_domain_stats")(s, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  test("q_bpe_merges matches a sequential index-walk greedy BPE reference") {
    // Reference: true token-level BPE trainer — count adjacent pairs,
    // elect (count desc, lhs, rhs), merge each doc's token LIST with an
    // explicit left-to-right index walk (i += 2 on a match). Proves the
    // DSL's bracket-string replace trick IS the greedy non-overlapping
    // merge, not an approximation of it.
    var docs = fixtureDocs.map { case (_, text) => text.split(" ", -1).toList }
    val expected = (1 to PipelineOps.BpeMerges).map { i =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      docs.foreach(_.sliding(2).foreach {
        case List(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + 1
        case _          =>
      })
      val ((lhs, rhs), cnt) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }
      val merged = s"$lhs+$rhs"
      docs = docs.map { toks =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var j = 0
        while (j < toks.length) {
          if (j + 1 < toks.length && toks(j) == lhs && toks(j + 1) == rhs) {
            out += merged; j += 2
          } else { out += toks(j); j += 1 }
        }
        out.toList
      }
      (i, lhs, rhs, cnt)
    }
    val got = PipelineOps.queries("q_bpe_merges")(s, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
  }

  test("q_snapshot_drift matches a sequential stat recompute on the fixture") {
    val cutoff = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val raw = Tables.events(s, TestSpark.Sf0001)
      .select("ts", "user_id", "event_type", "value").collect()
    // the hardcoded zero null counts below lean on the fixture being
    // null-free — assert that, so a fixture change fails loudly here
    // (the null path itself is pinned by LakeSinkSpec's audit scenario)
    assert(raw.forall(r => (0 until 4).forall(!r.isNullAt(_))))
    val ev = raw
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val a = ev.filter(_._1.before(cutoff))
    def row(name: String, fa: Seq[Any], fb: Seq[Any]) =
      (name, a.length.toLong, ev.length.toLong, 0L, 0L,
       fa.distinct.size.toLong, fb.distinct.size.toLong,
       fb.distinct.size.toLong - fa.distinct.size.toLong, 0.0)
    val expected = Set(
      row("user_id", a.map(_._2).toSeq, ev.map(_._2).toSeq),
      row("event_type", a.map(_._3).toSeq, ev.map(_._3).toSeq),
      row("value", a.map(_._4).toSeq, ev.map(_._4).toSeq))
    val got = Lakehouse.queries("q_snapshot_drift")(s, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getDouble(8)))
      .toSet
    assert(got == expected)
  }
}
