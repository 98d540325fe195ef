package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Output checkers. Each returns the number of failed operations together
  * with the first few reasons; the harness counts those operations as
  * failed. They run outside every timed region. */
object Checks {
  private val mapper = new ObjectMapper()
  /** `server_timestamp` as GoTs renders it: RFC 3339, trimmed millis, UTC. */
  private val GoTsRe = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,3})?Z""".r

  final case class Result(failed: Long, reasons: Seq[String]) {
    def +(o: Result): Result = Result(failed + o.failed, (reasons ++ o.reasons).take(5))
  }
  val Ok: Result = Result(0, Nil)
  def fail(n: Long, why: String): Result = Result(n, Seq(why))

  /** Structural equality of a generated value and its delivered JSON. Whole
    * doubles travel as integers (Go's rendering), so numbers compare by
    * value. */
  def same(want: Any, got: JsonNode): Boolean = (want, got) match {
    case (null, g) => g.isNull
    case (m: Map[_, _], g) if g.isObject =>
      g.size == m.size && m.forall { case (k, v) =>
        val c = g.get(k.toString); c != null && same(v, c) }
    case (xs: Seq[_], g) if g.isArray =>
      g.size == xs.size && xs.zipWithIndex.forall { case (v, i) => same(v, g.get(i)) }
    case (s: String, g) => g.isTextual && g.textValue == s
    case (b: Boolean, g) => g.isBoolean && g.booleanValue == b
    case (d: Double, g) => g.isNumber && g.doubleValue == d
    case (n: Int, g) => g.isIntegralNumber && g.longValue == n
    case (n: Long, g) => g.isIntegralNumber && g.longValue == n
    case _ => false
  }

  /** A delivered item is its generated event plus the two enrichment
    * fields. */
  def sameEnriched(want: Map[String, Any], got: JsonNode): Boolean =
    got.isObject && got.size == want.size + 2 &&
      got.has("server_timestamp") && got.has("origin") &&
      want.forall { case (k, v) => val c = got.get(k); c != null && same(v, c) }

  /** One producer's generated stream: events in call order, which of them
    * went through `send`, and which lack `event` (expected rejections). */
  final case class ProducerInput(events: Array[Map[String, Any]],
                                 sent: Array[Boolean], valid: Array[Boolean])

  /** `ingest`: the payloads the sink received, in arrival order, against
    * the generated events. Every valid event must arrive exactly once with
    * its content intact plus `origin` and a Go-format `server_timestamp`; no
    * rejected event may arrive; a payload of several items must stay under
    * the threshold; within a payload each producer's events keep their call
    * order; a `send` arrives alone. Arrival order ACROSS payloads is not
    * checked: drained batches are shipped outside the queue's lock, so two
    * threads may hand their batches to the sink in either order.
    * Each failed event (missing, duplicated, altered, misordered) and each
    * malformed payload counts once. */
  def ingest(inputs: IndexedSeq[ProducerInput], payloads: Iterable[Array[Byte]],
             threshold: Long, origin: String): Result = {
    val seen = inputs.map(in => new Array[Int](in.events.length))
    var res = Ok
    payloads.foreach { bytes =>
      val node = try mapper.readTree(bytes) catch { case _: Exception => null }
      if (node == null || !node.isArray || node.size == 0)
        res += fail(1, "payload is not a non-empty JSON array")
      else {
        val n = node.size
        // payload = '[' + items joined by ',' + ']' with no whitespace
        if (n > 1 && bytes.length - 2 - (n - 1) >= threshold)
          res += fail(n, s"payload of $n items carries ${bytes.length - n - 1} B, threshold $threshold")
        val lastSeq = mutable.HashMap.empty[Int, Long]
        node.elements().asScala.foreach { item =>
          val p = Option(item.get("producer")).filter(_.isInt).map(_.intValue).getOrElse(-1)
          val s = Option(item.get("seq")).filter(_.isIntegralNumber).map(_.longValue).getOrElse(-1L)
          if (p < 0 || p >= inputs.length || s < 0 || s >= inputs(p).events.length)
            res += fail(1, s"unknown item producer=$p seq=$s")
          else {
            val in = inputs(p); val i = s.toInt
            seen(p)(i) += 1
            val ts = item.get("server_timestamp")
            val org = item.get("origin")
            if (!in.valid(i)) res += fail(1, s"rejected event $p/$s was delivered")
            else if (ts == null || !ts.isTextual || GoTsRe.unapplySeq(ts.textValue).isEmpty)
              res += fail(1, s"event $p/$s has server_timestamp $ts")
            else if (org == null || org.textValue != origin)
              res += fail(1, s"event $p/$s has origin $org")
            else if (!sameEnriched(in.events(i), item))
              res += fail(1, s"event $p/$s arrived altered")
            else if (in.sent(i) && n != 1)
              res += fail(1, s"sent event $p/$s shares a payload")
            if (lastSeq.get(p).exists(_ >= s))
              res += fail(1, s"producer $p: seq $s after ${lastSeq(p)} in one payload")
            lastSeq(p) = s
          }
        }
      }
    }
    inputs.indices.foreach { p =>
      val in = inputs(p)
      in.events.indices.foreach { i =>
        val c = seen(p)(i)
        if (in.valid(i) && c == 0) res += fail(1, s"event $p/$i never arrived")
        else if (c > 1) res += fail(c - 1, s"event $p/$i arrived $c times")
      }
    }
    res
  }

  /** One landed file of `stream_deliver`: the events of its valid lines by
    * event id, and the ids carried by its corrupt lines. */
  final case class LandedFile(valid: Map[Long, Map[String, Any]], corruptIds: Set[Long])

  /** `stream_deliver`: batch `b` of `batches` must have delivered exactly
    * the valid lines of the file landed for it -- each once, content intact,
    * no corrupt line, no several-item payload over the threshold -- and its
    * ledger marker must exist. Each failed batch
    * counts once. `delivered(b)` holds the batch's sink payloads. */
  def stream(batches: Seq[(Long, LandedFile)], delivered: Long => Seq[Array[Byte]],
             ledgerHas: Long => Boolean, threshold: Long): Result =
    batches.foldLeft(Ok) { case (acc, (b, file)) =>
      val counts = mutable.HashMap.empty[Long, Int]
      var bad: Option[String] = None
      delivered(b).foreach { bytes =>
        val node = try mapper.readTree(bytes) catch { case _: Exception => null }
        if (node == null || !node.isArray) bad = Some(s"batch $b: malformed payload")
        else if (node.size > 1 && bytes.length - 2 - (node.size - 1) >= threshold)
          bad = Some(s"batch $b: payload of ${node.size} items over the threshold")
        else node.elements().asScala.foreach { item =>
          val id = Option(item.get("event_id")).map(_.longValue).getOrElse(-1L)
          counts(id) = counts.getOrElse(id, 0) + 1
          if (file.corruptIds(id)) bad = Some(s"batch $b: corrupt line $id delivered")
          else file.valid.get(id) match {
            case None => bad = Some(s"batch $b: unknown event $id")
            case Some(want) if !sameEnriched(want, item) => bad = Some(s"batch $b: event $id altered")
            case _ =>
          }
        }
      }
      if (bad.isEmpty) {
        val missing = file.valid.keySet.filterNot(counts.contains)
        val dup = counts.collectFirst { case (id, c) if c > 1 => id }
        if (missing.nonEmpty) bad = Some(s"batch $b: ${missing.size} events missing")
        else if (dup.nonEmpty) bad = Some(s"batch $b: event ${dup.get} delivered twice")
        else if (!ledgerHas(b)) bad = Some(s"batch $b: ledger marker missing")
      }
      bad.fold(acc)(why => acc + fail(1, why))
    }
}
