package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import graft.queue.{EventQueue, Json}
import scala.jdk.CollectionConverters._

/** The checkers must bite: each is fed its good output once (no failure)
  * and then one known-bad variant at a time, each of which must count as
  * failed. Exits non-zero on the first checker that lets a bad output by.
  *
  *   java -cp <classpath> perfbench.CheckerTests
  */
object CheckerTests {
  private val mapper = new ObjectMapper()
  private var bad = 0

  private def expect(name: String, r: Checks.Result, failing: Boolean): Unit = {
    val ok = if (failing) r.failed > 0 else r.failed == 0
    println(f"${if (ok) "ok  " else "FAIL"} $name: failed=${r.failed} ${r.reasons.headOption.getOrElse("")}")
    if (!ok) bad += 1
  }

  private def items(p: Array[Byte]): ArrayNode = mapper.readTree(p).asInstanceOf[ArrayNode]
  private def bytes(a: ArrayNode): Array[Byte] = mapper.writeValueAsBytes(a)

  def main(args: Array[String]): Unit = {
    // ingest: two producers' streams through a real queue
    val inputs = (0 until 2).map(p => IngestGen.producer(7L, p, 400))
    val rd = Ingest.round(inputs, 1, traced = false) // one thread: a deterministic batch order
    val good = rd.payloads.toIndexedSeq
    def ingest(ps: Seq[Array[Byte]]) = Checks.ingest(inputs, ps, Ingest.Threshold, Ingest.Origin)
    expect("ingest: delivered payloads", ingest(good), failing = false)
    val multi = good.indexWhere(p => items(p).size >= 3)
    def edit(f: ArrayNode => Unit): Seq[Array[Byte]] =
      good.updated(multi, { val a = items(good(multi)); f(a); bytes(a) })
    expect("ingest: a dropped event", ingest(edit(_.remove(0))), failing = true)
    expect("ingest: a duplicated event", ingest(good :+ good(multi)), failing = true)
    val sameProducer = {
      val a = items(good(multi))
      val ps = a.elements().asScala.map(_.get("producer").intValue).toSeq
      ps.indices.combinations(2).collectFirst { case Seq(i, j) if ps(i) == ps(j) => (i, j) }.get
    }
    expect("ingest: a per-producer reordered event", ingest(edit { a =>
      val (i, j) = sameProducer
      val x = a.get(i); a.set(i, a.get(j)); a.set(j, x)
    }), failing = true)
    val merged = {
      val a = items(good(multi))
      items(good(multi + 1)).elements().asScala.foreach(a.add)
      bytes(a)
    }
    expect("ingest: a multi-item payload over the threshold",
      ingest(good.patch(multi, Seq(merged), 2)), failing = true)
    expect("ingest: an altered event", ingest(edit(_.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("value", -1.5))), failing = true)

    // stream_deliver: one landed file, delivered as the façade would
    val (_, file) = StreamGen.file(7L, 0)
    val events = file.valid.toSeq.sortBy(_._1).map(_._2)
      .map(e => EventQueue.enrichAndValidate(e, StreamDeliver.Origin, 0L).get)
    val payloads = events.grouped(200).map(g => Json.encode(g).getBytes("UTF-8")).toSeq
    def stream(ps: Seq[Array[Byte]], ledger: Long => Boolean = _ => true) =
      Checks.stream(Seq(0L -> file), _ => ps, ledger, StreamDeliver.Threshold)
    expect("stream: delivered payloads", stream(payloads), failing = false)
    val corrupt = file.corruptIds.head
    val withCorrupt = {
      val a = items(payloads.head)
      a.add(a.get(0).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]().put("event_id", corrupt))
      bytes(a)
    }
    expect("stream: a corrupt line delivered", stream(withCorrupt +: payloads.tail), failing = true)
    expect("stream: a missing ledger marker", stream(payloads, _ => false), failing = true)
    expect("stream: a dropped event", stream(payloads.tail), failing = true)
    expect("stream: a duplicated payload", stream(payloads :+ payloads.head), failing = true)

    if (bad > 0) { println(s"$bad checker test(s) failed"); sys.exit(1) }
    println("all checker tests passed")
  }
}
