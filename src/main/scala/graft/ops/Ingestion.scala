package graft.ops

import graft.Tables
import graft.queue.BatchScan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row types for the batch-assignment scan. Top-level (not nested private)
  * because Spark's generated SafeProjection must instantiate them from
  * synthesized Java — a `private` nested case class fails Janino compilation
  * ("Private member cannot be accessed").
  */
case class EvIn(event_id: Long, user_id: Long, tsMicros: Long, sz: Long)
case class EvBatch(event_id: Long, user_id: Long, batch_id: Long,
                   cum_before: Long, sz: Long)

/** SURVEY.md §2.B "Ingestion / reference semantics" — the streamsurfer
  * behaviors re-expressed as relational queries over the `events` fixture:
  * validation (reference `main.go:175-177`), enrichment (`main.go:179-183`),
  * record sizing (`main.go:202-203`), size-triggered batching with the
  * pre-insert-flush boundary (`main.go:208-228`), and the direct-send path
  * (`main.go:235-242`). The live façade with the same semantics is
  * `graft.queue.EventQueue`.
  *
  * Scale notes: batch assignment is inherently sequential *per producer*
  * (each item's batch depends on every prior item's size), so it runs as
  * `flatMapSortedGroups` keyed by `user_id` — one shuffle and a spillable
  * sort, then a streaming pass per group; this is exactly how a
  * 1000-executor cluster would do per-producer batching (the reference
  * itself is single-producer — a global order would serialize the world).
  * Everything else is narrow projections/filters.
  */
object Ingestion extends QueryPack {

  /** Per-event byte size: deterministic proxy for the reference's
    * `json.Marshal` length (`main.go:202-203`). */
  private def evSize = (octet_length(col("event_type")) +
    octet_length(col("props"))).cast("long")

  /** Reference default threshold, in BYTES — code-faithful (`main.go:48`;
    * README's "kilobytes" claim is the documented discrepancy, SURVEY §4.3).
    * Fixture events are ~60-80 bytes, so 1024 yields ~13-item batches. */
  private[graft] val MaxSizeBytes = 1024L

  /** The pre-insert-flush scan (`main.go:208-228`): an item whose size
    * would cross the threshold first flushes the *existing* queue (if any)
    * and then seeds the next batch ([[graft.queue.EventQueue.crosses]], the
    * rule the live façade applies). Shared by q_batch_assignment/payload.
    */
  private def assignBatches(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("tsMicros"), evSize.as("sz"))
      .as[EvIn]
      .groupBy(col("user_id")).as[Long, EvIn]
      // the per-producer order comes from Spark's spillable SortExec, so
      // the scan streams one producer's history instead of holding it
      .flatMapSortedGroups(col("tsMicros"), col("event_id")) { (uid, it) =>
        val scan = new BatchScan(MaxSizeBytes)
        it.map { e =>
          val before = scan.add(e.sz)
          EvBatch(e.event_id, uid, scan.batch, before, e.sz)
        }
      }
      .toDF()
  }

  /** Recursive-CTE mirror of the same scan for the DuckDB oracle (SURVEY
    * §7.4). It spells the rule out again rather than sharing `crosses`, so
    * it stays an independent check of the scan. */
  private val batchCte = s"""
    WITH RECURSIVE ev AS (
      SELECT event_id, user_id, strlen(event_type) + strlen(props) AS sz,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), st AS (
      SELECT user_id, rn, event_id, sz,
             CAST(0 AS BIGINT) AS batch_id, CAST(0 AS BIGINT) AS cum_before,
             CAST(sz AS BIGINT) AS cur_after
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.event_id, e.sz,
        CASE WHEN s.cur_after + e.sz >= ${Ingestion.MaxSizeBytes} AND s.cur_after > 0
             THEN s.batch_id + 1 ELSE s.batch_id END,
        CASE WHEN s.cur_after + e.sz >= ${Ingestion.MaxSizeBytes} AND s.cur_after > 0
             THEN 0 ELSE s.cur_after END,
        CASE WHEN s.cur_after + e.sz >= ${Ingestion.MaxSizeBytes} AND s.cur_after > 0
             THEN 0 ELSE s.cur_after END + e.sz
      FROM st s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
    )"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Validation: keep events with a non-null, non-empty event_type
    // (analog of the required "event" string field, main.go:175-177).
    "q_event_validate" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type").isNotNull && length(col("event_type")) > 0)
        .select(col("event_id"), col("event_type"), col("user_id"))
        .orderBy(col("event_id"))
    },

    // Enrichment projection: origin literal + fixed-width server_ts string
    // (deterministic .SSS stand-in; the faithful .999-trimming expression
    // is q_expr_go_ts in UdfOps).
    "q_event_enrich" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
                lit("graft-app").as("origin"),
                date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
                  .as("server_ts"))
        .orderBy(col("event_id"))
    },

    // Record sizing (json.Marshal length proxy, main.go:202-203).
    "q_event_size" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), evSize.as("sz"))
        .orderBy(col("event_id"))
    },

    // Size-triggered batch assignment with pre-insert flush.
    "q_batch_assignment" -> { (s, d) =>
      assignBatches(s, d)
        .select(col("event_id"), col("user_id"), col("batch_id"),
                col("cum_before"), col("sz"))
        .orderBy(col("event_id"))
    },

    // Per-batch payload: item count + total bytes (the whole batch is one
    // sink record, main.go:267-276).
    "q_batch_payload" -> { (s, d) =>
      assignBatches(s, d)
        .groupBy(col("user_id"), col("batch_id"))
        .agg(count(lit(1)).as("n_items"), sum(col("sz")).as("payload_bytes"))
        .orderBy(col("user_id"), col("batch_id"))
    },

    // Direct-send path: every event is its own single-item batch
    // (main.go:235-242) — no queue, no threshold.
    "q_send_path" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), evSize.as("payload_bytes"),
                lit(1).as("n_items"))
        .orderBy(col("event_id"))
    }
  )

  def oracles: Map[String, String] = Map(
    "q_event_validate" -> """
      SELECT event_id, event_type, user_id FROM events
      WHERE event_type IS NOT NULL AND length(event_type) > 0
      ORDER BY event_id""",

    "q_event_enrich" -> """
      SELECT event_id, event_type, 'graft-app' AS origin,
             strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS server_ts
      FROM events ORDER BY event_id""",

    "q_event_size" -> """
      SELECT event_id, strlen(event_type) + strlen(props) AS sz
      FROM events ORDER BY event_id""",

    "q_batch_assignment" -> (batchCte + """
      SELECT event_id, user_id, batch_id, cum_before, sz FROM st
      ORDER BY event_id"""),

    "q_batch_payload" -> (batchCte + """
      SELECT user_id, batch_id, count(*) AS n_items,
             CAST(sum(sz) AS BIGINT) AS payload_bytes
      FROM st GROUP BY user_id, batch_id ORDER BY user_id, batch_id"""),

    "q_send_path" -> """
      SELECT event_id, user_id, strlen(event_type) + strlen(props) AS payload_bytes,
             1 AS n_items
      FROM events ORDER BY event_id"""
  )
}
