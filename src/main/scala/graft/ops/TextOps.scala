package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.B "LLM-data-pipeline operators": exact/near dedup,
  * similarity search, tokenization, text stats, keyword search over the
  * `documents` / `embeddings` fixtures.
  *
  * Scale notes (100 TB lens):
  *  - q_dedup_exact is one hash-shuffle on md5(text) — the canonical
  *    map-side-combinable dedup; no row ever leaves its partition except
  *    the 16-byte digest + ids.
  *  - q_dedup_minhash is banded LSH, never all-pairs: shingle explode →
  *    per-doc 64-perm signature (single shuffle by doc_id) → band-bucket
  *    self-join (shuffle by (band, band_hash), only same-bucket pairs
  *    materialize) → exact-Jaccard confirm on candidates only. Fixed seed
  *    table (SURVEY §7.4) keeps signatures identical across partitions,
  *    executors, and reruns.
  *  - q_similarity_topk broadcasts the (tiny) probe set; the corpus side
  *    streams through one fused projection and a per-probe top-k window.
  *    The 100 TB path swaps the brute-force scan for the same LSH
  *    band-bucketing over sign-random-projection bits; the top-k window is
  *    unchanged.
  *  - everything is built-in codegen'd expressions — no UDFs anywhere.
  */
object TextOps extends QueryPack {

  /** MinHash family: perm j of shingle-hash h is the classic universal
    * hash `(a_j * h32 + b_j) mod p` over the 32-bit-truncated shingle
    * digest, with `p` the smallest prime above 2^32. Chosen so the WHOLE
    * pipeline is DuckDB-oracle-able (round-5 upgrade — xxhash64, the old
    * family, has no DuckDB twin): both engines evaluate the same plain
    * BIGINT arithmetic. ANSI-overflow-safe by construction — a_j < 2^30
    * and h32 < 2^32 keep `a*h+b` under 2^62, so Spark 4's ANSI mode never
    * sees a wrapping multiply (the reason the naive 64-bit `a*h+b` family
    * was rejected in round 2). Constants come from a fixed xorshift seed:
    * deterministic across JVMs, partitions, and reruns (SURVEY §7.4), and
    * emitted into the DuckDB oracle SQL from the SAME vals — one source of
    * truth. MinHashSpec's ε-bound property runs on this family.
    *
    * Trade-off of the 32-bit truncation: distinct shingles collide at the
    * 32-bit birthday bound (~50% odds of SOME collision near 2^16 distinct
    * shingles per corpus), whereas the old xxhash64 family kept the full
    * 64-bit space. A collision only nudges one signature slot toward a
    * false near-dup, so dedup quality degrades marginally at 100 TB corpus
    * scale; parity is unaffected (DuckDB truncates identically). If full
    * width matters later, swap to a 61-bit Mersenne-prime family
    * (p = 2^61−1 with 128-bit multiply via split limbs) — at the cost of
    * losing the plain-BIGINT oracle twin.
    */
  private[graft] val NumPerms = 64
  private[graft] val NumBands = 16 // × 4 rows per band
  private[graft] val PermP = 4294967311L // smallest prime > 2^32
  private[graft] val (permA, permB) = {
    var x = 0x2545F4914F6CDD1DL
    def next(): Long = { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
    val a = (0 until NumPerms).map(_ => math.floorMod(next(), (1L << 30) - 1) + 1)
    val b = (0 until NumPerms).map(_ => math.floorMod(next(), PermP))
    (a, b)
  }

  /** Word-level 3-shingles of a space-separated text column; empty array
    * for docs under 3 words (no signature, deterministically). Backed by
    * the codegen'd [[graft.expr.WordShingles]] — the HOF formulation this
    * replaces ran as interpreted lambdas and dominated the near-dup keys'
    * cost (WordShinglesSpec pins the equivalence).
    * `private[graft]` so MinHashSpec exercises the same pipeline. */
  private[graft] def shingles(text: Column): Column =
    graft.expr.WordShingles.of(text, 3)

  /** doc_id → distinct (doc_id, shingle-hash) rows. The digest is the
    * engine-shared 60-bit md5 prefix (codegen'd [[graft.expr.Md5Prefix60]])
    * so DuckDB computes the identical value — the hinge that makes the
    * whole minhash pipeline oracle-able. The input is
    * repartitioned by doc_id with an EXPLICIT partition count first
    * (r16): shingling + MD5-hashing every word window is the corpus's
    * CPU-dense stage and must spread across cores regardless of source
    * file layout (one parquet row group = one scan task — the sf
    * fixtures; and AQE's byte-size coalescing cannot see CPU density, so
    * only REPARTITION_BY_NUM is exempt from being folded back). Cost:
    * one exchange of the raw text — 1× corpus bytes, upstream of the
    * shingle fan-out it parallelizes. Measured on q_dedup_simhash's
    * identical trap: 3.7 → 1.05 s at sf0.1. */
  private[graft] def shingleHashes(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
      .select(col("doc_id"), graft.expr.Md5Prefix60.h60(col("sh")).as("h"))
      .distinct()

  /** 64-slot MinHash signature per doc: one hash-agg, 64 fused min columns
    * `m0..m63` over the [[permA]]/[[permB]] family, PLUS the shingle-set
    * size `n` (last column — MinHashSpec reads the slots positionally).
    * Carrying n here is what lets [[minhashPairs]] drop its separate
    * `sizes` aggregation: the size the Jaccard denominator needs rides
    * the signature row instead of re-aggregating the shingle pipeline —
    * two fewer evaluations of the most expensive lineage in the query.
    * Shared by [[minhashPairs]] and MinHashSpec (same family, same code
    * path). */
  private[graft] def signatureFrame(sh: DataFrame): DataFrame = {
    val h32 = col("h") % lit(1L << 32) // h >= 0, so % == pmod
    val sigCols = (0 until NumPerms).map { j =>
      min((lit(permA(j)) * h32 + lit(permB(j))) % lit(PermP)).as(s"m$j")
    }
    sh.groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail :+ count(lit(1)).as("n"): _*)
  }

  /** MinHash near-dup pairs over any (doc_id, text) frame: 3-shingles →
    * 64-perm signature → 16-band LSH candidates → exact Jaccard ≥
    * `threshold`. Returns (d1, d2, jaccard) with d1 < d2. Reused by the
    * `q_dedup_minhash` contract key and
    * [[graft.pipeline.TrainingPipeline.dedupNearMinHash]].
    *
    * No cache(): a cached shingle set would make Bench's timed pass read
    * warm blocks from the warm-up pass and pin memory for the rest of the
    * session. The shingle scan recomputes per consumer; a production
    * pipeline at 100 TB would persist signatures to parquet between
    * stages instead of relying on executor block caches.
    *
    * `bandSaltFactor` is the hot-band knob SCALE.md documents: boilerplate
    * text (a shared license header, an empty-page template) puts millions
    * of docs in ONE band bucket, and the candidate self-join then runs
    * that bucket's B² comparisons in a single reducer. Salting `F` ways
    * (via [[Skew.selfPairs]]) splits it into F tasks at F× replication of
    * the bucket rows; the result is identical for any factor
    * (SkewAndBucketSpec pins salted ≡ unsalted).
    */
  def minhashPairs(docs: DataFrame, threshold: Double,
                   bandSaltFactor: Int = 1): DataFrame = {
    val sh = shingleHashes(docs)
    // The signature frame is PER-DOC (65 longs/doc — executor-storable at
    // any corpus size) and is consumed by both sides of the band
    // self-join; localCheckpoint materializes it once instead of
    // re-running the text→shingle→digest chain per side (exchange reuse
    // does not bridge the self-join aliases — measured, not assumed).
    // LAZY (eager = false, ADVICE r8): materialization happens at the
    // first ACTION, so plan-only consumers (explain, PlanSpec) pay
    // nothing; both self-join sides still share the one checkpointed RDD.
    // Same pattern as Components' per-round checkpoint; each caller pays
    // its own materialization (nothing survives to warm a later bench
    // pass). Cluster caveat: localCheckpoint blocks die with their
    // executor — a long cluster pipeline persists signatures to parquet
    // instead ([[graft.pipeline.TrainingPipeline.writeSignatureStore]] is
    // that stage; minhashPairsFrom then runs off the parquet). The raw
    // shingle stream `sh` is corpus-sized and deliberately NOT
    // checkpointed — its two Jaccard-confirm evaluations are the same
    // persist-to-parquet trade at 100 TB.
    minhashPairsFrom(signatureFrame(sh).localCheckpoint(eager = false), sh,
      threshold, bandSaltFactor)
  }

  /** Banded-LSH candidate pairs from a [[signatureFrame]]-shaped frame:
    * 16 band tuples per doc, equi-joined on the tuple — (d1, d2, n1, n2)
    * distinct pairs. The set size `n` rides the signature row through the
    * band explode (8 bytes × 16 band rows), so the Jaccard denominator
    * needs NO separate `sizes` aggregation — the old two renamed-sizes
    * joins each re-evaluated the whole shingle pipeline (two extra text
    * scans at corpus scale when exchange reuse doesn't fire across the
    * renames). Shared by [[minhashPairsFrom]] and [[minhashRecall]]. */
  private[graft] def bandCandidates(sigs: DataFrame,
                                    bandSaltFactor: Int): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band") +:
        (0 until 4).map(r => col(s"m${4 * b + r}").as(s"v$r")): _*)
    }
    val buckets = sigs.select(col("doc_id"), col("n"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("n"), col("bk.band").as("band"),
              col("bk.v0").as("v0"), col("bk.v1").as("v1"),
              col("bk.v2").as("v2"), col("bk.v3").as("v3"))
    Skew.selfPairs(buckets,
      keyCols = Seq("band", "v0", "v1", "v2", "v3"), idCol = "doc_id",
      carry = Seq("n"), saltFactor = bandSaltFactor)
  }

  /** The band/candidate/Jaccard back half of [[minhashPairs]], decoupled
    * from signature DERIVATION so a pipeline that persisted its signature
    * store ([[graft.pipeline.TrainingPipeline.writeSignatureStore]]) can
    * run every near-dup consumer off parquet instead of re-scanning text:
    * `sigs` is a [[signatureFrame]]-shaped frame (doc_id, m0..m63, n),
    * `sh` a [[shingleHashes]]-shaped frame (doc_id, h) used only for the
    * exact-Jaccard confirm of LSH candidates. Identical output to
    * [[minhashPairs]] when both frames derive from the same corpus
    * (TrainingPipelineSpec pins stored ≡ recomputed). */
  private[graft] def minhashPairsFrom(sigs: DataFrame, sh: DataFrame,
                                      threshold: Double,
                                      bandSaltFactor: Int = 1): DataFrame = {
    // Band buckets: 16 × the raw 4-slot tuple; explode to one bucket row
    // per (doc, band) and equi-join on the tuple itself. (The previous
    // form hashed the tuple with murmur3 first — a narrower shuffle key,
    // but murmur3 has no DuckDB twin; 4 longs + a band id is still a ~36-
    // byte key, dwarfed by the text it replaces. At cluster scale, re-
    // hashing bands Spark-side is a legal optimization because band
    // equality is what's joined either way.)
    // r19 opt: the candidate frame feeds the intersection join AND the
    // final Jaccard join — without a cut the band explode + self-join
    // re-ran for the second consumer (AQE reuses no exchange across
    // branches). Candidates are pair-grain (LSH-bounded at any corpus
    // size — the same storability class as the signature checkpoint).
    val cand = bandCandidates(sigs, bandSaltFactor)
      .localCheckpoint(eager = false)
    // Exact Jaccard on candidates only: |A∩B| via shingle-hash join.
    val inter = cand.select(col("d1"), col("d2"))
      .join(sh.select(col("doc_id").as("d1"), col("h")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("h")), Seq("d2", "h"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_inter"))
    cand
      .join(inter, Seq("d1", "d2"), "left")
      .na.fill(0L, Seq("n_inter"))
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("n1") + col("n2") - col("n_inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** q_dedup_recall (r14): measured recall of the banded-LSH candidate
    * generator against EXACT brute-force Jaccard truth, per threshold,
    * next to the analytic banding S-curve `p_band = 1-(1-t^r)^b` (r = 4
    * rows/band, b = 16 bands) — the first two numbers a dedup user asks
    * of an LSH design. Truth = every pair sharing ≥1 shingle with
    * J ≥ t (a pair with J > 0 must share a shingle, so the shingle-hash
    * equi-join IS the exact pair space — Σ df² work, the honest exact-arm
    * cost; at 100 TB recall is audited on a corpus SAMPLE, exactly like
    * [[graft.ops.PipelineOps.annRecall]]'s exact arm). found = candidates
    * the band join surfaces (already ⊆ the pair space). The shingle frame
    * is localCheckpointed once and feeds the signature chain, the truth
    * join, and the sizes — one text scan total. */
  def minhashRecall(s: SparkSession, d: String,
                    thresholds: Seq[Double] =
                      Seq(0.2, 0.3, 0.5, 0.7, 0.9)): DataFrame = {
    import s.implicits._
    val sh = shingleHashes(Tables.documents(s, d))
      .localCheckpoint(eager = false)
    val sigs = signatureFrame(sh).localCheckpoint(eager = false)
    val cand = bandCandidates(sigs, bandSaltFactor = 1)
      .select(col("d1"), col("d2"), lit(1L).as("surfaced"))
    val sizes = sigs.select(col("doc_id"), col("n"))
    val tinter = sh.select(col("doc_id").as("d1"), col("h"))
      .join(sh.select(col("doc_id").as("d2"), col("h")), Seq("h"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_inter"))
    val tj = tinter
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        round(col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")), 4).as("j"))
    val tc = tj.join(cand, Seq("d1", "d2"), "left")
      .na.fill(0L, Seq("surfaced"))
    val rowsPerBand = NumPerms / NumBands
    val th = thresholds.toDF("t")
    tc.crossJoin(broadcast(th))
      .groupBy(col("t"))
      .agg(sum(when(col("j") >= col("t"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("j") >= col("t"), col("surfaced")).otherwise(0L))
          .as("n_found"))
      .select(col("t").as("threshold"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("t"), lit(rowsPerBand)),
          lit(NumBands)), 4).as("p_band"),
        col("n_true"), col("n_found"),
        round(col("n_found").cast("double") /
          col("n_true").cast("double"), 4).as("recall"))
      .orderBy(col("threshold"))
  }

  /** Single source for the q_dedup_recall oracle AND its Spark-dialect
    * twin — the shingle CTE is the only dialect-specific piece (DuckDB
    * list_transform/unnest vs the registered word_shingles extension);
    * perm mins, band rows, the truth join, and the threshold sweep are
    * byte-identical. */
  private[graft] def minhashRecallSql(duck: Boolean): String = {
    val permMins = (0 until NumPerms).map { j =>
      s"min((${permA(j)} * h32 + ${permB(j)}) % $PermP) AS m$j"
    }.mkString(",\n          ")
    val bandRows = (0 until NumBands).map { b =>
      s"SELECT doc_id, $b AS band, m${4 * b} AS v0, m${4 * b + 1} AS v1, " +
        s"m${4 * b + 2} AS v2, m${4 * b + 3} AS v3 FROM sigs"
    }.mkString("\n        UNION ALL ")
    val shCte =
      if (duck) s"""words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), sh AS (
        SELECT DISTINCT doc_id,
          ${PipelineOps.h60Sql("s")} AS h
        FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, len(w) - 1),
              i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                   || ' ' || w[CAST(i AS INT) + 2])) AS s
          FROM words WHERE len(w) >= 3
        )
      )"""
      else """sh AS (
        SELECT DISTINCT doc_id, md5_prefix60(s) AS h
        FROM (
          SELECT doc_id, explode(word_shingles(text, 3)) AS s
          FROM documents WHERE size(split(text, ' ')) >= 3
        )
      )"""
    val rowsPerBand = NumPerms / NumBands
    val thUnion = Seq(0.2, 0.3, 0.5, 0.7, 0.9)
      .map(t => s"SELECT CAST($t AS DOUBLE) AS t").mkString(" UNION ALL ")
    s"""
      WITH $shCte, sh32 AS (
        SELECT doc_id, h, h % 4294967296 AS h32 FROM sh
      ), sigs AS (
        SELECT doc_id,
          $permMins
        FROM sh32 GROUP BY doc_id
      ), bands AS (
        $bandRows
      ), cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
         AND x.v2 = y.v2 AND x.v3 = y.v3 AND x.doc_id < y.doc_id
      ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      ), tinter AS (
        SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS n_inter
        FROM sh s1 JOIN sh s2 ON s2.h = s1.h AND s1.doc_id < s2.doc_id
        GROUP BY 1, 2
      ), tj AS (
        SELECT t.d1, t.d2,
          round(CAST(t.n_inter AS DOUBLE) / (z1.n + z2.n - t.n_inter), 4)
            AS j
        FROM tinter t
        JOIN sizes z1 ON z1.doc_id = t.d1
        JOIN sizes z2 ON z2.doc_id = t.d2
      ), tc AS (
        SELECT tj.d1, tj.d2, tj.j,
          CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END AS surfaced
        FROM tj LEFT JOIN cand c ON c.d1 = tj.d1 AND c.d2 = tj.d2
      ), th AS ($thUnion)
      SELECT th.t AS threshold,
        round(1.0 - power(1.0 - power(th.t, $rowsPerBand), $NumBands), 4)
          AS p_band,
        CAST(sum(CASE WHEN tc.j >= th.t THEN 1 ELSE 0 END) AS BIGINT)
          AS n_true,
        CAST(sum(CASE WHEN tc.j >= th.t THEN tc.surfaced ELSE 0 END)
          AS BIGINT) AS n_found,
        round(CAST(sum(CASE WHEN tc.j >= th.t THEN tc.surfaced ELSE 0 END)
                   AS DOUBLE) /
              CAST(sum(CASE WHEN tc.j >= th.t THEN 1 ELSE 0 END)
                   AS DOUBLE), 4) AS recall
      FROM th CROSS JOIN tc
      GROUP BY th.t
      ORDER BY threshold"""
  }

  /** THE content-prefix digest (CCNet-style leading-content hash): md5 of
    * the first `nWords` whitespace words, or of the full text when
    * `nWords` ≤ 0. Single spelling shared by q_dedup_incremental and the
    * TrainingPipeline ledger (contentDigests / dedupAgainstCanon) — the
    * anti-join contract REQUIRES both sides to derive digests identically,
    * so the expression must never fork. */
  def prefixDigest(nWords: Int): Column =
    if (nWords > 0)
      md5(concat_ws(" ", slice(split(col("text"), " "), 1, nWords)))
    else md5(col("text"))

  /** Shared dot-product helper (codegen'd expression; doc at
    * [[PipelineOps.dot]]). */
  private def dot(a: Column, b: Column): Column = PipelineOps.dot(a, b)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: canonical doc per md5(text) + copy count.
    "q_dedup_exact" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("text_hash"), col("n_copies"))
        .orderBy(col("keep_id"))
    },

    // Passage-level exact dedup (the Lee-et-al "Deduplicating Training
    // Data Makes Language Models Better" corpus-prep staple, at the
    // scalable passage-hash grain rather than suffix-array substrings):
    // every document is cut into NON-overlapping 10-word passages (full
    // windows only — sub-10-word tails can't form a meaningful passage
    // and would dedup trivial fragments), each passage reduced to its
    // md5 digest IN THE SCAN STAGE, and any passage whose digest occurs
    // more than once corpus-wide is scheduled for removal everywhere
    // EXCEPT its canonical first occurrence (min doc_id, then min pos —
    // a total order, so both engines elect the same survivor). Output is
    // the removal plan a rewrite pass would apply: (doc_id, pos) of each
    // doomed occurrence + the digest and its corpus-wide copy count.
    // At 100 TB: chunking + digesting are narrow (explode of ≤|words|/10
    // structs per doc); the ONE shuffle carries (digest, doc_id, pos) —
    // 16-byte hashes, never passage text; the window partitions by
    // digest, so per-group state is the duplicate family size. The
    // suffix-array alternative finds arbitrary-offset substrings but
    // needs corpus-order global sorts; fixed-window passage hashing is
    // the standard distributed approximation (stride = window keeps each
    // word in exactly one passage).
    "q_dedup_passage" -> { (s, d) =>
      val chunks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 10)
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0),
            floor(size(col("ws")) / 10).cast("int") - 1)).as("i"))
        .select(col("doc_id"), (col("i") * 10L).cast("long").as("pos"),
          md5(concat_ws(" ", slice(col("ws"), col("i") * 10 + 1, lit(10))))
            .as("passage_hash"))
      val byHash = Window.partitionBy(col("passage_hash"))
      chunks
        .withColumn("n_copies", count(lit(1)).over(byHash))
        .withColumn("rk", row_number().over(
          byHash.orderBy(col("doc_id"), col("pos"))))
        .filter(col("rk") > 1)
        .select(col("doc_id"), col("pos"), col("passage_hash"),
          col("n_copies"))
        .orderBy(col("doc_id"), col("pos"))
    },

    // Incremental (cross-snapshot) dedup: the per-crawl staple — dedup a
    // NEW batch (doc_id ≥ 250) against the already-canonical corpus
    // (doc_id < 250) AND within itself, keyed by a content-prefix digest
    // (md5 of the first 5 words — the CCNet/Dolma-style leading-content
    // hash; the full-text digest is q_dedup_exact's job). At 100 TB the
    // canon side is a digest-only frame (16 bytes/doc, persisted once per
    // snapshot cycle, not recomputed from text) so the anti-join shuffles
    // digests, never documents; in-batch grouping is a two-phase hash agg
    // on the same digest. Fixture derives both sides from one `documents`
    // scan — production points `canon` at the prior snapshot's digest
    // table, same plan shape.
    "q_dedup_incremental" -> { (s, d) =>
      val digested = Tables.documents(s, d).select(col("doc_id"),
        prefixDigest(5).as("prefix_hash"))
      val canon = digested.filter(col("doc_id") < 250)
        .select(col("prefix_hash")).distinct()
      digested.filter(col("doc_id") >= 250)
        .join(canon, Seq("prefix_hash"), "left_anti")
        .groupBy(col("prefix_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("prefix_hash"), col("n_copies"))
        .orderBy(col("keep_id"))
    },

    // Near-dup detection: 3-shingles → 64-perm MinHash → 16-band LSH →
    // exact Jaccard ≥ 0.5 on candidates only. Oracle-backed since round 5
    // (md5-prefix shingle digest + overflow-safe (a*h+b) mod p perms —
    // every stage plain integer SQL both engines evaluate identically);
    // the family/ε-bound behavior stays covered by MinHashSpec.
    "q_dedup_minhash" -> { (s, d) =>
      minhashPairs(Tables.documents(s, d), 0.5)
        .orderBy(col("d1"), col("d2"))
    },

    // LSH quality readout (r14): measured banding recall vs exact
    // brute-force Jaccard truth per threshold, next to the analytic
    // 1-(1-t^4)^16 S-curve — the q_ann_recall discipline for the text
    // side. Doc at [[minhashRecall]].
    "q_dedup_recall" -> { (s, d) => minhashRecall(s, d) },

    // Triangle counting over the minhash near-dup graph — the
    // clique-density signal a dedup pipeline reads to tell TEMPLATE
    // FAMILIES (mutual 3-way near-dups ⇒ triangles) from drift chains
    // (revisions that pairwise-match only their neighbors ⇒ none).
    // Pairs arrive oriented d1 < d2, so each triangle a<b<c is counted
    // exactly once by wedge-close: (a,b)⨝(b,c) builds the wedge, a semi
    // join on the closing edge (a,c) confirms it — never an all-pairs
    // pass. The pair frame is checkpointed ONCE and read three times
    // (three lazy reads would re-run the whole minhash pipeline per
    // side). 100 TB lens: wedge count is Σ deg², the quantity the
    // id-orientation bounds — near-dup radii cap degrees, and a hot
    // template's star fans out through the same salting knob as the
    // band join (minhashPairs' bandSaltFactor).
    "q_triangle_count" -> { (s, d) =>
      val pairs = minhashPairs(Tables.documents(s, d), 0.5)
        // lazy (r20): blocks dedupe via the block-manager write lock,
        // so the first consumer materializes it exactly once
        .select(col("d1"), col("d2")).localCheckpoint(eager = false)
      pairs.as("e1")
        .join(pairs.select(col("d1").as("b2"), col("d2").as("c")),
          col("e1.d2") === col("b2"))
        .select(col("e1.d1").as("a"), col("e1.d2").as("b"), col("c"))
        .join(pairs.select(col("d1").as("a"), col("d2").as("c")),
          Seq("a", "c"), "left_semi")
        .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("doc_id"))
    },

    // Brute-force cosine top-5 for 5 broadcast probe vectors (vec_id < 5)
    // against every other vector, round-4 cosine.
    "q_similarity_topk" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val pairs = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(dot(col("pe"), col("embedding")) /
            (sqrt(dot(col("pe"), col("pe"))) *
             sqrt(dot(col("embedding"), col("embedding")))), 4).as("cos"))
      AnnIndex.cosTopK(pairs, 5)
        .select(col("probe_id"), col("rn"), col("vec_id"), col("cos"))
        .orderBy(col("probe_id"), col("rn"))
    },

    // Tokenize → explode → global top-20 words.
    "q_text_tokenize" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    },

    // Per-(lang, source) doc counts + avg chars + avg token count.
    "q_text_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
             round(avg(col("n_chars")), 4).as("avg_chars"),
             round(avg(size(split(col("text"), " "))), 4).as("avg_tokens"))
        .orderBy(col("lang"), col("source"))
    },

    // Keyword search: docs containing 'spark', ranked by term frequency.
    "q_text_search" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
                size(filter(split(col("text"), " "), _ === "spark")).as("tf"),
                size(split(col("text"), " ")).as("n_tokens"))
        .filter(col("tf") > 0)
        .orderBy(col("tf").desc, col("doc_id"))
    },

    // Connected components over the minhash near-dup graph — the finisher
    // that turns pairwise matches into dedup clusters (Components.scala's
    // min-label propagation, used by TrainingPipeline.dedupNearCanonical).
    // Output: one row per cluster (component = min doc id) with member
    // count and max member. Oracle: recursive-CTE transitive closure over
    // the same pair SQL — O(cluster² ) only because near-dup clusters are
    // tiny; the Spark side stays the O(diameter)-round label propagation
    // that scales.
    "q_connected_components" -> { (s, d) =>
      val pairs = minhashPairs(Tables.documents(s, d), 0.5)
        .select(col("d1"), col("d2"))
      Components.connectedComponents(pairs)
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
        .orderBy(col("comp"))
    },

    // Cluster-representative selection — the real-pipeline finisher on top
    // of the components labels: instead of keeping the lowest id, each
    // near-dup cluster keeps its BEST member (here: max n_chars, doc_id
    // tie-break — in production the quality score plugs into the same
    // order). The rep, the member count and the size total are one
    // aggregate per comp ([[QueryPack.argmaxBy]] with the two sums riding
    // along); the docs join moves only (doc_id, n_chars), never text.
    // Same O(diameter) label propagation underneath.
    "q_dedup_cluster_rep" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = minhashPairs(docs, 0.5).select(col("d1"), col("d2"))
      QueryPack.argmaxBy(Components.connectedComponents(pairs)
          .join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id")),
          Seq("comp"), Seq(col("n_chars").desc, col("id")), Seq("id"),
          count(lit(1)).as("n_members"), sum(col("n_chars")).as("cluster_chars"))
        .select(col("comp"), col("id").as("rep_id"), col("n_members"),
                col("cluster_chars"))
        .orderBy(col("comp"))
    },

    // Dictionary fuzzy match (spell-correction shape): probe terms are the
    // corpus vocabulary with the last character dropped (a deterministic
    // "typo" both engines derive identically); each probe matches every
    // vocab word within levenshtein ≤ 1 — candidates generated by
    // (FIRST-LETTER, WORD-LENGTH) BLOCKING, the standard entity-resolution
    // idiom: the edit-distance predicate runs only inside a block, never
    // all-pairs (same recall trade-off every blocking scheme documents: a
    // first-letter typo falls outside the block). The |Δlen| ≤ 1 band is
    // IN the equi-join key, not a post-filter: each probe explodes to the
    // three word lengths it accepts (len-1, len, len+1 — a fixed ×3 on
    // the small distinct-probe side), so the shuffle hashes on
    // (first-char × length) — hundreds of buckets instead of ≤26, and the
    // hot 's' block splits by length for free. This is the scale shape:
    // block granularity grows with the key domain, never with corpus
    // size, and PlanSpec pins the composite key (r7 verdict item 3).
    "q_fuzzy_match" -> { (s, d) =>
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n_occ"))
      val probes = words
        .select(expr("substr(word, 1, length(word) - 1)").as("probe"))
        .filter(length(col("probe")) >= 3).distinct()
      probes
        .withColumn("blk", substring(col("probe"), 1, 1))
        .withColumn("wl", explode(array(length(col("probe")) - 1,
                                        length(col("probe")),
                                        length(col("probe")) + 1)))
        .join(words.withColumn("blk", substring(col("word"), 1, 1))
                   .withColumn("wl", length(col("word"))),
              Seq("blk", "wl"))
        .filter(levenshtein(col("probe"), col("word")) <= 1)
        .select(col("probe"), col("word"),
                levenshtein(col("probe"), col("word")).cast("long").as("dist"),
                col("n_occ"))
        .orderBy(col("probe"), col("word"))
    },

    // Unigram language-model scoring — the perplexity-style quality filter
    // every training-data pipeline runs (low avg log-prob ⇒ gibberish /
    // off-distribution text). Shared machinery in [[unigramLogProb]];
    // pipeline stage = TrainingPipeline.lmQualityFilter.
    "q_unigram_lm" -> { (s, d) =>
      unigramLogProb(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tokens"),
                round(col("avg_logp"), 4).as("avg_logp"))
        .orderBy(col("doc_id"))
    },

    // Bigram language model with add-1 smoothing + per-doc perplexity —
    // the conditional-probability upgrade of q_unigram_lm (the quality
    // filter that also catches wrong WORD ORDER, not just wrong words).
    // P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V); per-doc log-prob sums round-6
    // exact decimals so both engines agree to the hash. ONE text scan:
    // the word-array frame localCheckpoints once and feeds the bigram
    // stream (zip of two slices — the q_bpe_merges idiom), the context
    // counts, the bigram counts, AND the vocabulary; at 100 TB the
    // shuffles carry (w1,w2)/(w1) token keys and the per-doc re-agg —
    // exactly the q_tfidf profile plus one more count frame.
    "q_ngram_lm" -> { (s, d) =>
      val words = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .localCheckpoint(eager = false)
      val st = words.filter(size(col("w")) >= 2)
        .withColumn("a", slice(col("w"), lit(1), size(col("w")) - 1))
        .withColumn("b", slice(col("w"), lit(2), size(col("w")) - 1))
        .select(col("doc_id"),
          explode(arrays_zip(col("a"), col("b"))).as("p"))
        .select(col("doc_id"), col("p.a").as("w1"), col("p.b").as("w2"))
        .localCheckpoint(eager = false)
      val cb = st.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c_bi"))
      val cc = st.groupBy(col("w1")).agg(count(lit(1)).as("c_ctx"))
      val v = words.select(explode(col("w")).as("u"))
        .agg(countDistinct(col("u")).as("vocab"))
      st.join(cb, Seq("w1", "w2")).join(cc, Seq("w1"))
        .crossJoin(broadcast(v))
        .select(col("doc_id"),
          round(log((col("c_bi").cast("double") + lit(1.0)) /
              (col("c_ctx").cast("double") + col("vocab").cast("double"))), 6)
            .cast(DecimalType(18, 6)).as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          // display scale == the decimal's native scale 6: re-rounding an
          // EXACT 6-decimal sum to 4 digits lands on .00005 boundaries
          // where the two engines' double casts disagree (hit at sf0.1)
          round(sum(col("lp")).cast("double"), 6).as("log_prob"),
          round(exp((-sum(col("lp")).cast("double")) / count(lit(1))), 4)
            .as("ppl"))
        .orderBy(col("doc_id"))
    }
  )

  /** Corpus unigram LM score per doc: p(w) = count(w)/total_tokens over
    * the whole corpus, score = Σ tf·ln(p(w)) / Σ tf (unrounded). The token
    * stream collapses to (doc_id, word, tf) grain ONCE, and everything
    * else derives from that frame — vocabulary counts are Σtf per word,
    * the corpus total is Σcnt over the vocabulary (broadcast 1-row) — so
    * the raw text column is scanned exactly once at any corpus size
    * (AnalyticsSpec pins the count; a per-stat formulation re-scanned it
    * twice more). Returns (doc_id, n_tokens, avg_logp). */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    // r20 opt (guide §2.4): tf fed three lazy consumers (the score join,
    // vocab, and total→vocab→tf), so the text scan + tokenize + count ran
    // THREE times; vocab itself fed two. Two lazy cuts — (doc, word)
    // grain and word grain, both the storable class — make each compute
    // once; one text scan total.
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val vocab = tf.groupBy(col("word")).agg(sum(col("tf")).as("cnt"))
      .localCheckpoint(eager = false)
    val total = vocab.agg(sum(col("cnt")).as("total"))
    tf.join(vocab, Seq("word")).crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
           (sum(col("tf") * log(col("cnt") / col("total").cast("double"))) /
             sum(col("tf"))).as("avg_logp"))
  }

  /** DuckDB mirror of [[minhashPairs]], generated from the SAME
    * `permA`/`permB` vals the Spark side uses (single source of truth for
    * the 128 constants). Stage-for-stage: shingles → md5-prefix digest →
    * 64 perm mins → 16 band tuples → candidate pairs → exact Jaccard.
    * Body (no ORDER BY) so the components oracle can nest it as a CTE.
    */
  private def minhashPairsSql: String = {
    val permMins = (0 until NumPerms).map { j =>
      s"min((${permA(j)} * h32 + ${permB(j)}) % $PermP) AS m$j"
    }.mkString(",\n          ")
    val bandRows = (0 until NumBands).map { b =>
      s"SELECT doc_id, $b AS band, m${4 * b} AS v0, m${4 * b + 1} AS v1, " +
        s"m${4 * b + 2} AS v2, m${4 * b + 3} AS v3 FROM sigs"
    }.mkString("\n        UNION ALL ")
    s"""
      WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), sh AS (
        SELECT DISTINCT doc_id,
          ${PipelineOps.h60Sql("s")} AS h
        FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, len(w) - 1),
              i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                   || ' ' || w[CAST(i AS INT) + 2])) AS s
          FROM words WHERE len(w) >= 3
        )
      ), sh32 AS (
        SELECT doc_id, h, h % 4294967296 AS h32 FROM sh
      ), sigs AS (
        SELECT doc_id,
          $permMins
        FROM sh32 GROUP BY doc_id
      ), bands AS (
        $bandRows
      ), cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.v0 = y.v0 AND x.v1 = y.v1
         AND x.v2 = y.v2 AND x.v3 = y.v3 AND x.doc_id < y.doc_id
      ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      ), inter AS (
        SELECT c.d1, c.d2, count(*) AS n_inter
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.d1
        JOIN sh s2 ON s2.doc_id = c.d2 AND s2.h = s1.h
        GROUP BY c.d1, c.d2
      )
      SELECT d1, d2, jaccard FROM (
        SELECT c.d1, c.d2,
          round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
                (z1.n + z2.n - coalesce(i.n_inter, 0)), 4) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
        JOIN sizes z1 ON z1.doc_id = c.d1
        JOIN sizes z2 ON z2.doc_id = c.d2
      ) WHERE jaccard >= 0.5"""
  }

  /** Recursive-CTE twin of Components.connectedComponents over the
    * [[minhashPairsSql]] graph: transitive closure (reach), then
    * component = min reachable id per node, then per-component rollup.
    */
  /** Shared CTE prefix: minhash pairs → undirected edges → transitive
    * closure → (id, comp) labels. Both components oracles build on it.
    *
    * The `/*PAIRS*/ ... /*END_PAIRS*/` markers are INERT SQL comments for
    * any plain run (the driver's sf0.01 gate executes the inline form
    * unchanged) but let `tools/check_oracle.py --materialize` lift the
    * pair derivation into a DuckDB TEMP TABLE first: DuckDB re-inlines a
    * CTE referenced from a recursive CTE into EVERY unrolled round, so
    * at sf1 the un-materialized form re-derives the full MinHash pair
    * set ~log2(ids) times (measured >30 min / 70 GB spill — the r15 sf1
    * gate's 3 oracle-side exclusions, closed by this in r16). */
  private def componentsCteSql: String = s"""
      WITH RECURSIVE pairs AS (
        /*PAIRS*/ $minhashPairsSql /*END_PAIRS*/
      ), edges AS (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION
        SELECT d2 AS a, d1 AS b FROM pairs
      ), reach(id, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r
      ), comp AS (
        SELECT id, min(r) AS comp FROM reach GROUP BY id
      )"""

  private def componentsOracleSql: String = componentsCteSql + """
      SELECT comp, count(*) AS n_members, max(id) AS max_id
      FROM comp GROUP BY comp ORDER BY comp"""

  private def clusterRepOracleSql: String = componentsCteSql + """,
      m AS (
        SELECT c.comp, c.id, d.n_chars,
               row_number() OVER (PARTITION BY c.comp
                 ORDER BY d.n_chars DESC, c.id) AS rk
        FROM comp c JOIN documents d ON d.doc_id = c.id
      )
      SELECT comp, CAST(max(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS rep_id,
             count(*) AS n_members,
             CAST(sum(n_chars) AS BIGINT) AS cluster_chars
      FROM m GROUP BY comp ORDER BY comp"""

  private def triangleOracleSql: String = s"""
      WITH pairs AS (
        /*PAIRS*/ $minhashPairsSql /*END_PAIRS*/
      ), tri AS (
        SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.d1 = e1.d2
        JOIN pairs e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
      ), m AS (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      )
      SELECT doc_id, count(*) AS n_triangles
      FROM m GROUP BY doc_id ORDER BY doc_id"""

  def oracles: Map[String, String] = Map(
    "q_dedup_minhash" -> (minhashPairsSql + "\n      ORDER BY d1, d2"),

    "q_dedup_recall" -> minhashRecallSql(duck = true),

    "q_triangle_count" -> triangleOracleSql,

    "q_connected_components" -> componentsOracleSql,

    "q_dedup_cluster_rep" -> clusterRepOracleSql,

    "q_fuzzy_match" -> """
      WITH words AS (
        SELECT w AS word, count(*) AS n_occ
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
      ), probes AS (
        SELECT DISTINCT substr(word, 1, len(word) - 1) AS probe FROM words
        WHERE len(word) - 1 >= 3
      )
      SELECT p.probe, w.word, levenshtein(p.probe, w.word) AS dist, w.n_occ
      FROM probes p JOIN words w
        ON substr(p.probe, 1, 1) = substr(w.word, 1, 1)
       AND abs(len(p.probe) - len(w.word)) <= 1
       AND levenshtein(p.probe, w.word) <= 1
      ORDER BY probe, word""",

    "q_dedup_exact" -> """
      SELECT min(doc_id) AS keep_id, md5(text) AS text_hash,
             count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_id""",

    "q_dedup_passage" -> """
      WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      idx AS (
        SELECT doc_id, ws,
          unnest(range(0, CAST(floor(len(ws)/10) AS BIGINT))) AS i
        FROM words WHERE len(ws) >= 10),
      chunks AS (
        SELECT doc_id, CAST(i * 10 AS BIGINT) AS pos,
          md5(array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' '))
            AS passage_hash
        FROM idx)
      SELECT doc_id, pos, passage_hash, n_copies FROM (
        SELECT doc_id, pos, passage_hash,
          count(*) OVER (PARTITION BY passage_hash) AS n_copies,
          row_number() OVER (PARTITION BY passage_hash
                             ORDER BY doc_id, pos) AS rk
        FROM chunks)
      WHERE rk > 1 ORDER BY doc_id, pos""",

    "q_dedup_incremental" -> """
      WITH d AS (
        SELECT doc_id,
          md5(array_to_string(list_slice(string_split(text, ' '), 1, 5),
              ' ')) AS prefix_hash
        FROM documents),
      canon AS (SELECT DISTINCT prefix_hash FROM d WHERE doc_id < 250)
      SELECT min(doc_id) AS keep_id, prefix_hash, count(*) AS n_copies
      FROM d b
      WHERE doc_id >= 250
        AND NOT EXISTS (SELECT 1 FROM canon c
                        WHERE c.prefix_hash = b.prefix_hash)
      GROUP BY prefix_hash ORDER BY keep_id""",

    "q_similarity_topk" -> """
      WITH probes AS (
        SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe
        FROM embeddings WHERE vec_id < 5),
      pairs AS (
        SELECT p.probe_id, e.vec_id,
          round(list_dot_product(p.pe, CAST(e.embedding AS DOUBLE[])) /
            (sqrt(list_dot_product(p.pe, p.pe)) *
             sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(e.embedding AS DOUBLE[])))), 4) AS cos
        FROM embeddings e JOIN probes p ON e.vec_id <> p.probe_id)
      SELECT probe_id, CAST(rn AS INT) AS rn, vec_id, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                    ORDER BY cos DESC, vec_id) AS rn
        FROM pairs) WHERE rn <= 5
      ORDER BY probe_id, rn""",

    "q_text_tokenize" -> """
      SELECT w AS word, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w ORDER BY n DESC, word LIMIT 20""",

    "q_unigram_lm" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
      vocab AS (SELECT word, count(*) AS cnt FROM toks GROUP BY 1),
      tot AS (SELECT count(*) AS total FROM toks)
      SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_tokens,
        round(sum(t.tf * ln(v.cnt / CAST(tot.total AS DOUBLE)))
          / sum(t.tf), 4) AS avg_logp
      FROM tf t JOIN vocab v USING (word), tot
      GROUP BY t.doc_id ORDER BY t.doc_id""",

    // DuckDB dialect (unnest(range), 1-based list index); Spark twin
    // (explode over zipped slices) in SqlDialectTwins.
    "q_ngram_lm" -> """
      WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                     FROM documents),
      st AS (
        SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
              FROM words WHERE len(w) >= 2)),
      cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bi
             FROM st GROUP BY 1, 2),
      cc AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_ctx
             FROM st GROUP BY 1),
      v AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS vocab
            FROM (SELECT unnest(w) AS u FROM words)),
      sc AS (
        SELECT s.doc_id,
          CAST(round(ln((CAST(c_bi AS DOUBLE) + 1.0) /
                        (CAST(c_ctx AS DOUBLE) + CAST(vocab AS DOUBLE))), 6)
               AS DECIMAL(18,6)) AS lp
        FROM st s JOIN cb ON s.w1 = cb.w1 AND s.w2 = cb.w2
                  JOIN cc ON s.w1 = cc.w1, v)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        round(CAST(sum(lp) AS DOUBLE), 6) AS log_prob,
        round(exp(-CAST(sum(lp) AS DOUBLE) / count(*)), 4) AS ppl
      FROM sc GROUP BY doc_id ORDER BY doc_id""",

    "q_text_stats" -> """
      SELECT lang, source, count(*) AS n_docs,
        round(avg(n_chars), 4) AS avg_chars,
        round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
      FROM documents GROUP BY lang, source ORDER BY lang, source""",

    "q_text_search" -> """
      SELECT doc_id, tf, n_tokens FROM (
        SELECT doc_id,
          CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS INT) AS tf,
          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        FROM documents)
      WHERE tf > 0
      ORDER BY tf DESC, doc_id"""
  )
}
