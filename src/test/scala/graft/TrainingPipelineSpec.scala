package graft

import graft.pipeline.TrainingPipeline
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end corpus prep over the documents fixture: the stages must
  * compose, shrink monotonically, and leave a self-consistent corpus.
  */
class TrainingPipelineSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def docs = Tables.documents(s, TestSpark.Sf0001)

  test("quality gate drops only below-threshold docs") {
    val kept = TrainingPipeline.qualityFilter(docs, minTokens = 20,
      minDistinctRatio = 0.2)
    assert(kept.count() > 0 && kept.count() <= docs.count())
    val bad = kept.filter(size(split(col("text"), " ")) < 20).count()
    assert(bad == 0)
  }

  test("LM quality gate drops a clean bottom slice by score") {
    val kept = TrainingPipeline.lmQualityFilter(docs, dropFraction = 0.1)
    val total = docs.count()
    val nKept = kept.count()
    // approx_percentile cut: the kept fraction lands near 90%, never above
    // what an exact cut could keep
    assert(nKept < total && nKept >= (total * 0.8).toLong,
      s"kept $nKept of $total — cut point off")
    // the cut is a single threshold: every kept doc outscores every dropped
    val scores = graft.ops.TextOps.unigramLogProb(docs)
      .select(col("doc_id"), col("avg_logp"))
    val keptMin = kept.join(scores, "doc_id").agg(min("avg_logp"))
      .head().getDouble(0)
    val dropMax = docs.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(scores, "doc_id").agg(max("avg_logp")).head().getDouble(0)
    assert(dropMax < keptMin,
      s"overlap across the cut: dropped max $dropMax >= kept min $keptMin")
    assert(kept.columns.toSeq == docs.columns.toSeq, "stage changed the schema")
  }

  test("normalizeText canonicalizes byte-variant spellings so dedup unifies them") {
    import s.implicits._
    // same logical text in three byte forms: composed é, decomposed
    // e+U+0301, and decomposed with a control char + NBSP + double space
    val variants = Seq(
      (1L, "caf\u00e9 au lait", "x", "x"),
      (2L, "cafe\u0301 au lait", "x", "x"),
      (3L, "\u0007cafe\u0301\u00a0au  lait", "x", "x"),
      (4L, "espresso solo", "x", "x"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val cleaned = TrainingPipeline.normalizeText(variants)
    // all three variants collapse to ONE byte form; n_chars re-derived
    val texts = cleaned.select("doc_id", "text", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(texts(1L) == texts(2L) && texts(2L) == texts(3L),
      s"variants did not canonicalize: $texts")
    assert(texts(1L)._1 == "caf\u00e9 au lait" && texts(1L)._2 == 12)
    // and the digest stage now unifies them: one canonical for the three
    val deduped = TrainingPipeline.dedupExact(cleaned)
    assert(deduped.count() == 2L)
    assert(deduped.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 4L))
    // without normalization NONE of the byte-variants dedup (all four
    // raw texts are byte-distinct) — the reason the stage runs before
    // any digest
    assert(TrainingPipeline.dedupExact(variants).count() == 4L)
  }

  test("normalizeText collapses newlines/tabs to a space, never concatenating words") {
    import s.implicits._
    // \n \t \r\n are the control chars real documents actually carry;
    // deleting them (instead of replacing with a space) would weld words
    // across line breaks and silently corrupt every downstream shingle
    val docs = Seq(
      (1L, "hello\nworld", "x", "x"),
      (2L, "a\tb\r\nc", "x", "x"),
      (3L, "line one\n\nline two", "x", "x"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val texts = TrainingPipeline.normalizeText(docs)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(1L) == "hello world", s"newline welded words: ${texts(1L)}")
    assert(texts(2L) == "a b c", s"tab/CRLF mishandled: ${texts(2L)}")
    assert(texts(3L) == "line one line two", s"blank line: ${texts(3L)}")
  }

  test("exact dedup keeps one doc per distinct text, lowest id") {
    val out = TrainingPipeline.dedupExact(docs)
    assert(out.select(md5(col("text"))).distinct().count() == out.count())
    // fixture has no exact dups, so nothing should be dropped
    assert(out.count() == docs.count())
    // the pick is a one-row window behind its partial group limit
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("incremental dedup drops canon-known digests and in-batch copies, keeps the rest") {
    val canonDocs = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
    // prefixWords = 5: the fixture has prefix collisions but no full-text
    // dups, so the prefix ledger actually excludes something
    val ledger = TrainingPipeline.contentDigests(canonDocs, prefixWords = 5)
    val out = TrainingPipeline.dedupAgainstCanon(batch, ledger, prefixWords = 5)
    assert(out.columns.toSeq == batch.columns.toSeq, "stage changed the schema")
    // survivors: distinct prefix-digests, none of which exist in canon
    val outDigests = TrainingPipeline.contentDigests(out, prefixWords = 5)
    assert(outDigests.count() == out.count(), "in-batch copies survived")
    assert(outDigests.join(ledger, Seq("digest")).count() == 0,
      "a canon-known digest survived")
    // nothing over-dropped: every excluded batch doc matches canon or a
    // lower-id batch doc on its digest
    val batchDigests = TrainingPipeline.contentDigests(batch, prefixWords = 5)
    val expectKept = batchDigests.join(ledger, Seq("digest"), "left_anti").count()
    assert(out.count() == expectKept,
      s"kept ${out.count()} but ${expectKept} batch digests are canon-free")
    // full-text mode on the dup-free fixture: ledger excludes nothing new
    val full = TrainingPipeline.dedupAgainstCanon(
      batch, TrainingPipeline.contentDigests(canonDocs))
    assert(full.count() == batch.count())
  }

  test("dedupCycle: two crawl cycles against a snapshot-committed canon ledger") {
    import s.implicits._
    val table = java.nio.file.Files.createTempDirectory("canon-ledger").toString
    // cycle 1: two internal copies + a unique → 2 survivors, snapshot 1
    val batch1 = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "completely different text here")).toDF("doc_id", "text")
    val (s1, id1) = TrainingPipeline.dedupCycle(batch1, table)
    assert(id1 == 1L)
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // cycle 2: a canon-known copy (drops), an in-batch pair (one keeps),
    // a fresh doc (keeps) → snapshot 2 appends their digests
    val batch2 = Seq(
      (4L, "alpha beta gamma delta"),           // known from cycle 1
      (5L, "brand new content five"), (6L, "brand new content five"),
      (7L, "another novel document")).toDF("doc_id", "text")
    val (s2, id2) = TrainingPipeline.dedupCycle(batch2, table)
    assert(id2 == 2L)
    assert(s2.select("doc_id").as[Long].collect().sorted.toSeq == Seq(5L, 7L))
    // the ledger grew monotonically: snapshot 1 is byte-stable (2 digests),
    // snapshot 2 appended the 2 cycle-2 survivors
    assert(graft.sources.SnapshotLake.readAt(s, table, 1L).count() == 2L)
    assert(graft.sources.SnapshotLake.readAt(s, table, 2L).count() == 4L)
    // cycle 3 replay of batch2 against the grown canon: everything drops
    val (s3, _) = TrainingPipeline.dedupCycle(batch2, table)
    assert(s3.count() == 0L, "replayed batch should be fully canon-known")
  }

  test("sampleTokens fills each lang's budget and never overshoots before the crossing doc") {
    val budget = 500L
    val out = TrainingPipeline.sampleTokens(docs, budget)
    assert(out.columns.toSeq == docs.columns.toSeq, "stage changed the schema")
    val manifest = graft.ops.PipelineOps.tokenBudgetSample(docs, budget)
    assert(out.count() == manifest.count())
    // fill-until-exceeded: every kept doc started strictly under budget
    assert(manifest.filter(col("cum") - col("tok") >= budget).count() == 0)
    // and the budget is actually filled — per lang, kept tokens reach the
    // budget unless the lang ran out of docs entirely
    val kept = manifest.groupBy("lang")
      .agg(sum("tok").as("kept_tok"), count(lit(1)).as("n_kept"))
    val all = docs
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("tok"))
      .groupBy("lang").agg(count(lit(1)).as("n_all"))
    val underfilled = kept.join(all, "lang")
      .filter(col("kept_tok") < budget && col("n_kept") < col("n_all"))
      .count()
    assert(underfilled == 0, "a lang stopped short of its budget with docs left")
  }

  test("near-dup removal drops exactly the higher ids of matched pairs") {
    val pairs = graft.ops.TextOps.minhashPairs(docs, 0.5)
    val dropped = pairs.select(col("d2")).distinct().count()
    val out = TrainingPipeline.dedupNearMinHash(docs, 0.5)
    assert(out.count() == docs.count() - dropped)
    // no surviving pair: both sides of any remaining match would mean d2 survived
    val survivors = out.select(col("doc_id"))
    val leftover = pairs.join(survivors.withColumnRenamed("doc_id", "d2"), Seq("d2"))
      .count()
    assert(leftover == 0)
  }

  test("chunk() covers every token exactly: stride==window concatenation rebuilds the text") {
    val out = TrainingPipeline.chunk(docs, 16, 16)
    val rebuilt = out.groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("chunk_id"), col("chunk")))),
        x => x.getField("chunk")), " ").as("re"))
    val mismatches = docs.select(col("doc_id"), col("text"))
      .join(rebuilt, Seq("doc_id"))
      .filter(col("re") =!= col("text")).count()
    assert(mismatches == 0)
  }

  test("chunk() with overlap: ceil(n/stride) chunks, consecutive chunks share the overlap") {
    val out = TrainingPipeline.chunk(docs, 32, 24)
    val counts = out.groupBy(col("doc_id")).count()
    val bad = docs
      .select(col("doc_id"),
        (floor((size(split(col("text"), " ")) - 1) / 24) + 1).as("exp"))
      .join(counts, Seq("doc_id"))
      .filter(col("count") =!= col("exp")).count()
    assert(bad == 0)
    // a full chunk's tail 8 tokens == the next chunk's head 8 tokens
    val w = Window.partitionBy(col("doc_id")).orderBy(col("chunk_id"))
    val overlapBad = out
      .withColumn("next_head",
        lead(array_join(slice(split(col("chunk"), " "), 1, 8), " "), 1).over(w))
      .filter(col("n_tok") === 32 && col("next_head").isNotNull)
      .filter(array_join(slice(split(col("chunk"), " "), 25, 8), " ")
        =!= col("next_head"))
      .count()
    assert(overlapBad == 0)
  }

  test("keep-best near-dup removal keeps exactly the max-quality member per cluster") {
    val pairs = graft.ops.TextOps.minhashPairs(docs, 0.5)
      .select(col("d1"), col("d2"))
    val comps = graft.ops.Components.connectedComponents(pairs)
    val out = TrainingPipeline.dedupNearKeepBest(docs)
    // one survivor per cluster: same survivor COUNT as the canonical rule
    assert(out.count() ==
      TrainingPipeline.dedupNearCanonical(docs, 0.5).count())
    // and the survivor is the (n_chars desc, doc_id) argmax of its cluster
    val expectedReps = comps
      .join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
      .groupBy(col("comp"))
      .agg(min(struct(negate(col("n_chars")), col("id"))).as("best"))
      .select(col("best.id").as("doc_id"))
    val clustered = comps.select(col("id").as("doc_id"))
    val keptClustered = out.join(clustered, Seq("doc_id"), "left_semi")
      .select(col("doc_id"))
    assert(keptClustered.collect().map(_.getLong(0)).toSet ==
      expectedReps.collect().map(_.getLong(0)).toSet)
  }

  test("embedding-space dedup drops the planted noisy copy, keeps the base") {
    // plant near-identical copies at doc_id + 10000 (sign-preserving
    // per-coordinate scale, cos ~0.9998 — see EmbedLshSpec)
    val base = Tables.embeddings(s, TestSpark.Sf0001)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val noisy = base.select((col("doc_id") + 10000).as("doc_id"),
      transform(col("embedding"), (x, i) =>
        x * (lit(1.0f) + lit(0.02f) * sin(i.cast("double")).cast("float")))
        .as("embedding"))
    val corpus = base.unionAll(noisy)
    val out = TrainingPipeline.dedupNearEmbedding(corpus, minCos = 0.99)
    // every planted copy (the higher id of its pair) is gone, every base
    // survives — natural fixture pairs are far below cos 0.99
    assert(out.count() == base.count())
    assert(out.filter(col("doc_id") >= 10000).count() == 0)
    // multi-table run composes identically on these (sign-stable) pairs
    val outMulti = TrainingPipeline.dedupNearEmbedding(corpus,
      minCos = 0.99, signBits = 8, tables = 3)
    assert(outMulti.count() == base.count())
  }

  test("prepare() -> LakeSink -> pruned read-back round-trips end to end") {
    // the SURVEY §5.2 end-to-end smoke: clean the corpus, persist it
    // lang-partitioned to the lake, read one language back and confirm
    // (a) rows survive bit-exact and (b) the scan actually prunes to the
    // lang=... directories rather than reading the whole lake
    val out = java.nio.file.Files.createTempDirectory("lake_e2e").toString
    val prepared = TrainingPipeline.prepare(docs).filter(col("pred_lang").isNotNull)
    prepared.write.partitionBy("lang").mode("overwrite").parquet(out)
    val back = s.read.parquet(out)
    assert(back.count() == prepared.count(), "lake round-trip lost rows")
    val one = back.filter(col("lang") === "en")
    val expect = prepared.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(one.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(expect), "lang=en partition content diverged")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang filter did not prune partitions:\n$plan")
  }

  test("pack() after dedup: complete manifest, budget-bounded packs, greedy boundary") {
    val budget = 256L
    val prepared = TrainingPipeline.prepare(docs)
      .filter(col("pred_lang").isNotNull)
    val manifest = TrainingPipeline.pack(prepared, budget, key = "lang")
    // complete and 1:1 — every surviving doc packed exactly once
    assert(manifest.count() == prepared.count())
    assert(manifest.select("doc_id").distinct().count() == prepared.count())
    val packs = manifest.groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tot"),
           min(col("doc_id")).as("first_doc"))
    // ≤ budget unless a singleton oversized doc (the q_seq_pack rule)
    assert(packs.filter(col("tot") > budget && col("n_docs") > 1).count() == 0,
      "multi-doc pack exceeds the token budget")
    // greedy boundary rule (same as the reference's pre-insert flush): a
    // pack closes ONLY because the next pack's first doc would overflow it
    val firsts = manifest.join(
        packs.select(col("lang"), col("pack_id"), col("first_doc")),
        Seq("lang", "pack_id"))
      .filter(col("doc_id") === col("first_doc"))
      .select(col("lang"), (col("pack_id") - 1).as("pack_id"),
              col("tok").as("next_first_tok"))
    val early = packs.join(firsts, Seq("lang", "pack_id"))
      .filter(col("tot") + col("next_first_tok") <= budget).count()
    assert(early == 0, "pack closed early — boundary diverges from q_seq_pack")
    // multiple packs actually exist (the invariants weren't vacuous)
    assert(packs.count() > manifest.select("lang").distinct().count())
    // composes with a lake write: manifest + text, lang-partitioned read-back
    val dir = java.nio.file.Files.createTempDirectory("pack_lake").toString
    val withText = manifest.join(prepared.select("doc_id", "text"), Seq("doc_id"))
    withText.write.partitionBy("lang").mode("overwrite").parquet(dir)
    assert(s.read.parquet(dir).count() == manifest.count(),
      "packed lake round-trip lost rows")
  }

  test("full prepare() yields an annotated, deduped, quality corpus") {
    val out = TrainingPipeline.prepare(docs, minTokens = 10,
      nearDupThreshold = 0.5)
    assert(out.count() > 0 && out.count() <= docs.count())
    assert(out.columns.contains("pred_lang"))
    // predictions exist for every doc (shared vocabulary ⇒ profile overlap)
    assert(out.filter(col("pred_lang").isNull).count() == 0)
    // composes with the snapshot lake (smoke: commit + read back)
    val dir = java.nio.file.Files.createTempDirectory("prep").toFile
    dir.deleteOnExit()
    graft.sources.SnapshotLake.commit(out, dir.getAbsolutePath)
    assert(graft.sources.SnapshotLake.readLatest(s, dir.getAbsolutePath)
      .count() == out.count())
  }

  test("prepare() with lmDropFraction inserts the LM gate between heuristics and dedup") {
    val base = TrainingPipeline.prepare(docs, minTokens = 10,
      nearDupThreshold = 0.5)
    val gated = TrainingPipeline.prepare(docs, minTokens = 10,
      nearDupThreshold = 0.5, lmDropFraction = 0.1)
    assert(gated.count() < base.count(),
      "LM gate dropped nothing despite a 10% drop fraction")
    // NOT a subset of the ungated output: dedup keeps the LOWEST id of a
    // near-dup pair, so gating away a low-id doc can let its pair partner
    // through. The correct invariant: every surviving doc passed the LM
    // gate itself (= is in the gate's own output).
    val passedGate = TrainingPipeline.lmQualityFilter(
      TrainingPipeline.qualityFilter(docs, 10), 0.1).select("doc_id")
    val leaked = gated.select("doc_id")
      .join(passedGate, Seq("doc_id"), "left_anti").count()
    assert(leaked == 0, s"$leaked docs in the output never passed the LM gate")
  }

  test("repetitionFilter drops boilerplate, passes unscorable docs, keeps the rest") {
    import s.implicits._
    val frame = Seq(
      (1L, "a b a b a b a b a b"),          // dup_frac = 1 - 2/9 ≈ 0.78
      (2L, "one two three four five six"),  // all bigrams distinct → 0.0
      (3L, "solo"),                         // no bigrams → unscorable, passes
      (4L, "x y x y z w q r s t")           // 1 - 8/9 ≈ 0.11
    ).toDF("doc_id", "text")
    val kept = TrainingPipeline.repetitionFilter(frame, maxDupFrac = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L), s"wrong survivors: $kept")
  }

  test("scrubPii rewrites text in place and removes every PII shape") {
    import s.implicits._
    val frame = Seq(
      (1L, "mail Bob.Smith@corp.example.com or 555-123-4567 see https://x.io/a?b=1 end"),
      (2L, "clean text with no pii at all")
    ).toDF("doc_id", "text")
    val out = TrainingPipeline.scrubPii(frame).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail <EMAIL> or <PHONE> see <URL> end", out(1L))
    assert(out(2L) == "clean text with no pii at all")
  }

  test("prepare() with keepBestNearDup keeps one member per cluster — same count, best members") {
    val out = TrainingPipeline.prepare(docs, keepBestNearDup = true)
    val base = TrainingPipeline.prepare(docs)
    // both rules keep exactly one doc per near-dup cluster of the
    // exact-deduped survivors, so the corpus SIZE matches even though
    // the chosen members may differ
    assert(out.count() == TrainingPipeline.dedupNearCanonical(
      TrainingPipeline.dedupExact(TrainingPipeline.qualityFilter(docs)), 0.5)
      .count())
    assert(out.columns.toSeq == base.columns.toSeq)
  }

  test("signature store: persisted parquet feeds the pair generator identically to recompute") {
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    TrainingPipeline.writeSignatureStore(docs, dir)
    // the store has the documented shapes: (doc_id, h) shingles and the
    // 64-slot signature + set size
    val sh = s.read.parquet(s"$dir/shingles.parquet")
    assert(sh.columns.toSeq == Seq("doc_id", "h"))
    val sigs = s.read.parquet(s"$dir/signatures.parquet")
    assert(sigs.columns.length == 66 &&
      sigs.columns.head == "doc_id" && sigs.columns.last == "n",
      s"unexpected signature schema: ${sigs.columns.mkString(",")}")
    // pairs off the store == pairs recomputed from text, jaccard included
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairSet(TrainingPipeline.minhashPairsStored(s, dir, 0.5)) ==
      pairSet(graft.ops.TextOps.minhashPairs(docs, 0.5)))
  }

  test("prepare() with signaturePath: one persisted signature stage feeds dedup AND cluster-rep, output identical to recompute") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // one-pass drop rule off the store == recompute path
    val dir1 = java.nio.file.Files.createTempDirectory("sigprep1").toString
    assert(ids(TrainingPipeline.prepare(docs, signaturePath = dir1)) ==
      ids(TrainingPipeline.prepare(docs)))
    // cluster-rep (components + best-member rank) off the store == recompute
    val dir2 = java.nio.file.Files.createTempDirectory("sigprep2").toString
    assert(ids(TrainingPipeline.prepare(docs, keepBestNearDup = true,
        signaturePath = dir2)) ==
      ids(TrainingPipeline.prepare(docs, keepBestNearDup = true)))
    // the stage actually persisted (prepare's one eager action)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir2/signatures.parquet")))
  }

  test("prepare() with scrub + maxDupFrac composes the new gates") {
    val out = TrainingPipeline.prepare(docs, minTokens = 10,
      nearDupThreshold = 0.5, maxDupFrac = 0.9, scrub = true)
    val base = TrainingPipeline.prepare(docs, minTokens = 10,
      nearDupThreshold = 0.5)
    // fixture word-soup has near-zero repetition and no PII, so the
    // composed flow must not change the outcome — the gates are
    // pass-through on clean data
    assert(out.count() == base.count())
  }
}
