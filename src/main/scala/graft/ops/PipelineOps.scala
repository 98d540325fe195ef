package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row types for the sequence-packing scan (q_seq_pack). Top-level for the
  * same Janino reason as [[EvIn]]/[[EvBatch]]: Spark's generated
  * SafeProjection cannot instantiate private nested case classes.
  */
case class DocTok(doc_id: Long, lang: String, tok: Long)
case class DocPack(doc_id: Long, lang: String, pack_id: Long, tok: Long)

/** Training-data-pipeline operators beyond the reference's own surface
  * (SURVEY.md §2.B "LLM-data-pipeline", second wave): SimHash and n-gram
  * Jaccard near-dup detection, embedding-cosine near-dup, IVF-style ANN,
  * language identification, quality scoring, sub-word token counting,
  * winnowing document fingerprints, and multimodal binary-column plumbing.
  *
  * Every key is DuckDB-oracle-able because all hashing routes through one
  * shared 60-bit digest `h60` that both engines compute identically:
  * Spark `conv(substr(md5(s),1,15),16,10)` ≡ DuckDB
  * `('0x' || substr(md5(s),1,15))::BIGINT` (15 hex chars = 60 bits, fits a
  * signed 64-bit integer in both).
  *
  * Scale notes (100 TB lens):
  *  - All near-dup keys generate candidates by bucket join (LSH bands /
  *    rare-gram prefix filter / sign-bit buckets) — never an all-pairs
  *    cross join. The expensive exact measure (Jaccard, Hamming, cosine)
  *    runs on candidates only.
  *  - Language-ID / quality profiles (top-k word tables) are tiny and
  *    explicitly `broadcast()` — the corpus side never shuffles for them.
  *  - Everything is built-in codegen'd expressions over one explode —
  *    no UDFs, no driver-side collects.
  */
object PipelineOps extends QueryPack {

  /** Shared Spark/DuckDB 60-bit digest (see class doc). On the Spark side
    * this is the custom codegen'd expression [[graft.expr.Md5Prefix60]] —
    * same value as the portable `conv(substr(md5(s),1,15),16,10)` chain
    * (Md5Prefix60Spec pins the equivalence) without its three per-row
    * string allocations; the DuckDB twin below stays the portable form.
    */
  private def h60(c: Column): Column = graft.expr.Md5Prefix60.h60(c)
  /** The DuckDB twin of [[h60]] — the ONLY place this idiom may be
    * spelled (TextOps' minhash oracle interpolates it too); two copies
    * could silently desynchronize the digest the whole parity story
    * hinges on. */
  private[ops] def h60Sql(e: String): String =
    s"('0x' || substr(md5($e),1,15))::BIGINT"

  private val SimBits = 60
  private val SimBands = 4   // 4 bands × 15 bits ⇒ Hamming ≤ 3 guaranteed hit
  private val BandMask = (1L << 15) - 1

  /** Number of BPE merge rules q_bpe_merges learns (fixed iteration
    * count, like GraphRank's PrIters — the oracle unrolls the same N). */
  private[graft] val BpeMerges = 5

  /** q_bpe_merges DuckDB oracle, unrolled from [[BpeMerges]] — one CTE
    * block per learned rule (pair count → top-1 → bracket-string greedy
    * rewrite), mirroring the DSL's iteration exactly. */
  private[ops] def bpeOracleSql: String = {
    def block(i: Int) = s"""
      p$i AS (
        SELECT lhs, rhs, cnt FROM (
          SELECT toks[j] AS lhs, toks[j+1] AS rhs, count(*) AS cnt
          FROM (SELECT string_split(substr(s, 2, length(s) - 2), '][')
                  AS toks FROM docs${i - 1}),
               unnest(range(1, len(toks))) AS u(j)
          GROUP BY 1, 2)
        ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      docs$i AS (
        SELECT doc_id,
          replace(s, concat('[', p$i.lhs, '][', p$i.rhs, ']'),
                     concat('[', p$i.lhs, '+', p$i.rhs, ']')) AS s
        FROM docs${i - 1}, p$i)"""
    val selects = (1 to BpeMerges).map(i =>
      s"SELECT $i AS merge_idx, lhs, rhs, cnt FROM p$i")
      .mkString("\n        UNION ALL ")
    s"""
      WITH docs0 AS (
        SELECT doc_id, concat('[', replace(text, ' ', ']['), ']') AS s
        FROM documents),${(1 to BpeMerges).map(block).mkString(",")}
      SELECT * FROM (
        $selects)
      ORDER BY merge_idx"""
  }

  /** SQL spelling of [[canonicalUrl]] for the oracle (`duck = true`:
    * DuckDB \1 group refs + 'g' flag on the multi-occurrence utm strip)
    * and the Spark dialect twin (`duck = false`: $1 refs, implicit
    * all-occurrences). ONE generator for both sides so the nine-step
    * chain cannot fork between engines. */
  private[graft] def urlCanonSql(e: String, duck: Boolean): String = {
    val ref = if (duck) "\\1" else "$1"
    val ref2 = if (duck) "\\2" else "$2"
    val g = if (duck) ", 'g'" else ""
    val steps = Seq(
      s"regexp_replace(%s, '#.*$$', '')",
      s"regexp_replace(%s, '^https?://', '')",
      s"regexp_replace(%s, '^www\\.', '')",
      s"regexp_replace(%s, ':(?:443|80)(/)', '$ref')",
      s"replace(%s, '?', '&')",
      s"regexp_replace(%s, '&utm_[a-z]+=[^&]*', ''$g)",
      s"regexp_replace(%s, '^([^&]*)/(&|$$)', '$ref$ref2')",
      s"regexp_replace(%s, '^([^&]*)&', '$ref?')")
    steps.foldLeft(s"lower($e)")((acc, t) => t.format(acc))
  }

  /** ONE generator for BOTH the q_dedup_url DuckDB oracle (`duck =
    * true`) and its Spark dialect twin (`duck = false`) — the variant
    * synthesis and the nine-step canonicalization cannot fork between
    * engines (r12 ADVICE item 1: the twin must EXERCISE the duck=false
    * branch of [[urlCanonSql]], not leave it dead). */
  private[graft] def dedupUrlSql(duck: Boolean): String = """
      WITH urls AS (
        SELECT doc_id,
          concat(
            CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
            CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END,
            'example', CAST((doc_id % 50) % 5 AS BIGINT), '.com',
            CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END,
            '/page/', CAST(doc_id % 50 AS BIGINT),
            CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
            CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&utm_campaign=y'
                 WHEN doc_id % 4 = 1 THEN '?ref=tw'
                 WHEN doc_id % 4 = 2 THEN '?utm_medium=a&id=7' ELSE '' END,
            CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
        FROM documents),
      canon AS (
        SELECT doc_id, url, """ + urlCanonSql("url", duck) + """ AS cu
        FROM urls)
      SELECT cu AS url, min(doc_id) AS keep_id, count(*) AS n_copies,
             count(DISTINCT url) AS n_variants
      FROM canon GROUP BY cu ORDER BY keep_id"""

  /** Canonical form of a URL — the normalization every crawl frontier
    * applies before dedup: lowercase; fragment, scheme, leading `www.`,
    * default ports, and `utm_*` tracking params dropped (other query
    * params are real routing and survive, `?` restored if params
    * remain); the path's trailing slash trimmed WHETHER OR NOT query
    * params follow it (`/page/5/?ref=tw` ≡ `/page/5?ref=tw` — the
    * strip runs while the URL is still in all-`&` form, anchored to the
    * pre-query prefix, so slashes inside query VALUES survive; r12
    * ADVICE item 3). Pure codegen'd regexp_replace chain; Spark's
    * regexp_replace is all-occurrences, which the utm strip relies on
    * (the DuckDB oracle spells it with the 'g' flag — hence the dialect
    * twin). */
  private[ops] def canonicalUrl(u: Column): Column = {
    val lowered = lower(u)
    val noFrag = regexp_replace(lowered, "#.*$", "")
    val noScheme = regexp_replace(noFrag, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noPort = regexp_replace(noWww, ":(?:443|80)(/)", "$1")
    val amp = regexp_replace(noPort, "\\?", "&")
    val noUtm = regexp_replace(amp, "&utm_[a-z]+=[^&]*", "")
    val noSlash = regexp_replace(noUtm, "^([^&]*)/(&|$)", "$1$2")
    regexp_replace(noSlash, "^([^&]*)&", "$1?")
  }

  /** Registrable domain of a hostname: the public suffix plus one label
    * (example.co.uk, not www.example.co.uk). Two-level public suffixes
    * come from a small built-in set — the heuristic every crawl pipeline
    * inlines when it can't ship the full PSL; single-label hosts
    * (localhost, intranet names) fall through unchanged. Pure codegen'd
    * regex/string ops — no UDF, no external list. */
  private[ops] def registrableDomain(host: Column): Column = coalesce(
    nullif(regexp_extract(host,
      "([^.]+\\.(?:co\\.uk|com\\.au|co\\.jp|gov\\.uk|ac\\.uk))$", 1), lit("")),
    nullif(regexp_extract(host, "([^.]+\\.[^.]+)$", 1), lit("")),
    host)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q_lang_id: n-gram-profile language identification ------------
    // Train: top-20 words per lang (count desc, word asc). Classify: each
    // doc votes for the lang whose profile shares the most distinct words.
    // Output: confusion matrix actual × predicted. Shares its profile +
    // vote logic with TrainingPipeline.annotateLanguage via the helpers
    // below — one source of truth for the classifier.
    "q_lang_id" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val profiles = PipelineOps.languageProfiles(docs, 20)
      PipelineOps.predictLanguage(docs, profiles)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("pred_lang"))
    },

    // ---- q_quality_score: length/diversity/stopword heuristics --------
    // Stopwords = global top-10 words (data-derived, deterministic).
    // Text length rides THROUGH the token frame (max() of a per-doc
    // constant) so no third raw-doc scan is needed for avg word length —
    // the text column is read twice total: the stopword derivation and
    // the scoring pass, the broadcast-stats floor.
    // ---- q_text_normalize: Unicode cleanup (r14) -----------------------
    // The canonical first pass of corpus text cleaning: NFC normalization
    // (custom codegen'd [[graft.expr.NfcNormalize]] — Spark has no
    // built-in; mirrors DuckDB's nfc_normalize), control-char → space
    // (delete would weld words across \n/\t line breaks), and
    // whitespace collapse (incl. NBSP). The fixture is clean ASCII, so
    // dirt is SYNTHESIZED deterministically by doc_id % 4 (a decomposed
    // combining accent / a control char + double space / an NBSP) —
    // the q_dedup_url variant-synthesis discipline; both engines build
    // byte-identical raw strings. Output = the per-lang cleanup report
    // (docs, chars before/after, changed count). One narrow projection +
    // one hash agg: at 100 TB the cost is a single codegen'd text pass.
    "q_text_normalize" -> { (s, d) =>
      val m = col("doc_id") % 4
      val deco = when(m === 0, // 'e' + combining acute: composes under NFC
          concat(col("text"), lit(" cafe\u0301")))
        .when(m === 1, // BEL control char + a double space
          concat(lit("\u0007"), col("text"), lit("  x")))
        .when(m === 2, // non-breaking space
          concat(lit("a\u00A0b "), col("text")))
        .otherwise(col("text"))
      val cleaned = trim(regexp_replace(regexp_replace(
          graft.expr.NfcNormalize.nfc(deco), "[\\p{Cntrl}]", " "),
        "[\\s\\u00A0]+", " "))
      Tables.documents(s, d)
        .select(col("lang"), deco.as("raw"), cleaned.as("clean"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("raw"))).as("chars_raw"),
          sum(length(col("clean"))).as("chars_clean"),
          sum(when(col("raw") =!= col("clean"), 1L).otherwise(0L))
            .as("n_changed"))
        .orderBy(col("lang"))
    },

    "q_quality_score" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val words = docs.select(col("doc_id"), length(col("text")).as("len"),
        explode(split(col("text"), " ")).as("word"))
      val stop = words.groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(10)
        .select(col("word"), lit(1L).as("is_stop"))
      val perDoc = words.join(broadcast(stop), Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
             countDistinct(col("word")).as("n_distinct"),
             sum(coalesce(col("is_stop"), lit(0L))).as("n_stop"),
             max(col("len")).as("len"))
      val dr = round(col("n_distinct").cast("double") / col("n_tokens"), 4)
      val sr = round(col("n_stop").cast("double") / col("n_tokens"), 4)
      // avg word length in closed form: single-space text ⇒
      // total word chars = len(text) − (n_tokens − 1).
      val awl = round((col("len") - col("n_tokens") + 1)
                        .cast("double") / col("n_tokens"), 4)
      // Composite score in exact integer basis points (1e-5 units):
      // double-arithmetic composition would tie-break round() differently
      // across engines at x.xxxx5. HALF_UP via (+5) div 10, then an exact
      // /10000 conversion — bit-identical on both sides by construction.
      perDoc
        .select(col("doc_id"), col("n_tokens"),
                dr.as("distinct_ratio"), sr.as("stop_ratio"),
                awl.as("avg_word_len"))
        .withColumn("q_int",
          lit(4L) * round(col("distinct_ratio") * 10000).cast("long")
            + lit(3L) * (lit(10000L) - round(col("stop_ratio") * 10000).cast("long"))
            + lit(3L) * least(col("n_tokens"), lit(100L)) * 100L)
        .withColumn("quality",
          (expr("(q_int + 5) div 10").cast("double") / 10000.0))
        .drop("q_int")
        .orderBy(col("doc_id"))
    },

    // ---- q_word_entropy: Shannon entropy of each doc's word distribution
    // (the lexical-diversity quality signal next to q_quality_score's
    // ratios; low-entropy docs are boilerplate/template candidates).
    // H = ln(dl) − Σ tf·ln(tf) / dl over per-doc term frequencies — the
    // algebraic form that needs only ONE aggregate over the (doc, word,
    // tf) lineage (no per-row p=tf/dl division before the sum). Float
    // discipline: each tf·ln(tf) term is rounded to 6 decimals and summed
    // as an EXACT decimal, so Spark's and DuckDB's addition order cannot
    // diverge the hash (the QueryPack dec10 idiom applied to a transcen-
    // dental term); the final H rounds to 4. Scale: tokenize once, two
    // chained hash-aggs on (doc_id, word) then (doc_id) — map-side
    // combinable, shuffles digest-sized rows, never text.
    "q_word_entropy" -> { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("dl"),
             count(lit(1)).as("n_types"),
             sum(round(col("tf") * log(col("tf")), 6)
               .cast("decimal(28,6)")).as("st"))
        .select(col("doc_id"), col("dl"), col("n_types"),
          round(log(col("dl")) - col("st").cast("double") / col("dl"), 4)
            .as("entropy"))
        .orderBy(col("doc_id"))
    },

    // ---- q_token_count: whitespace + BPE-ish regex tokenization -------
    "q_token_count" -> { (s, d) =>
      val pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
      Tables.documents(s, d)
        .select(col("lang"),
                size(split(col("text"), " ")).cast("long").as("ws"),
                size(regexp_extract_all(col("text"), lit(pat), lit(0)))
                  .cast("long").as("re"),
                length(col("text")).cast("long").as("chars"))
        .groupBy(col("lang"))
        .agg(sum(col("ws")).as("ws_tokens"), sum(col("re")).as("re_tokens"),
             round(sum(col("chars")).cast("double") / sum(col("re")), 4)
               .as("chars_per_token"))
        .orderBy(col("lang"))
    },

    // ---- q_domain_stats: registrable-domain corpus mix ----------------
    // The web-crawl staple: every corpus report groups documents by
    // REGISTRABLE domain (example.co.uk, not www.example.co.uk or
    // cdn.example.co.uk) before deciding the mix. The fixture carries no
    // URL column, so the key first synthesizes a deterministic URL per
    // document (scheme/subdomain/site/suffix/port/path varied by doc_id
    // residues — pure input generation, identical in both engines); the
    // OPERATOR under test is the extraction: authority parse via one
    // anchored regex (scheme, optional userinfo, host up to port/path),
    // then registrable-domain reduction with the standard two-level
    // public-suffix heuristic (a built-in {co.uk, com.au, co.jp, gov.uk,
    // ac.uk} set — "no external lists" means no PSL download; real
    // pipelines inline the same table). Token counts ride the portable
    // length-difference form so the whole key is one scan + one ~|domains|
    // hash agg; the share window runs over the |domains|-row agg output,
    // never the facts. At 100 TB: narrow regex projection (codegen'd),
    // map-side-combinable agg on a low-cardinality key — domain skew
    // (one giant domain) hits the agg's partial phase, not a join, so it
    // absorbs without salting.
    "q_domain_stats" -> { (s, d) =>
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
        when(col("doc_id") % 3 === 0, lit("www."))
          .when(col("doc_id") % 3 === 1, lit("cdn.")).otherwise(lit("")),
        lit("site"), (col("doc_id") % 7).cast("string"), lit("."),
        when(col("doc_id") % 5 === 0, lit("com"))
          .when(col("doc_id") % 5 === 1, lit("org"))
          .when(col("doc_id") % 5 === 2, lit("co.uk"))
          .when(col("doc_id") % 5 === 3, lit("io"))
          .otherwise(lit("com.au")),
        when(col("doc_id") % 11 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string"))
      val host = lower(regexp_extract(url,
        "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)", 1))
      val agg = Tables.documents(s, d)
        .select(registrableDomain(host).as("domain"), host.as("host"),
          (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
            .cast("long").as("toks"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          sum(col("toks")).as("n_tokens"))
      agg.select(col("domain"), col("n_docs"), col("n_hosts"),
          col("n_tokens"),
          round(col("n_tokens").cast("double") /
            sum(col("n_tokens")).over(Window.partitionBy()).cast("double"), 4)
            .as("token_share"))
        .orderBy(col("domain"))
    },

    // ---- q_dedup_url: URL canonicalization dedup ----------------------
    // The crawl-frontier staple: the same page arrives as http/https,
    // with/without www, with a default port, a trailing slash, tracking
    // params, and fragments — canonicalize, THEN dedup. The fixture has
    // no URL column, so variants are synthesized deterministically per
    // doc (doc_id residues pick scheme/www/port/slash/query/fragment
    // decorations of ~50 logical pages); the OPERATOR under test is
    // [[canonicalUrl]]: lowercase → drop fragment → drop scheme → drop
    // leading www. → drop default :443/:80 → strip utm_* params ONLY
    // (ref=/id= params are real routing and survive) → restore the
    // leading ? → drop a trailing slash. Output: one row per canonical
    // URL with the kept doc, copy count, and how many RAW variants
    // collapsed into it. One narrow codegen'd regex projection + one
    // hash agg on the canonical string — at 100 TB dedup state shuffles
    // canonical URLs (or their h60 digests), never documents.
    "q_dedup_url" -> { (s, d) =>
      val p = col("doc_id") % 50
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        lit("example"), (p % 5).cast("string"), lit(".com"),
        when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
        lit("/page/"), p.cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("?utm_source=x&utm_campaign=y"))
          .when(col("doc_id") % 4 === 1, lit("?ref=tw"))
          .when(col("doc_id") % 4 === 2, lit("?utm_medium=a&id=7"))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), url.as("raw"), canonicalUrl(url).as("url"))
        .groupBy(col("url"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
          countDistinct(col("raw")).as("n_variants"))
        .select(col("url"), col("keep_id"), col("n_copies"),
          col("n_variants"))
        .orderBy(col("keep_id"))
    },

    // ---- q_bpe_merges: tokenizer-training pair-merge iteration --------
    // The first 5 BPE merge rules learned from the corpus token stream:
    // each round counts ADJACENT symbol pairs corpus-wide (exact integer
    // counts), elects the most frequent pair (ties broken
    // lexicographically — a total order, so both engines learn the same
    // rule), and rewrites every document's stream by merging its
    // occurrences greedily left-to-right non-overlapping — the standard
    // BPE scan order. The stream rides as ONE bracket-delimited string
    // per doc ("[w1][w2]…"): pattern "[a][b]" shares no characters with
    // an adjacent match, so plain leftmost string replace IS the greedy
    // merge (a space-delimited form would consume the shared separator
    // and skip alternating occurrences). Each round = one map-side-
    // combinable pair count, a 1-row top-1 (TakeOrdered), and a narrow
    // broadcast-1-row rewrite; per-round lazy localCheckpoint cuts the
    // doubled lineage (top_i and docs_i both read docs_{i-1}) exactly
    // like GraphRank's iteration discipline. At 100 TB each round is one
    // corpus pass — what un-indexed BPE training costs anywhere; the
    // pair-count shuffle carries (symbol, symbol, partial count), never
    // documents.
    "q_bpe_merges" -> { (s, d) =>
      var docs = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("["), regexp_replace(col("text"), " ", "]["), lit("]"))
            .as("stream"))
        .localCheckpoint(eager = false)
      val merges = (1 to BpeMerges).map { i =>
        val pairs = docs
          .select(split(expr("substring(stream, 2, length(stream) - 2)"),
            "\\]\\[").as("toks"))
          .select(explode(expr(
            """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
                        slice(toks, 2, greatest(size(toks) - 1, 0)),
                        (a, b) -> named_struct('lhs', a, 'rhs', b))"""))
            .as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(count(lit(1)).as("cnt"))
        val top = pairs.orderBy(col("cnt").desc, col("lhs"), col("rhs"))
          .limit(1).localCheckpoint(eager = false)
        docs = docs.crossJoin(broadcast(top))
          .select(col("doc_id"),
            expr("""replace(stream, concat('[', lhs, '][', rhs, ']'),
                            concat('[', lhs, '+', rhs, ']'))""").as("stream"))
          .localCheckpoint(eager = false)
        top.select(lit(i).as("merge_idx"), col("lhs"), col("rhs"), col("cnt"))
      }
      merges.reduce(_ unionByName _).orderBy(col("merge_idx"))
    },

    // ---- q_doc_fingerprint: winnowing (k=5 char-grams, window w=8) ----
    // Rolling h60 over 5-grams; fingerprint = window minimum; per doc the
    // distinct fingerprint set summarized as count / xor / min.
    // r16: computed entirely IN-ROW — the winnowing grain is per-document,
    // so exploding to a (doc, pos) frame only to window-shuffle it back
    // together by doc_id paid an exchange of EVERY char-gram hash (8
    // bytes × ~text length per doc ≈ 8× the corpus bytes). One transform
    // builds the gram-hash array, a second takes sliding-window minima
    // (slice truncates at the tail exactly like ROWS BETWEEN CURRENT AND
    // 7 FOLLOWING), array_distinct + in-row folds produce the summary —
    // identical values (same h60, same window semantics). The one
    // exchange that remains is a repartition of the RAW (doc_id, text)
    // pairs: the per-doc hashing is the key's real work and must spread
    // across cores regardless of how few files the scan yields (the sf
    // fixtures are single-file = single-task; a 100 TB corpus shuffles
    // 1× its bytes here instead of 8×). The partition count is EXPLICIT:
    // AQE's byte-size coalescing sees ~300 bytes of text per doc and
    // folds the exchange back to one partition, hiding ~1000 hash
    // computations per row behind a tiny shuffle size — the classic
    // CPU-dense-narrow-row trap (REPARTITION_BY_NUM is exempt).
    "q_doc_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("hs",
          transform(sequence(lit(1), greatest(length(col("text")) - 4, lit(1))),
            pos => h60(col("text").substr(pos, lit(5)))))
        .withColumn("fps", array_distinct(
          transform(sequence(lit(1), size(col("hs"))),
            i => array_min(slice(col("hs"), i, lit(8))))))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          aggregate(col("fps"), lit(0L),
            (acc, x) => acc.bitwiseXOR(x)).as("fp_xor"),
          array_min(col("fps")).as("fp_min"))
        .orderBy(col("doc_id"))
    },

    // ---- q_dedup_simhash: 60-bit SimHash + 4-band LSH + Hamming ≤ 3 ---
    // Bit i of a doc's signature is the sign of Σ±1 over its distinct
    // words (+1 if bit i of h60(word) set). 4 bands of 15 bits guarantee
    // every pair within Hamming 3 shares a band (pigeonhole).
    "q_dedup_simhash" -> { (s, d) =>
      simhashPairs(Tables.documents(s, d))
        .orderBy(col("d1"), col("d2"))
    },

    // ---- q_dedup_ngram: word-bigram Jaccard with rare-gram candidates -
    // Candidates = pairs sharing ≥1 bigram with doc-frequency ≤ 20 (prefix
    // filtering, [[rareGramOverlap]]); exact Jaccard ≥ 0.4 on the full
    // bigram sets.
    "q_dedup_ngram" -> { (s, d) =>
      rareGramOverlap(Tables.documents(s, d), 2)
        .withColumn("jaccard", round(col("ov").cast("double") /
          (col("n1") + col("n2") - col("ov")), 4))
        .filter(col("jaccard") >= 0.4)
        .select(col("d1"), col("d2"), col("jaccard"))
        .orderBy(col("d1"), col("d2"))
    },

    // ---- q_dedup_embed: sign-bit LSH buckets + cosine ≥ 0.35 ----------
    // Bucket = sign pattern of the first `signBits` dimensions; exact
    // cosine only within a bucket. Near-identical vectors agree on every
    // sign, so bucketing loses only borderline pairs — by construction the
    // oracle runs the identical algorithm. signBits=4 is the FIXTURE width
    // (what the oracle pins); [[embedNearDup]]'s doc carries the scale
    // sizing rule (round-3 verdict item 4).
    "q_dedup_embed" -> { (s, d) =>
      PipelineOps.embedNearDup(Tables.embeddings(s, d), signBits = 4,
        minCos = 0.35)
    },

    // ---- q_ann_ivf: IVF-style ANN (16 lists, nprobe=4, top-5) ---------
    // r16: served from TRAINED centroids ([[ivfTopKTrained]] — one
    // Lloyd round, AnnIndex.trainCentroids; the oracle trains the
    // identical round via the shared trainedCentsSql generator). The
    // seeded [[ivfTopK]] stays as the pedagogical form; its doc carries
    // the ~√n list-count sizing rule. The 100 TB path is unchanged — the
    // centroid table stays broadcast-size, corpus shuffles once by list.
    "q_ann_ivf" -> { (s, d) =>
      PipelineOps.ivfTopKTrained(s, d, nLists = 16, nProbe = 4, k = 5)
    },

    // ---- q_ann_recall: the ANN quality readout (r13 verdict item 2) ---
    // recall@5 of the IVF search vs the exact brute-force top-5 on the
    // SAME probes, swept over nprobe — the first number an ANN user asks
    // for, as a contract key (exact integer hit counts, oracle-able).
    // nprobe = nLists is pinned to recall 1.0 (IVF degrades to brute
    // force when every list is probed).
    "q_ann_recall" -> { (s, d) => PipelineOps.annRecall(s, d) },

    // ---- q_split_sample: deterministic train/val/test assignment ------
    // The split a training pipeline actually needs: content-hash bucketed
    // (NOT random — reproducible across reruns, machines, and engines;
    // and duplicate texts land in the same split so no train/test leak),
    // 80/10/10 by h60 mod 100. Narrow, no shuffle until the tiny count agg.
    "q_split_sample" -> { (s, d) =>
      val bucket = pmod(h60(col("text")), lit(100L))
      Tables.documents(s, d)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy(col("lang"), col("split"))
    },

    // ---- q_stratified_sample: deterministic k-per-group sample --------
    // The ablation/eval-subset primitive: exactly k docs per lang, picked
    // by content-hash order (uniform over the group, reproducible across
    // engines and reruns — no RNG state). Rank within lang by
    // (h60(text), doc_id) and keep rank ≤ k; Spark plans the per-group
    // rank with a WindowGroupLimit partial limit BEFORE the shuffle
    // (the q_topk_per_group machinery), so each partition forwards at
    // most k rows per group at any corpus size.
    "q_stratified_sample" -> { (s, d) =>
      QueryPack.topK(Tables.documents(s, d), Seq("lang"),
          Seq(h60(col("text")), col("doc_id")), 5, "rk")
        .select(col("lang"), col("doc_id"), col("n_chars"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    },

    // ---- q_token_budget: per-lang token-budget sampling ---------------
    // Training mixes are budgeted in TOKENS, not docs: take docs in
    // content-hash order until each lang's running token total crosses
    // the budget (the first crossing doc is kept — fill-until-exceeded,
    // so one oversized doc can't stall a lang). A naive per-lang running
    // sum is a hot-key scale problem (parallelism = #langs, one task
    // streams a whole language), so the prefix sum is two-level: h60's
    // top 6 bits give 64 ORDER-PRESERVING range buckets (all h in bucket
    // b sort before bucket b+1), the within-(lang, bucket) window runs at
    // langs×64-way parallelism, and per-bucket totals — a ≤64-row-per-lang
    // frame — prefix-sum into offsets that broadcast back. Same exact
    // integers as the single-window form, which is what the oracle runs.
    "q_token_budget" -> { (s, d) =>
      tokenBudgetSample(Tables.documents(s, d), 2000L)
        .orderBy(col("lang"), col("cum"))
    },

    // ---- q_corpus_mix: weighted per-source sampling (data mixing) -----
    // The training-mix op: each source is down-sampled to its weight by
    // the same content-hash buckets as q_split_sample (deterministic and
    // engine-independent; a doc is in or out regardless of run or
    // machine). Weights here: src0 100%, src1 75%, src2 50%, others 25%.
    // Narrow filter — rows never shuffle until the tiny count agg.
    "q_corpus_mix" -> { (s, d) =>
      val bucket = pmod(h60(col("text")), lit(100L))
      val keepPct = when(col("source") === "src0", 100L)
        .when(col("source") === "src1", 75L)
        .when(col("source") === "src2", 50L)
        .otherwise(25L)
      Tables.documents(s, d)
        .filter(bucket < keepPct)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
        .orderBy(col("source"))
    },

    // ---- q_seq_pack: training sequence packing ------------------------
    // Greedy token-budget packing: per lang, docs in doc_id order are
    // concatenated into packs of ≤512 tokens; a doc that would overflow
    // the budget closes the pack and seeds the next (oversized docs get a
    // pack of their own — same boundary rule as the reference's pre-insert
    // flush, applied to context windows instead of Kinesis records).
    // Output: per-pack doc count + token total (the collator's manifest).
    "q_seq_pack" -> { (s, d) =>
      PipelineOps.seqPack(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
                  size(split(col("text"), " ")).cast("long").as("tok")),
        budget = 512L)
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tokens"))
        .orderBy(col("lang"), col("pack_id"))
    },

    // ---- q_doc_chunk: fixed-token chunking with overlap (RAG prep) ----
    // The retrieval/pretraining chunker ([[chunkDocs]]): 32-token windows
    // at a 24-token stride (8-token overlap keeps boundary context
    // retrievable); fixture sort for the oracle.
    "q_doc_chunk" -> { (s, d) =>
      chunkDocs(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ---- q_embed_quantize: symmetric int8 vector quantization ---------
    // Per-vector symmetric int8 quantization (the PQ/scalar-quant step of
    // every vector-index build): scale = maxabs/127, q_i = round(x_i /
    // scale), plus the L2 reconstruction error. Narrow per-row math — no
    // shuffle at all before the output sort; at 100 TB this is one pass
    // that shrinks the index payload 4× (f32 → i8 + one scale). The
    // integer checksum Σq is exact in both engines (64 ints ≤ 127 sum
    // exactly in doubles in any order); the error uses the 3-dot-product
    // expansion ‖e‖² − 2·e·dq + ‖dq‖² so both engines evaluate the SAME
    // expression tree over the same sequential folds.
    "q_embed_quantize" -> { (s, d) =>
      val dotD = (a: Column, b: Column) =>
        aggregate(zip_with(a, b, _ * _), lit(0.0d), _ + _)
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("maxabs", array_max(transform(col("e"), abs(_))))
        .filter(col("maxabs") > 0)
        .withColumn("scale", col("maxabs") / lit(127.0d))
        .withColumn("qd", transform(col("e"), x => round(x / col("scale"), 0)))
        .withColumn("dq", transform(col("qd"), x => x * col("scale")))
        .select(col("vec_id"),
          aggregate(col("qd"), lit(0.0d), _ + _).cast("long").as("sum_q"),
          round(col("scale"), 6).as("scale_r"),
          round(sqrt(dotD(col("e"), col("e"))
            - lit(2.0d) * dotD(col("e"), col("dq"))
            + dotD(col("dq"), col("dq"))), 6).as("l2_err"))
        .orderBy(col("vec_id"))
    },

    // ---- q_multimodal_meta: opaque-binary column plumbing -------------
    // Media bytes as a BinaryType column with typed metadata: byte length,
    // 4-byte magic prefix (hex), head bytes (base64), fixed-stride frame
    // count. No media decoder runs: the key reads only the byte-level
    // metadata, which proves the binary schema/pushdown plumbing. Text
    // fixture is pure ASCII, so DuckDB's
    // char-substr on text ≡ Spark's byte-substr on the cast binary.
    "q_multimodal_meta" -> { (s, d) =>
      val bin = col("text").cast("binary")
      Tables.documents(s, d)
        .select(col("doc_id"), lit("text/plain").as("media_type"),
                octet_length(col("text")).cast("long").as("n_bytes"),
                hex(substring(bin, 1, 4)).as("magic_hex"),
                base64(substring(bin, 1, 6)).as("head_b64"),
                floor(octet_length(col("text")) / 64).cast("long")
                  .as("n_frames"))
        .orderBy(col("doc_id"))
    },

    // ---- q_repetition_score: duplicate-n-gram quality signals ---------
    // The Gopher/Dolma repetition filters: per doc, the fraction of
    // bigram OCCURRENCES that are repeats (1 − distinct/total) and the
    // most-frequent bigram's share of all occurrences. Bigrams digest to
    // h60 immediately, so the per-(doc, gram) shuffle moves (long, long)
    // rows, never gram strings; docs under 2 words have no bigrams and
    // drop out identically in both engines. Narrow explode + two
    // hash-aggs — one pass over the text at any corpus size.
    "q_repetition_score" -> { (s, d) =>
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.expr.WordShingles.of(col("text"), 2)).as("gs"))
        .select(col("doc_id"), h60(col("gs")).as("g"))
      grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_bigrams"), count(lit(1)).as("nd"),
             max(col("cnt")).as("top"))
        .select(col("doc_id"), col("n_bigrams"),
          round(lit(1.0) - col("nd").cast("double") /
            col("n_bigrams").cast("double"), 4).as("dup_frac"),
          round(col("top").cast("double") /
            col("n_bigrams").cast("double"), 4).as("top_frac"))
        .orderBy(col("doc_id"))
    },

    // ---- q_pii_scrub: PII redaction (emails / phones / URLs) ----------
    // The redaction pass every corpus runs before training. The fixture
    // carries no PII, so the dirty text is CONSTRUCTED deterministically
    // from customer columns (same expression in the oracle — both engines
    // scrub the identical string), then scrubbed with three anchored
    // character-class regexes (no lookaround — portable across Java regex
    // and RE2). Counts are measured pre-scrub. Pure narrow projection:
    // zero shuffles before the output sort, trivially scale-safe.
    "q_pii_scrub" -> { (s, d) =>
      val key = col("c_custkey")
      val raw = lower(concat(
        col("c_name"), lit(" contact user"), key.cast("string"),
        lit("@example.com"),
        when(key % 3 =!= 0, concat(lit(" or 555-"),
          lpad(((key * 7) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(key % 5 === 0, concat(lit(" cc admin"), key.cast("string"),
          lit("@corp.net"))).otherwise(lit("")),
        lit(" via https://ex.com/"), col("c_mktsegment")))
      val email = "[a-z0-9.#]+@[a-z0-9.]+"
      val phone = "555-[0-9]{4}"
      val url = "https://[a-z0-9./]+"
      Tables.customer(s, d)
        .select(col("c_custkey"), raw.as("raw"))
        .select(col("c_custkey"),
          size(regexp_extract_all(col("raw"), lit(email), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(col("raw"), lit(phone), lit(0)))
            .as("n_phones"),
          size(regexp_extract_all(col("raw"), lit(url), lit(0)))
            .as("n_urls"),
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            email, "<EMAIL>"), phone, "<PHONE>"), url, "<URL>")
            .as("scrubbed"))
        .orderBy(col("c_custkey"))
    },

    // ---- q_eval_contamination: benchmark n-gram overlap ---------------
    // Decontamination check: docs whose 8-gram sets overlap an eval set
    // (here: every 20th doc plays the benchmark) above 50%. The eval
    // side's distinct gram digests are BROADCAST — eval suites are tiny
    // next to a training corpus, so the corpus-side gram stream never
    // shuffles for the membership test (only the per-doc count does, by
    // doc_id). Grams ride as h60 longs. Totals and hits come from ONE
    // aggregation over a LEFT join against the marked eval set (a
    // separate hits branch would re-evaluate the train gram pipeline —
    // a second full text scan; the %20 filters push below the distinct,
    // so ReuseExchange cannot dedupe the branches).
    "q_eval_contamination" -> { (s, d) =>
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.expr.WordShingles.of(col("text"), 8)).as("gs"))
        .select(col("doc_id"), h60(col("gs")).as("g"))
        .distinct()
      val evalGrams = grams.filter(col("doc_id") % 20 === 0)
        .select(col("g")).distinct().withColumn("hit", lit(1L))
      grams.filter(col("doc_id") % 20 =!= 0)
        .join(broadcast(evalGrams), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
             sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("doc_id"), col("n_grams"),
          round(col("n_hit").cast("double") /
            col("n_grams").cast("double"), 4).as("contamination"))
        .filter(col("contamination") >= 0.5)
        .orderBy(col("doc_id"))
    },

    // ---- q_weighted_sample: deterministic weighted sampling -----------
    // Efraimidis–Spirakis A-ES reservoir (top-k by u^(1/w), here in the
    // order-equivalent log form ln(u)/w): the standard way to draw a
    // weighted sample in ONE distributed pass with no RNG state — the
    // uniform u comes from the shared content digest ((h60+1)/2^60 ∈
    // (0,1]), so the sample is reproducible across runs, engines, and
    // partitionings, and re-running on a grown corpus keeps every
    // previously-drawn key comparable (the streaming-reservoir property).
    // Weight = n_chars: longer docs proportionally likelier. 100 TB lens:
    // narrow projection + a k-row TakeOrderedAndProject — no shuffle of
    // the corpus, the k=25 heap merges per-partition.
    "q_weighted_sample" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(log((h60(col("text")) + 1).cast("double") /
                    lit(1152921504606846976L).cast("double")) /
                col("n_chars"), 10).as("pri"))
        .orderBy(col("pri").desc, col("doc_id"))
        .limit(25)
    },

    // ---- q_containment: asymmetric sub-document duplication -----------
    // Containment C(A→B) = |A∩B|/|A| over distinct 5-gram sets — the
    // near-dup signal Jaccard structurally misses: a short doc pasted
    // inside a long one has tiny Jaccard (union is big) but containment
    // ≈ 1. Candidates and overlaps come from [[rareGramOverlap]], the
    // kernel q_dedup_ngram runs over bigrams (df ≤ 20 blocking — recall
    // bounded by it, identical in the oracle by construction).
    "q_containment" -> { (s, d) =>
      rareGramOverlap(Tables.documents(s, d), 5)
        .withColumn("c12", round(col("ov").cast("double") / col("n1"), 4))
        .withColumn("c21", round(col("ov").cast("double") / col("n2"), 4))
        .filter(greatest(col("c12"), col("c21")) >= 0.6)
        .select(col("d1"), col("d2"), col("c12"), col("c21"))
        .orderBy(col("d1"), col("d2"))
    },

    // Hashing-trick featurization (the fixed-width bag-of-words behind
    // linear/logistic baselines and feature stores): every token hashes
    // into one of 64 buckets via the shared h60 digest; output = the
    // per-(lang, bucket) token count and document frequency — the
    // corpus-side feature-frequency table a trainer ships with the
    // model. ONE explode + one hash agg; the token stream shuffles as
    // (lang, small-int) pairs, never words, and the output is
    // |langs|×64 rows at ANY corpus scale. countDistinct(doc_id) is
    // exact (expands to a two-level agg); the documented 100 TB swap is
    // approx_count_distinct, the q_agg_approx_distinct machinery.
    "q_feature_hash" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("lang"), col("doc_id"), (h60(col("w")) % 64).as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_tokens"),
             countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("lang"), col("bucket"))
    },

    // Deterministic k-fold split (cross-validation assignment that is
    // reproducible across runs, engines, and partitionings — no RNG
    // state, the q_split_sample content-hash discipline applied to the
    // id grain): fold = h60(doc_id) mod 5, with per-fold volume stats
    // and each fold's share of the corpus. The share denominator is a
    // window sum over the 5-row aggregate, not a second corpus pass.
    "q_kfold" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("fold",
          (h60(col("doc_id").cast("string")) % 5).cast("int"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("n_chars"),
             countDistinct(col("lang")).as("n_langs"))
        .withColumn("share", round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy()).cast("double"), 4))
        .orderBy(col("fold"))
    },

    // Per-class embedding centroids (the vector-analytics grain behind
    // classifier calibration and cluster drift monitoring): mean / min /
    // max of the first 8 dimensions per label. Floats widen to double
    // EXACTLY, each term dec10-rounds identically in both engines, and
    // the decimal sums make the mean order-independent (the q_ewma
    // discipline on the vector grain). ONE narrow bounded-fan-out
    // explode + one hash agg — (label, pos) cells are map-side
    // combinable partial sums, so a 100 TB embedding table reduces to
    // |labels|×dims cells without any row ever leaving its scan task
    // un-aggregated.
    "q_embed_centroid" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .filter(col("pos") < 8)
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"),
          round(sum(dec10(col("v").cast("double"))).cast("double") /
                count(lit(1)).cast("double"), 4).as("centroid"),
          round(min(col("v").cast("double")), 4).as("vmin"),
          round(max(col("v").cast("double")), 4).as("vmax"))
        .orderBy(col("label"), col("pos"))
    }
  )

  /** The rare-gram candidate kernel of q_dedup_ngram (word bigrams) and
    * q_containment (word 5-grams): (d1, d2, ov, n1, n2) for every doc
    * pair d1 < d2 sharing at least one gram of doc-frequency ≤ 20 (prefix
    * filtering), with `ov` = |G1 ∩ G2| over the docs' full distinct gram
    * sets of sizes n1 and n2.
    *
    * Grams come from the codegen'd WordShingles (empty set for docs
    * shorter than `width` words — they can't be near-dups; exact dedup
    * catches identical short texts), digested to h60 immediately: every
    * downstream shuffle, distinct, and join then moves 8-byte longs
    * instead of gram strings. Gram STRINGS must match the oracles'
    * space-joined words exactly — h60 runs on them.
    *
    * r19 opt: the gram frame feeds FIVE subtree copies (sizes, both rare
    * sides, both intersection sides) and rare feeds its own self-join
    * twice; AQE reuses none of them across branches, so the
    * scan+shingle+digest+distinct pipeline re-ran per copy. Both are
    * narrow (doc_id, h60 long) rows, cut once with lazy localCheckpoints.
    * The exact intersection runs only inside candidate pairs, and both
    * directions of it come out of ONE overlap count. */
  private def rareGramOverlap(docs: DataFrame, width: Int): DataFrame = {
    val grams = docs.select(col("doc_id"),
        explode(graft.expr.WordShingles.of(col("text"), width)).as("gs"))
      .select(col("doc_id"), h60(col("gs")).as("g"))
      .distinct()
      .localCheckpoint(eager = false)
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val rare = grams.join(
      grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 20).select(col("g")), Seq("g"))
      .localCheckpoint(eager = false)
    val cand = rare.alias("x").join(rare.alias("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    cand
      .join(grams.select(col("doc_id").as("d1"), col("g")), Seq("d1"))
      .join(grams.select(col("doc_id").as("d2"), col("g")), Seq("d2", "g"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("ov"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
  }

  /** Greedy sequence packing as a streaming secondary sort. Input must have
    * columns (doc_id LONG, lang STRING, tok LONG); output adds pack_id.
    *
    * Shape: `repartition(lang)` + `sortWithinPartitions(lang, doc_id)` +
    * `mapPartitions` — ONE shuffle, then an O(1)-memory linear pass. Rows
    * of a lang arrive contiguous and already ordered, so the fold carries
    * only (current lang, running token count, pack counter) — no per-group
    * buffering, unlike a `flatMapGroups` + sort which materializes each
    * group in one task and OOMs on a hot lang at corpus scale (a hot
    * natural language IS most of a 100 TB corpus). Packing is inherently
    * sequential per key (each doc's pack depends on all prior sizes);
    * real pipelines pack by finer keys (shard/file id) for parallelism —
    * the operator is key-agnostic, same shape either way. */
  /** 60-bit SimHash near-dup pairs (the q_dedup_simhash semantics):
    * signature = sign of per-bit ±1 sums over distinct word hashes,
    * 4 bands × 15 bits (pigeonhole: every pair within Hamming 3 shares a
    * band), exact Hamming ≤ 3 on band-mates. Returns (d1, d2, hamming),
    * d1 < d2, unordered.
    *
    * `bandSaltFactor`: hot-band knob, same contract as
    * [[graft.ops.TextOps.minhashPairs]] — a boilerplate band value maps
    * millions of docs to one bucket whose B² comparisons would run in a
    * single reducer; salting F ways via [[Skew.selfPairs]] splits the
    * bucket into F tasks for F× replication. Identical result for any
    * factor (SkewAndBucketSpec pins it).
    */
  def simhashPairs(docs: DataFrame, bandSaltFactor: Int = 1): DataFrame = {
    // Hash before the distinct: the dedup shuffle moves (long, long)
    // rows, not word strings. Distinct-by-hash ≡ distinct-by-word on
    // both engines (identical digests), so the oracle mirrors this.
    // Explicit repartition first — the shingleHashes discipline (r16):
    // per-word MD5 hashing is CPU-dense and must spread independent of
    // source file layout; measured 3.7 → 1.05 s at sf0.1.
    val wh = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), h60(col("word")).as("h"))
      .distinct()
    val bitCols = (0 until SimBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$i")
    }
    // Per-doc signatures, materialized once for the band self-join's two
    // sides (two longs per doc — executor-storable at any corpus size);
    // same rationale — and same LAZY eager=false discipline (ADVICE r8:
    // plan-only consumers pay nothing) — as minhashPairs' signature
    // checkpoint.
    val sim = wh.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until SimBits).map(i =>
          when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
      .localCheckpoint(eager = false)
    val bands = sim.select(col("doc_id"), col("sim"),
        explode(array((0 until SimBands).map(j =>
          struct(lit(j).as("bj"),
            shiftright(col("sim"), 15 * j).bitwiseAND(lit(BandMask))
              .as("bv"))): _*)).as("bk"))
      .select(col("doc_id"), col("sim"),
              col("bk.bj").as("bj"), col("bk.bv").as("bv"))
    Skew.selfPairs(bands, keyCols = Seq("bj", "bv"), idCol = "doc_id",
        carry = Seq("sim"), saltFactor = bandSaltFactor)
      .withColumn("hamming",
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Per-lang token-budget sampling (q_token_budget semantics): docs in
    * content-hash order until each lang's running token total crosses
    * `budget` (the crossing doc is kept — fill-until-exceeded, so one
    * oversized doc can't stall a lang). Returns the manifest
    * (lang, doc_id, tok, cum); join back on doc_id to carry text.
    *
    * The prefix sum is two-level so no single task streams a whole
    * language: h60's top 6 bits are 64 ORDER-PRESERVING range buckets
    * (every h in bucket b sorts before bucket b+1), the doc-level cumsum
    * window runs at langs×64-way parallelism, and the ≤64-rows-per-lang
    * bucket totals prefix-sum into offsets that broadcast back. Exact
    * same integers as the naive single window (SqlParitySpec pins it). */
  def tokenBudgetSample(docs: DataFrame, budget: Long): DataFrame = {
    val base = docs.select(
        col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("tok"),
        h60(col("text")).as("h"))
      .withColumn("bucket", shiftright(col("h"), 54))
    val wIn = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    val wOff = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("tok")).as("btot"))
      .withColumn("off", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .select(col("lang"), col("bucket"), col("off"))
    base.withColumn("wcum", sum(col("tok")).over(wIn))
      .join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("cum", col("off") + col("wcum"))
      .filter(col("cum") - col("tok") < budget)
      .select(col("lang"), col("doc_id"), col("tok"), col("cum"))
  }

  /** Fixed-token chunking with overlap (q_doc_chunk semantics, the
    * RAG/pretraining chunker): each doc's whitespace tokens split into
    * `window`-token chunks advancing by `stride` tokens (window − stride
    * tokens of overlap). Chunk starts come from one
    * `sequence(0, n−1, stride)` + posexplode — a single Generate whose
    * fan-out is ⌈n/stride⌉ per row, so the stage is a pure narrow map at
    * any corpus size: zero shuffles, text tokenized exactly once per doc
    * (chunks slice the already-split token array). Returns
    * (doc_id, chunk_id, n_tok, chunk). */
  def chunkDocs(docs: DataFrame, window: Int = 32,
                stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(stride))))
      .toDF("doc_id", "toks", "chunk_id", "st")
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("toks"), col("st") + 1, lit(window))).as("n_tok"),
        array_join(slice(col("toks"), col("st") + 1, lit(window)), " ")
          .as("chunk"))
  }

  def seqPack(docs: DataFrame, budget: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.as[DocTok]
      .repartition(col("lang"))
      .sortWithinPartitions(col("lang"), col("doc_id"))
      .mapPartitions { it =>
        var curLang: String = null
        var cur = 0L
        var pack = 0L
        it.map { t =>
          if (t.lang != curLang) { curLang = t.lang; cur = 0L; pack = 0L }
          if (cur + t.tok > budget && cur > 0) { pack += 1; cur = 0 }
          val out = DocPack(t.doc_id, t.lang, pack, t.tok)
          cur += t.tok
          out
        }
      }
      .toDF()
  }

  /** Sequential-fold dot product (same fold order as DuckDB's
    * list_dot_product over DOUBLE[] casts). Backed by the codegen'd
    * [[graft.expr.DotProduct]] — identical doubles to the HOF
    * `aggregate(zip_with(...))` form it replaced (DotProductSpec pins the
    * equivalence) without its per-evaluation lambda/array overhead. */
  private[ops] def dot(a: Column, b: Column): Column =
    graft.expr.DotProduct.dot(a, b)

  /** Sign-bit LSH bucket id: the sign pattern of the first `signBits`
    * dimensions, packed little-endian into a Long (2^signBits buckets).
    * For a random-hyperplane reading: dimension i IS the hyperplane normal
    * e_i, so two vectors share a bucket iff no probed dimension separates
    * them. */
  def signBucket(emb: Column, signBits: Int): Column =
    signBucketAt(emb, 0, signBits)

  /** [[signBucket]] over dimensions [offset, offset+signBits) — the
    * building block for multi-table LSH, where each table probes a
    * disjoint dimension range. */
  def signBucketAt(emb: Column, offset: Int, signBits: Int): Column = {
    require(signBits >= 1 && signBits <= 62, s"signBits out of range: $signBits")
    require(offset >= 0, s"offset out of range: $offset")
    (0 until signBits).map(i =>
      when(element_at(emb, offset + i + 1) >= 0f, lit(1L << i))
        .otherwise(lit(0L))).reduce(_ + _)
  }

  /** Embedding-cosine near-duplicate pairs over sign-bucket candidates:
    * exact cosine runs only inside a bucket, and the bucket width is the
    * SCALE KNOB (round-3 verdict item 4). Candidate volume is
    * Σ_buckets(size²)/2 ≈ n²/2^(signBits+1) for balanced buckets, so
    * 2^signBits must GROW with the corpus: pick
    * `signBits ≈ log2(n / targetRowsPerBucket)` — e.g. ~2k rows per bucket
    * keeps the per-bucket cross bounded; for n = 10^10 that's signBits ≈ 22.
    * Widening buckets only ever REMOVES candidate pairs (bucket ids are
    * sign-prefixes: agreement on b+1 bits implies agreement on b), a
    * monotonicity EmbedLshSpec pins, and loses only pairs that disagree on
    * some probed sign — true near-duplicates agree on every non-borderline
    * dimension. Multi-table LSH (OR of several independent dimension sets)
    * buys recall back at scale if the single-table loss matters.
    *
    * Norms are precomputed once per vector, not once per pair: inside the
    * bucket join each row would otherwise evaluate three 64-element folds;
    * this leaves exactly one (the cross dot). sqrt(dot(v,v)) is the same
    * double either way, so an oracle recomputing norms per pair still
    * hash-matches.
    */
  def embedNearDup(emb: DataFrame, signBits: Int, minCos: Double): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), signBits).as("bkt"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    e.alias("x").join(e.alias("y"),
        col("x.bkt") === col("y.bkt") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        round(dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")), 4).as("cos"))
      .filter(col("cos") >= minCos)
      .orderBy(col("v1"), col("v2"))
  }

  /** Multi-table variant of [[embedNearDup]] — the recall-back path
    * SCALE.md prescribes when single-table sign-LSH gets wide enough to
    * drop borderline pairs: `tables` independent single-table passes, each
    * probing its own disjoint dimension range [t·signBits, (t+1)·signBits),
    * candidates OR-ed before one exact-cosine confirm. A pair is found iff
    * SOME table's probed dimensions all agree in sign — per-table candidate
    * volume stays n²/2^(signBits+1), total work scales linearly in
    * `tables`, and recall only grows (table 0 alone IS the single-table
    * pass; EmbedLshSpec pins both directions). Classic LSH tuning applies:
    * widen `signBits` to cut candidates, add `tables` to buy recall back.
    * `signBits * tables` must not exceed the embedding dimensionality —
    * ANSI-mode `element_at` fails fast (INVALID_ARRAY_INDEX) past the end
    * rather than silently bucketing on nulls.
    */
  def embedNearDupMulti(emb: DataFrame, signBits: Int, tables: Int,
                        minCos: Double): DataFrame = {
    require(tables >= 1, s"tables out of range: $tables")
    val bktCols = (0 until tables).map(t =>
      signBucketAt(col("embedding"), t * signBits, signBits).as(s"bkt$t"))
    val e = emb.select(Seq(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm")) ++ bktCols: _*)
    val cand = (0 until tables).map { t =>
      e.alias("x").join(e.alias("y"),
          col(s"x.bkt$t") === col(s"y.bkt$t") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
    }.reduce(_ unionAll _).distinct()
    cand
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1"),
        col("nrm").as("n1")), Seq("v1"))
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2"),
        col("nrm").as("n2")), Seq("v2"))
      .select(col("v1"), col("v2"),
        round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 4).as("cos"))
      .filter(col("cos") >= minCos)
      .orderBy(col("v1"), col("v2"))
  }

  /** IVF-style approximate nearest neighbour: assign every vector to its
    * nearest of `nLists` "centroids" (deterministically vectors
    * 0..nLists-1 — a k-means stand-in that keeps the op oracle-able), then
    * each probe (rows matching `isProbe`) searches only its `nProbe`
    * nearest inverted lists for its cosine top-`k`.
    *
    * Scale knob (round-3 verdict item 4): probe work is
    * ~`nProbe * n / nLists` per query, so `nLists` must grow with the
    * corpus — the classic IVF rule is `nLists ≈ √n` (balances the
    * broadcast centroid scan `nLists` against the list scan `n/nLists`);
    * n = 10^9 ⇒ ~32k lists, still trivially broadcast-size. Recall is
    * tuned by `nProbe` alone: `nProbe = nLists` degrades gracefully to the
    * exact brute-force top-k (EmbedLshSpec pins this identity).
    */
  def ivfTopK(emb: DataFrame, isProbe: Column, nLists: Int, nProbe: Int,
              k: Int): DataFrame = {
    require(nLists >= 1 && nProbe >= 1 && k >= 1, "ivfTopK params must be >= 1")
    val e = withNorm(emb)
    val cents = e.filter(col("vec_id") < nLists)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
              col("nrm").as("cnrm"))
    ivfServe(e, cents, dot, isProbe, nProbe, k)
  }

  /** (vec_id, embedding, nrm): norms precomputed once per vector (see
    * embedNearDup). */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))

  /** Round-4 cosine of probe `pe` to corpus vector `embedding`. */
  private val probeCos: Column = round(dot(col("pe"), col("embedding")) /
    (col("pnrm") * col("nrm")), 4).as("cos")

  /** The probes of an IVF serve as (probe_id, pe, pnrm). */
  private def probesOf(e: DataFrame, isProbe: Column): DataFrame =
    e.filter(isProbe).select(col("vec_id").as("probe_id"),
      col("embedding").as("pe"), col("nrm").as("pnrm"))

  /** The IVF candidate frame (probe_id, vec_id, plrn, cos) behind
    * [[ivfTopK]], [[ivfTopKTrained]] and [[annRecall]]. Given the corpus
    * `e` ([[withNorm]]), a centroid frame (cent_id, ce, cnrm) and its dot
    * product `cdot(vector, centroid)`:
    *  - assignment: each vector files under its best-cosine centroid, ties
    *    to the smaller cent_id, as one mergeable argmax aggregate (the
    *    |V| × nLists broadcast fan-out collapses map-side to one row per
    *    vector before the shuffle);
    *  - routing: each probe ranks the centroids the same way and keeps the
    *    `nProbe` best in `plrn`;
    *  - scoring: every other vector in a routed list, with its round-4
    *    cosine to the probe.
    * Probe work is ~nProbe·n/nLists per query; centroids are broadcast. */
  private def ivfCandidates(e: DataFrame, cents: DataFrame,
                            cdot: (Column, Column) => Column,
                            isProbe: Column, nProbe: Int): DataFrame = {
    def centCos(v: Column, nrm: Column) =
      cdot(v, col("ce")) / (nrm * col("cnrm"))
    val asg = QueryPack.argmaxBy(
      e.join(broadcast(cents))
        .withColumn("cc", centCos(col("embedding"), col("nrm"))),
      Seq("vec_id"), Seq(col("cc").desc, col("cent_id")), Seq("cent_id"))
    val plists = QueryPack.topK(
        probesOf(e, isProbe).join(broadcast(cents))
          .withColumn("pc", centCos(col("pe"), col("pnrm"))),
        Seq("probe_id"), Seq(col("pc").desc, col("cent_id")), nProbe, "plrn")
      .select(col("probe_id"), col("pe"), col("pnrm"), col("cent_id"),
              col("plrn"))
    plists.join(asg, Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .join(e, Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"), col("plrn"), probeCos)
  }

  /** [[ivfCandidates]] cut to each probe's cosine top-`k`, in key order. */
  private def ivfServe(e: DataFrame, cents: DataFrame,
                       cdot: (Column, Column) => Column, isProbe: Column,
                       nProbe: Int, k: Int): DataFrame =
    AnnIndex.cosTopK(ivfCandidates(e, cents, cdot, isProbe, nProbe), k)
      .select(col("probe_id"), col("rn"), col("vec_id"), col("cos"))
      .orderBy(col("probe_id"), col("rn"))

  /** TRAINED centroid frame shared by the serving keys: one spherical-
    * Lloyd round ([[AnnIndex.trainCentroids]]), norms precomputed,
    * localCheckpointed because both the list-assignment and
    * probe-routing arms read it (re-deriving the lineage would re-run
    * the training job). */
  private def trainedCents(s: SparkSession, d: String,
                           nLists: Int): DataFrame =
    AnnIndex.trainCentroids(Tables.embeddings(s, d), nLists)
      .select(col("cid").as("cent_id"), col("carr").as("ce"),
        sqrt(AnnIndex.dotD(col("carr"), col("carr"))).as("cnrm"))
      // lazy (r20): materializes inside the first consumer's broadcast
      // build (never unpersisted), saving the dedicated training job
      .localCheckpoint(eager = false)

  /** Dot product of a float corpus vector with a double centroid mean:
    * through the double HOF, sequential-order sums, so the cosines stay
    * bit-reproducible cross-engine. */
  private def trainedDot(v: Column, c: Column): Column =
    AnnIndex.dotD(transform(v, x => x.cast("double")), c)

  /** The fixture probes of the serving keys: vec_ids 10-14. */
  private val fixtureProbes: Column = col("vec_id") >= 10 && col("vec_id") < 15

  /** [[ivfTopK]] served from TRAINED centroids (r16, VERDICT r15 item 3):
    * the q_ann_ivf contract key's form — identical inverted-file serve
    * shape, but the lists hang off the one-round spherical-Lloyd means
    * [[AnnIndex.trainCentroids]] computes, not the first-nLists raw seed
    * vectors the pedagogical [[ivfTopK]] uses. Recall at fixed nProbe is
    * measurably higher (EmbedLshSpec pins trained ≥ seeded at the key's
    * nProbe=4). Scale shape unchanged: centroids broadcast, corpus
    * shuffles once by list id, probe work ~nProbe·n/nLists. */
  def ivfTopKTrained(s: SparkSession, d: String, nLists: Int, nProbe: Int,
                     k: Int): DataFrame = {
    require(nLists >= 1 && nProbe >= 1 && k >= 1,
      "ivfTopKTrained params must be >= 1")
    ivfServe(withNorm(Tables.embeddings(s, d)), trainedCents(s, d, nLists),
      trainedDot, fixtureProbes, nProbe, k)
  }

  /** recall@k of [[ivfTopKTrained]] against the exact brute-force top-k on
    * the same probes, swept over `nProbes` — one row per nprobe setting
    * with integer hit counts and the recall ratio. Shares ONE centroid
    * assignment and ONE candidate frame across the sweep (the per-nprobe
    * results are prefix-filters of the widest probe list, so the corpus
    * is scanned once, not |nProbes| times); the candidate frame is
    * localCheckpointed because every sweep branch re-reads it.
    * At 100 TB the exact arm is the expensive one — recall measurement
    * runs on a SAMPLE of probes (here: the 5 fixture probes), which is
    * exactly how production ANN recall is audited. */
  def annRecall(s: SparkSession, d: String, nLists: Int = 16,
                nProbes: Seq[Int] = Seq(1, 2, 4, 8, 16),
                k: Int = 5): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    // exact ground truth: brute-force top-k (the q_similarity_topk shape)
    val exact = AnnIndex.cosTopK(
        e.join(broadcast(probesOf(e, fixtureProbes)),
            col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), probeCos), k)
      .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
      // r19 opt: the exact arm feeds BOTH the denominator count and the
      // hit join; without a cut the brute-force corpus pass + its top-k
      // window re-ran per consumer (AQE reuses no exchange across
      // branches). The frame is k·|probes| rows — trivial to pin.
      .localCheckpoint(eager = false)
    val cand = ivfCandidates(e, trainedCents(s, d, nLists), trainedDot,
        fixtureProbes, nProbes.max)
      // lazy (r20): nothing unpersists it, so the first sweep branch can
      // materialize it inside its own job instead of a dedicated one
      .localCheckpoint(eager = false)
    val ivf = nProbes.map { np =>
      AnnIndex.cosTopK(cand.filter(col("plrn") <= np), k)
        .select(lit(np).as("nprobe"), col("probe_id"), col("vec_id"))
    }.reduce(_ unionByName _)
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    ivf.join(exact, Seq("probe_id", "vec_id"), "left")
      .groupBy(col("nprobe"))
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .crossJoin(broadcast(ne))
      .select(col("nprobe"), col("n_hits"), col("n_exact"),
        round(col("n_hits").cast("double") /
              col("n_exact").cast("double"), 4).as("recall"))
      .orderBy(col("nprobe"))
  }

  /** SQL dot product in either dialect (duck = DuckDB, else Spark). */
  private def sqlDp(duck: Boolean)(a: String, b: String): String =
    if (duck) s"list_dot_product($a, $b)"
    else s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
         "CAST(0 AS DOUBLE), (p, q) -> p + q)"

  /** SQL cosine in either dialect (sequential-order sums — the
    * bit-reproducible idiom both engines share). */
  private def sqlCos(duck: Boolean)(a: String, b: String): String = {
    val dp = sqlDp(duck) _
    s"${dp(a, b)} / (sqrt(${dp(a, a)}) * sqrt(${dp(b, b)}))"
  }

  /** Shared TRAINED-centroid CTE chain (e → seeds → ka → exg → cgrid →
    * cents(cent_id, ce)) — one spherical-Lloyd round: cosine assignment
    * to the round-6 RANK-seeded init (the nLists smallest vec_ids — the
    * r16 corpus-shape-independent rule AnnIndex.trainCentroids runs),
    * then round-6 exact-decimal means. Single source for BOTH the
    * q_ann_ivf and q_ann_recall oracles and their Spark twins, so the
    * serving keys can never train differently from what the oracle
    * checks. */
  private def trainedCentsSql(duck: Boolean, nLists: Int): String = {
    val cos = sqlCos(duck) _
    val cast =
      if (duck) "CAST(embedding AS DOUBLE[])"
      else "CAST(embedding AS ARRAY<DOUBLE>)"
    val r6 =
      if (duck) "list_transform(v, x -> round(x, 6))"
      else "transform(v, x -> round(x, 6))"
    val exg =
      if (duck) s"""
        SELECT vec_id, CAST(t.r AS INT) AS pos,
               v[CAST(t.r AS INT) + 1] AS vv
        FROM e, range(${MiningOps.KmDims}) t(r)"""
      else """
        SELECT vec_id, pos, vv FROM e
        LATERAL VIEW posexplode(v) t AS pos, vv"""
    val relist =
      if (duck) "list(c ORDER BY pos)"
      else "transform(array_sort(collect_list(struct(pos, c))), pc -> pc.c)"
    s"""e AS (SELECT vec_id, $cast AS v FROM embeddings),
      seeds AS (
        SELECT CAST(srn - 1 AS INT) AS cid, c FROM (
          SELECT row_number() OVER (ORDER BY vec_id) AS srn, $r6 AS c
          FROM e) WHERE srn <= $nLists),
      ka AS (
        SELECT vec_id, cid FROM (
          SELECT e.vec_id, s.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              ${cos("e.v", "s.c")} DESC, s.cid) AS rn
          FROM e, seeds s) WHERE rn = 1),
      exg AS ($exg),
      cgrid AS (
        SELECT a.cid, x.pos,
          round(CAST(sum(CAST(x.vv AS DECIMAL(28,10))) AS DOUBLE) /
                CAST(count(*) AS DOUBLE), 6) AS c
        FROM exg x JOIN ka a USING (vec_id) GROUP BY a.cid, x.pos),
      cents AS (SELECT cid AS cent_id, $relist AS ce FROM cgrid GROUP BY cid)"""
  }

  /** Single source for the q_ann_ivf oracle AND its Spark twin (r16,
    * VERDICT r15 item 3: the contract key now serves from the TRAINED
    * centroids — the Lloyd round of [[AnnIndex.trainCentroids]] —
    * instead of the first-nLists seed vectors). */
  def annIvfSql(duck: Boolean, nLists: Int = 16, nProbe: Int = 4,
                k: Int = 5): String = {
    val cos = sqlCos(duck) _
    s"""
      WITH ${trainedCentsSql(duck, nLists)},
      asg AS (
        SELECT vec_id, cent_id FROM (
          SELECT e.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              ${cos("e.v", "c.ce")} DESC, c.cent_id) AS rn
          FROM e, cents c) WHERE rn = 1),
      probes AS (
        SELECT vec_id AS probe_id, v AS pe FROM e
        WHERE vec_id >= 10 AND vec_id < 15),
      plists AS (
        SELECT probe_id, pe, cent_id FROM (
          SELECT p.probe_id, p.pe, c.cent_id,
            row_number() OVER (PARTITION BY p.probe_id ORDER BY
              ${cos("p.pe", "c.ce")} DESC, c.cent_id) AS rn
          FROM probes p, cents c) WHERE rn <= $nProbe)
      SELECT probe_id, CAST(rn AS INT) AS rn, vec_id, cos FROM (
        SELECT pl.probe_id, a.vec_id,
          round(${cos("pl.pe", "e.v")}, 4) AS cos,
          row_number() OVER (PARTITION BY pl.probe_id ORDER BY
            round(${cos("pl.pe", "e.v")}, 4) DESC, a.vec_id) AS rn
        FROM plists pl
        JOIN asg a ON a.cent_id = pl.cent_id AND a.vec_id <> pl.probe_id
        JOIN e ON e.vec_id = a.vec_id)
      WHERE rn <= $k ORDER BY probe_id, rn"""
  }

  /** Single source for the q_ann_recall oracle AND its Spark-dialect twin
    * (the kmeansSql discipline) — only the dot-product idiom and the
    * array cast differ between dialects; the recall algebra, the nprobe
    * sweep, and every tie-break are byte-identical. */
  def annRecallSql(duck: Boolean): String = {
    val cos = sqlCos(duck) _
    val nps = Seq(1, 2, 4, 8, 16)
    val ivfCtes = nps.map { np => s"""
      ivf$np AS (
        SELECT $np AS nprobe, probe_id, vec_id FROM (
          SELECT pl.probe_id, a.vec_id,
            row_number() OVER (PARTITION BY pl.probe_id ORDER BY
              round(${cos("pl.pe", "e.v")}, 4) DESC, a.vec_id) AS rn
          FROM pl
          JOIN asg a ON a.cent_id = pl.cent_id AND a.vec_id <> pl.probe_id
          JOIN e ON e.vec_id = a.vec_id
          WHERE pl.plrn <= $np) WHERE rn <= 5)"""
    }.mkString(",")
    val ivfUnion = nps.map(np => s"SELECT * FROM ivf$np")
      .mkString(" UNION ALL ")
    // The TRAINED-centroid chain is the shared [[trainedCentsSql]] prefix
    // (r16) — byte-identical between the q_ann_ivf and q_ann_recall
    // oracles and both Spark twins.
    s"""
      WITH ${trainedCentsSql(duck, 16)},
      asg AS (
        SELECT vec_id, cent_id FROM (
          SELECT e.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              ${cos("e.v", "c.ce")} DESC, c.cent_id) AS rn
          FROM e, cents c) WHERE rn = 1),
      probes AS (
        SELECT vec_id AS probe_id, v AS pe FROM e
        WHERE vec_id >= 10 AND vec_id < 15),
      exact AS (
        SELECT probe_id, vec_id FROM (
          SELECT p.probe_id, x.vec_id,
            row_number() OVER (PARTITION BY p.probe_id ORDER BY
              round(${cos("p.pe", "x.v")}, 4) DESC, x.vec_id) AS rn
          FROM probes p JOIN e x ON x.vec_id <> p.probe_id) WHERE rn <= 5),
      pl AS (
        SELECT probe_id, pe, cent_id, plrn FROM (
          SELECT p.probe_id, p.pe, c.cent_id,
            row_number() OVER (PARTITION BY p.probe_id ORDER BY
              ${cos("p.pe", "c.ce")} DESC, c.cent_id) AS plrn
          FROM probes p, cents c) WHERE plrn <= ${nps.max}),$ivfCtes,
      ivf AS ($ivfUnion),
      ne AS (SELECT count(*) AS n_exact FROM exact)
      SELECT i.nprobe,
        CAST(sum(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
        ne.n_exact,
        round(CAST(sum(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(ne.n_exact AS DOUBLE), 4) AS recall
      FROM ivf i
      LEFT JOIN exact x
        ON x.probe_id = i.probe_id AND x.vec_id = i.vec_id
      CROSS JOIN ne
      GROUP BY i.nprobe, ne.n_exact
      ORDER BY i.nprobe"""
  }

  /** Language profiles from a LABELED corpus: top-`profileSize` words per
    * lang (count desc, word asc). Tiny result — meant to be broadcast. */
  def languageProfiles(labeled: DataFrame, profileSize: Int): DataFrame =
    QueryPack.topK(
        labeled.select(col("lang").as("p_lang"),
            explode(split(col("text"), " ")).as("word"))
          .groupBy(col("p_lang"), col("word"))
          .agg(count(lit(1)).as("n")),
        Seq("p_lang"), Seq(col("n").desc, col("word")), profileSize)
      .select(col("p_lang"), col("word"))

  /** Profile-vote prediction for any (doc_id, text) frame: each doc votes
    * for the lang whose profile shares the most distinct words (ties to
    * the lexicographically first lang). Docs with zero profile overlap
    * are absent from the result. Returns (doc_id, pred_lang). */
  def predictLanguage(docs: DataFrame, profiles: DataFrame): DataFrame =
    QueryPack.argmaxBy(
        docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .distinct()
          .join(broadcast(profiles), Seq("word"))
          .groupBy(col("doc_id"), col("p_lang"))
          .agg(count(lit(1)).as("score")),
        Seq("doc_id"), Seq(col("score").desc, col("p_lang")), Seq("p_lang"))
      .select(col("doc_id"), col("p_lang").as("pred_lang"))

  // ---------------- DuckDB oracles ----------------

  private val simBitSumsSql = (0 until SimBits).map(i =>
    s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
  private val simReconstructSql = (0 until SimBits).map(i =>
    s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")

  def oracles: Map[String, String] = Map(
    "q_lang_id" -> """
      WITH w AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        FROM documents),
      profile AS (
        SELECT p_lang, word FROM (
          SELECT lang AS p_lang, word, count(*) AS n,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY count(*) DESC, word) AS rn
          FROM w GROUP BY lang, word) WHERE rn <= 20),
      pred AS (
        SELECT doc_id, lang, p_lang FROM (
          SELECT dw.doc_id, dw.lang, p.p_lang, count(*) AS score,
                 row_number() OVER (PARTITION BY dw.doc_id
                   ORDER BY count(*) DESC, p.p_lang) AS rn
          FROM (SELECT DISTINCT doc_id, lang, word FROM w) dw
          JOIN profile p ON dw.word = p.word
          GROUP BY dw.doc_id, dw.lang, p.p_lang) WHERE rn = 1)
      SELECT lang, p_lang AS pred_lang, count(*) AS n_docs
      FROM pred GROUP BY lang, p_lang ORDER BY lang, pred_lang""",

    "q_quality_score" -> """
      WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      stop AS (
        SELECT word FROM w GROUP BY word
        ORDER BY count(*) DESC, word LIMIT 10),
      per_doc AS (
        SELECT w.doc_id, count(*) AS n_tokens,
               count(DISTINCT w.word) AS n_distinct,
               count(s.word) AS n_stop
        FROM w LEFT JOIN stop s ON w.word = s.word
        GROUP BY w.doc_id)
      SELECT doc_id, n_tokens, distinct_ratio, stop_ratio, avg_word_len,
        CAST((q_int + 5) // 10 AS DOUBLE) / 10000.0 AS quality
      FROM (
        SELECT d.doc_id, p.n_tokens,
          round(CAST(p.n_distinct AS DOUBLE) / p.n_tokens, 4) AS distinct_ratio,
          round(CAST(p.n_stop AS DOUBLE) / p.n_tokens, 4) AS stop_ratio,
          round(CAST(len(d.text) - p.n_tokens + 1 AS DOUBLE) / p.n_tokens, 4)
            AS avg_word_len,
          4 * CAST(round(round(CAST(p.n_distinct AS DOUBLE) / p.n_tokens, 4)
                * 10000) AS BIGINT)
            + 3 * (10000 - CAST(round(round(CAST(p.n_stop AS DOUBLE)
                / p.n_tokens, 4) * 10000) AS BIGINT))
            + 3 * least(p.n_tokens, 100) * 100 AS q_int
        FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id)
      ORDER BY doc_id""",

    // Portable (DuckDB ∩ Spark): same regex/string ops both engines; its
    // own Spark twin via SqlOracleReuseSpec.
    "q_domain_stats" -> """
      WITH urls AS (
        SELECT doc_id, text,
          concat(
            CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
            CASE WHEN doc_id % 3 = 0 THEN 'www.'
                 WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END,
            'site', CAST(doc_id % 7 AS BIGINT), '.',
            CASE WHEN doc_id % 5 = 0 THEN 'com'
                 WHEN doc_id % 5 = 1 THEN 'org'
                 WHEN doc_id % 5 = 2 THEN 'co.uk'
                 WHEN doc_id % 5 = 3 THEN 'io' ELSE 'com.au' END,
            CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END,
            '/p/', CAST(doc_id AS BIGINT)) AS url
        FROM documents),
      hosts AS (
        SELECT doc_id, text,
          lower(regexp_extract(url,
            '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) AS host
        FROM urls),
      doms AS (
        SELECT doc_id, host,
          coalesce(
            nullif(regexp_extract(host,
              '([^.]+\.(?:co\.uk|com\.au|co\.jp|gov\.uk|ac\.uk))$', 1), ''),
            nullif(regexp_extract(host, '([^.]+\.[^.]+)$', 1), ''),
            host) AS domain,
          length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
        FROM hosts)
      SELECT domain, count(*) AS n_docs,
        count(DISTINCT host) AS n_hosts,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        round(CAST(sum(n_tokens) AS DOUBLE) /
              CAST(sum(sum(n_tokens)) OVER () AS DOUBLE), 4) AS token_share
      FROM doms GROUP BY domain ORDER BY domain""",

    // DuckDB dialect (regexp_replace needs the 'g' flag for the utm
    // strip and \1 group refs — Spark is all-occurrences with $1);
    // Spark twin in SqlDialectTwins via the SAME dedupUrlSql generator.
    "q_dedup_url" -> dedupUrlSql(duck = true),
    "q_ann_recall" -> annRecallSql(duck = true),

    // synthesized dirt (decomposed accent / control char / NBSP) must be
    // byte-identical to the DSL's lit() escapes; Spark twin in
    // SqlDialectTwins (nfc_normalize is the registered extension there)
    "q_text_normalize" -> raw"""
      WITH deco AS (
        SELECT lang,
          CASE WHEN doc_id % 4 = 0 THEN text || ' cafe' || chr(769)
               WHEN doc_id % 4 = 1 THEN chr(7) || text || '  x'
               WHEN doc_id % 4 = 2 THEN 'a' || chr(160) || 'b ' || text
               ELSE text END AS raw
        FROM documents),
      c AS (
        SELECT lang, raw,
          trim(regexp_replace(regexp_replace(nfc_normalize(raw),
            '[[:cntrl:]]', ' ', 'g'), '[\s\x{00A0}]+', ' ', 'g')) AS clean
        FROM deco)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(length(raw)) AS BIGINT) AS chars_raw,
        CAST(sum(length(clean)) AS BIGINT) AS chars_clean,
        CAST(sum(CASE WHEN raw <> clean THEN 1 ELSE 0 END) AS BIGINT)
          AS n_changed
      FROM c GROUP BY lang ORDER BY lang""",

    // DuckDB dialect (list indexing, unnest(range)); Spark twin in
    // SqlDialectTwins. Generated from the same BpeMerges constant as the
    // DSL so the unroll depth cannot fork.
    "q_bpe_merges" -> bpeOracleSql,

    // DuckDB dialect (unnest/string_split); Spark twin in SqlDialectTwins.
    "q_word_entropy" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
      h AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl,
               CAST(count(*) AS BIGINT) AS n_types,
               sum(CAST(round(tf * ln(tf), 6) AS DECIMAL(28,6))) AS st
        FROM tf GROUP BY 1)
      SELECT doc_id, dl, n_types,
             round(ln(dl) - CAST(st AS DOUBLE) / dl, 4) AS entropy
      FROM h ORDER BY doc_id""",

    "q_token_count" -> """
      SELECT lang,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
          AS BIGINT) AS re_tokens,
        round(CAST(sum(len(text)) AS DOUBLE) /
          sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 4)
          AS chars_per_token
      FROM documents GROUP BY lang ORDER BY lang""",

    "q_doc_fingerprint" -> s"""
      WITH pos AS (
        SELECT doc_id, text,
               unnest(range(1, greatest(len(text) - 4, 1) + 1)) AS pos
        FROM documents),
      g AS (
        SELECT doc_id, pos, ${h60Sql("substr(text, pos, 5)")} AS h FROM pos),
      fp AS (
        SELECT DISTINCT doc_id,
          min(h) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        FROM g)
      SELECT doc_id, count(*) AS n_fp, bit_xor(fp) AS fp_xor,
             min(fp) AS fp_min
      FROM fp GROUP BY doc_id ORDER BY doc_id""",

    "q_dedup_simhash" -> s"""
      WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents),
      h AS (SELECT DISTINCT doc_id, ${h60Sql("word")} AS h FROM w),
      b AS (SELECT doc_id, $simBitSumsSql FROM h GROUP BY doc_id),
      s AS (SELECT doc_id, $simReconstructSql AS sim FROM b),
      bd AS (
        SELECT doc_id, sim, t.j AS bj, (sim >> (15 * t.j)) & 32767 AS bv
        FROM s, range(4) t(j)),
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
               x.sim AS s1, y.sim AS s2
        FROM bd x JOIN bd y
          ON x.bj = y.bj AND x.bv = y.bv AND x.doc_id < y.doc_id)
      SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(s1, s2)) <= 3
      ORDER BY d1, d2""",

    "q_dedup_ngram" -> """
      WITH warr AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (
        SELECT DISTINCT doc_id, ('0x' || substr(md5(gs),1,15))::BIGINT AS g
        FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, len(ws)),
              i -> ws[i] || ' ' || ws[i + 1])) AS gs
          FROM warr)),
      sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      rare AS (
        SELECT g.doc_id, g.g FROM g
        JOIN (SELECT g FROM g GROUP BY g HAVING count(*) <= 20) r
          ON g.g = r.g),
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM rare x JOIN rare y ON x.g = y.g AND x.doc_id < y.doc_id),
      inter AS (
        SELECT c.d1, c.d2, count(*) AS n_inter
        FROM cand c
        JOIN g g1 ON g1.doc_id = c.d1
        JOIN g g2 ON g2.doc_id = c.d2 AND g2.g = g1.g
        GROUP BY c.d1, c.d2)
      SELECT i.d1, i.d2,
        round(CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter), 4)
          AS jaccard
      FROM inter i
      JOIN sizes s1 ON s1.doc_id = i.d1
      JOIN sizes s2 ON s2.doc_id = i.d2
      WHERE round(CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter), 4)
        >= 0.4
      ORDER BY i.d1, i.d2""",

    "q_dedup_embed" -> """
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
          (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
          + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
          + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
          + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bkt
        FROM embeddings),
      pairs AS (
        SELECT x.vec_id AS v1, y.vec_id AS v2,
          round(list_dot_product(x.v, y.v) /
            (sqrt(list_dot_product(x.v, x.v)) *
             sqrt(list_dot_product(y.v, y.v))), 4) AS cos
        FROM e x JOIN e y ON x.bkt = y.bkt AND x.vec_id < y.vec_id)
      SELECT v1, v2, cos FROM pairs WHERE cos >= 0.35 ORDER BY v1, v2""",

    "q_ann_ivf" -> annIvfSql(duck = true),

    "q_split_sample" -> s"""
      SELECT lang,
        CASE WHEN ${h60Sql("text")} % 100 < 80 THEN 'train'
             WHEN ${h60Sql("text")} % 100 < 90 THEN 'val'
             ELSE 'test' END AS split,
        count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY 1, 2 ORDER BY lang, split""",

    "q_stratified_sample" -> s"""
      SELECT lang, doc_id, n_chars, rk FROM (
        SELECT lang, doc_id, n_chars,
          CAST(row_number() OVER (PARTITION BY lang
            ORDER BY ${h60Sql("text")}, doc_id) AS INT) AS rk
        FROM documents)
      WHERE rk <= 5 ORDER BY lang, rk""",

    "q_token_budget" -> s"""
      SELECT lang, doc_id, tok, cum FROM (
        SELECT lang, doc_id, tok,
          CAST(sum(tok) OVER (PARTITION BY lang ORDER BY h, doc_id)
               AS BIGINT) AS cum
        FROM (SELECT lang, doc_id, len(string_split(text, ' ')) AS tok,
                     ${h60Sql("text")} AS h
              FROM documents))
      WHERE cum - tok < 2000 ORDER BY lang, cum""",

    "q_corpus_mix" -> s"""
      SELECT source, count(*) AS n_kept,
             CAST(sum(n_chars) AS BIGINT) AS kept_chars
      FROM documents
      WHERE ${h60Sql("text")} % 100 <
        CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 75
                    WHEN 'src2' THEN 50 ELSE 25 END
      GROUP BY source ORDER BY source""",

    // Recursive-CTE mirror of the greedy per-lang pack scan, kept
    // line-for-line parallel with the flatMapGroups pass (the same
    // construction as Ingestion's batch CTE — SURVEY §7.4).
    "q_seq_pack" -> """
      WITH RECURSIVE dv AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
      ), st AS (
        SELECT lang, rn, doc_id, tok,
               CAST(0 AS BIGINT) AS pack_id, tok AS cur_after
        FROM dv WHERE rn = 1
        UNION ALL
        SELECT d.lang, d.rn, d.doc_id, d.tok,
          CASE WHEN s.cur_after + d.tok > 512 AND s.cur_after > 0
               THEN s.pack_id + 1 ELSE s.pack_id END,
          CASE WHEN s.cur_after + d.tok > 512 AND s.cur_after > 0
               THEN 0 ELSE s.cur_after END + d.tok
        FROM st s JOIN dv d ON d.lang = s.lang AND d.rn = s.rn + 1
      )
      SELECT lang, pack_id, count(*) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS sum_tokens
      FROM st GROUP BY lang, pack_id ORDER BY lang, pack_id""",

    // generate_series is INCLUSIVE of its stop in both engines, and list
    // slices clamp at the array end in both (DuckDB toks[a:b] is 1-based
    // inclusive ≡ Spark slice(toks, a, b-a+1)).
    "q_doc_chunk" -> """
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 1, 24)) AS st
        FROM t)
      SELECT doc_id, CAST(st / 24 AS INT) AS chunk_id,
             CAST(len(toks[st + 1 : st + 32]) AS INT) AS n_tok,
             array_to_string(toks[st + 1 : st + 32], ' ') AS chunk
      FROM s ORDER BY doc_id, chunk_id""",

    "q_embed_quantize" -> """
      WITH q AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
          list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                        x -> abs(x)), 'max') AS maxabs
        FROM embeddings),
      s AS (
        SELECT vec_id, e, maxabs / 127.0 AS scale,
          list_transform(e, x -> round(x / (maxabs / 127.0))) AS qd
        FROM q WHERE maxabs > 0),
      d AS (
        SELECT vec_id, e, scale, qd,
          list_transform(qd, x -> x * scale) AS dq
        FROM s)
      SELECT vec_id,
        CAST(list_aggregate(qd, 'sum') AS BIGINT) AS sum_q,
        round(scale, 6) AS scale_r,
        round(sqrt(list_dot_product(e, e)
          - 2.0 * list_dot_product(e, dq)
          + list_dot_product(dq, dq)), 6) AS l2_err
      FROM d ORDER BY vec_id""",

    "q_multimodal_meta" -> """
      SELECT doc_id, 'text/plain' AS media_type,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        upper(hex(encode(substr(text, 1, 4)))) AS magic_hex,
        base64(encode(substr(text, 1, 6))) AS head_b64,
        CAST(octet_length(encode(text)) // 64 AS BIGINT) AS n_frames
      FROM documents ORDER BY doc_id""",

    "q_repetition_score" -> s"""
      WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), grams AS (
        SELECT doc_id, ${h60Sql("g")} AS g FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, len(w)),
              i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS g
          FROM words WHERE len(w) >= 2)
      ), per AS (
        SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY doc_id, g
      )
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 4)
          AS dup_frac,
        round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 4)
          AS top_frac
      FROM per GROUP BY doc_id ORDER BY doc_id""",

    "q_pii_scrub" -> """
      WITH dirty AS (
        SELECT c_custkey, lower(
          c_name || ' contact user' || CAST(c_custkey AS VARCHAR)
          || '@example.com'
          || CASE WHEN c_custkey % 3 <> 0
               THEN ' or 555-' ||
                 lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0')
               ELSE '' END
          || CASE WHEN c_custkey % 5 = 0
               THEN ' cc admin' || CAST(c_custkey AS VARCHAR) || '@corp.net'
               ELSE '' END
          || ' via https://ex.com/' || c_mktsegment) AS raw
        FROM customer)
      SELECT c_custkey,
        CAST(len(regexp_extract_all(raw, '[a-z0-9.#]+@[a-z0-9.]+')) AS INT)
          AS n_emails,
        CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS INT)
          AS n_phones,
        CAST(len(regexp_extract_all(raw, 'https://[a-z0-9./]+')) AS INT)
          AS n_urls,
        regexp_replace(regexp_replace(regexp_replace(raw,
          '[a-z0-9.#]+@[a-z0-9.]+', '<EMAIL>', 'g'),
          '555-[0-9]{4}', '<PHONE>', 'g'),
          'https://[a-z0-9./]+', '<URL>', 'g') AS scrubbed
      FROM dirty ORDER BY c_custkey""",

    "q_eval_contamination" -> s"""
      WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), grams AS (
        SELECT DISTINCT doc_id, ${h60Sql("g")} AS g FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, len(w) - 6),
              i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                || ' ' || w[CAST(i AS INT) + 2] || ' ' || w[CAST(i AS INT) + 3]
                || ' ' || w[CAST(i AS INT) + 4] || ' ' || w[CAST(i AS INT) + 5]
                || ' ' || w[CAST(i AS INT) + 6] || ' ' || w[CAST(i AS INT) + 7]
            )) AS g
          FROM words WHERE len(w) >= 8)
      ), eval_g AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
      ), train AS (
        SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0
      ), tot AS (
        SELECT doc_id, count(*) AS n_grams FROM train GROUP BY doc_id
      ), hit AS (
        SELECT t.doc_id, count(*) AS n_hit
        FROM train t JOIN eval_g e USING (g) GROUP BY t.doc_id
      )
      SELECT doc_id, n_grams,
        round(CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE), 4)
          AS contamination
      FROM tot JOIN hit USING (doc_id)
      WHERE round(CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE), 4) >= 0.5
      ORDER BY doc_id""",

    "q_weighted_sample" -> s"""
      WITH k AS (
        SELECT doc_id, lang, n_chars,
          round(ln(CAST(${h60Sql("text")} + 1 AS DOUBLE) /
                   CAST(1152921504606846976 AS DOUBLE)) / n_chars, 10) AS pri
        FROM documents)
      SELECT doc_id, lang, n_chars, pri
      FROM k ORDER BY pri DESC, doc_id LIMIT 25""",

    "q_containment" -> s"""
      WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), g AS (
        SELECT DISTINCT doc_id, ${h60Sql("gs")} AS g FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, len(w) - 3),
              i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                || ' ' || w[CAST(i AS INT) + 2] || ' ' || w[CAST(i AS INT) + 3]
                || ' ' || w[CAST(i AS INT) + 4])) AS gs
          FROM words WHERE len(w) >= 5)
      ), sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      rare AS (
        SELECT g.doc_id, g.g FROM g
        JOIN (SELECT g FROM g GROUP BY g HAVING count(*) <= 20) r
          ON g.g = r.g),
      cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM rare x JOIN rare y ON x.g = y.g AND x.doc_id < y.doc_id),
      inter AS (
        SELECT c.d1, c.d2, count(*) AS ov
        FROM cand c
        JOIN g g1 ON g1.doc_id = c.d1
        JOIN g g2 ON g2.doc_id = c.d2 AND g2.g = g1.g
        GROUP BY c.d1, c.d2)
      SELECT i.d1, i.d2,
        round(CAST(i.ov AS DOUBLE) / s1.n, 4) AS c12,
        round(CAST(i.ov AS DOUBLE) / s2.n, 4) AS c21
      FROM inter i
      JOIN sizes s1 ON s1.doc_id = i.d1
      JOIN sizes s2 ON s2.doc_id = i.d2
      WHERE greatest(round(CAST(i.ov AS DOUBLE) / s1.n, 4),
                     round(CAST(i.ov AS DOUBLE) / s2.n, 4)) >= 0.6
      ORDER BY i.d1, i.d2""",

    "q_feature_hash" -> s"""
      WITH toks AS (
        SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
      SELECT lang, ${h60Sql("w")} % 64 AS bucket,
             count(*) AS n_tokens, count(DISTINCT doc_id) AS n_docs
      FROM toks WHERE strlen(w) > 0
      GROUP BY 1, 2 ORDER BY lang, bucket""",

    "q_kfold" -> s"""
      WITH f AS (
        SELECT CAST(${h60Sql("CAST(doc_id AS VARCHAR)")} % 5 AS INT)
                 AS fold,
               n_chars, lang
        FROM documents),
      agg AS (
        SELECT fold, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               count(DISTINCT lang) AS n_langs
        FROM f GROUP BY fold)
      SELECT fold, n_docs, n_chars, n_langs,
             round(CAST(n_docs AS DOUBLE) /
                   CAST(sum(n_docs) OVER () AS DOUBLE), 4) AS share
      FROM agg ORDER BY fold""",

    // DuckDB dialect (range-table explode, 1-based list index); Spark
    // twin (posexplode) in SqlDialectTwins.
    "q_embed_centroid" -> """
      WITH ex AS (
        SELECT label, CAST(t.r AS INT) AS pos,
               CAST(embedding[CAST(t.r AS INT) + 1] AS DOUBLE) AS v
        FROM embeddings, range(8) t(r))
      SELECT label, pos, count(*) AS n,
        round(CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) /
              CAST(count(*) AS DOUBLE), 4) AS centroid,
        round(min(v), 4) AS vmin,
        round(max(v), 4) AS vmax
      FROM ex GROUP BY label, pos ORDER BY label, pos"""
  )
}
