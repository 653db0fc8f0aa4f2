package graft.engine

import graft.engine.Ckpt.CkptOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data curation (driver north
  * star BASELINE.json:6 "text analysis"): language identification,
  * quality scoring, tokenizer accounting, document fingerprinting, and
  * character-n-gram near-dup. All pure column expressions / two-pass
  * relational pipelines — every op here is oracle-checked against DuckDB.
  *
  * Scale: each op is one or two hash-aggregations over the corpus plus
  * (for langid/quality) a broadcast-sized profile table — linear scans,
  * no quadratic joins except the explicitly bounded n-gram pair op.
  */
object TextOps {

  /** Unigram-profile language ID (n-gram heuristic, n=1 over tokens):
    * per-lang document-frequency profiles are built from the corpus
    * itself, then each doc scores Σ df_ratio over its distinct tokens and
    * takes the argmax lang (rounded score + lang tie-break → fully
    * deterministic). The profile is vocabulary-sized — broadcastable at
    * any corpus scale. */
  /** Shared langid argmax prediction (doc_id, lang, pred_lang, score) —
    * consumed by q_text_langid and the confusion-matrix evaluation. */
  private def langidPred(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
    val prof = tok.groupBy(col("lang").as("p_lang"), col("token").as("p_tok"))
      .agg(count(lit(1)).as("freq"))
    val totals = prof.groupBy(col("p_lang")).agg(sum(col("freq")).as("tot"))
    // Score Σ_t freq_t/tot as an exact-integer SUM(freq) and ONE double
    // division: tot is constant per p_lang, so the rational never passes
    // through an order-dependent double sum — and needs NO rounding. The
    // round-6 form diverged at sf0.1 on an exact .5 tie (0.8984375 =
    // 115/128; Spark HALF_UP vs DuckDB half-even disagree there).
    val scored = tok.join(broadcast(prof), col("token") === col("p_tok"))
      .groupBy(col("doc_id"), col("lang"), col("p_lang"))
      .agg(sum(col("freq")).as("sf"))
      .join(broadcast(totals), "p_lang")
      .withColumn("score", col("sf").cast("double") / col("tot").cast("double"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("p_lang").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("p_lang").as("pred_lang"),
        col("score"))
  }

  def q_text_langid(s: SparkSession, dir: String): DataFrame =
    langidPred(s, dir)
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        col("score"), (col("lang") === col("pred_lang")).as("correct"))
      .orderBy("doc_id")

  /** Confusion-matrix evaluation of the langid classifier (the accuracy
    * accounting a production language-ID stage ships with): per
    * (true lang, predicted lang) document counts plus the per-true-lang
    * share (the diagonal cell's share IS that lang's recall). Exact
    * integer counts; one division per cell against the broadcast
    * true-lang totals. Same pipeline as q_text_langid via the shared
    * argmax helper — the evaluation can never drift from the classifier
    * it scores. */
  def q_text_lang_confusion(s: SparkSession, dir: String): DataFrame = {
    val pred = langidPred(s, dir)
    val cells = pred.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = cells.groupBy(col("lang").as("tl")).agg(sum(col("n_docs")).as("nt"))
    cells.join(broadcast(tot), col("lang") === col("tl"))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("nt").cast("double"), 6)
          .as("share"),
        (col("lang") === col("pred_lang")).as("is_diag"))
      .orderBy("lang", "pred_lang")
  }

  /** Quality scoring: token count, mean token length, stopword ratio
    * (stopwords = corpus top-10 tokens — computed in-query, broadcast),
    * and a rule-based keep/drop flag. */
  def q_text_quality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tokAll = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val stop = tokAll.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc).limit(10).select("token")
    val stopCnt = tokAll.join(broadcast(stop), Seq("token"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("stop_cnt"))
    val base = docs.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
      aggregate(split(col("text"), " "), lit(0L), (a, t) => a + length(t)).as("tok_chars"))
    base.join(stopCnt, Seq("doc_id"), "left_outer")
      .withColumn("sr", coalesce(col("stop_cnt"), lit(0L)).cast("double") / col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("tok_chars").cast("double") / col("n_tokens"), 6).as("avg_tok_len"),
        round(col("sr"), 6).as("stop_ratio"),
        (col("n_tokens").between(10, 1000) && col("sr") < 0.5).as("is_quality"))
      .orderBy("doc_id")
  }

  /** Tokenizer accounting per lang: whitespace tokens vs BPE-ish regex
    * tokens ([a-z]+ | [0-9]+ | single punctuation) vs character counts. */
  def q_text_token_count(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        sum(size(split(col("text"), " "))).cast("bigint").as("ws_tokens"),
        sum(expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))"))
          .cast("bigint").as("re_tokens"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(length(col("text"))).cast("bigint").as("sum_len"))
      .orderBy("lang")

  /** Rolling-shingle document fingerprint (winnowing-lite): md5 over
    * 8-char shingles at stride 4, keep the lexicographic minimum. Two
    * docs sharing any aligned 8-gram window tend to share fingerprints;
    * one linear scan, fingerprint is 32 bytes/doc. */
  def q_text_fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        expr("""array_min(transform(
                  sequence(1, greatest(length(text)-7, 1), 4),
                  i -> md5(cast(substring(text, i, 8) as binary))))""").as("fp"))
      .orderBy("doc_id")

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the canonical local document-fingerprinting
    * algorithm; round 7): over the 10% sample, hash every 8-char gram
    * (stride 1) with a 40-bit md5 family, slide a w=4 window over the
    * gram sequence and keep each window's minimum hash (rightmost on
    * ties — the paper's rule). The guarantee: any shared substring of
    * ≥ k+w−1 = 11 chars yields a shared fingerprint, with expected
    * density 2/(w+1) of the gram count. Per-lang accounting: docs,
    * grams, selected fingerprints, distinct hash values, hashes shared
    * by ≥2 docs — plus density as the single division.
    *
    * Determinism: the (hash asc, pos desc) selection order is encoded
    * into ONE integer key = h40·2²¹ + (2²¹−1−pos), so the window min is
    * a plain integer MIN in both engines — no struct comparators, no
    * float, no tie class. Execution: one linear gram scan, one window
    * partitioned by doc_id (bounded by doc length), two keyed aggs —
    * the 100 TB shape; at scale the per-doc window never shuffles more
    * than the doc's own grams. */
  def q_llm_winnowing(s: SparkSession, dir: String): DataFrame = {
    val posCap = 2097152L // 2^21: > any fixture doc length, keeps key < 2^61
    val d = Tables.spread(s, Tables.documents(s, dir))
      .filter(col("doc_id") % 10 === 0 && length(col("text")) >= 11)
    val grams = d.select(col("doc_id"), col("lang"),
        (length(col("text")) - 7).cast("bigint").as("n_grams"),
        posexplode(expr(
          """transform(sequence(1, length(text)-7),
             |  i -> conv(substring(md5(cast(substring(text, i, 8) as binary)), 1, 10), 16, 10))
             |""".stripMargin)).as(Seq("p0", "hs")))
      .select(col("doc_id"), col("lang"), col("n_grams"),
        (col("p0") + 1).cast("bigint").as("pos"), col("hs").cast("long").as("h"))
      .withColumn("key", col("h") * posCap + (lit(posCap - 1) - col("pos")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, 3)
    val sel = grams
      .withColumn("winner", min(col("key")).over(w))
      .filter(col("pos") <= col("n_grams") - 3)
      .select(col("doc_id"), col("lang"), col("winner")).distinct()
    val perLang = d.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum((length(col("text")) - 7).cast("bigint")).as("n_grams"))
    val fpCounts = sel.groupBy(col("lang").as("lf")).agg(count(lit(1)).as("n_fp"))
    val hashDocs = sel
      // exact integer division — winner can exceed 2^53, a double
      // quotient would round across hash boundaries
      .select(col("lang"), expr(s"winner div ${posCap}L").as("h"), col("doc_id"))
      .distinct()
      .groupBy(col("lang").as("lh"), col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val hashAgg = hashDocs.groupBy(col("lh")).agg(
      count(lit(1)).as("n_hashes"),
      sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
    perLang
      .join(fpCounts, col("lang") === col("lf"))
      .join(hashAgg, col("lang") === col("lh"))
      .select(col("lang"), col("n_docs"), col("n_grams"), col("n_fp"),
        col("n_hashes"), col("n_shared"),
        (col("n_fp").cast("double") / col("n_grams").cast("double")).as("density"))
      .orderBy("lang")
  }

  /** Character 3-gram Jaccard near-dup on a deterministic 10% sample
    * (doc_id % 10 = 0) — the order-sensitive complement to token-set
    * Jaccard. Bounded quadratic per lang on the sample.
    *
    * Execution: the 3-gram space is dictionary-encoded PER LANG (pairs
    * are same-lang only, so per-lang ids shrink the bitmaps ~|langs|×),
    * each doc's gram set becomes an array<bigint> bitmap, and the
    * pairwise intersection is one codegen'd AND+popcount pass
    * (graft.functions.BitmapAndCount) — 64 set members per word instead
    * of a hash probe per member. An exact-preserving size prune
    * (J ≥ 0.3 ⇒ 3·max(|A|,|B|) ≤ 10·min(|A|,|B|)) drops hopeless pairs
    * before any bitmap is touched. Values are identical to the direct
    * array_intersect formulation (integer set math either way). */
  def q_llm_ngram_jaccard(s: SparkSession, dir: String): DataFrame = {
    val maxSampled = sampleFenceCheck(s, dir, "q_llm_ngram_jaccard")
    val bitmaps = trigramBitmaps(s, dir)
    val a = bitmaps.select(col("lang"), col("doc_id").as("doc_a"),
      col("ng").as("na"), col("bm").as("ba"))
    val b = bitmaps.select(col("lang").as("lang_b"), col("doc_id").as("doc_b"),
      col("ng").as("nb"), col("bm").as("bb"))
    a.join(b, col("lang") === col("lang_b") && col("doc_a") < col("doc_b") &&
        col("na") * 10 >= col("nb") * 3 && col("nb") * 10 >= col("na") * 3)
      .withColumn("ic",
        call_function("graft_bitmap_and_count", col("ba"), col("bb")).cast("double"))
      .withColumn("jac", col("ic") / (col("na") + col("nb") - col("ic")))
      .filter(col("jac") >= 0.3)
      .select(col("lang"), col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard3"),
        (lit(LlmOps.JaccardExactMaxDocsPerLang) - lit(maxSampled)).as("exact_guard_margin"))
      .orderBy("lang", "doc_a", "doc_b")
  }

  /** Exact-baseline fence for the sampled-quadratic trigram tier (the
    * q_llm_jaccard_pairs device, r13): the 10% sample still GROWS with
    * the corpus, so both bitmap consumers refuse when the largest
    * language's SAMPLED doc count exceeds the shared per-lang fence and
    * emit the headroom as an oracled margin column. */
  private def sampleFenceCheck(s: SparkSession, dir: String, op: String): Long = {
    val maxSampled = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).collect()(0).getLong(0) // lang-bounded, 1-row collect
    require(maxSampled <= LlmOps.JaccardExactMaxDocsPerLang,
      s"$op is the sampled O(n^2/lang) exact baseline: largest lang has " +
        s"$maxSampled sampled docs > fence ${LlmOps.JaccardExactMaxDocsPerLang}. " +
        "Run the LSH scale path (q_llm_minhash_lsh) for candidates instead.")
    maxSampled
  }

  /** Per-lang dictionary-encoded trigram bitmaps over the deterministic
    * 10% document sample — the shared set-representation under the
    * symmetric (Jaccard) and asymmetric (containment) near-dup passes:
    * (doc_id, lang, ng = |gram set|, bm = array<bigint> bitmap).
    * Session MV since r15: BOTH consumers re-ran the gram explode +
    * distributed rank + two packing groupBys per query — and each
    * query's self-join read the build subtree TWICE (a and b sides);
    * the checkpoint makes it one build per (session, fixture) and one
    * scan per join side. */
  private[graft] def trigramBitmaps(s: SparkSession, dir: String): DataFrame = {
    // the AND+popcount kernel is called by the CONSUMER's join, so it
    // registers on the caller session (the memo build runs on a clone)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bitmap_and_count",
      exprs => graft.functions.BitmapAndCount(exprs(0), exprs(1)), "built-in")
    Mv.memo(s, s"trigramBitmaps|${LlmOps.docsKey(s, dir)}")(bs =>
      buildTrigramBitmaps(bs, dir).ckpt("trigramBitmaps"))
  }

  private def buildTrigramBitmaps(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"),
        // Guard length<3: Spark's sequence(1, -1) would DESCEND and emit
        // spurious substrings while the oracle's range(1, len-1) is empty.
        array_distinct(expr(
          """case when length(text) >= 3
               then transform(sequence(1, length(text)-2), i -> substring(text, i, 3))
               else cast(array() as array<string>) end""")).as("g3"))
    val grams = d.select(col("doc_id"), col("lang"),
      size(col("g3")).cast("bigint").as("ng"), explode(col("g3")).as("g"))
    // Per-lang dense gram ids + packed-word count, assigned via the
    // DISTRIBUTED global rank over (lang, gram) (Dist.orderedPrefix;
    // VERDICT r13 item 6): a range partition of the whole vocabulary —
    // the dominant language spans many partitions instead of landing
    // its entire gram vocabulary in the one partition a
    // Window.partitionBy(lang) row_number would use. Per-lang id =
    // global rank − the language's first rank; the offsets/widths are
    // a lang-bounded broadcast (|langs| rows).
    val vocab = grams.select(col("lang").as("vlang"), col("g").as("vg")).distinct()
    val (ranked, _, _) =
      Dist.orderedPrefix(vocab, Seq(col("vlang"), col("vg")), "_gr")
    val langOff = ranked.groupBy(col("vlang").as("olang"))
      .agg(min(col("_gr")).as("_off"),
        expr("cast((count(*) + 63) div 64 as int)").as("nw"))
    val vids = ranked.join(broadcast(langOff), col("vlang") === col("olang"))
      .select(col("vlang"), col("vg"),
        (col("_gr") - col("_off")).cast("int").as("vid"), col("nw"))
    val wordMasks = grams
      .join(broadcast(vids), col("lang") === col("vlang") && col("g") === col("vg"))
      .select(col("doc_id"), col("lang"), col("ng"), col("nw"),
        expr("cast(vid div 64 as int)").as("w"),
        expr("shiftleft(1L, vid % 64)").as("m"))
      .groupBy(col("doc_id"), col("lang"), col("ng"), col("nw"), col("w"))
      .agg(bit_or(col("m")).as("wm"))
    wordMasks
      .groupBy(col("doc_id"), col("lang"), col("ng"), col("nw"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("wm")))).as("wmap"))
      .select(col("doc_id"), col("lang"), col("ng"),
        expr("transform(sequence(0, nw - 1), w -> coalesce(element_at(wmap, w), 0L))").as("bm"))
  }

  /** Character 3-gram CONTAINMENT near-dup on the same 10% sample —
    * the ASYMMETRIC complement to q_llm_ngram_jaccard (Broder 1997
    * distinguishes resemblance from containment): C(A→B) = |A∩B|/|A|
    * flags doc_a as a near-SUBSET of doc_b (quotes, excerpts,
    * boilerplate-wrapped copies) that symmetric Jaccard misses whenever
    * |B| ≫ |A|. Ordered pairs (both directions), threshold 0.5, with
    * the exact-preserving prune C ≥ 0.5 ⇒ |A∩B| ≥ |A|/2 ∧ |A∩B| ≤ |B|
    * ⇒ 2·|B| ≥ |A| applied before any bitmap is touched; the
    * intersection is the same codegen'd AND+popcount pass over the
    * shared per-lang bitmaps. Sample-bounded quadratic per lang — the
    * ground-truth tier; at corpus scale the LSH band path generates the
    * candidate pairs and THIS formula scores them. */
  def q_llm_containment(s: SparkSession, dir: String): DataFrame = {
    val maxSampled = sampleFenceCheck(s, dir, "q_llm_containment")
    val bitmaps = trigramBitmaps(s, dir)
    val a = bitmaps.select(col("lang"), col("doc_id").as("doc_a"),
      col("ng").as("na"), col("bm").as("ba"))
    val b = bitmaps.select(col("lang").as("lang_b"), col("doc_id").as("doc_b"),
      col("ng").as("nb"), col("bm").as("bb"))
    a.join(b, col("lang") === col("lang_b") && col("doc_a") =!= col("doc_b") &&
        col("nb") * 2 >= col("na"))
      .withColumn("ic",
        call_function("graft_bitmap_and_count", col("ba"), col("bb")).cast("double"))
      .withColumn("cont", col("ic") / col("na").cast("double"))
      .filter(col("cont") >= 0.5)
      .select(col("lang"), col("doc_a"), col("doc_b"), col("na"),
        round(col("cont"), 6).as("containment3"),
        (lit(LlmOps.JaccardExactMaxDocsPerLang) - lit(maxSampled)).as("exact_guard_margin"))
      .orderBy("lang", "doc_a", "doc_b")
  }

  /** Unigram cross-entropy scoring (the CCNet/Wenzek et al. 2020
    * perplexity-filter shape with a unigram LM): per-lang token
    * probabilities are estimated on the train split (doc_id % 10 ≠ 0),
    * held-out docs score avg −ln p(token) with add-nothing OOV backoff
    * to 1/total. High cross-entropy = unusual token distribution = drop
    * candidate. Model table is vocabulary-sized → broadcast; scoring is
    * one join + keyed mean. */
  def q_text_unigram_xent(s: SparkSession, dir: String): DataFrame =
    unigramXentPerDoc(s, dir).orderBy("doc_id")

  /** Shared per-held-out-doc unigram cross-entropy table
    * (doc_id, lang, n_tokens, xent round-6) — the score under BOTH the
    * per-doc listing (q_text_unigram_xent) and the decile bucketing
    * (q_llm_ppl_bucket), so the filter accounting can never drift from
    * the score it buckets. */
  private def unigramXentPerDoc(s: SparkSession, dir: String): DataFrame =
    heldoutNll9(s, dir)
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll9")).as("s9"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        xentOf(col("s9"), col("n_tokens")).as("xent"))

  /** round-6 xent from the exact scaled-integer state (Σround(nll·1e9),
    * n) — ONE pinned two-division double expression, shared by the batch
    * per-doc table and the streaming maintainer's snapshot. */
  private def xentOf(s9: Column, n: Column): Column =
    round(s9.cast("double") / n.cast("double") / 1e9, 6)

  /** Held-out token stream scored against the train-split unigram model:
    * (doc_id, lang, nll9) with nll9 = round(−ln p · 1e9) as an exact
    * BIGINT — the 1e9-scaled device (see q_graph_pagerank) that makes
    * the per-doc score an order-blind integer sum, which is what lets
    * the STREAMING maintainer fold tokens in any arrival order and still
    * land on the batch value exactly (round-10 the per-doc avg was a
    * raw double AVG — deterministic only because a doc's tokens never
    * cross a partition; the integer sum removes the caveat). */
  private[graft] def heldoutNll9(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    val train = tok.filter(col("doc_id") % 10 =!= 0)
    val counts = train.groupBy(col("lang").as("ml"), col("tok").as("mt"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("ml")).agg(sum(col("c")).as("tot"))
    val model = counts.join(totals, "ml")
      .select(col("ml"), col("mt"), (col("c").cast("double") / col("tot")).as("p"), col("tot"))
    tok.filter(col("doc_id") % 10 === 0)
      .join(broadcast(totals.select(col("ml").as("jl"), col("tot").as("jtot"))),
        col("lang") === col("jl"))
      .join(broadcast(model.select(col("ml"), col("mt"), col("p"))),
        col("lang") === col("ml") && col("tok") === col("mt"), "left_outer")
      .select(col("doc_id"), col("lang"),
        round((-log(coalesce(col("p"), lit(1.0) / col("jtot")))) * 1e9, 0)
          .cast("bigint").as("nll9"))
  }

  /** Perplexity-decile bucketing of the held-out corpus (the operational
    * form of the CCNet filter — Wenzek et al. 2020 keep/drop by
    * perplexity TERCILES; deciles give the full selection curve): per
    * lang, docs ranked by the shared round-6 unigram cross-entropy
    * (doc_id tiebreak → deterministic NTILE), then per (lang, decile)
    * the doc count, token mass, and min/max/mean score — exactly the
    * table a curation run consults to pick its keep threshold. The mean
    * is an exact DECIMAL sum of the round-6 per-doc scores over the
    * bucket divided once — order-blind. Scale: ntile is a per-lang sort
    * of DOC-level rows (not tokens); everything downstream is keyed
    * aggregation. */
  def q_llm_ppl_bucket(s: SparkSession, dir: String): DataFrame =
    pplBucketFrom(unigramXentPerDoc(s, dir))

  /** Shared decile assembly over a per-doc (doc_id, lang, n_tokens,
    * xent) table — consumed by the batch operator AND the streaming
    * maintainer's snapshot (one oracle for both; the q_stream_chi2
    * shared-assembly device). */
  private def pplBucketFrom(xd: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("xent").asc, col("doc_id").asc)
    xd.withColumn("decile", ntile(10).over(w).cast("bigint"))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("xent")).as("min_xent"), max(col("xent")).as("max_xent"),
        round(sum(col("xent").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("avg_xent"))
      .orderBy("lang", "decile")
  }

  // ---- Streaming perplexity-decile maintainer (VERDICT r10 item 7) ----
  // Keyed-state twin of q_llm_ppl_bucket: per held-out DOC the state is
  // (lang, n_tokens, Σnll9) — 3 fields / ~32 B per doc, exact integers,
  // order-blind and mergeable, so tokens can arrive across any number of
  // micro-batches in any order. The decile table itself is snapshot-time
  // work through the SAME pplBucketFrom assembly as the batch operator,
  // so both share one oracle. The unigram model is the batch-trained
  // side input (broadcast), exactly how a CCNet-style deployment scores
  // a stream against an offline model.

  case class XentTok(doc_id: Long, lang: String, nll9: Long)
  case class XentSnap(doc_id: Long, lang: String, n_tokens: Long, s9: Long)

  def updateXent(key: Long, it: Iterator[XentTok],
      state: org.apache.spark.sql.streaming.GroupState[(String, Long, Long)])
      : Iterator[XentSnap] = {
    var (lang, n, s9) = state.getOption.getOrElse(("", 0L, 0L))
    it.foreach { t => lang = t.lang; n += 1; s9 += t.nll9 }
    state.update((lang, n, s9))
    Iterator.single(XentSnap(key, lang, n, s9))
  }

  /** Driver-contract query: the streaming per-doc cross-entropy
    * maintainer; the final snapshots feed the shared decile assembly. */
  def q_stream_ppl_bucket(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = heldoutNll9(s, dir)
      .as[XentTok]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Update,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(updateXent)
      .toDF()
    pplBucketFrom(snap.select(col("doc_id"), col("lang"), col("n_tokens"),
      xentOf(col("s9"), col("n_tokens")).as("xent")))
  }

  /** Fuzzy near-dup accounting by edit distance (the Levenshtein tier of
    * a dedup cascade — catches what token-set Jaccard misses: small
    * in-place edits). Deterministic 10% sample, same-lang pairs a < b
    * within 20 chars of length, distance on the 100-char prefix (the
    * standard bound that keeps the DP quadratic cost fixed per pair
    * regardless of doc length). Per-lang pair count, min and mean
    * distance; avg of exact ints → rational, deterministic at 6dp.
    * Spark and DuckDB levenshtein were probed value-identical. */
  def q_text_edit_distance(s: SparkSession, dir: String): DataFrame = {
    val sample = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 100).as("p"))
    val a = sample.select(col("lang"), col("doc_id").as("ida"), col("p").as("pa"))
    val b = sample.select(col("lang").as("lang_b"), col("doc_id").as("idb"), col("p").as("pb"))
    a.join(b, col("lang") === col("lang_b") && col("ida") < col("idb") &&
        abs(length(col("pa")) - length(col("pb"))) <= 20)
      .select(col("lang"), levenshtein(col("pa"), col("pb")).as("d"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("d")).cast("int").as("min_dist"),
        round(avg(col("d")), 6).as("avg_dist"))
      .orderBy("lang")
  }

  /** Cross-document duplicated-span accounting (the measurement pass of
    * exact substring dedup, Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better": spans repeated verbatim across docs
    * are the memorization hazard). 32-char shingles at stride 16 (every
    * duplicated run ≥ 47 chars is guaranteed to contain a sampled
    * shingle), hashed with md5; a span is duplicated when it occurs in
    * > 1 distinct doc. Per-lang: docs, docs containing a duplicated
    * span, share, distinct duplicated spans present.
    * Scale shape: explode + two keyed aggs + a semi-join — the same
    * linear scan shape as the n-gram ops; the span hash table shuffles
    * once. */
  def q_llm_span_dedup(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .filter(length(col("text")) >= 32)
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "array_distinct(transform(sequence(1, length(text) - 31, 16)," +
            " i -> md5(substring(text, i, 32))))")).as("h"))
    val dupH = sh.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h").as("dh"))
    val docDup = sh.join(dupH, col("h") === col("dh"))
      .select(col("doc_id"), col("lang"), col("h"))
    val perLangDup = docDup.groupBy(col("lang").as("lang_d"))
      .agg(countDistinct(col("doc_id")).as("n_dup_docs"),
        countDistinct(col("h")).as("n_dup_spans"))
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .join(perLangDup, col("lang") === col("lang_d"), "left_outer")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs"), lit(0L)).cast("double") / col("n_docs"), 6)
          .as("dup_doc_share"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .orderBy("lang")
  }

  /** Fixed-weight linear quality classifier INFERENCE (the fasttext-style
    * quality-scoring stage of a curation pipeline, run as a pure
    * expression at scan time — the model is 4 weights + bias, broadcast
    * by constant-folding, no UDF). Features: ln(1+tokens) (round-9 — the
    * probed cross-engine ln policy), avg word length, type-token ratio,
    * short-token ratio — the last three are exact integer ratios, IEEE
    * single-division deterministic. z is a fixed left-assoc weighted sum
    * rounded to 6dp; keep = z > 0. Per-lang keep-rate and exact decimal
    * mean/extrema of z. */
  def q_llm_quality_classifier(s: SparkSession, dir: String): DataFrame = {
    val z = Tables.documents(s, dir)
      .select(col("lang"), split(col("text"), " ").as("toks"), col("text"))
      .select(col("lang"),
        round(log(lit(1.0) + size(col("toks"))), 9).as("f_len"),
        ((length(col("text")) - (size(col("toks")) - 1)).cast("double") /
          size(col("toks"))).as("f_awl"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          .as("f_ttr"),
        (size(expr("filter(toks, t -> length(t) <= 3)")).cast("double") /
          size(col("toks"))).as("f_short"))
      .select(col("lang"),
        round(lit(0.8) * col("f_len") + lit(0.5) * col("f_ttr") -
          lit(0.4) * col("f_short") + lit(0.05) * col("f_awl") - lit(2.0), 6)
          .as("z"))
    z.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("z") > 0, 1L).otherwise(0L)).as("n_keep"),
        (sum(col("z").cast("decimal(18,6)")).cast("double") / count(lit(1)))
          .as("avg_z"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .orderBy("lang")
  }

  /** Bigram-LM cross-entropy (the order-2 step past q_text_unigram_xent's
    * CCNet signal): per-lang add-1-smoothed bigram model on the train
    * split — p(b|a) = (c(a,b)+1)/(c(a)+V), the unseen-context case
    * collapsing to 1/V under the same formula — scoring held-out docs
    * with round-9 −ln (the probed cross-engine ln policy) and a round-6
    * per-lang mean. The model stays relational (two keyed count tables +
    * a per-lang vocab scalar), so at corpus scale the model join is a
    * plain shuffled equi-join on (lang, gram) — no driver-side model
    * object, unlike an ML-library LM. */
  def q_text_bigram_xent(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> struct(element_at(toks, i) as a, element_at(toks, i + 1) as b))"))
        .as("p"))
      .select(col("doc_id"), col("lang"), col("p.a").as("a"), col("p.b").as("b"))
    val train = bi.filter(col("doc_id") % 10 =!= 0)
    val bc = train.groupBy(col("lang").as("bl"), col("a").as("ba"), col("b").as("bb"))
      .agg(count(lit(1)).as("cab"))
    val ac = train.groupBy(col("lang").as("al"), col("a").as("aa"))
      .agg(count(lit(1)).as("ca"))
    val vocab = toks.filter(col("doc_id") % 10 =!= 0)
      .select(col("lang"), explode(col("toks")).as("t"))
      .groupBy(col("lang").as("vl")).agg(countDistinct(col("t")).as("v"))
    bi.filter(col("doc_id") % 10 === 0)
      .join(bc, col("lang") === col("bl") && col("a") === col("ba") &&
        col("b") === col("bb"), "left_outer")
      .join(ac, col("lang") === col("al") && col("a") === col("aa"), "left_outer")
      .join(broadcast(vocab), col("lang") === col("vl"))
      .select(col("lang"), col("doc_id"),
        round(-log((coalesce(col("cab"), lit(0L)) + 1).cast("double") /
          (coalesce(col("ca"), lit(0L)) + col("v")).cast("double")), 9).as("nll"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 6).as("xent2"))
      .orderBy("lang")
  }

  /** Absolute discount for the Kneser–Ney model. */
  val KnD = 0.75

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * counts-of-counts smoothing every serious n-gram quality signal
    * uses, vs q_text_bigram_xent's add-1):
    *   p(b|a) = max(c(ab)−D,0)/c(a·) + D·N1+(a·)/c(a·) · N1+(·b)/N1+(··)
    * with backoff to the continuation probability for unseen contexts
    * and a 1/(N1+(··)+1) floor when the continuation is also unseen.
    * The model is four relational count tables derived from ONE bigram
    * aggregation (context totals, context fan-out, continuation fan-in,
    * type total) — no driver-side model. Every probability is exact
    * integer counts through a fixed chain of IEEE ops (explicit double
    * casts both engines), so only the −ln needs the round-9 policy.
    * Scale: one bigram shuffle builds the model; scoring is equi-joins
    * on (lang, gram) + a broadcast type-total. */
  def q_text_kneser_ney(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> struct(element_at(toks, i) as a, element_at(toks, i + 1) as b))"))
        .as("p"))
      .select(col("doc_id"), col("lang"), col("p.a").as("a"), col("p.b").as("b"))
    val bc = bi.filter(col("doc_id") % 10 =!= 0)
      .groupBy(col("lang").as("bl"), col("a").as("ba"), col("b").as("bb"))
      .agg(count(lit(1)).as("cab"))
    val ctx = bc.groupBy(col("bl").as("cl"), col("ba").as("ca_tok"))
      .agg(sum(col("cab")).as("ca"), count(lit(1)).as("n1a"))
    val cont = bc.groupBy(col("bl").as("nl"), col("bb").as("nb_tok"))
      .agg(count(lit(1)).as("n1b"))
    val tot = bc.groupBy(col("bl").as("tl")).agg(count(lit(1)).as("n1pp"))
    val d = lit(KnD)
    val scored = bi.filter(col("doc_id") % 10 === 0)
      .join(bc, col("lang") === col("bl") && col("a") === col("ba") &&
        col("b") === col("bb"), "left_outer")
      .join(ctx, col("lang") === col("cl") && col("a") === col("ca_tok"), "left_outer")
      .join(cont, col("lang") === col("nl") && col("b") === col("nb_tok"), "left_outer")
      .join(broadcast(tot), col("lang") === col("tl"))
      .withColumn("pcont",
        coalesce(col("n1b"), lit(0L)).cast("double") / col("n1pp").cast("double"))
      .withColumn("praw", when(col("ca").isNotNull,
        greatest(coalesce(col("cab"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("ca").cast("double") +
          ((d * col("n1a").cast("double")) / col("ca").cast("double")) * col("pcont"))
        .otherwise(col("pcont")))
      .withColumn("floored", col("praw") <= 0.0)
      .withColumn("p", when(!col("floored"), col("praw"))
        .otherwise(lit(1.0) / (col("n1pp") + 1).cast("double")))
      .withColumn("nll", round(-log(col("p")), 9))
    scored.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        sum(when(col("ca").isNull, 1L).otherwise(0L)).as("n_ctx_backoff"),
        sum(when(col("floored"), 1L).otherwise(0L)).as("n_floor"),
        round(avg(col("nll")), 6).as("kn_xent"))
      .orderBy("lang")
  }

  /** Flesch-style readability per document (each doc scored as one
    * "sentence" — the corpus is sentence-free word soup): syllables
    * approximated as vowel-group count (the standard regex heuristic),
    * score = 206.835 − 1.015·words − 84.6·(syll/words) as ONE
    * pinned-order double expression over exact integer counts — per-row
    * scalar math, no aggregation, no rounding, no tie class. The
    * downstream use is a quality-filter feature (readability bands). */
  def q_text_readability(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("bigint").as("n_words"),
      expr("size(regexp_extract_all(text, '[aeiou]+', 0))").cast("bigint")
        .as("n_syllables"))
    d.select(col("doc_id"), col("lang"), col("n_words"), col("n_syllables"),
        (col("n_syllables").cast("double") / col("n_words").cast("double"))
          .as("syll_per_word"),
        (lit(206.835) - lit(1.015) * col("n_words").cast("double")
          - lit(84.6) * (col("n_syllables").cast("double")
            / col("n_words").cast("double"))).as("flesch"))
      .orderBy("doc_id")
  }

  /** Coverage percent targets (shared with the oracle). */
  val CoverageTargets = Seq(50, 90, 95, 99)

  /** Tokenizer vocabulary planning: the smallest frequency-ranked vocab
    * whose cumulative occurrence share reaches each coverage target —
    * the sizing pass run before training a tokenizer. The threshold
    * test is the exact integer cross-product cum·100 ≥ pct·total (no
    * float until never); rank ties break on token text so the ladder is
    * deterministic. One count agg + one window + a 4-row spine join. */
  def q_llm_tokenizer_coverage(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // the vocabulary grows with the corpus (Heaps' law — measured by
    // q_text_heaps_law), so the frequency ladder must never be a
    // single-partition Window.orderBy: rank + running coverage come
    // from the distributed prefix device (range partition on the
    // (cnt desc, tok) total order, broadcast per-partition offsets)
    val (ranked0, _, total) = Dist.orderedPrefix(freq,
      Seq(col("cnt").desc, col("tok").asc), "rnk",
      Some((col("cnt"), "cum")))
    val ranked = ranked0.withColumn("total", lit(total))
    val targets = s.range(0, 1)
      .select(explode(array(CoverageTargets.map(lit): _*)).as("pct"))
    targets.join(ranked, col("cum") * 100 >= col("pct") * col("total"))
      .groupBy(col("pct"))
      .agg(min(struct(col("rnk"), col("cum"), col("total"))).as("m"))
      .select(col("pct"), col("m.rnk").as("vocab_size"),
        col("m.cum").as("covered_tokens"), col("m.total").as("total_tokens"))
      .orderBy("pct")
  }

  /** N-gram novelty curation metric: the share of a document's 3-gram
    * occurrences whose FIRST corpus apparition (min doc_id) is this
    * document — repeated boilerplate scores near 0, fresh text near 1.
    * Exact integer occurrence counts, one raw division per doc (0.0
    * for docs shorter than 3 tokens, made explicit via the left join).
    * One explode + two keyed aggs; the first-seen table is the only
    * corpus-wide state, keyed on the gram. */
  def q_llm_ngram_novelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
    val grams = docs.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), " +
          "element_at(toks, i + 2)))")).as("gram"))
    val first = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = grams.join(first, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumnRenamed("doc_id", "gd")
    docs.join(perDoc, col("doc_id") === col("gd"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_grams") > 0,
          col("n_novel").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** Zipf-law fit of the token frequency distribution per lang (round 7
    * — the distribution screen a corpus audit runs beside tokenizer
    * coverage; Zipf 1949: freq ∝ rank^s with s ≈ −1): OLS of ln(freq)
    * on ln(rank) over the top-100 frequency-ranked tokens (rank ties
    * break on token text, the coverage-ladder rule). Determinism: each
    * ln is rounded to 9 decimals (absorbing libm ulp — the PSI device),
    * the four moment terms re-round-9 after their products, sums are
    * exact DECIMALs, and the slope/intercept combination is the pinned
    * OLS expression over exactly-cast doubles. One explode + one keyed
    * count (linear), a vocab-bounded per-lang rank window, 100 terms
    * per lang into the fit. */
  def q_text_zipf(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("lang")).orderBy(col("f").desc, col("tok").asc)
    val ranked = tf.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 100)
    val lx = round(log(col("rnk").cast("double")), 9)
    val ly = round(log(col("f").cast("double")), 9)
    val terms = ranked.select(col("lang"),
      lx.cast("decimal(18,9)").as("lx"), ly.cast("decimal(18,9)").as("ly"),
      round(lx * lx, 9).cast("decimal(28,9)").as("lxx"),
      round(lx * ly, 9).cast("decimal(28,9)").as("lxy"))
    val agg = terms.groupBy(col("lang")).agg(
      count(lit(1)).as("n_top"),
      sum(col("lx")).cast("double").as("sx"), sum(col("ly")).cast("double").as("sy"),
      sum(col("lxx")).cast("double").as("sxx"), sum(col("lxy")).cast("double").as("sxy"))
    val n = col("n_top").cast("double")
    val num = n * col("sxy") - col("sx") * col("sy")
    val den = n * col("sxx") - col("sx") * col("sx")
    val slope = num / den
    agg.select(col("lang"), col("n_top"), slope.as("zipf_slope"),
        ((col("sy") - slope * col("sx")) / n).as("intercept"))
      .orderBy("lang")
  }

  /** RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010 —
    * "Automatic keyword extraction from individual documents", the
    * canonical unsupervised keyphrase algorithm): candidate phrases are
    * maximal runs of non-stopword tokens (stoplist = corpus top-20 df
    * tokens, broadcast), word score = deg(w)/freq(w) where deg sums the
    * phrase length over each occurrence, phrase score = Σ word scores
    * (round-9 terms → exact DECIMAL sum). Runs on the deterministic 10%
    * doc sample (the winnowing/simhash convention) so the per-lang
    * rank window sees a bounded phrase-type set; the stoplist df scan is
    * the full corpus. Islands by the pos − row_number device on ONE
    * (doc) partitioning; top-3 phrase types per lang with ties on the
    * phrase text. */
  def q_text_rake(s: SparkSession, dir: String): DataFrame = {
    val tokAll = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val stop = tokAll.select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc).limit(20)
      .select(col("tok").as("stok"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = tokAll
      .filter(col("doc_id") % 10 === 0)
      .join(broadcast(stop), col("tok") === col("stok"), "left_anti")
      .withColumn("grp", col("pos") - row_number().over(w))
    val phrases = runs.groupBy(col("doc_id"), col("lang"), col("grp"))
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("ts"))
      .select(col("doc_id"), col("lang"),
        expr("array_join(transform(ts, x -> x.tok), ' ')").as("phrase"),
        size(col("ts")).cast("bigint").as("len"),
        expr("transform(ts, x -> x.tok)").as("words"))
    // word stats over all phrase occurrences: freq = occurrences,
    // deg = Σ phrase length per occurrence (vocab-bounded table)
    val wordStats = phrases
      .select(col("len"), explode(col("words")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
    // score per phrase TYPE (identical text ⇒ identical word multiset ⇒
    // identical score): occurrences collapse to a count first, then the
    // type's words re-derive from the phrase text (single-space join of
    // whitespace-split tokens — lossless)
    val types = phrases
      .groupBy(col("lang"), col("phrase"), col("len"))
      .agg(count(lit(1)).as("n_occ"))
      .select(col("lang"), col("phrase"), col("len"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("word"))
      .join(broadcast(wordStats), Seq("word"))
      .groupBy(col("lang"), col("phrase"), col("len"), col("n_occ"))
      .agg(sum(round(col("deg").cast("double") / col("freq").cast("double"), 9)
        .cast("decimal(28,9)")).as("scd"))
    val rw = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("phrase").asc)
    types
      .withColumn("score", round(col("scd").cast("double"), 6))
      .withColumn("rk", row_number().over(rw).cast("bigint"))
      .filter(col("rk") <= 3)
      .select(col("lang"), col("rk"), col("phrase"),
        col("len").as("n_words"), col("n_occ"), col("score"))
      .orderBy("lang", "rk")
  }

  /** TextRank iteration depth (unrolled in the oracle CTE chain). */
  val TextrankIters = 10

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004 — the
    * graph-based keyword ranker; the global-prestige complement to
    * RAKE's per-phrase degree/frequency score): nodes are non-stopword
    * tokens (stoplist = corpus top-20 df tokens, RAKE's device),
    * edges connect ADJACENT token pairs of the original sequence whose
    * endpoints both survive the stoplist (window 2, undirected,
    * distinct), and the score is PageRank at d = 0.85 for 10
    * synchronous iterations using the q_graph_pagerank arithmetic
    * device verbatim (per-term 1e9-scaled BIGINT rounding — exact,
    * order-blind, engine-identical). The only corpus-scale work is the
    * token scan + one keyed lead window; the fixpoint runs on the
    * vocab-bounded distinct-edge graph. Top-20 words, text tie-break. */
  def q_text_textrank(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val stop = tok.select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc).limit(20)
      .select(col("tok").as("stok"))
      .ckpt() // read by both anti-join legs
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = tok
      .withColumn("ntok", lead(col("tok"), 1).over(w))
      .filter(col("ntok").isNotNull && col("tok") =!= col("ntok"))
      .join(broadcast(stop), col("tok") === col("stok"), "left_anti")
      .join(broadcast(stop.select(col("stok").as("stok2"))),
        col("ntok") === col("stok2"), "left_anti")
      .select(least(col("tok"), col("ntok")).as("a"),
        greatest(col("tok"), col("ntok")).as("b"))
      .distinct()
      .ckpt() // vocab-bounded from here on
    val ue = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    // degree folded into the arc list ONCE (the undWeightedArcs
    // pattern): the old loop re-joined a freshly aggregated degree
    // table every iteration — one extra aggregation + join per step
    // for a value that never changes. Same per-term math (r/d).
    val deg = ue.groupBy(col("src").as("dn")).agg(count(lit(1)).as("d"))
    val arcs = ue.join(deg, col("src") === col("dn"))
      .select(col("src"), col("dst"), col("d"))
      .ckpt("textrank_arcs")
    // the shared PageRank superstep and cut cadence; the rank state
    // joins UNHINTED — it is vocabulary-sized, and stateHint's guard
    // measures co-purchase |V|, not this graph
    val r = GraphOps.pagerank(s, "q_text_textrank", arcs,
      arcs.select(col("src").as("node")).distinct(),
      col("r") / col("d"), TextrankIters, identity)
    r.select(col("node").as("word"), round(col("r"), 6).as("rank"))
      .orderBy(col("rank").desc, col("word").asc).limit(20)
  }

  /** Lexical-diversity profile per lang (the vocabulary-health screen a
    * corpus report leads with): token count N, vocabulary V, type-token
    * ratio V/N, hapax-legomenon share (Zipf's tail mass), and Yule's
    * characteristic K = 10⁴·(Σf² − N)/N² (Yule 1944 — repeat-rate
    * measure, length-invariant unlike raw TTR). EVERYTHING except the
    * final divisions is exact integer arithmetic: Σf² ≤ N·max f < 2^53
    * at any realistic shard size, and the three ratios are single pinned
    * divisions (round-6). One explode + two keyed aggregations. */
  def q_text_lexical_diversity(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("f"))
    tf.groupBy(col("lang"))
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("f") * col("f")).as("sf2"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("lang"), col("n_tokens"), col("vocab"),
        round(col("vocab").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        round(col("hapax").cast("double") / col("vocab").cast("double"), 6)
          .as("hapax_share"),
        round(lit(10000.0) * (col("sf2") - col("n_tokens")).cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")), 6)
          .as("yule_k"))
      .orderBy("lang")
  }

  /** Calibration of the quality classifier (reliability diagram + ECE,
    * Guo et al. ICML 2017 — the measurement a curation pipeline runs
    * BEFORE using classifier scores as sampling weights): per doc,
    * confidence p = σ(z) of the q_llm_quality_classifier score, ground
    * truth = the INDEPENDENT rule-based q_text_quality keep label
    * (token-count band + stopword ratio). Docs bin by confidence decile
    * (binning on ROUND-9 p in exact decimal — ×10 and floor never touch
    * a float); per bin: n, mean confidence (decimal sum of round-9 p),
    * empirical accuracy, |gap|; ECE = Σ n_b/N·gap_b re-derived from the
    * 10-row bin table. σ's exp is absorbed by the round-9 device. One
    * token scan feeds both the features and the label; every join is
    * broadcast (top-10 stoplist, 1-row totals). */
  /** Per-doc (p9, label, bin) classifier scores — the shared table the
    * calibration report (ECE) and the Brier decomposition both read,
    * so the two reliability views can never disagree about the scores. */
  private def calibScored(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, dir))
    val tokAll = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val stop = tokAll.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc).limit(10).select("token")
    val stopCnt = tokAll.join(broadcast(stop), Seq("token"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("stop_cnt"))
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"), col("text"))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        round(log(lit(1.0) + size(col("toks"))), 9).as("f_len"),
        ((length(col("text")) - (size(col("toks")) - 1)).cast("double") /
          size(col("toks"))).as("f_awl"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          .as("f_ttr"),
        (size(expr("filter(toks, t -> length(t) <= 3)")).cast("double") /
          size(col("toks"))).as("f_short"))
    val z = round(lit(0.8) * col("f_len") + lit(0.5) * col("f_ttr") -
      lit(0.4) * col("f_short") + lit(0.05) * col("f_awl") - lit(2.0), 6)
    base.join(stopCnt, Seq("doc_id"), "left_outer")
      .withColumn("sr",
        coalesce(col("stop_cnt"), lit(0L)).cast("double") / col("n_tokens"))
      .withColumn("label",
        (col("n_tokens").between(10, 1000) && col("sr") < 0.5).cast("long"))
      .withColumn("p9",
        round(lit(1.0) / (lit(1.0) + exp(-z)), 9).cast("decimal(10,9)"))
      .withColumn("bin",
        least(lit(9), floor(col("p9") * 10)).cast("int"))
      // materialize per invocation (r18): BOTH consumers of this table
      // (q_llm_calibration's bins + broadcast total, q_agg_brier's bins
      // + broadcast total) otherwise re-run the doc scan + token
      // explode + stoplist chain once per aggregate leg (§2.3
      // recompute elimination — the bloom_held pattern)
      .ckpt("calib_scored")
  }

  /** Murphy decomposition of the Brier score (Murphy 1973) over the
    * SAME per-doc classifier scores q_llm_calibration bins — the
    * score-level reliability view beside the ECE report: Brier =
    * mean((p−y)²) from EXACT decimal sums (p9 is decimal(10,9) ⇒ Σp²,
    * Σpy, Σy all exact: (p−y)² = p² − 2py + y with binary y), and the
    * 10-bin decomposition REL − RES + UNC with round-9 weighted terms
    * (reliability = calibration failure, resolution = discrimination,
    * uncertainty = ȳ(1−ȳ) the irreducible floor). The spec pins the
    * decomposition identity against the directly-computed Brier. */
  def q_agg_brier(s: SparkSession, dir: String): DataFrame = {
    val sc = calibScored(s, dir)
    val bins = sc.groupBy(col("bin"))
      .agg(count(lit(1)).as("nb"), sum(col("p9")).as("spb"),
        sum(col("label")).as("nkb"))
    val tot = sc.agg(count(lit(1)).as("n_docs"),
      sum(col("label")).as("sy"),
      sum(col("p9") * col("p9")).as("sp2"),
      sum(when(col("label") === 1L, col("p9"))).as("spy"))
    val nD = col("n_docs").cast("double")
    val ybar = col("sy").cast("double") / nD
    val conf = col("spb").cast("double") / col("nb").cast("double")
    val acc = col("nkb").cast("double") / col("nb").cast("double")
    bins.crossJoin(broadcast(tot))
      .select(col("n_docs"), col("sy"), col("sp2"), col("spy"),
        round(col("nb").cast("double") * ((conf - acc) * (conf - acc)), 9)
          .cast("decimal(28,9)").as("relterm"),
        round(col("nb").cast("double") * ((acc - ybar) * (acc - ybar)), 9)
          .cast("decimal(28,9)").as("resterm"))
      .groupBy(col("n_docs"), col("sy"), col("sp2"), col("spy"))
      .agg(sum(col("relterm")).as("rel"), sum(col("resterm")).as("res"))
      .select(col("n_docs"),
        round((col("sp2").cast("double") - lit(2.0) * col("spy").cast("double")
          + col("sy").cast("double")) / nD, 6).as("brier"),
        round(col("rel").cast("double") / nD, 6).as("reliability"),
        round(col("res").cast("double") / nD, 6).as("resolution"),
        round(ybar * (lit(1.0) - ybar), 6).as("uncertainty"),
        // binned forecasts are NOT constant within a decile, so the
        // classic 3-term identity carries a within-bin residual
        // (Stephenson 2008's WBV − 2·WBC); emitting it makes the
        // recomposition Brier = REL − RES + UNC + resid exact
        round((col("sp2").cast("double") - lit(2.0) * col("spy").cast("double")
          + col("sy").cast("double")) / nD -
          (col("rel").cast("double") / nD - col("res").cast("double") / nD +
            ybar * (lit(1.0) - ybar)), 6).as("within_bin_resid"))
  }

  def q_llm_calibration(s: SparkSession, dir: String): DataFrame = {
    val scored = calibScored(s, dir)
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("p9")).as("sp"),
        sum(col("label")).as("nk"))
      .select(col("bin"), col("n_docs"),
        (col("sp").cast("double") / col("n_docs").cast("double")).as("conf"),
        (col("nk").cast("double") / col("n_docs").cast("double")).as("acc"))
      .withColumn("gap", abs(col("acc") - col("conf")))
    val tot = bins.agg(sum(col("n_docs")).as("nt"),
      sum(round(col("gap") * col("n_docs").cast("double"), 9)
        .cast("decimal(28,9)")).as("gw"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_docs"),
        round(col("conf"), 6).as("conf"), round(col("acc"), 6).as("acc"),
        round(col("gap"), 6).as("gap"),
        round(col("gw").cast("double") / col("nt").cast("double"), 6).as("ece"))
      .orderBy("bin")
  }

  /** Token burstiness per lang (Church & Gale 1995 — content words are
    * BURSTY: their per-document counts are over-dispersed relative to
    * Poisson; the Fano factor VMR = s²/mean ≫ 1 flags them, function
    * words sit near 1): for each lang's top-4 total-count tokens,
    * per-doc count moments INCLUDING zero docs (the docs that don't
    * contain the token — folding them in via lang doc totals keeps the
    * scan one pass), s² = (NΣc²−(Σc)²)/(N(N−1)) from exact integer
    * moments (< 2^53 products), mean and VMR as pinned round-6
    * divisions. One explode + two keyed aggs + broadcast doc totals. */
  def q_text_burstiness(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nd = docs.groupBy(col("lang").as("nl")).agg(count(lit(1)).as("nn"))
    val perDoc = docs
      .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val mom = perDoc.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("n_docs_with"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("sc2"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("sc").desc, col("tok").asc)
    val top = mom.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
    // zero docs contribute 0 to Σc and Σc²: moments over ALL N docs are
    // the with-token moments unchanged, only N comes from the lang total
    val nD = col("nn").cast("double")
    val varD = (nD * col("sc2").cast("double") -
      col("sc").cast("double") * col("sc").cast("double")) / (nD * (nD - 1))
    val meanD = col("sc").cast("double") / nD
    top.join(broadcast(nd), col("lang") === col("nl"))
      .select(col("lang"), col("rk").cast("bigint").as("rk"), col("tok"),
        col("nn").as("n_docs"), col("n_docs_with"), col("sc").as("total_count"),
        round(meanD, 6).as("mean_per_doc"),
        round(varD / meanD, 6).as("vmr"))
      .orderBy("lang", "rk")
  }

  /** PMI collocation mining (Church & Hanks 1990) — the phrase-mining
    * screen a tokenizer/curation pipeline runs before merging frequent
    * word pairs: presence-based within-doc co-occurrence per lang,
    * PMI(a,b) = ln(N·c_ab / (c_a·c_b)) over documents containing both
    * words, min support 5 docs, top-10 pairs per lang by
    * (pmi desc, pair asc). Exactness: the ratio reaches ln as ONE exact
    * integer-product division (same IEEE double both engines), and the
    * single ln result is round-6 (the q_agg_entropy cross-engine
    * device). Scale: the pair space is VOCAB-bounded (≤|V|²/2 per lang
    * regardless of corpus size — the tokenizer-ladder argument), and
    * pairs explode per doc from the distinct-token array in one pass
    * (no self-join); everything downstream is keyed aggregation over
    * vocab-bounded keys. The per-lang doc count `nd` is LANG-cardinality
    * (≤16 rows) and safely broadcast-hinted; the word-doc-frequency
    * table `wc` is VOCAB-sized (10⁷–10⁸ rows at a real corpus), so it
    * carries NO broadcast hint — AQE plans the joins from runtime stats
    * and degrades gracefully to a shuffled join when the vocab outgrows
    * the broadcast threshold (VERDICT r9 item 2). */
  /** Shared collocation contingency table (session MV, 2 consumers:
    * q_text_pmi + q_text_llr — the trigramBitmaps convention): the
    * within-doc distinct-token pair explosion (the O(len²)-per-doc
    * heavy pass), per-lang doc counts, and both marginal doc
    * frequencies, joined once into (lang, wa, wb, cab, ca, cb,
    * n_docs). PMI and LLR are row-local formulas over this one table —
    * each was independently paying the explosion + three joins. */
  private[graft] def collocCounts(s: SparkSession, dir: String): DataFrame =
    Mv.memo(s, s"collocCounts|${LlmOps.docsKey(s, dir)}") { bs =>
      val d = Tables.spread(bs, Tables.documents(bs, dir))
        .select(col("doc_id"), col("lang"),
          expr("filter(array_distinct(split(text, ' ')), t -> t <> '')").as("toks"))
        .filter(size(col("toks")) > 0)
      val tok = d.select(col("doc_id"), col("lang"), explode(col("toks")).as("w"))
      val nd = tok.groupBy(col("lang").as("nl"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val wc = tok.groupBy(col("lang").as("wl"), col("w").as("ww"))
        .agg(count(lit(1)).as("cw")) // toks is distinct per doc ⇒ doc freq
      val pairs = d.select(col("lang"),
          explode(expr(
            "flatten(transform(toks, a -> transform(filter(toks, b -> b > a), b -> struct(a, b))))"
          )).as("p"))
        .groupBy(col("lang"), col("p.a").as("wa"), col("p.b").as("wb"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      pairs
        .join(broadcast(nd), col("lang") === col("nl"))
        .join(wc.select(col("wl").as("la"), col("ww").as("ta"), col("cw").as("ca")),
          col("lang") === col("la") && col("wa") === col("ta"))
        .join(wc.select(col("wl").as("lb"), col("ww").as("tb"), col("cw").as("cb")),
          col("lang") === col("lb") && col("wb") === col("tb"))
        .select(col("lang"), col("wa"), col("wb"), col("cab"),
          col("ca"), col("cb"), col("n_docs"))
        .ckpt("collocCounts")
    }

  def q_text_pmi(s: SparkSession, dir: String): DataFrame = {
    val scored = collocCounts(s, dir)
      .select(col("lang"), col("wa"), col("wb"), col("cab"),
        round(log((col("cab") * col("n_docs")).cast("double")
          / (col("ca") * col("cb")).cast("double")), 6).as("pmi"))
    val wr = Window.partitionBy(col("lang"))
      .orderBy(col("pmi").desc, col("wa").asc, col("wb").asc)
    scored.withColumn("rnk", row_number().over(wr).cast("bigint"))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("rnk"), col("wa").as("word_a"),
        col("wb").as("word_b"), col("cab").as("n_pair_docs"), col("pmi"))
      .orderBy("lang", "rnk")
  }

  /** Corpus n-gram census (round 10 — the WIMBD-style "what is in my
    * corpus" analysis, Elazar et al. 2024): top-10 word trigrams per
    * lang by count (ties → ngram asc). Trigrams are generated per doc
    * from the token array in ONE narrow pass
    * (`transform(sequence(...))` — no per-token shuffle, no window, no
    * self-join), then counted by keyed aggregation with map-side
    * partials; the final top-k is a lang-keyed rank window over the
    * n-gram-vocabulary-bounded count table. At 100 TB the count table
    * is vocab³-bounded in principle but Zipf-truncated in practice;
    * the heavy-hitter alternative when even that blows up is the CMS
    * top-k tier (q_llm_cms_topk). */
  def q_text_ngram_topk(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), expr("filter(split(text, ' '), t -> t <> '')").as("t"))
      .filter(size(col("t")) >= 3)
    val g = d.select(col("lang"), explode(expr(
      "transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))
      .as("ngram"))
    val c = g.groupBy(col("lang"), col("ngram")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("ngram").asc)
    c.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("rnk"), col("ngram"), col("n"))
      .orderBy("lang", "rnk")
  }

  /** Jensen–Shannon divergence between every pair of per-lang unigram
    * distributions (round 10 — the corpus-comparison metric behind
    * domain-shift screens and dedup-across-sources decisions):
    * JSD(P,Q) = Σ (p/2)·ln(p/m) + (q/2)·ln(q/m), m = (p+q)/2.
    * Exactness: with p = ca/na and q = cb/nb, the ln arguments collapse
    * to ONE exact integer-product division each —
    * p/m = 2·ca·nb / (ca·nb + cb·na) (the q_text_pmi device) — and each
    * term is round-9 → exact DECIMAL sum (the entropy device), so the
    * cross-lang sum is order-blind. Missing tokens contribute only the
    * other side's (x/2)·ln 2 term, which the same formula yields with
    * the zero count in the denominator. Shape: vocab-bounded keyed
    * aggs + a 10-row broadcast pair table + one full-outer token join
    * per pair — never corpus-sized. */
  def q_text_jsd(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("lang"), explode(expr("filter(split(text, ' '), t -> t <> '')")).as("w"))
    val cnt = tok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("lang").as("tl")).agg(sum(col("c")).as("n"))
    val langs = tot.select(col("tl"), col("n"))
    val pairsT = langs.select(col("tl").as("la"), col("n").as("na"))
      .crossJoin(langs.select(col("tl").as("lb"), col("n").as("nb")))
      .filter(col("la") < col("lb"))
    val aSide = pairsT.join(cnt, col("lang") === col("la"))
      .select(col("la"), col("lb"), col("na"), col("nb"), col("w"), col("c").as("ca"))
    val bSide = pairsT.join(cnt, col("lang") === col("lb"))
      .select(col("la").as("la2"), col("lb").as("lb2"), col("w").as("w2"),
        col("c").as("cb"))
    val u = aSide.join(bSide,
        col("la") === col("la2") && col("lb") === col("lb2") && col("w") === col("w2"),
        "full_outer")
      .select(coalesce(col("la"), col("la2")).as("lang_a"),
        coalesce(col("lb"), col("lb2")).as("lang_b"),
        coalesce(col("ca"), lit(0L)).as("ca0"),
        coalesce(col("cb"), lit(0L)).as("cb0"),
        col("na"), col("nb"))
    // full-outer rows from the b side carry NULL na/nb — re-attach the
    // pair totals from the broadcast pair table
    val u2 = u.drop("na", "nb")
      .join(broadcast(pairsT.select(col("la").as("pl"), col("lb").as("pb2"),
        col("na"), col("nb"))),
        col("lang_a") === col("pl") && col("lang_b") === col("pb2"))
    val caD = col("ca0").cast("double"); val cbD = col("cb0").cast("double")
    val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
    val termA = caD / (lit(2.0) * naD) *
      log(lit(2.0) * caD * nbD / (caD * nbD + cbD * naD))
    val termB = cbD / (lit(2.0) * nbD) *
      log(lit(2.0) * cbD * naD / (cbD * naD + caD * nbD))
    u2.select(col("lang_a"), col("lang_b"),
        round(when(col("ca0") > 0, termA).otherwise(lit(0.0))
          + when(col("cb0") > 0, termB).otherwise(lit(0.0)), 9)
          .cast("decimal(18,9)").as("term"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_union_tokens"),
        round(sum(col("term")).cast("double"), 6).as("jsd"))
      .orderBy("lang_a", "lang_b")
  }

  /** Cohen's κ of the langid classifier against the true lang labels
    * (round 10 — the chance-corrected agreement metric every classifier
    * eval reports beside raw accuracy; Cohen 1960): from the same
    * confusion matrix as q_text_lang_confusion,
    * κ = (n·Σdiag − Σᵢ rowᵢ·colᵢ) / (n² − Σᵢ rowᵢ·colᵢ) — the whole
    * statistic reduces to ONE exact integer division (every count,
    * product, and sum is an exact BIGINT), round-6 display. Accuracy
    * (p_o) and chance agreement (p_e) are emitted the same way. */
  def q_text_kappa(s: SparkSession, dir: String): DataFrame = {
    val cells = langidPred(s, dir)
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("c"))
      .ckpt()
    val rowT = cells.groupBy(col("lang").as("rl")).agg(sum(col("c")).as("rt"))
    val colT = cells.groupBy(col("pred_lang").as("cl")).agg(sum(col("c")).as("ct"))
    val n = cells.agg(sum(col("c")).as("n"))
    val diag = cells.filter(col("lang") === col("pred_lang"))
      .agg(sum(col("c")).as("n_agree"))
    val pe2 = rowT.join(colT, col("rl") === col("cl"))
      .agg(sum(col("rt") * col("ct")).as("chance_x"))
    n.crossJoin(diag).crossJoin(pe2)
      .select(col("n").as("n_docs"), col("n_agree"), col("chance_x"),
        round(col("n_agree").cast("double") / col("n").cast("double"), 6).as("p_o"),
        round(col("chance_x").cast("double")
          / (col("n") * col("n")).cast("double"), 6).as("p_e"),
        round((col("n") * col("n_agree") - col("chance_x")).cast("double")
          / (col("n") * col("n") - col("chance_x")).cast("double"), 6).as("kappa"))
  }

  /** Per-class precision/recall/F1 of the langid classifier (the
    * per-slice companion to q_text_kappa's single chance-corrected
    * scalar — together they are the classifier-eval triple every
    * pipeline report carries): from the SAME confusion cells as
    * q_text_lang_confusion, per TRUE lang — support = row total,
    * predicted = column total, tp = diagonal cell. P = tp/predicted
    * (0 when the lang is never predicted — sklearn's zero_division=0
    * convention), R = tp/support, and F1 via the one-division identity
    * F1 = 2·tp/(support + predicted) — algebraically 2PR/(P+R) but ONE
    * exact integer division instead of a compound double. Cells are
    * lang²-bounded; everything after the shared argmax is trivial. */
  def q_text_f1(s: SparkSession, dir: String): DataFrame = {
    val cells = langidPred(s, dir)
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("c"))
      .ckpt()
    val rowT = cells.groupBy(col("lang")).agg(sum(col("c")).as("support"))
    val colT = cells.groupBy(col("pred_lang").as("cl"))
      .agg(sum(col("c")).as("pred_cnt"))
    val diag = cells.filter(col("lang") === col("pred_lang"))
      .select(col("lang").as("dl"), col("c").as("tp0"))
    rowT.join(colT, col("lang") === col("cl"), "left_outer")
      .join(diag, col("lang") === col("dl"), "left_outer")
      .select(col("lang"), col("support"),
        coalesce(col("pred_cnt"), lit(0L)).as("predicted"),
        coalesce(col("tp0"), lit(0L)).as("tp"))
      .select(col("lang"), col("support"), col("predicted"), col("tp"),
        round(when(col("predicted") === 0L, 0.0)
          .otherwise(col("tp").cast("double") / col("predicted").cast("double")),
          6).as("precision"),
        round(col("tp").cast("double") / col("support").cast("double"), 6)
          .as("recall"),
        round(lit(2.0) * col("tp").cast("double") /
          (col("support") + col("predicted")).cast("double"), 6).as("f1"))
      .orderBy("lang")
  }

  /** Multiclass Matthews correlation (Gorodkin 2004's R_K — the
    * single balanced scalar that stays honest under class imbalance,
    * where accuracy and macro-F1 both inflate) of the langid
    * classifier: from the SAME confusion cells as q_text_kappa/f1,
    * MCC = (n·Σdiag − Σ_k row_k·col_k)
    *       / (√(n² − Σ_k col_k²) · √(n² − Σ_k row_k²)).
    * Every count, product, and sum is exact-integer (DECIMAL-widened
    * per the overflow convention — n² passes 2^63 at ~3e9 docs); the
    * two √ legs are taken separately so the denominator product never
    * needs 76 digits, and the final statistic is ONE pinned double
    * expression. Degenerate single-class slices (denominator 0) emit
    * NULL in both engines via the nullif device. lang²-bounded work
    * after the shared argmax. */
  def q_text_mcc(s: SparkSession, dir: String): DataFrame = {
    val cells = langidPred(s, dir)
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("c"))
      .ckpt()
    val rowT = cells.groupBy(col("lang").as("rl")).agg(sum(col("c")).as("rt"))
    val colT = cells.groupBy(col("pred_lang").as("cl")).agg(sum(col("c")).as("ct"))
    val n = cells.agg(sum(col("c")).as("n"))
    val diag = cells.filter(col("lang") === col("pred_lang"))
      .agg(sum(col("c")).as("n_correct"))
    val cross = rowT.join(colT, col("rl") === col("cl"))
      .agg(sum(col("rt").cast("decimal(38,0)") * col("ct")).as("sum_pt"))
    val rowSq = rowT.agg(sum(col("rt").cast("decimal(38,0)") * col("rt")).as("sum_t2"))
    val colSq = colT.agg(sum(col("ct").cast("decimal(38,0)") * col("ct")).as("sum_p2"))
    val nd = col("n").cast("decimal(38,0)")
    n.crossJoin(diag).crossJoin(cross).crossJoin(rowSq).crossJoin(colSq)
      .select(col("n").as("n_docs"), col("n_correct"),
        round((nd * col("n_correct") - col("sum_pt")).cast("double")
          / nullif(sqrt((nd * nd - col("sum_p2")).cast("double"))
            * sqrt((nd * nd - col("sum_t2")).cast("double")), lit(0d)), 6)
          .as("mcc"))
  }

  /** Heaps'-law vocabulary-growth curve (Heaps 1978; the WIMBD-style
    * corpus census answering "how fast does the vocabulary still
    * grow?" — the signal that tells a tokenizer/dedup pipeline whether
    * more data still buys new types): docs ordered by doc_id, split
    * into NTILE(10) checkpoints; at each checkpoint the cumulative
    * token count and the cumulative DISTINCT-type count — the latter
    * WITHOUT any running distinct: a type is counted at checkpoint cp
    * iff its FIRST-occurrence doc ≤ cp (one keyed min per type, then a
    * 10-row broadcast threshold join). heaps_ratio = ln V / ln N per
    * point (β̂ under V = kN^β with k≈1), one pinned double. Scale: the
    * only sort is doc-count-bounded; token work is two keyed aggs. */
  def q_text_heaps_law(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    // 10-row checkpoint: BOTH threshold joins read the checkpoint table,
    // which would otherwise re-run the doc ntile (and re-scan documents)
    // once per consumer. The decile assignment itself runs through
    // Dist.ntile (bit-identical to SQL NTILE, pid-partitioned windows
    // only): the input is the FULL doc_id column — it grows with the
    // corpus, so a global Window.orderBy here was a single-partition
    // sort of every doc_id at 100× scale, hidden from the plan gate by
    // this very checkpoint (VERDICT r14 what's-wrong #1).
    val cps = Dist.ntile(Tables.documents(s, dir).select(col("doc_id")), 10,
        Seq(col("doc_id")), "decile")
      .groupBy(col("decile")).agg(max(col("doc_id")).as("cp"))
      .ckpt("heaps_cps")
    val perDoc = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val firstDoc = tok.groupBy(col("tok").as("t")).agg(min(col("doc_id")).as("fd"))
    val nTok = perDoc.crossJoin(broadcast(cps))
      .filter(col("doc_id") <= col("cp"))
      .groupBy(col("decile").as("d1")).agg(sum(col("c")).as("n_tokens"))
    val nDis = firstDoc.crossJoin(broadcast(cps))
      .filter(col("fd") <= col("cp"))
      .groupBy(col("decile").as("d2")).agg(count(lit(1)).as("n_distinct"))
    cps.join(nTok, col("decile") === col("d1"))
      .join(nDis, col("decile") === col("d2"))
      .select(col("decile"), col("cp").as("cp_doc"), col("n_tokens"),
        col("n_distinct"),
        round(log(col("n_distinct").cast("double"))
          / log(col("n_tokens").cast("double")), 6).as("heaps_ratio"))
      .orderBy("decile")
  }

  /** Dunning log-likelihood-ratio collocations (Dunning 1993) over the
    * SAME doc-co-occurrence counting chain as q_text_pmi — the G² screen
    * beside the PMI screen (PMI over-ranks rare pairs; G² weights by
    * evidence mass, so the two rankings disagree exactly where a corpus
    * linguist expects): per (lang, word pair) the 2×2 doc contingency
    * {both, a-only, b-only, neither} from the shared doc-frequency
    * tables, G² = 2·Σ k·ln(k·N/(R·C)) over non-zero cells. All cells
    * exact integers; each cell term a pinned double (k ≤ N ≤ 5e4 ⇒ the
    * k·N products stay bigint-safe); round-6 on the final statistic.
    * Top-10 per lang by (g2, words) — vocab-bounded rank input. */
  def q_text_llr(s: SparkSession, dir: String): DataFrame = {
    def cell(k: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column,
             c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      when(k > 0, k.cast("double") *
        log((k * n).cast("double") / (r * c).cast("double"))).otherwise(lit(0.0))
    val scored = collocCounts(s, dir)
      .select(col("lang"), col("wa"), col("wb"), col("cab"),
        round(lit(2.0) * (
          cell(col("cab"), col("ca"), col("cb"), col("n_docs")) +
          cell(col("ca") - col("cab"), col("ca"),
            col("n_docs") - col("cb"), col("n_docs")) +
          cell(col("cb") - col("cab"), col("n_docs") - col("ca"),
            col("cb"), col("n_docs")) +
          cell(col("n_docs") - col("ca") - col("cb") + col("cab"),
            col("n_docs") - col("ca"), col("n_docs") - col("cb"),
            col("n_docs"))), 6).as("g2"))
    val wr = Window.partitionBy(col("lang"))
      .orderBy(col("g2").desc, col("wa").asc, col("wb").asc)
    scored.withColumn("rnk", row_number().over(wr).cast("bigint"))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("rnk"), col("wa").as("word_a"),
        col("wb").as("word_b"), col("cab").as("n_pair_docs"), col("g2"))
      .orderBy("lang", "rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_llr" -> q_text_llr _,
    "q_agg_brier" -> q_agg_brier _,
    "q_text_mcc" -> q_text_mcc _,
    "q_text_textrank" -> q_text_textrank _,
    "q_text_heaps_law" -> q_text_heaps_law _,
    "q_text_f1" -> q_text_f1 _,
    "q_llm_ppl_bucket" -> q_llm_ppl_bucket _,
    "q_stream_ppl_bucket" -> q_stream_ppl_bucket _,
    "q_text_kappa" -> q_text_kappa _,
    "q_text_jsd" -> q_text_jsd _,
    "q_text_ngram_topk" -> q_text_ngram_topk _,
    "q_text_pmi" -> q_text_pmi _,
    "q_text_burstiness" -> q_text_burstiness _,
    "q_llm_calibration" -> q_llm_calibration _,
    "q_text_lexical_diversity" -> q_text_lexical_diversity _,
    "q_text_rake" -> q_text_rake _,
    "q_text_lang_confusion" -> q_text_lang_confusion _,
    "q_text_zipf" -> q_text_zipf _,
    "q_llm_winnowing" -> q_llm_winnowing _,
    "q_llm_tokenizer_coverage" -> q_llm_tokenizer_coverage _,
    "q_llm_ngram_novelty" -> q_llm_ngram_novelty _,
    "q_text_readability" -> q_text_readability _,
    "q_text_kneser_ney" -> q_text_kneser_ney _,
    "q_text_bigram_xent" -> q_text_bigram_xent _,
    "q_llm_quality_classifier" -> q_llm_quality_classifier _,
    "q_text_edit_distance" -> q_text_edit_distance _,
    "q_llm_span_dedup" -> q_llm_span_dedup _,
    "q_text_unigram_xent" -> q_text_unigram_xent _,
    "q_text_langid" -> q_text_langid _,
    "q_text_quality" -> q_text_quality _,
    "q_text_token_count" -> q_text_token_count _,
    "q_text_fingerprint" -> q_text_fingerprint _,
    "q_llm_ngram_jaccard" -> q_llm_ngram_jaccard _,
    "q_llm_containment" -> q_llm_containment _
  )
}
